"""Per-key state and action budgets: the persisted RDDs a query leaves
behind after ``collect()``, and the Spark jobs it runs, counted in a
job group at sf0.001. A pair generator that persists for the session
or runs a skew probe shows up here as a leak or as extra jobs."""

import pytest

import __spark_entry__ as E

# key: (persisted RDDs left, Spark jobs), both measured at sf0.001
BUDGETS = {
    "simhash_pairs": (0, 7),
    "dedup_minhash_lsh": (0, 4),
    # the eager projection checkpoint and each component round's
    # checkpoint outlive the call (ROADMAP item 5)
    "image_phash_neardup": (1, 6),
    "image_components": (6, 25),
    "multimodal_dedup": (6, 30),
}


@pytest.mark.parametrize("name", sorted(BUDGETS))
def test_state_and_job_budget(spark, sf_dir, name):
    max_left, max_jobs = BUDGETS[name]
    sc = spark.sparkContext
    q = E.queries()[name]
    # a cache entry that an earlier call left would hide a new persist
    spark.catalog.clearCache()
    before = set(sc._jsc.getPersistentRDDs().keys())
    group = f"s2spark-budget-{name}"
    sc.setJobGroup(group, group)
    try:
        q(spark, sf_dir).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    left = set(sc._jsc.getPersistentRDDs().keys()) - before
    assert len(left) <= max_left, f"{name} left {len(left)} persisted RDDs"
    assert jobs <= max_jobs, f"{name} ran {jobs} Spark jobs"
