"""Physical-plan assertions (SURVEY.md §7.3-3): the join strategies
must compile to the plans they were designed for — a silent fallback
to BroadcastNestedLoopJoin is the range-join performance cliff."""

import pytest
from pyspark.sql import functions as F

from s2spark import fixtures as FX
from s2spark import joins as J


@pytest.fixture(scope="module")
def pieces(spark):
    cov_rows = J.compute_coverings(FX.region_objects())
    params = FX.region_params()
    return cov_rows, params


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _shuffles(plan: str) -> list[str]:
    """the plan's shuffle Exchange lines (a BroadcastExchange is not a
    shuffle)."""
    return [ln for ln in plan.splitlines()
            if "Exchange" in ln and "BroadcastExchange" not in ln]


def test_bucketed_join_is_broadcast_hash(spark, sf_dir, pieces):
    cov_rows, params = pieces
    cov_df = J.coverings_df(spark, cov_rows, bucket_level=8)
    df = J.pip_join_bucketed(FX.points_df(spark, sf_dir), cov_df, params)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "SortMergeJoin" not in plan


def test_bucketed_join_single_encode_pass(spark, sf_dir, pieces):
    """constraint propagation must not duplicate the encode UDF
    (one ArrowEvalPython for encode + one for verify)."""
    cov_rows, params = pieces
    cov_df = J.coverings_df(spark, cov_rows, bucket_level=8)
    df = J.pip_join_bucketed(FX.points_df(spark, sf_dir), cov_df,
                             params)
    assert _plan(df).count("ArrowEvalPython") == 2


def test_mapside_join_has_no_shuffle(spark, sf_dir, pieces):
    """the interval-stab variant is a pure map-side pass — zero
    shuffle Exchange nodes before the output (the grid keys' broadcast
    is not a shuffle)."""
    cov_rows, params = pieces
    df = J.pip_join_broadcast(FX.points_df(spark, sf_dir), cov_rows, params)
    assert _shuffles(_plan(df)) == []


def test_pip_anti_is_one_map_pass(spark, sf_dir, pieces):
    """the anti form filters rows inside the stab's mapInPandas: no
    join back to the points and no shuffle."""
    cov_rows, params = pieces
    df = J.pip_anti(FX.points_df(spark, sf_dir), cov_rows, params)
    df.collect()
    plan = _plan(df).split("== Initial Plan ==")[0]
    assert sum("MapInPandas" in ln for ln in plan.splitlines()) == 1
    assert "Join" not in plan
    assert "Exchange" not in plan


def test_raster_vector_align_single_python_pass(spark, sf_dir, pieces):
    """the flagship runs encode + stab + verify in ONE map-side Python
    pass: no scalar-UDF eval, no join against a covering table, and
    the group-by's hash exchange is the only shuffle. The one join is
    the grid prefilter: a broadcast left-semi join below the Python
    pass whose build side is the local table of grid keys."""
    cov_rows, params = pieces
    df = J.raster_vector_align(FX.points_df(spark, sf_dir), cov_rows,
                               params, level=8)
    plan = _plan(df)
    lines = plan.splitlines()
    python = [i for i, ln in enumerate(lines)
              if "MapInPandas" in ln or "MapInArrow" in ln]
    assert len(python) == 1
    for bad in ("ArrowEvalPython", "BatchEvalPython", "range_min_s",
                "bucket#"):
        assert bad not in plan
    joins = [i for i, ln in enumerate(lines) if "Join" in ln]
    assert len(joins) == 1
    semi = joins[0]
    assert "BroadcastHashJoin" in lines[semi] and "LeftSemi" in lines[semi]
    assert semi > python[0]
    build = [i for i, ln in enumerate(lines) if "BroadcastExchange" in ln]
    assert len(build) == 1 and build[0] > semi
    assert "LocalTableScan [_grid_key#" in lines[build[0] + 1]
    shuffles = _shuffles(plan)
    assert len(shuffles) == 1
    assert "Exchange hashpartitioning(region_id" in shuffles[0]


def test_tile_path_is_whole_stage_codegen(spark, sf_dir):
    """parent/token tiling on an existing cell-id column stays inside
    WholeStageCodegen (no Python, no shuffle)."""
    from s2spark import columns as CC
    from s2spark import synth
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    df = li.select(synth.synth_cell_col().alias("cell_id")) \
        .select(CC.token(CC.parent("cell_id", 8)).alias("t"))
    plan = _plan(df)
    # "*(1)" prefixes mark WholeStageCodegen stages in the plan string
    assert "WholeStageCodegen" in plan or "*(1)" in plan
    for bad in ("ArrowEvalPython", "BatchEvalPython", "Exchange"):
        assert bad not in plan


def test_simhash_pairs_no_nested_loop(spark, sf_dir):
    """pigeonhole banding must keep simhash_pairs an equi-join — the
    naive a.doc_id < b.doc_id theta join planned as a
    BroadcastNestedLoop (O(n²) scale cliff, VERDICT r1 item 3)."""
    from s2spark import text as T
    plan = _plan(T.simhash_pairs(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_simhash_pairs_banding_equivalence(spark, sf_dir):
    """banded candidates + exact filter == naive all-pairs filter."""
    from s2spark import text as T
    sig = T.simhash(spark, sf_dir)
    a, b = sig.alias("a"), sig.alias("b")
    ham = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    naive = a.join(b, F.col("a.doc_id") < F.col("b.doc_id")) \
        .where(ham <= F.lit(T.SIMHASH_HAMMING_MAX)) \
        .select(F.col("a.doc_id").alias("d1"),
                F.col("b.doc_id").alias("d2"),
                ham.cast("int").alias("hamming"))
    banded = T.simhash_pairs(spark, sf_dir)
    assert sorted(map(tuple, naive.collect())) == \
        sorted(map(tuple, banded.collect()))


def test_embedding_dedup_salting_equivalence(spark, sf_dir, monkeypatch):
    """hot-bucket salting must not change the pair set: force the salt
    to engage (tiny per-slice target) and compare against the plain
    within-bucket self-join."""
    from s2spark import ann as A
    naive_e = A._emb(spark, sf_dir).join(A.lsh_buckets(spark, sf_dir),
                                         "vec_id")
    a, c = naive_e.alias("a"), naive_e.alias("c")
    dot = A._dot(F.col("a.embedding"), F.col("c.embedding"))
    na = A._dot(F.col("a.embedding"), F.col("a.embedding"))
    nb = A._dot(F.col("c.embedding"), F.col("c.embedding"))
    naive = a.join(c, (F.col("a.bucket") == F.col("c.bucket"))
                   & (F.col("a.vec_id") < F.col("c.vec_id"))) \
        .select(F.col("a.vec_id").alias("v1"),
                F.col("c.vec_id").alias("v2"),
                (dot / (F.sqrt(na) * F.sqrt(nb))).alias("cosine")) \
        .where(F.col("cosine") >= F.lit(0.2)) \
        .select("v1", "v2", F.round("cosine", 6).alias("cosine"))
    monkeypatch.setattr(A, "EMB_DEDUP_SALT_TARGET", 5)
    salted = A.embedding_cosine_dedup(spark, sf_dir)
    assert "CartesianProduct" not in _plan(salted)
    assert sorted(map(tuple, naive.collect())) == \
        sorted(map(tuple, salted.collect()))


def test_parquet_filter_pushdown(spark, sf_dir):
    """non-geo predicates reach the parquet scan (PushedFilters)."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    df = li.where(F.col("l_orderkey") > 1000).select("l_orderkey")
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(l_orderkey), GreaterThan(l_orderkey" \
        in plan or "GreaterThan(l_orderkey,1000)" in plan


def test_distance_join_is_equi_join(spark, sf_dir):
    """the within-distance self-join must be a zone==tile hash
    equi-join, never a cartesian/theta join, and evaluate each Python
    UDF once: _chord2, _nbrs and one s2_cell_id per self-join side."""
    from s2spark import fixtures as FX
    pts = FX.points_df(spark, sf_dir).where(F.pmod("point_id", 20) == 0)
    df = J.distance_join(pts, 0.005)
    plan = _plan(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    df.collect()
    final = _plan(df).split("== Initial Plan ==")[0]
    assert final.count("ArrowEvalPython") == 4


def test_star_join_broadcasts_all_dims(spark, sf_dir):
    """nation_revenue (TPC-H Q5 shape): every dimension side must plan
    as a BroadcastHashJoin — ONE fact-table scan, no SortMergeJoin and
    no shuffle of lineitem at 100 TB."""
    import __spark_entry__ as E

    df = E.queries()["nation_revenue"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastHashJoin") == 5
    assert "SortMergeJoin" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
