"""The one session builder. Tests, scripts, ``bench.py`` and
``perfbench`` all take their session from :func:`make_session`, so
every caller plans under the confs the benchmark measures."""

from __future__ import annotations

from pyspark.sql import SparkSession

ENGINE_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "65536",
    # Spark 4.1 sizes the Arrow batch after EVERY row it feeds a
    # mapInPandas/mapInArrow (ArrowWriter.sizeInBytes walks the struct
    # vectors) unless this limit is exactly Int.MaxValue — 37-48% of
    # the flagship's executor-thread samples (JFR). Batches are then
    # bounded by maxRecordsPerBatch rows alone. Any smaller value
    # ("1g" included) brings the per-row check back.
    "spark.sql.execution.arrow.maxBytesPerBatch": "2147483647",
    # constraint propagation copies UDF-derived join keys into
    # IsNotNull filters, so Catalyst evaluates the encode UDF twice —
    # measured 2x wall on the flagship join (plan-asserted in
    # tests/test_plans.py)
    "spark.sql.constraintPropagation.enabled": "false",
    "spark.ui.enabled": "false",
    "spark.ui.showConsoleProgress": "false",
}


def make_session(cores: int | None,
                 shuffle_partitions: int | None = None) -> SparkSession:
    """``local[cores]`` with a 24g driver and ``max(2·cores, 16)``
    shuffle partitions. ``cores=None`` leaves the master and the driver
    sizing to ``spark-submit --master`` and takes 16 partitions."""
    b = SparkSession.builder.appName("s2spark").config(map=ENGINE_CONF)
    if cores is not None:
        b = b.master(f"local[{cores}]").config("spark.driver.memory", "24g")
    s = b.config("spark.sql.shuffle.partitions",
                 str(shuffle_partitions or max(2 * (cores or 0), 16))) \
        .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    return s
