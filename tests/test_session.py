"""The engine's Python crossing batches by rows, not bytes.
``ENGINE_CONF`` sets ``arrow.maxBytesPerBatch`` to ``Int.MaxValue``,
the one value at which Spark 4.1 skips sizing the Arrow batch after
every row it feeds a ``mapInPandas``; ``maxRecordsPerBatch`` (65536)
is then the only bound. Each probe yields the sizes of the batches one
partition's ``mapInPandas`` receives."""

import pandas as pd
from pyspark.sql import functions as F

from s2spark.session import ENGINE_CONF

BYTES = "spark.sql.execution.arrow.maxBytesPerBatch"


def _batch_sizes(df):
    def sizes(batches):
        for b in batches:
            yield pd.DataFrame({"n": [len(b)]})

    return [r.n for r in df.mapInPandas(sizes, "n long").collect()]


def test_byte_limit_is_int_max(spark):
    """the fast path needs exactly Int.MaxValue: "1g" or any other
    smaller limit brings the per-row size check back."""
    assert ENGINE_CONF.get(BYTES) == str(2**31 - 1)
    assert spark.conf.get(BYTES) == ENGINE_CONF[BYTES]


def test_wide_rows_fill_one_row_bounded_batch(spark):
    """1,100 rows of 64 KiB (70 MB) arrive as ONE batch; under Spark's
    64 MB default the byte check cuts them at [1024, 76]."""
    df = spark.range(0, 1100, numPartitions=1) \
        .select(F.expr("unhex(repeat('ab', 65536))").alias("payload"))
    assert _batch_sizes(df) == [1100]


def test_narrow_rows_cut_at_max_records(spark):
    df = spark.range(0, 200_000, numPartitions=1)
    assert _batch_sizes(df) == [65536, 65536, 65536, 3392]
