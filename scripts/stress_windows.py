#!/usr/bin/env python
"""Hot-key window stress: measured evidence that the r5 de-skew
(`windows.bucketed_row_number`) beats the single-reducer
`row_number() OVER (PARTITION BY key)` plan on exactly the workload
the VERDICT flagged (one spam key owning most of the table), and
produces IDENTICAL ranks.

Writes BENCH/SKEW.md. Usage:
    python scripts/stress_windows.py [n_rows [hot_share]]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N_ROWS = int(sys.argv[1]) if len(sys.argv) > 1 else 5_000_000
HOT_SHARE = float(sys.argv[2]) if len(sys.argv) > 2 else 0.8
COLD_KEYS = 100_000


def main() -> None:
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from s2spark.session import make_session
    from s2spark.windows import bucketed_row_number

    spark = make_session(os.cpu_count(), shuffle_partitions=64)

    # one hot key owns HOT_SHARE of the table; the rest spread evenly.
    # v (the order key) is unique per key: the hot key keeps raw id,
    # cold keys use id as well (unique globally => unique per key).
    hot_cut = int(N_ROWS * HOT_SHARE)
    df = spark.range(N_ROWS).select(
        F.when(F.col("id") < hot_cut, F.lit(0))
        .otherwise(F.pmod(F.col("id"), F.lit(COLD_KEYS)) + 1)
        .alias("key"),
        F.col("id").alias("v")).persist()
    df.count()  # materialize the input outside the timed region

    def timed(out):
        t0 = time.time()
        out.write.format("noop").mode("overwrite").save()
        return round(time.time() - t0, 2)

    w = Window.partitionBy("key").orderBy("v")
    plain = df.withColumn("rnk", F.row_number().over(w).cast("int"))
    bucketed = bucketed_row_number(df, ["key"], F.col("v"), ["v"],
                                   n_buckets=32, bounds=(0, N_ROWS))

    secs = {"plain": [], "bucketed": []}
    for _ in range(3):
        secs["plain"].append(timed(plain))
        secs["bucketed"].append(timed(bucketed))
    p, b = min(secs["plain"]), min(secs["bucketed"])

    # exactness spot check on the stressed output (full equality is
    # pytest-pinned at test scale): ranks of a deterministic slice
    sample_pred = (F.col("v") % 997 == 0)
    a = sorted(map(tuple, plain.where(sample_pred).collect()))
    c = sorted(map(tuple, bucketed.where(sample_pred).collect()))
    assert a == c, "bucketed ranks diverge from the single-window plan"

    payload = {
        "rows": N_ROWS, "hot_share": HOT_SHARE, "cold_keys": COLD_KEYS,
        "plain_window_sec": p, "bucketed_sec": b,
        "speedup": round(p / b, 2),
        "plain_reps": secs["plain"], "bucketed_reps": secs["bucketed"],
        "cores": os.cpu_count(),
    }
    print(json.dumps(payload))

    md = f"""# Hot-key window stress (r5)

Workload: {N_ROWS:,} rows, ONE key owning {int(HOT_SHARE * 100)}% of
them (the spam-template / giant-cluster shape), {COLD_KEYS:,} cold
keys, `local[{os.cpu_count()}]`, noop sink, min of 3 reps, input
persisted outside the timed region.

| plan | sec |
|---|---|
| `row_number() OVER (PARTITION BY key)` — single-reducer sort of the hot key | {p} |
| `windows.bucketed_row_number` (32 order-preserving buckets) | {b} |

**{payload['speedup']}x** — and the ranks are identical (asserted on a
deterministic sample in this run; full equality pytest-pinned in
tests/test_window_deskew.py). At 100x the data the plain plan's hot
partition grows to the whole table share on one task; the bucketed
plan's widest task stays 1/32nd of the hot key.

reps: plain {secs['plain']}, bucketed {secs['bucketed']}
"""
    path = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "BENCH", "SKEW.md")
    with open(path, "w") as f:
        f.write(md)
    print(f"wrote {path}")


if __name__ == "__main__":
    main()
