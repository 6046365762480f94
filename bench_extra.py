#!/usr/bin/env python
"""Extra benchmarks for the optimization rounds (guide §1.4/§1.5).

NOT the driver contract — bench.py stays frozen. This harness:

- times individual queries with the noop sink (min of N reps),
- optionally dumps .explain("formatted") to plans/r{round}/<q>_{tag}.txt,
- labels jobs via setJobDescription so the timeline is attributable.

Usage:
  python bench_extra.py q1 q2 ...         # time selected queries
  python bench_extra.py --all             # time the full bench list
  PLANS_TAG=before python bench_extra.py --plans q1 q2   # dump plans only
  REPS=3 python bench_extra.py ...
"""
from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
REPS = int(os.environ.get("REPS", "3"))
ROUND = os.environ.get("ROUND", "r06")


def main() -> None:
    import bench
    import __spark_entry__ as E

    args = [a for a in sys.argv[1:]]
    dump_plans = "--plans" in args
    args = [a for a in args if not a.startswith("--")]
    names = bench.BENCH_QUERIES if (not args or "--all" in sys.argv) \
        else args

    spark = bench.make_session(bench.CPUS)
    qs = E.queries()
    qs["tile_assign"](spark, SF_DIR).limit(1000).count()  # warm workers

    if dump_plans:
        tag = os.environ.get("PLANS_TAG", "before")
        out_dir = os.path.join("plans", ROUND)
        os.makedirs(out_dir, exist_ok=True)
        for name in names:
            df = qs[name](spark, SF_DIR)
            p = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution
                .ExplainMode.fromString("formatted"))
            with open(os.path.join(out_dir, f"{name}_{tag}.txt"), "w") as f:
                f.write(p)
            print(f"dumped {name}_{tag}.txt", flush=True)
        spark.stop()
        return

    times: dict[str, list[float]] = {n: [] for n in names}
    for rep in range(REPS):
        for name in names:
            spark.sparkContext.setJobDescription(f"{name} rep{rep}")
            t0 = time.time()
            df = qs[name](spark, SF_DIR)
            df.write.format("noop").mode("overwrite").save()
            times[name].append(round(time.time() - t0, 3))
            spark.sparkContext.setJobDescription(None)
    out = {n: {"min": min(v), "reps": v} for n, v in times.items()}
    print(json.dumps(out, indent=1))
    spark.stop()


if __name__ == "__main__":
    main()
