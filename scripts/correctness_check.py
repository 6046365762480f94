#!/usr/bin/env python
"""Driver-gate dress rehearsal: run EVERY queries() entry side by side
with its oracle_sql() twin at sf0.01 (the driver's correctness scale)
and report rows / schema(column names) / sorted-value equality —
the same three checks CORRECTNESS_r{N}.json records.

Usage: python scripts/correctness_check.py [sf_dir [query ...]]
(extra args restrict the run to the named queries)
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def main() -> None:
    import duckdb

    import __spark_entry__ as E
    from s2spark.session import make_session

    spark = make_session(8)
    # a plan whose generated code outgrows 64 KB fails here instead of
    # silently running interpreted
    spark.conf.set("spark.sql.codegen.fallback", "false")
    con = duckdb.connect()
    for t in TABLES:
        p = f"{SF_DIR}/{t}.parquet"
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    qs, osql = E.queries(), E.oracle_sql()
    if len(sys.argv) > 2:
        only = set(sys.argv[2:])
        qs = {k: v for k, v in qs.items() if k in only}
    n_pass = n_rowsonly = n_fail = 0
    artifact: dict[str, dict] = {}
    for name in qs:
        t0 = time.time()
        try:
            sdf = qs[name](spark, SF_DIR)
            srows = sdf.collect()
        except Exception as exc:  # noqa: BLE001 — report, don't abort
            print(f"FAIL  {name}: spark raised {exc!r:.120}")
            artifact[name] = {"status": "FAIL", "err": repr(exc)[:200]}
            n_fail += 1
            continue
        if name not in osql:
            print(f"rows  {name}: {len(srows)} rows (no oracle) "
                  f"[{time.time() - t0:.1f}s]")
            artifact[name] = {"status": "rows_only",
                              "spark_rows": len(srows)}
            n_rowsonly += 1
            continue
        try:
            rel = con.sql(osql[name])
            ocols = [d[0] for d in rel.description]
            orows = rel.fetchall()
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL  {name}: oracle raised {exc!r:.120}")
            artifact[name] = {"status": "FAIL",
                              "err": "oracle: " + repr(exc)[:200]}
            n_fail += 1
            continue
        cols = sorted(sdf.columns)
        schema_ok = cols == sorted(ocols)
        sidx = [sdf.columns.index(c) for c in cols]
        oidx = [ocols.index(c) for c in cols]
        sv = sorted(tuple(r[i] for i in sidx) for r in srows)
        ov = sorted(tuple(r[i] for i in oidx) for r in orows)
        ok = schema_ok and len(srows) == len(orows) and sv == ov
        status = "PASS " if ok else "FAIL "
        print(f"{status} {name}: rows {len(srows)}/{len(orows)} "
              f"schema {'ok' if schema_ok else 'MISMATCH ' + str((cols, sorted(ocols)))} "
              f"values {'ok' if sv == ov else 'MISMATCH'} "
              f"[{time.time() - t0:.1f}s]")
        n_pass += ok
        n_fail += not ok
        artifact[name] = {"status": "PASS" if ok else "FAIL",
                          "rows_match": len(srows) == len(orows),
                          "schema_match": schema_ok,
                          "values_match": sv == ov,
                          "spark_rows": len(srows),
                          "oracle_rows": len(orows)}
    print(f"\n{n_pass} pass, {n_rowsonly} rows-only, {n_fail} FAIL "
          f"of {len(qs)}")
    out = os.environ.get("S2_CORRECTNESS_OUT")
    if out:
        import json
        with open(out, "w") as fh:
            json.dump({"sf_dir": SF_DIR, "n_queries": len(qs),
                       "n_pass": n_pass, "n_rows_only": n_rowsonly,
                       "n_fail": n_fail, "queries": artifact}, fh,
                      indent=1)
        print(f"artifact -> {out}")
    spark.stop()
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
