"""Pure-SQL surface for the cell algebra (r5).

``register_s2_sql(spark)`` installs the core CellId operations as
Spark SQL scalar functions (``CREATE TEMPORARY FUNCTION ... RETURN
<expr>`` — Catalyst inlines the body, so these are codegen Column
bit math, NOT a Python round-trip) plus the vectorized encode pandas
UDF, so a SQL-first user can write

    SELECT s2_token(s2_parent(s2_cell_id(lat, lng), 8)) AS tile,
           count(*) FROM points GROUP BY 1

with zero DataFrame code. Bodies follow the engine's signedness
discipline (CLAUDE.md): faces 4-5 set bit 63, so every ordering
comparison XORs the sign bit first (`s2_sortable`), and shifts are
built from ``shiftleft`` on 1L (never an overflowing literal
multiply). Exact parity with ``s2spark.columns`` is pinned over all
six faces in tests/test_sqlfns.py.
"""
from __future__ import annotations

from pyspark.sql import SparkSession

_I64_MIN = "-9223372036854775808"

# name -> (arg signature, return type, body)
_FNS: dict[str, tuple[str, str, str]] = {
    "s2_lsb": ("c BIGINT", "BIGINT", "c & -c"),
    "s2_level": ("c BIGINT", "INT",
                 "CAST(30 - (bit_count((c & -c) - 1) DIV 2) AS INT)"),
    "s2_is_leaf": ("c BIGINT", "BOOLEAN", "(c & 1) = 1"),
    "s2_face": ("c BIGINT", "INT",
                "CAST(shiftright(c, 61) & 7 AS INT)"),
    "s2_sortable": ("c BIGINT", "BIGINT", f"c ^ {_I64_MIN}"),
    "s2_parent": ("c BIGINT, l INT", "BIGINT",
                  "(c & -shiftleft(1L, 2 * (30 - l)))"
                  " | shiftleft(1L, 2 * (30 - l))"),
    # range_max MUST parenthesize the lsb term: `c + (c & -c) - 1`
    # parses left-associative as `(c + lsb) - 1`, and c + lsb overflows
    # int64 under ANSI mode on any face-3 last-branch cell (e.g.
    # 0x7000000000000000) — columns.py range_max writes id + (lsb - 1)
    # for exactly this reason (ADVICE r5 item 1).
    "s2_range_min": ("c BIGINT", "BIGINT", "c - (c & -c) + 1"),
    "s2_range_max": ("c BIGINT", "BIGINT", "c + ((c & -c) - 1)"),
    "s2_contains": ("a BIGINT, b BIGINT", "BOOLEAN",
                    f"((b ^ {_I64_MIN}) >= ((a - (a & -a) + 1) ^ {_I64_MIN}))"
                    f" AND ((b ^ {_I64_MIN}) <= ((a + ((a & -a) - 1)) ^ {_I64_MIN}))"),
    "s2_intersects": ("a BIGINT, b BIGINT", "BOOLEAN",
                      f"(((a - (a & -a) + 1) ^ {_I64_MIN}) <= ((b + ((b & -b) - 1)) ^ {_I64_MIN}))"
                      f" AND (((a + ((a & -a) - 1)) ^ {_I64_MIN}) >= ((b - (b & -b) + 1) ^ {_I64_MIN}))"),
    "s2_token": ("c BIGINT", "STRING",
                 "CASE WHEN c = 0 THEN 'X' ELSE "
                 "regexp_replace(translate(lpad(hex(c), 16, '0'),"
                 " 'ABCDEF', 'abcdef'), '0+$', '')"
                 " END"),
}


def register_s2_sql(spark: SparkSession) -> None:
    """install the s2_* SQL functions + the vectorized encode UDF in
    the session catalog (idempotent)."""
    for name, (args, ret, body) in _FNS.items():
        spark.sql(f"CREATE OR REPLACE TEMPORARY FUNCTION {name}"
                  f"({args}) RETURNS {ret} RETURN {body}")
    from s2spark.udfs import s2_cell_id
    spark.udf.register("s2_cell_id", s2_cell_id)
