"""Cell-id algebra as pure Spark Column expressions (zero UDF).

Every op here is closed-form int64 bit math, so Catalyst constant-folds
and whole-stage-codegens it — the JVM-side twin of
``s2spark.kernels.cellops`` (semantics: ``sphere.py :: CellId``,
SURVEY.md §2.2).

⚠️ Signedness: Spark LongType is signed; faces 4–5 set bit 63, so raw
ids from those faces are negative. Pure bit ops (&, |, ^, two's-
complement add/sub of in-range offsets) are representation-identical
to uint64, but *ordering* is not — any <, BETWEEN, or range partition
must use :func:`sortable` (sign-flip) first. All helpers below that
order ids do this internally.

ANSI-mode safety: for valid cell ids none of the arithmetic below can
overflow int64 (a valid id's lsb <= 2^60 and range_min/range_max stay
within the face's uint64 interval), so these expressions are safe with
``spark.sql.ansi.enabled=true`` (the Spark 4 default).

One helper looks at data: :func:`leaf_bounds`, the engine's one sampled
density estimate, whose bounds :func:`range_id` turns into range ids.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from s2spark.kernels import cellops, hilbert

MAX_LEVEL = 30
SIGN_BIT = -0x8000000000000000  # int64 min == 1 << 63 as a bit pattern


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def lsb_for_level(level: int) -> int:
    return 1 << (2 * (MAX_LEVEL - level))


def sortable(cell_id: Column | str) -> Column:
    """uint64-order-preserving int64: ``id XOR (1<<63)``.

    Use for every <, BETWEEN, ORDER BY, or range bound on ids.
    """
    return _c(cell_id).bitwiseXOR(F.lit(SIGN_BIT))


def unsortable(cell_id_sortable: Column | str) -> Column:
    """inverse of :func:`sortable` (XOR is an involution)."""
    return _c(cell_id_sortable).bitwiseXOR(F.lit(SIGN_BIT))


def lsb(cell_id: Column | str) -> Column:
    """``id & -id`` — valid ids are never int64-min, so -id is safe."""
    cid = _c(cell_id)
    return cid.bitwiseAND(-cid)


def level(cell_id: Column | str) -> Column:
    """``CellId.level``: 30 - (count of trailing zeros)/2.

    trailing zeros = bit_count(lsb - 1); lsb <= 2^60 so lsb-1 is safe.
    """
    return (F.lit(MAX_LEVEL)
            - F.shiftright(F.bit_count(lsb(cell_id) - F.lit(1)), 1)
            ).cast("int")


def parent(cell_id: Column | str, lvl: int) -> Column:
    """``CellId.parent(level)`` — the tile-assignment op."""
    new_lsb = lsb_for_level(lvl)
    return _c(cell_id).bitwiseAND(F.lit(-new_lsb)).bitwiseOR(F.lit(new_lsb))


def range_min(cell_id: Column | str) -> Column:
    """``CellId.range_min``: id - (lsb - 1). Never overflows for valid ids."""
    cid = _c(cell_id)
    return cid - (lsb(cid) - F.lit(1))


def range_max(cell_id: Column | str) -> Column:
    """``CellId.range_max``: id + (lsb - 1)."""
    cid = _c(cell_id)
    return cid + (lsb(cid) - F.lit(1))


def contains(a: Column | str, b: Column | str) -> Column:
    """cell ``a`` contains cell ``b`` (``CellId.contains``) —
    sign-flipped BETWEEN on the leaf range."""
    bs = sortable(b)
    return bs.between(sortable(range_min(a)), sortable(range_max(a)))


def face(cell_id: Column | str) -> Column:
    """``CellId.face``: unsigned top 3 bits."""
    return F.shiftrightunsigned(_c(cell_id), 61).cast("int")


def pos(cell_id: Column | str) -> Column:
    """``CellId.pos``: the 61 position bits (face stripped)."""
    return _c(cell_id).bitwiseAND(F.lit((1 << 61) - 1))


def is_leaf(cell_id: Column | str) -> Column:
    """``CellId.is_leaf``: trailing bit set."""
    return _c(cell_id).bitwiseAND(F.lit(1)) == F.lit(1)


def is_face(cell_id: Column | str) -> Column:
    return level(cell_id) == F.lit(0)


def is_valid(cell_id: Column | str) -> Column:
    """``CellId.is_valid``: face < 6 and lsb on an even bit position."""
    cid = _c(cell_id)
    return (face(cid) < F.lit(6)) & \
        (lsb(cid).bitwiseAND(F.lit(0x1555555555555555)) != F.lit(0))


def child(cell_id: Column | str, pos: int, lvl: int) -> Column:
    """``CellId.child(pos)`` for a cell known to be at level ``lvl - 1``
    (static levels keep this a pure codegen expression)."""
    old_lsb = lsb_for_level(lvl - 1)
    new_lsb = lsb_for_level(lvl)
    return _c(cell_id) - F.lit(old_lsb) + F.lit((2 * pos + 1) * new_lsb)


def children_array(cell_id: Column | str, lvl: int) -> Column:
    """array of the 4 children of a level ``lvl - 1`` cell."""
    return F.array(*[child(cell_id, p, lvl) for p in range(4)])


def child_begin(cell_id: Column | str, lvl: int) -> Column:
    cid = _c(cell_id)
    return cid - lsb(cid) + F.lit(lsb_for_level(lvl))


def child_end(cell_id: Column | str, lvl: int) -> Column:
    cid = _c(cell_id)
    return cid + lsb(cid) + F.lit(lsb_for_level(lvl))


def advance(cell_id: Column | str, n: Column | int) -> Column:
    """``CellId.advance(n)`` at the cell's own level (caller bounds n)."""
    cid = _c(cell_id)
    nn = F.lit(n) if isinstance(n, int) else n
    return cid + nn * (lsb(cid) * F.lit(2))


_Q62 = 1 << 62  # sortable-space value of the wrap offset 6<<61 is 2^62


def next_cell(cell_id: Column | str) -> Column:
    """``CellId.next``: uint64 id + 2·lsb (may run past the face-5 end
    into the END sentinel). Computed in SORTABLE space: the raw
    ``id + 2·lsb`` overflows ANSI int64 exactly at the face-3/4 sign
    crossing, while sortable values stay within (−2^63, 2^62 + lsb]."""
    cid = _c(cell_id)
    return unsortable(sortable(cid) + F.lit(2) * lsb(cid))


def prev_cell(cell_id: Column | str) -> Column:
    """``CellId.prev``: uint64 id - 2·lsb (BEGIN-1 sentinel below the
    face-0 begin, matching uint64 wraparound). Sortable space for the
    sign crossing; the face-0 underflow branch is plain id-space
    subtraction whose two's-complement result IS the wrapped uint64
    pattern."""
    cid = _c(cell_id)
    l2 = F.lit(2) * lsb(cid)
    s = sortable(cid)
    return F.when(s >= F.lit(SIGN_BIT) + l2, unsortable(s - l2)) \
        .otherwise(cid - l2)


def next_wrap(cell_id: Column | str) -> Column:
    """``CellId.next_wrap``: Hilbert successor at the cell's level,
    wrapping from the face-5 end to the face-0 begin.

    Sortable space makes the uint64 wrap-offset comparison (6<<61 ↔
    sortable 2^62) a plain int64 compare, and the wrapped result is a
    SINGLE subtraction (``s_n - 2^62`` is directly the face-0 id bit
    pattern) — no staged constant chain for Catalyst's
    ReorderAssociativeOperator to fold into an overflowing literal.
    """
    cid = _c(cell_id)
    s_n = sortable(cid) + F.lit(2) * lsb(cid)
    return F.when(s_n >= F.lit(_Q62), s_n - F.lit(_Q62)) \
        .otherwise(unsortable(s_n))


def prev_wrap(cell_id: Column | str) -> Column:
    """``CellId.prev_wrap``: Hilbert predecessor, wrapping from the
    face-0 begin to the face-5 end. In the wrap branch (id < 2·lsb)
    the face-5 result's bit pattern is exactly ``id - 2·lsb - 2^62``
    (two's complement does the uint64 wrap) — single-expression,
    reassociation-safe."""
    cid = _c(cell_id)
    l2 = F.lit(2) * lsb(cid)
    s = sortable(cid)
    return F.when(s < F.lit(SIGN_BIT) + l2, (cid - l2) - F.lit(_Q62)) \
        .otherwise(unsortable(s - l2))


def child_position(cell_id: Column | str, lvl: int) -> Column:
    """``CellId.child_position(level)``: which child (0-3) of its
    level ``lvl - 1`` parent this cell descends through."""
    shift = 2 * (MAX_LEVEL - lvl) + 1
    return F.shiftrightunsigned(_c(cell_id), shift) \
        .bitwiseAND(F.lit(3)).cast("int")


def advance_wrap(cell_id: Column | str, n: Column | int,
                 lvl: int) -> Column:
    """``CellId.advance_wrap(n)`` for cells at static level ``lvl``:
    step ``n`` positions along the Hilbert order, modular over all
    ``6·4^lvl`` cells of the level (negative n allowed, |n| < 2^62 /
    total). Pure bit math: position via unsigned shift, modular step,
    re-materialize with a bitwise shift (sign bit lands naturally)."""
    shift = 2 * (MAX_LEVEL - lvl) + 1
    total = 6 * (4 ** lvl)
    nn = F.lit(n) if isinstance(n, int) else n
    pos = F.shiftrightunsigned(_c(cell_id), shift)
    new_pos = F.pmod(pos + nn, F.lit(total))
    return F.shiftleft(new_pos, shift).bitwiseOR(F.lit(lsb_for_level(lvl)))


def token(cell_id: Column | str) -> Column:
    """``CellId.to_token``: 16-digit lowercase hex, trailing zeros
    stripped ('X' for the sentinel id 0). ``hex`` emits [0-9A-F] only,
    so a ``translate`` lowercases it: Spark 4's ``lower`` goes through
    ICU case mapping, which made the flagship's final aggregate several
    times slower in a fresh JVM."""
    cid = _c(cell_id)
    hx = F.translate(F.lpad(F.hex(cid), 16, "0"), "ABCDEF", "abcdef")
    return F.when(cid == F.lit(0), F.lit("X")) \
        .otherwise(F.regexp_replace(hx, "0+$", ""))


def from_token(tok: Column | str) -> Column:
    """``CellId.from_token``: right-pad to 16 hex digits and parse.

    conv() with negative toBase emits the *signed* decimal of the
    64-bit pattern, so sign-bit tokens (faces 4–5) parse exactly.
    """
    t = _c(tok)
    padded = F.rpad(t, 16, "0")
    return F.when((t == F.lit("X")) | (t == F.lit("x")) | (t == F.lit("")),
                  F.lit(0).cast("long")) \
        .otherwise(F.conv(padded, 16, -10).cast("long"))


# ---------------------------------------------------------------------------
# sampled range bounds
# ---------------------------------------------------------------------------

# largest of 16 files from sf0.01 points: 1.06-1.10x the mean rows at
# 256 sampled rows per range, 1.31-1.49x at 32
SAMPLES_PER_RANGE = 256


def leaf_bounds(df: DataFrame, n: int, cell_col: str) -> list[int]:
    """up to ``n - 1`` ascending, distinct :func:`sortable` bounds that
    cut ``df``'s ids into ``n`` ranges of about equal row counts: the
    quantiles of a seeded sample of ``SAMPLES_PER_RANGE · n`` rows.

    When ``df`` has ``lat`` and ``lng`` the sample takes only those two
    columns, so column pruning drops any encode UDF from the sampled
    plan (one JVM-only job), and the driver encodes the sample with the
    same numpy kernel as the UDF. Otherwise it samples ``cell_col``."""
    cols = ["lat", "lng"] if {"lat", "lng"} <= set(df.columns) \
        else [cell_col]
    rows = df.select(*cols).na.drop().orderBy(F.rand(0)) \
        .limit(SAMPLES_PER_RANGE * n).collect()
    a = np.array(rows, dtype=np.float64 if len(cols) == 2 else np.int64) \
        .reshape(-1, len(cols))
    ids = hilbert.lat_lng_to_cell_id(a[:, 0], a[:, 1]) if len(cols) == 2 \
        else a[:, 0]
    s = np.sort(cellops.sortable(ids))
    if not len(s):
        return []
    return np.unique(s[np.arange(1, n) * len(s) // n]).tolist()


def range_id(cell_id: Column | str, bounds: list[int]) -> Column:
    """the number of ``bounds`` at or below ``sortable(cell_id)``: an int
    range id in ``[0, len(bounds)]``, monotone in the id, so rows routed
    by it (``repartitionById``) land in disjoint Hilbert ranges whatever
    the bounds; the bounds decide only the balance."""
    s = sortable(cell_id)
    return sum(((s >= F.lit(b)).cast("int") for b in bounds), F.lit(0))
