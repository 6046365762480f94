"""Approximate-distinct tile sketch rollup (VERDICT r4 stretch).

The scale twin of the exact multi-level ``tile_rollup``: at 100 TB a
``count_distinct`` per coarse tile re-shuffles every (tile, value)
pair per level. The hypertable pattern instead builds ONE per-fine-
tile HLL sketch pass (Spark's Datasketches ``hll_sketch_agg``) and
rolls coarser levels up by UNIONING sketches (``hll_union_agg``) —
mergeable partial aggregates, so each coarser level costs a shuffle
of ~|fine tiles| sketch bytes, never a rescan of the fact table.
Hilbert levels nest perfectly, so the union over a coarse tile's
children is exactly the sketch of its point set.

Estimates are approximate, so the op is gated the
``image_tile_stats`` way: a hash-oracled EXACT twin plus a pytest
that bounds the per-tile relative error (HLL lgConfigK=14 → ~1.2%
σ; small tiles are exact in Datasketches' sparse mode).
"""
from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from s2spark import columns as CC

HLL_LG_K = 14   # Datasketches lgConfigK: 2^14 buckets, ~1.2% rse
FINE_LEVEL = 8     # the tile level sketched from the fact table
COARSE_LEVEL = 4   # the tile level rolled up from the fine sketches


def tile_distinct_rollup(df: DataFrame, cell_col: str,
                         value_col: str) -> DataFrame:
    """per-COARSE-tile row count + approximate distinct ``value_col``,
    where the coarse sketches are the HLL UNION of the per-fine-tile
    sketches (one fact-table pass total). Output (tile_token, n_rows,
    distinct_est) at the coarse level, plus the fine-level rows the
    union consumed — callers slice by ``level``."""
    fine = df.select(CC.parent(cell_col, FINE_LEVEL).alias("tile_f"),
                     F.col(value_col).alias("v"))
    # ONE fact-table pass: both output levels and the union read the
    # per-fine-tile sketch table, which is persisted (it is |fine
    # tiles| rows of sketch bytes — tiny next to the fact table;
    # Spark's cache manager dedupes repeat calls by canonicalized
    # plan, same discipline as images.phash_neardup_pairs).
    fsk = fine.groupBy("tile_f").agg(
        F.hll_sketch_agg("v", F.lit(HLL_LG_K)).alias("sk"),
        F.count("*").alias("n_rows")).persist()
    coarse = fsk.groupBy(
        CC.parent("tile_f", COARSE_LEVEL).alias("tile_c")) \
        .agg(F.hll_union_agg("sk").alias("sk"),
             F.sum("n_rows").alias("n_rows"))
    out_f = fsk.select(
        F.lit(FINE_LEVEL).alias("level"), CC.token("tile_f").alias("tile_token"),
        F.col("n_rows").cast("long").alias("n_rows"),
        F.hll_sketch_estimate("sk").cast("long").alias("distinct_est"))
    out_c = coarse.select(
        F.lit(COARSE_LEVEL).alias("level"), CC.token("tile_c").alias("tile_token"),
        F.col("n_rows").cast("long").alias("n_rows"),
        F.hll_sketch_estimate("sk").cast("long").alias("distinct_est"))
    return out_c.unionByName(out_f)


def tile_distinct_rollup_exact(df: DataFrame, cell_col: str,
                               value_col: str) -> DataFrame:
    """the exact twin: same output shape with true count_distinct per
    level — the SQL-oracled gate the sketch variant is graded
    against (and the plan a 100 TB run would NOT want: one full
    (tile, value) shuffle per level)."""
    fine = df.select(CC.parent(cell_col, FINE_LEVEL).alias("tile_f"),
                     F.col(value_col).alias("v"))
    out_f = fine.groupBy("tile_f").agg(
        F.count("*").alias("n_rows"),
        F.count_distinct("v").alias("distinct_est")) \
        .select(F.lit(FINE_LEVEL).alias("level"),
                CC.token("tile_f").alias("tile_token"),
                F.col("n_rows").cast("long").alias("n_rows"),
                F.col("distinct_est").cast("long").alias("distinct_est"))
    out_c = fine.groupBy(
        CC.parent("tile_f", COARSE_LEVEL).alias("tile_c")) \
        .agg(F.count("*").alias("n_rows"),
             F.count_distinct("v").alias("distinct_est")) \
        .select(F.lit(COARSE_LEVEL).alias("level"),
                CC.token("tile_c").alias("tile_token"),
                F.col("n_rows").cast("long").alias("n_rows"),
                F.col("distinct_est").cast("long").alias("distinct_est"))
    return out_c.unionByName(out_f)
