#!/usr/bin/env python
"""Regenerate BENCH/PLANS.md: `.explain('formatted')` dumps of the
engine's core pipelines, with the plan properties the engine is
designed around stated up front (tests/test_plans.py pins them).

Run from the repo root: `python scripts/make_plans.py` (sf0.001).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")

HEADER = """# Physical plans of the core pipelines

Generated by `scripts/make_plans.py` with `.explain('formatted')`;
the properties the engine is designed around (and that
tests/test_plans.py pins): single ArrowEvalPython encode pass,
BroadcastHashJoin (never BroadcastNestedLoopJoin) for the bucketed
variant, zero Exchange in the map-side variant, WholeStageCodegen
tile math, pushed parquet filters / pruned columns, equi-joins (not
theta joins) for every pair-generation op.

Multi-action operators (knn_join_df's two certified disk passes,
dedup_components label propagation) are not dumped: each pass or
round is one broadcast hash join + window/aggregate plan with
localCheckpoint lineage truncation, so their scaling story is the
plan shown by their building blocks (pip/bucket joins, groupBy-min).
"""


def main() -> None:
    import __spark_entry__ as E
    from s2spark.session import make_session

    spark = make_session(4)

    from s2spark import fixtures as FX
    from s2spark import joins as J

    qs = E.queries()
    sections: list[tuple[str, object]] = []

    cov_rows = J.compute_coverings(FX.region_objects())
    params = FX.region_params()
    pts = FX.points_df(spark, SF_DIR)
    sections.append((
        "flagship: raster_vector_align (one mapInPandas encode + stab + "
        "verify pass -> per-(region,tile) agg)",
        J.raster_vector_align(pts, cov_rows, params, level=8)))
    sections.append((
        "pip_bucketed (Catalyst-native: BroadcastHashJoin on the "
        "bucket key, BETWEEN as join residual)",
        qs["pip_bucketed"](spark, SF_DIR)))
    sections.append((
        "pip_broadcast (map-side interval stab: ZERO Exchange)",
        qs["pip_broadcast"](spark, SF_DIR)))
    sections.append((
        "simhash_pairs (pigeonhole-banded + hot-key salting: join key "
        "(band, band_key, salt), no BroadcastNestedLoop/Cartesian)",
        qs["simhash_pairs"](spark, SF_DIR)))
    sections.append((
        "embedding_similar_pairs (LSH-bucketed + hot-bucket salting: "
        "join key (bucket, salt))",
        qs["embedding_similar_pairs"](spark, SF_DIR)))
    sections.append((
        "ann_ivf (array-literal centroids via higher-order fns — stays "
        "inside codegen; cell equi-join, broadcast query side)",
        qs["ann_ivf"](spark, SF_DIR)))
    sections.append((
        "distance_join (within-distance self-join: zone==tile hash "
        "equi-join + exact chord verify — no cartesian)",
        qs["distance_join"](spark, SF_DIR)))
    sections.append((
        "image_pip (the north-star join ON the image table: one "
        "mapInPandas encode+stab+verify pass -> per-region agg)",
        qs["image_pip"](spark, SF_DIR)))
    sections.append((
        "image_phash_neardup (phash pigeonhole banding: join key "
        "(band, band_key, salt) over the checkpointed signature "
        "projection)",
        qs["image_phash_neardup"](spark, SF_DIR)))
    sections.append((
        "ann_ivfpq (IVF-PQ: coarse-probe equi-join, candidates ranked "
        "by asymmetric distance over packed 4-bit codes — the scan "
        "never touches the embedding column after encoding)",
        qs["ann_ivfpq"](spark, SF_DIR)))
    sections.append((
        "decontaminate (eval shingle set broadcast -> one hash join + "
        "per-doc agg; corpus side streams)",
        qs["decontaminate"](spark, SF_DIR)))
    sections.append((
        "event_pairs (stream-stream interval join batch twin: user_id "
        "hash equi-join + BETWEEN residual — no cartesian)",
        qs["event_pairs"](spark, SF_DIR)))
    sections.append((
        "nation_revenue (TPC-H Q5 star join: every dim broadcast, ONE "
        "fact-table scan — 5x BroadcastHashJoin, zero SortMergeJoin)",
        qs["nation_revenue"](spark, SF_DIR)))
    sections.append((
        "multimodal_dedup (r5 de-skewed template rank: "
        "windowspecdefinition(tpl_hash, _bkt) — order-preserving "
        "bucket in the window shuffle key, no single-reducer hot-"
        "template sort)",
        qs["multimodal_dedup"](spark, SF_DIR)))
    sections.append((
        "tile_rollup_sketch (r5 HLL hypertable rollup: both union "
        "branches are InMemoryTableScans of the ONE per-fine-tile "
        "sketch pass — coarse level is a sketch union, not a fact "
        "rescan)",
        qs["tile_rollup_sketch"](spark, SF_DIR)))
    sections.append((
        "dedup_keep_best (r5 de-skewed argmax: stage-1 window "
        "partitioned by (canonical_id, salt), stage-2 over <= 16 "
        "survivors, winner joined back via ShuffledHashJoin — no "
        "single-reducer cluster sort, no sort-merge)",
        qs["dedup_keep_best"](spark, SF_DIR)))
    # (knn_many is NOT dumped here: its result is an eagerly-executed
    # localCheckpoint, so the "plan" would be a vacuous ExistingRDD
    # scan; the two-pass structure is documented in
    # joins.knn_join_df and its exactness pinned by the brute-force
    # twins in tests/test_knn_paths.py + the driver oracle)

    out = [HEADER]
    for title, df in sections:
        import contextlib
        import io as _io
        buf = _io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        out.append(f"\n## {title}\n\n```\n{plan}\n```\n")

    path = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "BENCH", "PLANS.md")
    with open(path, "w") as f:
        f.write("".join(out))
    print(f"wrote {path} ({len(sections)} plans)")
    spark.stop()


if __name__ == "__main__":
    main()
