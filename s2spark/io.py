"""Resumable sinks: snapshot-checkpointed writes with per-chunk
lineage + row-count metrics (BASELINE.json north_rule:
"resumable from checkpoint with per-partition lineage + metrics").

Iceberg's runtime jar is absent in this sandbox (verified —
SURVEY.md §7.3-R6), so the same snapshot semantics are provided by a
parquet + JSON-manifest protocol, behind a backend-pluggable API:

- the job is split into deterministic input chunks (ranges of a key);
- each chunk writes an isolated parquet subdirectory, then atomically
  appends a manifest entry {chunk, rows, input_fingerprint, files};
- resume = skip chunks already in the manifest (their output is
  immutable), recompute the rest — identical final output whether or
  not the job was interrupted (the resume test asserts row-hash
  equality);
- row counts per chunk are summed from the committed files' parquet
  footers (metrics) — no extra Spark job and no Python pass over rows.

Readers take the schema Spark stored in the parquet footer, so opening
a table runs no schema-inference Spark job.

Writer clustering: each chunk is ``repartitionById`` on a range id
over bounds from ``columns.leaf_bounds`` (a sample taken in the JVM and
encoded on the driver, so the encode UDF runs once per row), so files
hold disjoint Hilbert ranges — spatially local, min/max-prunable
(SURVEY.md §4.3 storage partitioning). Covering scans read each file's
footer and open only the files whose ``cell_sort`` row-group spans
overlap the covering.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from s2spark import columns as CC
from s2spark.kernels.cellops import sortable_int

MANIFEST = "_s2spark_manifest.json"
SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


@dataclass
class ChunkResult:
    chunk: int
    rows: int
    skipped: bool


def _manifest_path(path: str) -> str:
    return os.path.join(path, MANIFEST)


def read_manifest(path: str) -> dict:
    mp = _manifest_path(path)
    if os.path.exists(mp):
        with open(mp) as f:
            m = json.load(f)
        m.setdefault("snapshots", [])   # pre-r5 manifests
        return m
    return {"chunks": {}, "snapshots": [], "created": time.time()}


def snapshots(path: str) -> list[dict]:
    """the table's committed snapshot log (Iceberg-parity surface):
    one entry per chunk commit — {snapshot_id, committed_at, chunks}
    — chunk sets strictly grow, so any prefix is a consistent
    earlier table state."""
    return list(read_manifest(path)["snapshots"])


def _write_manifest(path: str, manifest: dict) -> None:
    mp = _manifest_path(path)
    tmp = mp + ".tmp"
    with open(tmp, "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    os.replace(tmp, mp)  # atomic snapshot commit


def _parquet_files(directory: str) -> list[str]:
    """the data files Spark reads in a flat output directory, sorted
    (names starting with ``_`` or ``.`` are hidden to Spark)."""
    return sorted(fn for fn in os.listdir(directory)
                  if fn.endswith(".parquet")
                  and not fn.startswith(("_", ".")))


def _data_files(path: str) -> list[str] | None:
    """the data files of a table path (a file is its own), or None when
    they cannot be listed here: a directory with subdirectories
    (partitioned) or a path that is not local."""
    if os.path.isfile(path):
        return [path]
    if not os.path.isdir(path) or any(
            e.is_dir() and not e.name.startswith(("_", "."))
            for e in os.scandir(path)):
        return None
    return [os.path.join(path, fn) for fn in _parquet_files(path)]


def _footer_schema(path: str) -> StructType | None:
    """the Spark schema stored in the footer of ``path``'s first data
    file, or None when there is none to take: no listable data files
    (see :func:`_data_files`) or a file not written by Spark."""
    files = _data_files(path)
    if not files:
        return None
    meta = pq.read_metadata(files[0]).metadata or {}
    if SPARK_SCHEMA_KEY not in meta:
        return None
    return StructType.fromJson(json.loads(meta[SPARK_SCHEMA_KEY]))


def _read_parquet(spark: SparkSession, *paths: str) -> DataFrame:
    """``spark.read.parquet(*paths)`` without its schema-inference
    Spark job: the schema comes from the first path's parquet footer
    (the file Spark itself would infer from when schema merging is
    off). Falls back to plain inference when the footer has none."""
    schema = _footer_schema(paths[0])
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(*paths)


def checkpointed_write(spark: SparkSession, df_for_chunk, path: str,
                       num_chunks: int, cluster_col: str | None = None,
                       fail_after: int | None = None) -> list[ChunkResult]:
    """run ``df_for_chunk(chunk_idx) -> DataFrame`` for each chunk,
    writing each to ``path/chunk=K`` with a manifest entry per
    completed chunk. Already-committed chunks are skipped (resume).

    ``fail_after`` injects a crash after N chunks (resume testing).
    ``cluster_col``: a cell-id column to Hilbert-cluster files by — each
    chunk is routed to 4 files by :func:`columns.range_id` over
    :func:`columns.leaf_bounds`, whose sample job runs no Python.
    """
    os.makedirs(path, exist_ok=True)
    manifest = read_manifest(path)
    results: list[ChunkResult] = []
    done = 0
    for chunk in range(num_chunks):
        key = str(chunk)
        if key in manifest["chunks"]:
            results.append(ChunkResult(chunk, manifest["chunks"][key]["rows"],
                                       skipped=True))
            continue
        if fail_after is not None and done >= fail_after:
            raise RuntimeError(f"injected failure before chunk {chunk}")
        df = df_for_chunk(chunk)
        if cluster_col is not None:
            df = df.repartitionById(4, CC.range_id(
                cluster_col, CC.leaf_bounds(df, 4, cluster_col)))
        chunk_dir = os.path.join(path, f"chunk={chunk}")
        df.write.mode("overwrite").parquet(chunk_dir)
        files = _parquet_files(chunk_dir)
        rows = sum(pq.read_metadata(os.path.join(chunk_dir, fn)).num_rows
                   for fn in files)
        manifest["chunks"][key] = {
            "rows": rows,
            "files": files,
            "committed_at": time.time(),
            "lineage": {"chunk": chunk, "num_chunks": num_chunks},
        }
        # snapshot log (Iceberg-parity, r5): every commit appends the
        # full committed-chunk set under a monotonically increasing
        # id — `read_checkpointed(as_of=...)` time-travels to any of
        # them. The manifest rewrite stays one atomic os.replace.
        manifest["snapshots"].append({
            "snapshot_id": len(manifest["snapshots"]) + 1,
            "committed_at": manifest["chunks"][key]["committed_at"],
            "chunks": sorted(int(k) for k in manifest["chunks"]),
        })
        _write_manifest(path, manifest)
        results.append(ChunkResult(chunk, rows, skipped=False))
        done += 1
    # rows committed by completed calls (older manifests filled this
    # key from a Spark accumulator; the key is kept so they read)
    manifest["accumulator_rows"] = manifest.get("accumulator_rows", 0) \
        + sum(r.rows for r in results if not r.skipped)
    _write_manifest(path, manifest)
    return results


def read_checkpointed(spark: SparkSession, path: str,
                      as_of: int | None = None) -> DataFrame:
    """read only manifest-committed chunks (snapshot isolation: an
    uncommitted chunk directory is invisible). ``as_of`` TIME-TRAVELS
    to an earlier snapshot id from :func:`snapshots` — committed
    chunk directories are immutable, so reading an old snapshot's
    chunk set reproduces that table state exactly (the Iceberg
    `VERSION AS OF` surface on the fallback sink)."""
    manifest = read_manifest(path)
    if as_of is None:
        chunks = sorted(int(k) for k in manifest["chunks"])
    else:
        matches = [s for s in manifest["snapshots"]
                   if s["snapshot_id"] == as_of]
        if not matches:
            raise ValueError(
                f"no snapshot {as_of} under {path}; have "
                f"{[s['snapshot_id'] for s in manifest['snapshots']]}")
        chunks = matches[0]["chunks"]
    if not chunks:
        raise ValueError(f"no committed chunks under {path}")
    dirs = [os.path.join(path, f"chunk={c}") for c in chunks]
    return _read_parquet(spark, *dirs)


# ---------------------------------------------------------------------------
# Hilbert-clustered layout: covering-range scans prune row groups/files
# ---------------------------------------------------------------------------

CELL_SORT_COL = "cell_sort"
LISTING_THRESHOLD = "spark.sql.sources.parallelPartitionDiscovery.threshold"


def write_clustered(df: DataFrame, path: str, num_files: int = 16) -> None:
    """write a dataset Hilbert-CLUSTERED on its ``cell_id`` (SURVEY §4.3):
    a materialized ``cell_sort`` column (uint64-order ``sortable``,
    CLAUDE.md signedness discipline) is range-partitioned across files
    (``repartitionById`` on a :func:`columns.range_id` over
    :func:`columns.leaf_bounds`: disjoint ranges, balanced by a sample
    whose job runs no Python) and sorted within each, so every file
    and parquet row group covers a narrow contiguous Hilbert interval.
    Because Hilbert order preserves spatial locality, a covering-range
    predicate then reads only the row groups whose min/max overlap the
    covering — the difference between scanning a tile and scanning the
    planet at 100 TB. The column is STORED (not recomputed) so range
    predicates are plain attribute comparisons that push down to the
    parquet reader, and :func:`scan_cell_ranges` skips whole files by
    their footer spans. Pruning is pinned empirically in
    tests/test_storage_pruning.py."""
    bounds = CC.leaf_bounds(df, num_files, "cell_id")
    df.withColumn(CELL_SORT_COL, CC.sortable("cell_id")) \
        .repartitionById(num_files, CC.range_id("cell_id", bounds)) \
        .sortWithinPartitions(CELL_SORT_COL) \
        .write.mode("overwrite").parquet(path)


def _row_group_spans(path: str) -> list[tuple[int, int]] | None:
    """the ``cell_sort`` (min, max) of every row group in ``path``'s
    footer, or None when a row group has no such statistics."""
    meta = pq.read_metadata(path)
    spans = []
    for i in range(meta.num_row_groups):
        rg = meta.row_group(i)
        st = next((rg.column(j).statistics for j in range(rg.num_columns)
                   if rg.column(j).path_in_schema == CELL_SORT_COL), None)
        if st is None or not st.has_min_max:
            return None
        spans.append((st.min, st.max))
    return spans


def scan_cell_ranges(spark: SparkSession, path: str,
                     ranges: list) -> DataFrame:
    """scan a clustered dataset for ids in ANY of the uint64-inclusive
    ``(lo, hi)`` ranges — the shape of a COVERING read: each covering
    cell contributes its [range_min, range_max] interval, the OR of
    BETWEENs pushes to the parquet reader, and on the Hilbert-sorted
    layout only row groups overlapping some covering interval are
    read ("scan the tile, not the planet").

    Files are skipped before Spark sees them: each data file's footer
    is read once, and only files with a row group whose ``cell_sort``
    span overlaps some range are opened, so no task is launched for a
    file that cannot match. When no file overlaps, the result is the
    table's schema under ``where("false")``, which runs no Spark job.
    The whole path is read, as plain Spark would, when a file has no
    ``cell_sort`` statistics, the table is partitioned, the path is not
    local, or more files overlap than Spark lists without a job. Spans
    come from the footers, never from a manifest that could go stale.

    The predicate is ONE SQL string: a Column-object chain costs
    several py4j calls per BETWEEN. An empty covering matches nothing
    and returns an empty DataFrame with the table's schema."""
    bounds = [(sortable_int(lo), sortable_int(hi)) for lo, hi in ranges]
    pred = " OR ".join(f"{CELL_SORT_COL} BETWEEN {lo}L AND {hi}L"
                       for lo, hi in bounds)
    files = _data_files(path)
    spans = [] if files is None else [_row_group_spans(f) for f in files]
    if files is not None and None not in spans:
        # a span (mn, mx) overlaps a range iff some range with lo <= mx
        # reaches hi >= mn: bisect the sorted los, then a running max
        b = np.array(sorted(bounds), dtype=np.int64).reshape(-1, 2)
        los, his = b[:, 0], np.maximum.accumulate(b[:, 1])

        def overlaps(mn: int, mx: int) -> bool:
            k = int(np.searchsorted(los, mx, side="right"))
            return k > 0 and his[k - 1] >= mn

        keep = [f for f, sp in zip(files, spans)
                if any(overlaps(mn, mx) for mn, mx in sp)]
        if not keep:
            return _read_parquet(spark, path).where("false")
        # Spark lists more paths than the threshold in a job of its own
        if len(keep) <= int(spark.conf.get(LISTING_THRESHOLD)):
            return _read_parquet(spark, *keep).where(pred)
    return _read_parquet(spark, path).where(pred or "false")
