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

Writer clustering: each chunk is ``repartitionByRange`` on the
sortable cell id, so files are Hilbert-ordered — spatially local,
min/max-prunable (SURVEY.md §4.3 storage partitioning).
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from s2spark import columns as CC

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


def _footer_schema(path: str) -> StructType | None:
    """the Spark schema stored in the footer of ``path``'s first data
    file, or None when there is none to take: a directory with
    subdirectories (partitioned), no data files, a file not written by
    Spark, or a path that is not local."""
    if os.path.isfile(path):
        first = path
    elif os.path.isdir(path):
        if any(e.is_dir() and not e.name.startswith(("_", "."))
               for e in os.scandir(path)):
            return None
        files = _parquet_files(path)
        if not files:
            return None
        first = os.path.join(path, files[0])
    else:
        return None
    meta = pq.read_metadata(first).metadata or {}
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
    ``cluster_col``: a cell-id column to Hilbert-cluster files by.
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
            df = df.repartitionByRange(4, CC.sortable(cluster_col))
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


def write_clustered(df: DataFrame, path: str, cell_col: str = "cell_id",
                    num_files: int = 16) -> None:
    """write a dataset Hilbert-CLUSTERED on its cell id (SURVEY §4.3):
    a materialized ``cell_sort`` column (uint64-order ``sortable``,
    CLAUDE.md signedness discipline) is range-partitioned across files
    and sorted within each, so every file and parquet row group covers
    a narrow contiguous Hilbert interval. Because Hilbert order
    preserves spatial locality, a covering-range predicate then reads
    only the row groups whose min/max overlap the covering — the
    difference between scanning a tile and scanning the planet at
    100 TB. The column is STORED (not recomputed) so range predicates
    are plain attribute comparisons that push down to the parquet
    reader (and, on Iceberg/Delta, to file-level skipping).
    Pruning is pinned empirically in tests/test_storage_pruning.py."""
    df.withColumn(CELL_SORT_COL, CC.sortable(cell_col)) \
        .repartitionByRange(num_files, CELL_SORT_COL) \
        .sortWithinPartitions(CELL_SORT_COL) \
        .write.mode("overwrite").parquet(path)


def scan_cell_ranges(spark: SparkSession, path: str,
                     ranges: list) -> DataFrame:
    """scan a clustered dataset for ids in ANY of the uint64-inclusive
    ``(lo, hi)`` ranges — the shape of a COVERING read: each covering
    cell contributes its [range_min, range_max] interval, the OR of
    BETWEENs pushes to the parquet reader, and on the Hilbert-sorted
    layout only row groups overlapping some covering interval are
    read ("scan the tile, not the planet").

    The predicate is ONE SQL string: a Column-object chain costs
    several py4j calls per BETWEEN. An empty covering matches nothing
    and returns an empty DataFrame with the table's schema."""

    def _sortable_scalar(x: int) -> int:
        u = (int(x) ^ (1 << 63)) & ((1 << 64) - 1)
        return u - (1 << 64) if u >= (1 << 63) else u

    pred = " OR ".join(
        f"{CELL_SORT_COL} BETWEEN {_sortable_scalar(lo)}L"
        f" AND {_sortable_scalar(hi)}L" for lo, hi in ranges)
    return _read_parquet(spark, path).where(pred or "false")
