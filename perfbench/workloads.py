"""The benchmark workloads.

Each workload generates its inputs from the seed (``prepare``), does its
one-time engine set-up (``setup``), runs one cache-cold operation
(``op``) and summarises the op's output so it can be compared with a
reference computed once by an independent path (``reference``).
``layers`` is the traced run's per-layer profile of the same inputs.
"""
from __future__ import annotations

import hashlib
import os
import shutil
import statistics
import time

import numpy as np
from pyspark.sql import functions as F

import inputs
import spans
from s2spark import columns, io, joins, text
from s2spark import fixtures as FX
from s2spark.kernels import cellops, hilbert

SIGN = np.uint64(1 << 63)


def _digest(rows) -> str:
    h = hashlib.sha256()
    for r in sorted(rows):
        h.update(repr(r).encode())
    return h.hexdigest()[:16]


def _timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return time.perf_counter() - t0, out


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _median_of(reps: int, spark, fn) -> float:
    """median wall time of ``reps`` cache-cold calls of ``fn``."""
    times = []
    for _ in range(reps):
        spans.cold_boundary(spark)
        times.append(_timed(fn)[0])
    return statistics.median(times)


class Workload:
    name = ""
    DATA = "points"   # directory of the generated point table
    WARM_S = 6.0      # seconds of ops after the cold one, inside set-up

    def __init__(self, spark, work: str, seed: int, scale: float):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.scale = scale
        self.fingerprints: dict[str, str] = {}
        self.timings: dict[str, float] = {}   # set-up layer timings
        self.layer_failures = 0   # traced-run probes whose output was wrong

    def n(self, base: int, floor: int = 1000) -> int:
        return max(floor, int(base * self.scale))

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, "data", *parts)

    def prepare(self) -> None:
        raise NotImplementedError

    def setup(self) -> None:
        pass

    def reset(self) -> None:
        """undo the previous op's side effects (untimed)."""

    def op(self) -> dict:
        raise NotImplementedError

    def reference(self) -> dict:
        raise NotImplementedError

    def matches(self, out: dict, ref: dict) -> bool:
        return out == ref

    def layers(self) -> dict:
        return {}

    @property
    def rows(self) -> int:
        raise NotImplementedError

    # shared by the point workloads ---------------------------------------

    def _write_points(self, n: int) -> dict:
        pts = inputs.hot_city_points(self.seed, n)
        self.fingerprints["points"] = inputs.fingerprint(pts)
        path = self.path(self.DATA)
        shutil.rmtree(path, ignore_errors=True)
        inputs.write_parquet(pts, path, n_files=8)
        return pts

    def _points(self):
        return self.spark.read.parquet(self.path(self.DATA))

    def _prefix_layers(self, reps: int) -> dict:
        """scan, +encode UDF, +bucket/sortable bit math: cumulative
        noop-sink prefixes, median of ``reps`` cold runs each."""
        def enc():
            return joins.with_cell_id(self._points())

        def bits():
            return enc().withColumn("_bucket", columns.parent("cell_id", 8)) \
                .withColumn("_leaf_s", columns.sortable("cell_id"))

        t = [_median_of(reps, self.spark, lambda f=f: _noop(f()))
             for f in (self._points, enc, bits)]
        return {"spark.scan_s": t[0], "udfs.encode_s": t[1] - t[0],
                "columns.bitmath_s": t[2] - t[1]}

    def _encode_kernel(self, lat, lng, reps: int = 3) -> float:
        t = statistics.median(_timed(lambda: hilbert.lat_lng_to_cell_id(
            lat, lng))[0] for _ in range(reps))
        return len(lat) / t


# ---------------------------------------------------------------------------

class FlagshipPip(Workload):
    name = "flagship_pip"
    N = 750_000
    WARM_S = 8.0

    @property
    def rows(self) -> int:
        return self.n(self.N)

    def prepare(self) -> None:
        self.pts = self._write_points(self.rows)

    def setup(self) -> None:
        self.timings["coverer.covering_s"], self.cov_rows = _timed(
            lambda: joins.compute_coverings(FX.region_objects()))
        self.params = FX.region_params()
        # first call in the app builds and memoizes the covering table
        self.timings["joins.coverings_df_s"], self.cov_df = _timed(
            lambda: joins.coverings_df(self.spark, self.cov_rows,
                                       bucket_level=8))

    def _align(self):
        return joins.raster_vector_align(self._points(), self.cov_rows,
                                         self.params, level=8)

    def _stab_path(self):
        """the map-side alternative: pip_join_broadcast + the same
        aggregate raster_vector_align runs."""
        pts = joins.pip_join_broadcast(self._points(), self.cov_rows,
                                       self.params, extra_cols=("lat", "lng"),
                                       emit_cell_id=True)
        return pts.withColumn("tile_id", columns.parent("cell_id", 8)) \
            .groupBy("region_id", "tile_id") \
            .agg(F.count("*").alias("n_points"),
                 F.round(F.avg("lat"), 6).alias("avg_lat"),
                 F.round(F.avg("lng"), 6).alias("avg_lng")) \
            .withColumn("tile_token", columns.token("tile_id")) \
            .drop("tile_id")

    @staticmethod
    def _summary(rows) -> dict:
        return {"rows": len(rows),
                "digest": _digest((r.region_id, r.tile_token, r.n_points)
                                  for r in rows),
                "avg_sum": float(sum(r.avg_lat + r.avg_lng for r in rows))}

    def op(self) -> dict:
        self.last_df = self._align()
        return self._summary(self.last_df.collect())

    def reference(self) -> dict:
        return self._summary(self._stab_path().collect())

    def matches(self, out: dict, ref: dict) -> bool:
        return (out["rows"] == ref["rows"] and out["digest"] == ref["digest"]
                and abs(out["avg_sum"] - ref["avg_sum"]) <= 1e-5 * out["rows"])

    def layers(self) -> dict:
        m = {}
        reps = 2
        prefix = self._prefix_layers(reps)
        cov = F.broadcast(self.cov_df)

        def bits():
            return joins.with_cell_id(self._points()) \
                .withColumn("_bucket", columns.parent("cell_id", 8)) \
                .withColumn("_leaf_s", columns.sortable("cell_id"))

        def joined():
            p = bits()
            return p.join(cov, (p["_bucket"] == cov["bucket"])
                          & p["_leaf_s"].between(cov["range_min_s"],
                                                 cov["range_max_s"]))

        verify = joins.make_verify_udf(self.params, with_interior=True)

        def verified():
            return joined().where(verify("region_id", "lat", "lng",
                                         "interior"))

        t_join = _median_of(reps, self.spark, lambda: _noop(joined()))
        t_verify = _median_of(reps, self.spark, lambda: _noop(verified()))
        t_agg = _median_of(reps, self.spark, lambda: self._align().collect())
        t_bits = prefix["spark.scan_s"] + prefix["udfs.encode_s"] \
            + prefix["columns.bitmath_s"]
        m.update(prefix)
        m["joins.join_s"] = t_join - t_bits
        m["joins.verify_s"] = t_verify - t_join
        m["joins.agg_s"] = t_agg - t_verify
        m["joins.stab_path_s"] = _median_of(
            reps, self.spark, lambda: self._stab_path().collect())
        # join work shape: every covering cell of the point's bucket,
        # then the ones whose leaf range holds the point
        b = bits()
        m["joins.bucket_candidates"] = b.join(
            cov, b["_bucket"] == cov["bucket"]).count()
        m["joins.range_candidates"] = joined().count()
        m["joins.range_hit_ratio"] = (m["joins.range_candidates"]
                                      / max(1, m["joins.bucket_candidates"]))
        # kernels on the workload's own arrays, in the driver process
        lat, lng = self.pts["lat"], self.pts["lng"]
        m["kernels.encode_rows_per_s"] = self._encode_kernel(lat, lng)
        leaf = hilbert.lat_lng_to_cell_id(lat, lng)
        index = joins.build_interval_index(self.cov_rows)
        leaf_s = (leaf ^ SIGN).view(np.int64)
        m["kernels.stab_s"], (rows, rids, interior) = _timed(
            lambda: index.stab(leaf_s))
        bnd = ~interior
        m["kernels.verify_s"], ok = _timed(lambda: joins.verify_matches(
            lat[rows[bnd]], lng[rows[bnd]], rids[bnd], self.params))
        m["kernels.verify_candidates"] = int(bnd.sum())
        m["kernels.verify_accept_ratio"] = float(ok.mean()) if len(ok) else 0.0
        m["coverer.cells"] = len(self.cov_rows)
        knn = KnnMany(self.spark, self.work, self.seed, self.scale)
        knn.prepare()
        m.update(knn.layers())
        self.layer_failures += knn.layer_failures
        return m


# ---------------------------------------------------------------------------

class ClusteredSink(Workload):
    """encode and tile seeded points, write them through both io sinks,
    then answer every fixture region's covering with one range scan of
    the clustered copy."""
    name = "clustered_sink"
    DATA = "sink_points"
    N = 400_000
    COVER_CELLS = 8   # covering size of the range scans
    FILES = 4         # files of the clustered copy

    @property
    def rows(self) -> int:
        return self.n(self.N)

    def prepare(self) -> None:
        self.pts = self._write_points(self.rows)

    def setup(self) -> None:
        cov: dict[int, list] = {}
        for rid, cid, _ in joins.compute_coverings(
                FX.region_objects(), max_cells=self.COVER_CELLS):
            cov.setdefault(rid, []).append(cid)
        self.ranges = {}
        for rid, cids in sorted(cov.items()):
            c = np.asarray(cids, dtype=np.uint64)
            self.ranges[rid] = list(zip(cellops.range_min(c).tolist(),
                                        cellops.range_max(c).tolist()))
        self.ck, self.cl = self.path("checkpointed"), self.path("clustered")

    def reset(self) -> None:
        # a committed chunk in the manifest would be skipped (resume)
        shutil.rmtree(self.ck, ignore_errors=True)

    def _tiled(self, chunk: int = 0):   # checkpointed_write's chunk index
        return joins.with_cell_id(self._points()) \
            .withColumn("tile", columns.parent("cell_id", 8))

    def _checkpointed(self):
        return io.checkpointed_write(self.spark, self._tiled, self.ck,
                                     num_chunks=1, cluster_col="cell_id")

    def _clustered(self) -> None:
        io.write_clustered(self._tiled(), self.cl, num_files=self.FILES)

    def _scan(self):
        parts = [io.scan_cell_ranges(self.spark, self.cl, r)
                 .select(F.lit(rid).alias("region_id"))
                 for rid, r in self.ranges.items()]
        df = parts[0]
        for p in parts[1:]:
            df = df.unionAll(p)
        return df.groupBy("region_id").count()

    def op(self) -> dict:
        res = self._checkpointed()
        self._clustered()
        self.last_df = self._scan()
        got = self.last_df.collect()
        return {"written": sum(r.rows for r in res),
                "counts": sorted((r["region_id"], r["count"]) for r in got)}

    def reference(self) -> dict:
        """every point written once; per-region counts from a numpy
        range count over the sorted leaf ids."""
        leaf = np.sort(hilbert.lat_lng_to_cell_id(self.pts["lat"],
                                                  self.pts["lng"]))
        counts = []
        for rid, rs in self.ranges.items():
            lo, hi = (np.asarray(x, dtype=np.uint64) for x in zip(*rs))
            k = int((np.searchsorted(leaf, hi, side="right")
                     - np.searchsorted(leaf, lo, side="left")).sum())
            if k:
                counts.append((rid, k))
        return {"written": self.rows, "counts": sorted(counts)}

    def layers(self) -> dict:
        """each step of the op alone (median of two cold runs), the
        clustered layout and the scan's pruning, the scan/encode/bit-math
        prefixes, the encode kernel and the text layers."""
        reps = 2

        def ck():
            self.reset()
            self._checkpointed()

        m = self._prefix_layers(reps)
        m["io.checkpointed_write_s"] = _median_of(reps, self.spark, ck)
        m["io.write_clustered_s"] = _median_of(reps, self.spark,
                                               self._clustered)
        m["io.scan_s"] = _median_of(reps, self.spark,
                                    lambda: self._scan().collect())
        df = self._scan()
        got = df.collect()
        files = [os.path.join(self.cl, f) for f in os.listdir(self.cl)
                 if f.endswith(".parquet")]
        m["io.files"] = len(files)
        m["io.bytes_per_row"] = sum(os.path.getsize(f) for f in files) \
            / self.rows
        m["io.scan_rows_read"] = spans.scan_rows(df)
        m["io.scan_rows_returned"] = sum(r["count"] for r in got)
        m["io.scan_selectivity"] = (m["io.scan_rows_returned"]
                                    / max(1, m["io.scan_rows_read"]))
        m["kernels.encode_rows_per_s"] = self._encode_kernel(
            self.pts["lat"], self.pts["lng"])
        docs = DedupComponents(self.spark, self.work, self.seed, self.scale)
        docs.prepare()
        m.update(docs.layers())
        self.layer_failures += docs.layer_failures
        return m


# ---------------------------------------------------------------------------

class KnnMany(Workload):
    """the registry's knn_many shape, profiled inside the flagship's
    traced run: knn_join_df(k=3, max_rounds=1, init_rings=1) over
    seeded hot-city points with queries sampled from them."""
    name = "knn_many"
    DATA = "knn_points"
    N = 50_000
    Q = 1_000
    K = 3
    CHECKED = 64   # queries verified against the brute-force reference

    @property
    def rows(self) -> int:
        return self.n(self.N)

    def prepare(self) -> None:
        self.pts = self._write_points(self.rows)
        self.qs = inputs.sample_queries(self.seed, self.pts,
                                        self.n(self.Q, floor=50))
        self.fingerprints["queries"] = inputs.fingerprint(self.qs)
        path = self.path("knn_queries")
        shutil.rmtree(path, ignore_errors=True)
        inputs.write_parquet(self.qs, path, n_files=1)
        rng = np.random.default_rng([self.seed, 4])
        self.checked = np.sort(rng.choice(self.qs["query_id"],
                                          min(self.CHECKED, len(self.qs[
                                              "query_id"])), replace=False))

    def _knn(self):
        return joins.knn_join_df(self._points(),
                                 self.spark.read.parquet(
                                     self.path("knn_queries")),
                                 level=None, k=self.K, max_rounds=1,
                                 init_rings=1)

    def op(self) -> dict:
        self.last_df = self._knn()
        rows = self.last_df.collect()
        keep = set(self.checked.tolist())
        return {"rows": len(rows),
                "checked": _digest((r.query_id, r.point_id, r.rnk)
                                   for r in rows if r.query_id in keep)}

    def reference(self) -> dict:
        """exact brute force in numpy for the checked queries, with the
        engine's (dist2, point_id) order; every query has >= k points."""
        from s2spark.kernels import regions as RK
        lat, lng, pid = self.pts["lat"], self.pts["lng"], self.pts["point_id"]
        pos = np.searchsorted(self.qs["query_id"], self.checked)
        out = []
        for qid, i in zip(self.checked.tolist(), pos):
            d = RK.chord_dist2(np.full(len(lat), self.qs["lat"][i]),
                               np.full(len(lat), self.qs["lng"][i]), lat, lng)
            kth = np.partition(d, self.K - 1)[self.K - 1]
            cand = np.nonzero(d <= kth)[0]
            order = cand[np.lexsort((pid[cand], d[cand]))][:self.K]
            out += [(qid, int(pid[j]), r + 1) for r, j in enumerate(order)]
        return {"rows": len(self.qs["query_id"]) * self.K,
                "checked": _digest(out)}

    def layers(self) -> dict:
        """wall time of a cold op (median of two, after one that warms
        its plan shapes), the largest query tile and the disk-expand
        kernel on the query tiles."""
        ref = self.reference()
        times = []
        for _ in range(3):
            spans.cold_boundary(self.spark)
            t, out = _timed(self.op)
            times.append(t)
            self.layer_failures += out != ref
        m = {"joins.knn_s": statistics.median(times[1:])}
        lat, lng = self.pts["lat"], self.pts["lng"]
        level = joins.knn_auto_level(self.rows, self.K)
        tiles = cellops.parent(hilbert.lat_lng_to_cell_id(lat, lng), level)
        qt = cellops.parent(hilbert.lat_lng_to_cell_id(
            self.qs["lat"], self.qs["lng"]), level)
        uniq, counts = np.unique(tiles, return_counts=True)
        at = np.searchsorted(uniq, qt)
        m["joins.knn_max_tile_points"] = int(counts[at].max())
        m["kernels.disk_expand_s"] = statistics.median(
            _timed(lambda: cellops.disk_expand_owned(
                self.qs["query_id"], qt, level, 1))[0] for _ in range(3))
        return m


# ---------------------------------------------------------------------------

class DedupComponents(Workload):
    """dedup_keep_best over seeded documents with planted near-duplicate
    copies, profiled inside the clustered sink's traced run. Not an
    end-to-end workload: a fresh JVM needs about ten of its driver-bound
    ops before their time settles, more than one run can afford."""
    name = "dedup_components"
    DOCS = 400

    def prepare(self) -> None:
        docs = inputs.documents(self.seed, self.n(self.DOCS, floor=100))
        self.fingerprints["documents"] = inputs.fingerprint(docs)
        self.sf_dir = self.path("sf")
        shutil.rmtree(self.sf_dir, ignore_errors=True)
        inputs.write_parquet(docs, os.path.join(self.sf_dir,
                                                "documents.parquet"))

    @staticmethod
    def _summary(rows) -> dict:
        return {"rows": len(rows), "digest": _digest(tuple(r) for r in rows)}

    def op(self) -> dict:
        self.last_df = text.dedup_keep_best(self.spark, self.sf_dir)
        return self._summary([tuple(r) for r in self.last_df.collect()])

    def reference(self) -> dict:
        """the DuckDB twin of the same operator (oracle SQL)."""
        import duckdb
        con = duckdb.connect()
        try:
            con.sql(f"SET temp_directory='{self.path('duckdb')}'")
            con.sql("CREATE VIEW documents AS SELECT * FROM read_parquet("
                    f"'{self.sf_dir}/documents.parquet')")
            return self._summary(con.sql(text.dedup_keep_best_sql())
                                 .fetchall())
        finally:
            con.close()

    def layers(self) -> dict:
        """one checked op first (it also takes the cold-JVM cost), then
        cumulative noop-sink prefixes: pairs, +components, +keep-best."""
        s, sf = self.spark, self.sf_dir
        spans.cold_boundary(s)
        self.layer_failures += self.op() != self.reference()
        t_pairs = _median_of(2, s, lambda: _noop(text.minhash_lsh_pairs(s, sf)))
        t_comp = _median_of(2, s, lambda: _noop(text.dedup_components(s, sf)))
        t_best = _median_of(2, s, lambda: _noop(text.dedup_keep_best(s, sf)))
        spans.cold_boundary(s)
        return {"text.pairs_s": t_pairs,
                "text.pairs": text.minhash_lsh_pairs(s, sf).count(),
                "text.components_s": t_comp - t_pairs,
                "text.keep_best_s": t_best - t_comp}


WORKLOADS = {w.name: w for w in (FlagshipPip, ClusteredSink)}
