"""Outside-in tracing for the benchmark: spans around the benchmark's
calls into s2spark's public functions, the per-op Spark job record
from the status store, and executed-plan metrics.

Nothing here edits s2spark. Spans are recorded by temporarily
replacing module attributes with timing wrappers, so every call that
goes through the module's namespace (the benchmark's own calls and
s2spark's internal calls between public functions) is seen. Most of
these functions only build a lazy plan, so their spans time planning
and any driver actions they run; the work of the final action is in
the enclosing op span.
"""
from __future__ import annotations

import contextlib
import functools
import json
import time

from s2spark import columns, io, joins, text

WRAPPED = {
    joins: ("raster_vector_align", "coverings_df", "pip_join_bucketed",
            "pip_join_broadcast", "with_cell_id", "make_verify_udf",
            "knn_join_df", "knn_auto_level", "compute_coverings"),
    columns: ("parent", "sortable"),
    text: ("dedup_keep_best", "dedup_components", "minhash_lsh_pairs",
           "minhash_signatures", "quality_score", "_components"),
    io: ("checkpointed_write", "write_clustered", "scan_cell_ranges"),
}


class Tracer:
    """in-memory span list: (name, start, end, parent, op)."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op_id: str | None = None

    @contextlib.contextmanager
    def span(self, name: str):
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": self._stack[-1] if self._stack else None,
               "op": self.op_id}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def _wrap(self, qual: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(qual):
                return fn(*args, **kwargs)
        return traced

    @contextlib.contextmanager
    def installed(self):
        """wrap every function in WRAPPED for the duration."""
        saved = []
        for mod, names in WRAPPED.items():
            layer = mod.__name__.rsplit(".", 1)[-1]
            for name in names:
                fn = getattr(mod, name)
                saved.append((mod, name, fn))
                setattr(mod, name, self._wrap(f"{layer}.{name}", fn))
        try:
            yield self
        finally:
            for mod, name, fn in saved:
                setattr(mod, name, fn)

    @contextlib.contextmanager
    def op(self, name: str, op_id: str):
        """one traced op: wrappers installed, spans tagged ``op_id``."""
        self.op_id = op_id
        try:
            with self.installed(), self.span(name):
                yield self
        finally:
            self.op_id = None

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


# ---------------------------------------------------------------------------
# Spark status store and plan metrics
# ---------------------------------------------------------------------------

def cold_boundary(spark) -> int:
    """drop every cached DataFrame and persisted RDD (localCheckpoint
    blocks included); returns how many RDDs were still persisted."""
    jsc = spark.sparkContext._jsc
    rdds = list(jsc.getPersistentRDDs().values())
    spark.catalog.clearCache()
    for rdd in rdds:
        rdd.unpersist(True)
    return len(rdds)


def _ms(opt_date) -> float | None:
    return opt_date.get().getTime() / 1000.0 if opt_date.isDefined() else None


def job_record(spark, group: str, t0: float, t1: float) -> dict:
    """jobs/stages/tasks, executor run time, shuffle-write bytes and
    input rows of the jobs in ``group``, and the part of the op's wall
    window [t0, t1] (epoch seconds) no job was running. Input rows, not
    bytes: the stage record counts only parquet footer bytes here."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    rec = {"jobs": 0, "stages": 0, "tasks": 0, "executor_run_s": 0.0,
           "shuffle_write_bytes": 0, "input_rows": 0}
    spans = []
    for jid in sc.statusTracker().getJobIdsForGroup(group):
        job = store.job(jid)
        rec["jobs"] += 1
        start, end = _ms(job.submissionTime()), _ms(job.completionTime())
        if start is not None:
            spans.append((max(start, t0), min(end or t1, t1)))
        it = job.stageIds().iterator()
        while it.hasNext():
            attempts = store.stageData(it.next(), False, None, False, None)
            for i in range(attempts.size()):
                st = attempts.apply(i)
                if st.status().toString() == "SKIPPED":
                    continue
                rec["stages"] += 1
                rec["tasks"] += st.numTasks()
                rec["executor_run_s"] += st.executorRunTime() / 1000.0
                rec["shuffle_write_bytes"] += st.shuffleWriteBytes()
                rec["input_rows"] += st.inputRecords()
    busy, cur_end = 0.0, t0
    for s, e in sorted(spans):
        s = max(s, cur_end)
        if e > s:
            busy += e - s
            cur_end = e
    rec["driver_idle_s"] = max(0.0, (t1 - t0) - busy)
    return rec


def plan_nodes(df):
    """(node name, {metric: value}) for every node of ``df``'s executed
    plan, descending through adaptive query stages."""
    out = []
    todo = [df._jdf.queryExecution().executedPlan()]
    while todo:
        p = todo.pop()
        name = p.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            todo.append(p.executedPlan())
            continue
        if name.endswith("QueryStageExec"):
            todo.append(p.plan())
            continue
        if name == "ReusedExchangeExec":
            todo.append(p.child())
            continue
        ms, vals = p.metrics(), {}
        it = ms.keysIterator()
        while it.hasNext():
            k = it.next()
            vals[k] = ms.apply(k).value()
        out.append((name, vals))
        ch = p.children()
        todo.extend(ch.apply(i) for i in range(ch.size()))
    return out


def python_rows(df) -> int:
    """rows that crossed back from Python UDFs in ``df``'s last run."""
    return sum(m.get("pythonNumRowsReceived", 0) for _, m in plan_nodes(df))


def scan_rows(df) -> int:
    """rows the file scans of ``df``'s last run produced."""
    return sum(m.get("numOutputRows", 0) for n, m in plan_nodes(df)
               if n == "FileSourceScanExec")
