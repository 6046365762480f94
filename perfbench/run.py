"""s2spark benchmark: one closed-loop client, cache-cold ops.

    python3 perfbench/run.py --workload flagship_pip --seed 1 --seconds 10 \
        --trace 0

Run from the repository root. One driver process starts a
``local[N]`` session (N = CPUs this process may run on, confs from
``bench.make_session``), generates the workload's inputs from the seed
and runs the cold first op and a few seconds of warm-up ops as set-up,
then runs one op at a time for ``--seconds``, clearing every cache and
persisted RDD before each op and checking each op's output against a
reference computed once by an independent path.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` is the
separate traced run: it alternates plain and span-wrapped ops to price
the spans, then profiles the workload's layers, and prints the
per-layer metrics (0 for a layer the workload never calls). Spans are
written to ``.perfbench/traces/``. The last line of stdout is the
result object; the line before it records the environment.
"""
from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
sys.path.insert(0, ROOT)

import bench  # noqa: E402  (the repo's session builder)
import s2spark  # noqa: E402,F401

import proc  # noqa: E402
import spans  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

PREP_REPS = 3   # input preparation repeats inside set-up (median kept)


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _env(n_cpus: int) -> dict:
    import numpy
    import pyarrow
    import pyspark
    src = hashlib.sha256()
    for base, _, files in sorted(os.walk(os.path.join(ROOT, "s2spark"))):
        for fn in sorted(files):
            if fn.endswith(".py"):
                with open(os.path.join(base, fn), "rb") as f:
                    src.update(f.read())
    commit = None
    head = os.path.join(ROOT, ".git", "HEAD")
    if os.path.exists(head):
        with open(head) as f:
            ref = f.read().strip()
        if ref.startswith("ref: "):
            ref_path = os.path.join(ROOT, ".git", ref[5:])
            ref = open(ref_path).read().strip() \
                if os.path.exists(ref_path) else None
        commit = ref
    return {"cpus": n_cpus, "pyspark": pyspark.__version__,
            "numpy": numpy.__version__, "pyarrow": pyarrow.__version__,
            "python": sys.version.split()[0], "git_commit": commit,
            "s2spark_sha256": src.hexdigest()[:16]}


def _start_spark(n_cpus: int):
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = \
        f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}"
    os.environ["PYSPARK_SUBMIT_ARGS"] = \
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    # executors' Python workers import s2spark from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    return bench.make_session(n_cpus)


def _stop(spark) -> None:
    """stop the session and wait for the JVM (its Python workers die
    with it): the JVM exits once its stdin pipe closes."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)


def _reference(w, corrupt: bool) -> dict:
    """computed once per (workload, seed, scale, inputs); cached."""
    key = hashlib.sha256(json.dumps(
        [w.name, w.seed, w.scale, w.fingerprints], sort_keys=True)
        .encode()).hexdigest()[:16]
    path = os.path.join(WORK, "refs", f"{w.name}-{key}.json")
    if os.path.exists(path):
        with open(path) as f:
            ref = json.load(f)
    else:
        spans.cold_boundary(w.spark)
        ref = json.loads(json.dumps(w.reference()))  # tuples -> lists
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path + ".tmp", "w") as f:
            json.dump(ref, f)
        os.replace(path + ".tmp", path)
    if corrupt:
        ref = dict(ref, corrupted=True)
    return ref


def _checked_op(w, ref, scope=None) -> tuple[float, bool]:
    """one cache-cold op, inside ``scope`` if given: (wall seconds,
    output matched reference)."""
    spans.cold_boundary(w.spark)
    w.reset()
    t0 = time.perf_counter()
    try:
        with scope or contextlib.nullcontext():
            out = json.loads(json.dumps(w.op()))
    except Exception:  # an op that raises is a failed op, not a crash
        traceback.print_exc()
        return time.perf_counter() - t0, False
    dt = time.perf_counter() - t0
    w.last_out = out
    return dt, ("corrupted" not in ref and w.matches(out, ref))


def _setup(name: str, seed: int, scale: float, n_cpus: int, warm: bool):
    spark = _start_spark(n_cpus)
    t_session = time.perf_counter() - T_START
    w = WORKLOADS[name](spark, WORK, seed, scale)
    preps = [_time(w.prepare) for _ in range(PREP_REPS)]
    t1 = time.perf_counter()
    w.setup()
    t_setup = time.perf_counter() - t1
    # the cold-JVM op, then (if ``warm``) ops for the workload's WARM_S
    # more seconds: op time keeps falling while the JIT compiles, so ops
    # run now are set-up, not measured
    warm_s = w.WARM_S if warm else 0.0
    ops = []
    while not ops or sum(ops[1:]) < warm_s:
        spans.cold_boundary(spark)
        w.reset()
        ops.append(_time(w.op))
    setup_s = t_session + statistics.median(preps) + t_setup + sum(ops)
    w.setup_parts = {"session_s": t_session, "prepare_s": preps,
                     "setup_s": t_setup, "warmup_ops_s": ops}
    return w, setup_s


def _time(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def _measure(w, ref, seconds: float) -> dict:
    """cold ops for ``seconds``; medians of per-op wall and CPU time."""
    times, cpus, failed = [], [], 0
    t_end = time.perf_counter() + seconds
    # ops start while the window is open; the last may end past it
    while time.perf_counter() < t_end:
        cpu0 = proc.tree_cpu_s()
        dt, ok = _checked_op(w, ref)
        cpus.append(proc.tree_cpu_s() - cpu0)
        times.append(dt)
        failed += not ok
    op_s = statistics.median(times)
    return {
        "attempted": len(times), "failed": failed,
        "metrics": {
            "setup_s": None,
            "op_s_p50": op_s,
            "rows_per_s": w.rows / op_s,
            "cpu_s_per_op": statistics.median(cpus),
        },
        "op_s": times,
    }


def _traced(w, ref, seconds: float) -> dict:
    """pairs of one plain and one traced op, alternating which goes
    first, for ``seconds``; then the workload's layer profile."""
    tracer = spans.Tracer()
    plain, traced, records = [], [], []
    t_end = time.perf_counter() + seconds
    i = 0
    with proc.RssPeak() as rss:
        while i < 2 or time.perf_counter() + 2 * statistics.median(
                dt for dt, _ in plain) <= t_end:
            _op_pair(w, ref, tracer, i, plain, traced, records)
            i += 1
    failed = sum(not ok for _, ok in plain + traced)
    plain, traced = [dt for dt, _ in plain], [dt for dt, _ in traced]
    m = {k: 0.0 for k in _spec_names("per_layer")}
    m.update(w.timings)
    for key in ("jobs", "stages", "tasks", "executor_run_s",
                "shuffle_write_bytes", "input_rows", "driver_idle_s",
                "persisted_rdds_after"):
        m[f"spark.{key}"] = statistics.median(r[key] for r in records)
    m["udfs.python_rows"] = statistics.median(
        r["python_rows"] for r in records)
    m["proc.peak_rss_mb"] = rss.peak_mb
    p_plain = statistics.median(plain)
    m["trace_overhead_frac"] = (statistics.median(traced) - p_plain) / p_plain
    m.update(w.layers())
    n = len(plain) + len(traced)
    failed += w.layer_failures
    m["ops_failed_frac"] = failed / n
    os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
    tracer.dump(os.path.join(WORK, "traces", f"{w.name}-{w.seed}.jsonl"))
    return {"attempted": n, "failed": failed, "metrics": m}


def _op_pair(w, ref, tracer, i, plain, traced, records) -> None:
    """one plain and one traced op, the plain one first when ``i`` is
    even; appends (seconds, ok) and the traced op's job record."""
    sc = w.spark.sparkContext
    for is_traced in (i % 2 == 1, i % 2 == 0):
        if not is_traced:
            plain.append(_checked_op(w, ref))
            continue
        op_id = f"{w.name}-op{i}"
        sc.setJobGroup(op_id, op_id)
        wall0 = time.time()
        traced.append(_checked_op(w, ref, tracer.op(f"op.{w.name}", op_id)))
        rec = spans.job_record(w.spark, op_id, wall0, time.time())
        sc.setLocalProperty("spark.jobGroup.id", None)
        rec["persisted_rdds_after"] = len(sc._jsc.getPersistentRDDs())
        rec["python_rows"] = spans.python_rows(w.last_df)
        records.append(rec)


def _spec_names(section: str) -> list[str]:
    return [e["name"] for e in _spec()[section]]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size multiplier (self-test uses 0.01)")
    ap.add_argument("--corrupt-reference", action="store_true",
                    help="self-test: every op must then count as failed")
    a = ap.parse_args(argv)
    spec = _spec()
    units = {e["name"]: e["unit"]
             for e in spec["end_to_end"] + spec["per_layer"]}

    n_cpus = len(os.sched_getaffinity(0))
    env = _env(n_cpus)
    env["loadavg_before"] = os.getloadavg()
    # the traced run prices its spans on alternating ops, so it skips
    # the warm-up that steadies the untraced medians
    w, setup_s = _setup(a.workload, a.seed, a.scale, n_cpus,
                        warm=not a.trace)
    try:
        ref = _reference(w, a.corrupt_reference)
        if a.trace:
            res = _traced(w, ref, a.seconds)
        else:
            res = _measure(w, ref, a.seconds)
            res["metrics"]["setup_s"] = setup_s
            env["op_s"] = res.pop("op_s")
    finally:
        _stop(w.spark)
        shutil.rmtree(os.path.join(WORK, "data"), ignore_errors=True)
    env["loadavg_after"] = os.getloadavg()
    # the 1-minute load after a run is mostly this run's own; load
    # above the CPU count before it started is foreign
    env["loaded"] = env["loadavg_before"][0] > n_cpus
    env.update(setup_parts=w.setup_parts)
    env.update(workload=a.workload, seed=a.seed, trace=a.trace,
               scale=a.scale, inputs=w.fingerprints, rows=w.rows)
    print("env " + json.dumps(env))
    section = "per_layer" if a.trace else "end_to_end"
    metrics = {k: {"value": res["metrics"][k], "unit": units[k]}
               for k in _spec_names(section)}
    print(json.dumps({"correct": res["failed"] == 0,
                      "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
