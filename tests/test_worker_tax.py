"""The per-task worker tax: PySpark's worker calls
``importlib.invalidate_caches()`` at the start of every task, which on
CPython < 3.12 re-reads every zip archive on the worker's path.
``s2spark._zipcache`` keeps an unchanged archive's directory. These
tests pin it on live workers and in this process, plus the
``__spark_entry__`` ship that puts ``s2spark`` on the workers' path."""

import importlib
import sys
import warnings
import zipfile
import zipimport
from types import SimpleNamespace

import pytest

import s2spark

OLD_ZIPIMPORT = sys.version_info < (3, 12)


def test_workers_keep_zip_directories(spark):
    """each warm worker keeps its archives' directory dicts from one
    task to the next; without the guard every task re-reads them all."""
    if not OLD_ZIPIMPORT:
        pytest.skip("CPython >= 3.12 reads zip directories lazily; "
                    "s2spark leaves zipimport alone")

    def probe(batches):
        import os
        import time
        import zipimport

        import pandas as pd
        assert s2spark.__name__  # unpickling this closure imports s2spark
        for _ in batches:
            pass
        t = time.monotonic_ns()
        rows = {(os.getpid(), f.archive,
                 id(zipimport._zip_directory_cache.get(f.archive)), t)
                for f in list(sys.path_importer_cache.values())
                if isinstance(f, zipimport.zipimporter)}
        yield pd.DataFrame(sorted(rows),
                           columns=["pid", "archive", "dir_id", "t"])

    df = spark.range(0, 4, 1, 4).mapInPandas(
        probe, "pid long, archive string, dir_id long, t long")
    # idle workers are taken round-robin, so run until some worker has
    # served 3 probe tasks: the 1st imports s2spark (the guard), the
    # 2nd takes each archive's stamp, from the 3rd on nothing is re-read
    seen: dict = {}
    for _ in range(50):
        for r in df.collect():
            seen.setdefault((r.pid, r.archive), []).append((r.t, r.dir_id))
        if not seen:
            pytest.skip("no zip archive on the Spark workers' sys.path")
        if any(len(v) >= 3 for v in seen.values()):
            break
    warm = {k: [d for _, d in sorted(v)] for k, v in seen.items()
            if len(v) >= 3}
    assert warm, {k: len(v) for k, v in seen.items()}
    moved = [k for k, ids in warm.items() if set(ids[2:]) != {ids[1]}]
    assert not moved, f"re-read on a warm worker: {moved}"


@pytest.fixture
def zip_on_path(tmp_path):
    """a zip archive on ``sys.path``; ``write(names)`` (re)writes it
    with one module per name. Everything is undone afterwards."""
    path = str(tmp_path / "zc_mods.zip")

    def write(names):
        with zipfile.ZipFile(path, "w") as z:
            for n in names:
                z.writestr(f"{n}.py", f"NAME = {n!r}\n")

    write(["zc_a"])
    sys.path.insert(0, path)
    yield path, write
    sys.path.remove(path)
    sys.path_importer_cache.pop(path, None)
    zipimport._zip_directory_cache.pop(path, None)
    for n in ("zc_a", "zc_b"):
        sys.modules.pop(n, None)


@pytest.mark.skipif(not OLD_ZIPIMPORT, reason="stdlib zipimport on "
                    "CPython >= 3.12 (no guard installed)")
def test_guard_skips_unchanged_and_rereads_changed(zip_on_path,
                                                   monkeypatch):
    path, write = zip_on_path
    assert importlib.import_module("zc_a").NAME == "zc_a"
    importlib.invalidate_caches()  # first guarded call takes the stamp

    reads = []
    real = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory",
                        lambda p: reads.append(p) or real(p))
    importlib.invalidate_caches()
    assert reads.count(path) == 0

    write(["zc_a", "zc_b"])  # new module
    importlib.invalidate_caches()
    assert reads.count(path) == 1
    assert importlib.import_module("zc_b").NAME == "zc_b"

    write(["zc_b"])  # module dropped
    sys.modules.pop("zc_a")
    importlib.invalidate_caches()
    with pytest.raises(ImportError):
        importlib.import_module("zc_a")


def test_guard_only_below_312():
    fn = zipimport.zipimporter.invalidate_caches
    want = "s2spark._zipcache" if OLD_ZIPIMPORT else "zipimport"
    assert fn.__module__ == want


class _StubContext:
    def __init__(self, app_id, fail=None):
        self.applicationId = app_id
        self.fail = fail
        self.added = []

    def addPyFile(self, path):
        if self.fail:
            raise self.fail
        self.added.append(path)


def test_ensure_shipped_keys_on_application_id_and_warns(monkeypatch):
    import __spark_entry__ as E
    monkeypatch.setattr(E, "_SHIPPED", set())

    ctx = _StubContext("app-a")
    E._ensure_shipped(SimpleNamespace(sparkContext=ctx))
    E._ensure_shipped(SimpleNamespace(sparkContext=ctx))
    assert len(ctx.added) == 1 and ctx.added[0].endswith("s2spark.zip")
    # a new application whose context sits at a recycled address (here:
    # the very same object) must still get the zip
    ctx.applicationId = "app-b"
    E._ensure_shipped(SimpleNamespace(sparkContext=ctx))
    assert len(ctx.added) == 2

    bad = _StubContext("app-c", fail=RuntimeError("no such file"))
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        E._ensure_shipped(SimpleNamespace(sparkContext=bad))
    msgs = [str(x.message) for x in w]
    assert any("s2spark.zip" in m and "no such file" in m for m in msgs), \
        msgs
