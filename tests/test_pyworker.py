"""Per-task fixed costs of Python workers (``geoarrow_rs_spark._pyworker``):
lazy zipimport invalidation and the one-shot freeze of the import-time heap.

Both are process-wide and permanent, so their install paths run in a
fresh interpreter; the driver process itself must never be patched."""

import gc
import json
import os
import subprocess
import sys
import textwrap
import zipimport

import pandas as pd

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_INSTALL_SCRIPT = textwrap.dedent(r"""
    import collections, importlib, json, os, sys, zipfile, zipimport

    tmp = sys.argv[1]

    def write(archive, value):
        with zipfile.ZipFile(archive, "w") as z:
            z.writestr(f"{archive_pkg[archive]}/__init__.py", "")
            z.writestr(f"{archive_pkg[archive]}/sub/__init__.py", "")
            z.writestr(f"{archive_pkg[archive]}/sub/mod.py", f"VALUE = {value}\n")

    archives = [os.path.join(tmp, "a.zip"), os.path.join(tmp, "b.zip")]
    archive_pkg = dict(zip(archives, ["zpkg_a", "zpkg_b"]))
    mods = [f"{p}.sub.mod" for p in archive_pkg.values()]
    for a in archives:
        write(a, 1)
    sys.path[:0] = archives

    def import_all():
        for m in [m for m in sys.modules if m.startswith("zpkg_")]:
            del sys.modules[m]
        return [importlib.import_module(m).VALUE for m in mods]

    reads = collections.Counter()
    real_read = zipimport._read_directory

    def counting_read(archive):
        reads[archive] += 1
        return real_read(archive)

    zipimport._read_directory = counting_read
    out = {"first": import_all()}
    importers = [v for v in sys.path_importer_cache.values()
                 if isinstance(v, zipimport.zipimporter)]
    out["importers"] = collections.Counter(i.archive for i in importers)

    reads.clear()
    importlib.invalidate_caches()
    out["eager_reads"] = dict(reads)

    from geoarrow_rs_spark import _pyworker
    out["installed"] = _pyworker.install()
    out["installed_again"] = _pyworker.install()

    reads.clear()
    importlib.invalidate_caches()
    out["lazy_reads"] = dict(reads)
    for i in importers:  # one lookup through every zipimporter
        i.find_spec("zpkg_nothing_here")
    out["lookup_reads"] = dict(reads)

    for a in archives:
        write(a, 2)
    importlib.invalidate_caches()
    out["rewritten"] = import_all()
    print(json.dumps(out))
""")


def test_lazy_invalidation_reads_each_archive_once_and_sees_rewrites(tmp_path):
    env = dict(os.environ, PYTHONPATH=REPO)
    proc = subprocess.run(
        [sys.executable, "-c", _INSTALL_SCRIPT, str(tmp_path)],
        capture_output=True, text=True, env=env, timeout=120,
    )
    assert proc.returncode == 0, proc.stderr
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert out["first"] == [1, 1]
    # three zipimporters per archive: the archive, pkg/ and pkg/sub/
    assert sorted(out["importers"].values()) == [3, 3], out
    if out["installed"]:
        # unpatched (before 3.13) every zipimporter re-reads its archive
        assert out["eager_reads"] == out["importers"], out
    assert out["installed"] is (not hasattr(zipimport.zipimporter, "_get_files"))
    assert out["installed_again"] is False
    assert out["lazy_reads"] == {}, out
    assert out["lookup_reads"] == {a: 1 for a in out["importers"]}, out
    assert out["rewritten"] == [2, 2]


def test_install_skips_when_zipimporter_is_already_lazy(monkeypatch):
    from geoarrow_rs_spark import _pyworker

    cls = zipimport.zipimporter
    before = dict(cls.__dict__)
    monkeypatch.setattr(cls, "_get_files", lambda self: {}, raising=False)
    assert _pyworker.install() is False
    assert cls.invalidate_caches is before["invalidate_caches"]
    assert cls.__dict__.get("_files") is before.get("_files")


def test_worker_invalidation_reads_no_zip_directory(spark):
    """In a Python worker the package is imported before the UDF runs, and
    from then on ``importlib.invalidate_caches()`` reads no zip directory;
    the driver's zipimport stays as the interpreter shipped it."""

    def probe(batches):
        import importlib
        import zipimport

        import geoarrow_rs_spark  # noqa: F401

        calls = []
        real_read = zipimport._read_directory

        def counting_read(archive):
            calls.append(archive)
            return real_read(archive)

        zipimport._read_directory = counting_read
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real_read
        lazy = (hasattr(zipimport.zipimporter, "_get_files")
                or zipimport.zipimporter.invalidate_caches.__module__
                == "geoarrow_rs_spark._pyworker")
        for _ in batches:
            pass
        yield pd.DataFrame({"reads": [len(calls)], "lazy": [lazy]})

    rows = (
        spark.range(0, 8, 1, 4)
        .mapInPandas(probe, "reads int, lazy boolean")
        .collect()
    )
    assert len(rows) == 4
    assert all(r.reads == 0 and r.lazy for r in rows), rows
    assert "geoarrow_rs_spark" not in zipimport.zipimporter.invalidate_caches.__module__
    assert not isinstance(zipimport.zipimporter.__dict__.get("_files"), property)


_FREEZE_SCRIPT = textwrap.dedent(r"""
    import gc, json, weakref

    gc.disable()  # only the explicit collections below run
    before = list(gc.callbacks)
    import pyspark
    from geoarrow_rs_spark import _pyworker

    out = {}
    _pyworker.install_in_worker()  # outside a worker: no TaskContext
    out["outside_new_callbacks"] = len(gc.callbacks) - len(before)
    out["outside_frozen"] = gc.get_freeze_count()

    pyspark.TaskContext.get = staticmethod(lambda: object())
    freezes = []
    real_freeze = gc.freeze

    def counting_freeze():
        freezes.append(1)
        real_freeze()

    gc.freeze = counting_freeze
    _pyworker.install_in_worker()
    _pyworker.install_in_worker()
    out["worker_new_callbacks"] = len(gc.callbacks) - len(before)
    gc.collect(0)
    gc.collect(1)
    out["frozen_after_young"] = gc.get_freeze_count()
    gc.collect()
    out["frozen_after_full"] = gc.get_freeze_count()
    out["callbacks_after_full"] = len(gc.callbacks) - len(before)

    class Node:
        pass

    node = Node()
    node.self = node
    ref = weakref.ref(node)
    del node
    gc.collect()
    out["cycle_collected"] = ref() is None
    out["freezes"] = len(freezes)
    print(json.dumps(out))
""")


def test_worker_freezes_heap_once_at_first_full_collection():
    env = dict(os.environ, PYTHONPATH=REPO)
    proc = subprocess.run(
        [sys.executable, "-c", _FREEZE_SCRIPT],
        capture_output=True, text=True, env=env, timeout=120,
    )
    assert proc.returncode == 0, proc.stderr
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert out["outside_new_callbacks"] == 0, out
    assert out["outside_frozen"] == 0, out
    assert out["worker_new_callbacks"] == 1, out
    assert out["frozen_after_young"] == 0, out
    assert out["frozen_after_full"] > 0, out
    assert out["callbacks_after_full"] == 0, out
    assert out["cycle_collected"] is True, out
    assert out["freezes"] == 1, out


def test_worker_heap_is_frozen_after_first_task(spark):
    """A worker that has run a task importing the package has frozen its
    import-time heap, so the daemon's per-task full collection walks only a
    few thousand objects; the driver's heap is never frozen."""

    def probe(batches):
        import gc
        import sys

        seen = "geoarrow_rs_spark" in sys.modules
        import geoarrow_rs_spark  # noqa: F401

        for _ in batches:
            pass
        yield pd.DataFrame({"seen": [seen], "frozen": [gc.get_freeze_count()],
                            "objects": [len(gc.get_objects())]})

    df = spark.range(0, 32, 1, 16).mapInPandas(
        probe, "seen boolean, frozen long, objects long")
    df.collect()  # every worker's first task imports the package
    rows = df.collect()
    after_first = [r for r in rows if r.seen]
    assert len(rows) == 16 and after_first, rows
    assert all(r.frozen > 0 and r.objects < 10_000 for r in after_first), rows
    assert gc.get_freeze_count() == 0
