"""Per-task fixed costs of PySpark Python workers, cut once per worker.

Lazy zip-directory invalidation.

Every Python UDF task calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``). Before CPython 3.13 every
``zipimport.zipimporter`` answers that by re-reading its archive's whole
directory in pure Python. A worker with ``pyspark.zip`` first on its path
holds one zipimporter per subpackage imported from the zip (14-16), so
each task re-reads the 1,328-entry directory that many times: ~0.13 CPU s
per task. CPython 3.13 (gh-103200) made invalidation drop the shared
``_zip_directory_cache`` entry instead, and the next lookup re-reads the
archive once for all of its zipimporters. ``install`` backports that.

Frozen import-time heap. A reused worker runs a full ``gc.collect()``
after every task (``pyspark.daemon``). With pandas, pyarrow, pyspark and
this package imported, that walks ~75k tracked objects: 30-44 ms of CPU,
several times the Python work of a small UDF task. The first full
collection in the worker (normally that one, after the first task) leaves
exactly the import-time heap alive; ``gc.freeze`` at its end moves those
objects out of cycle detection for good, so later collections walk only
what was created since. Refcounting still frees frozen objects; only
cyclic garbage among them is never reclaimed. Freezing earlier, at import,
would miss the modules the first task imports later (kernels,
serializers); freezing inside a task would also freeze its live objects.
"""

import gc
import sys
import zipimport


def _get_files(self):
    """The archive's directory from the shared cache, re-read on a miss."""
    try:
        return zipimport._zip_directory_cache[self.archive]
    except KeyError:
        try:
            files = zipimport._read_directory(self.archive)
        except zipimport.ZipImportError:
            return {}
        zipimport._zip_directory_cache[self.archive] = files
        return files


def _invalidate_caches(self):
    """Drop the archive's cached directory; the next lookup re-reads it."""
    zipimport._zip_directory_cache.pop(self.archive, None)


def install():
    """Make zipimporter invalidation lazy, once, where it is still eager.

    Returns True when this call patched ``zipimport.zipimporter``."""
    cls = zipimport.zipimporter
    if hasattr(cls, "_get_files") or cls.invalidate_caches is _invalidate_caches:
        return False
    # __init__ fills _zip_directory_cache before it assigns self._files,
    # so the setter has nothing to keep
    cls._files = property(_get_files, lambda self, files: None)
    cls.invalidate_caches = _invalidate_caches
    return True


def _freeze_after_first_full_collection(phase, info):
    """One-shot ``gc.callbacks`` hook: freeze the heap a full collection left."""
    if phase == "stop" and info["generation"] == 2:
        gc.callbacks.remove(_freeze_after_first_full_collection)
        gc.freeze()


def install_in_worker():
    """``install`` and the one-shot heap freeze inside a PySpark Python
    worker only; a no-op elsewhere."""
    pyspark = sys.modules.get("pyspark")
    if pyspark is not None and pyspark.TaskContext.get() is not None:
        install()
        if _freeze_after_first_full_collection not in gc.callbacks:
            gc.callbacks.append(_freeze_after_first_full_collection)
