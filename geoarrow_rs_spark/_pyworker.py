"""Lazy zip-directory invalidation for PySpark Python workers.

Every Python UDF task calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``). Before CPython 3.13 every
``zipimport.zipimporter`` answers that by re-reading its archive's whole
directory in pure Python. A worker with ``pyspark.zip`` first on its path
holds one zipimporter per subpackage imported from the zip (14-16), so
each task re-reads the 1,328-entry directory that many times: ~0.13 CPU s
per task. CPython 3.13 (gh-103200) made invalidation drop the shared
``_zip_directory_cache`` entry instead, and the next lookup re-reads the
archive once for all of its zipimporters. ``install`` backports that.
"""

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


def install_in_worker():
    """``install`` inside a PySpark Python worker only; a no-op elsewhere."""
    pyspark = sys.modules.get("pyspark")
    if pyspark is not None and pyspark.TaskContext.get() is not None:
        install()
