"""Start-up hook for the executors' Python workers.

``get_spark`` puts this directory on ``spark.executorEnv.PYTHONPATH``,
so the interpreter that runs pyspark's worker daemon imports this file
at start-up and every worker it forks inherits what it did. Nothing
else in the package imports it; it must not import the package either
(executors may not have it on their path yet).

The fix: pyspark's worker calls ``importlib.invalidate_caches()`` once
per task. Before Python 3.12 every ``zipimporter`` re-reads its
archive's whole central directory on that call (the 3.12 importer
re-reads lazily, gh-103200). A worker holds a dozen or more importers
over ``pyspark.zip`` and the ``spark-core`` jar on its PYTHONPATH, so
the call cost ~0.2 s of CPU per task before the task saw a row.
``install()`` makes a re-read happen only when the archive's
``(st_mtime_ns, st_size, st_ino)`` differs from its last read; an
unchanged archive costs one ``stat``. On Python >= 3.12 it does nothing.

This module shadows any ``sitecustomize`` later on the path (Debian's
Pythons ship one), so it runs that one too.
"""

import os
import sys


def _stat_key(path):
    st = os.stat(path)
    return st.st_mtime_ns, st.st_size, st.st_ino


def install():
    """Make ``zipimporter.invalidate_caches`` stat-checked (< 3.12)."""
    if sys.version_info >= (3, 12):
        return
    import functools
    import zipimport

    if hasattr(zipimport.zipimporter.invalidate_caches, "__wrapped__"):
        return
    read_directory = zipimport._read_directory
    cache = zipimport._zip_directory_cache
    read_keys = {}  # archive -> stat key taken just before its last read

    def _read_directory(archive):
        try:
            key = _stat_key(archive)
        except OSError:
            key = None
        files = read_directory(archive)
        read_keys[archive] = key
        return files

    @functools.wraps(zipimport.zipimporter.invalidate_caches)
    def invalidate_caches(self):
        files = cache.get(self.archive)
        try:
            key = _stat_key(self.archive)
        except OSError:
            key = None
        if files is not None and key is not None and read_keys.get(self.archive) == key:
            self._files = files
        else:
            invalidate_caches.__wrapped__(self)

    zipimport._read_directory = _read_directory
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    # archives read before this hook ran carry no stat key: read each
    # once now, so forked workers start with every key recorded
    for archive in list(cache):
        try:
            cache[archive] = _read_directory(archive)
        except zipimport.ZipImportError:
            cache.pop(archive, None)


def _run_shadowed():
    """Run the ``sitecustomize`` this file hides, if there is one."""
    import importlib.machinery
    import importlib.util

    here = os.path.dirname(os.path.abspath(__file__))
    path = [p for p in sys.path if os.path.abspath(p or os.curdir) != here]
    spec = importlib.machinery.PathFinder.find_spec("sitecustomize", path)
    if spec is not None and spec.loader is not None:
        spec.loader.exec_module(importlib.util.module_from_spec(spec))


install()
if __name__ == "sitecustomize":
    _run_shadowed()
