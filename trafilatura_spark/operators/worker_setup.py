"""Python-worker setup: two per-task costs of a reused PySpark Python
worker, paid once per process instead.

Zip re-reads.  PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
EVERY task (``worker_util.setup_spark_files``).  On CPython < 3.12,
``zipimport.zipimporter.invalidate_caches`` re-reads the archive's whole
central directory, once per zipimporter in ``sys.path_importer_cache``.
A reused worker holds ~16 of them: spark-core's jar (5359 entries, read
twice) is on the worker path via ``PythonUtils.sparkPythonPath``, and
pyspark.zip (1328 entries) gets one importer per imported subpackage.
On CPython 3.11.7 on a 4-vCPU x86 VM that costs 0.2-0.27 s per task
before the batch function runs — more than the kernel work of a task of
~150 short turns.  CPython 3.12 made the invalidation lazy (gh-103200).

``install_zip_reread_guard`` makes the invalidation re-read an archive
only when its ``(st_mtime_ns, st_size, st_ino)`` changed since it was
last read, so an archive that really changes (``addPyFile`` overwriting
a zip) is still re-read.  It runs once, when this module is imported,
and ``trafilatura_spark/__init__.py`` imports it.  A worker imports the
package when it unpickles the first task that calls a package function:
every batch function refers to a module-level package helper, which
cloudpickle pickles by reference.  That first task's setup has already
paid the re-reads; every later task in the worker skips them.

Full collections.  PySpark's daemon runs ``gc.collect()`` after every
task of a reused worker (``pyspark/daemon.py``), and each one walks
every object the worker has tracked since import: ~79,700 with pandas,
pyarrow, pyspark and the kernel loaded, ~46 ms per task on 5-200 KB
pages on a 4-vCPU x86 VM.  ``freeze_import_heap`` collects once and
freezes the survivors into the collector's permanent generation, which
no later collection walks, so the daemon's collection walks only
what the last task left (1-3k objects).  ``operators/arrow_batches.py``,
the batch loop of every Python stage but the streaming state function,
calls it at the end of its module body: a worker imports that module
when it unpickles any batch function built on it, before the task's
first batch exists.  Those workers load no pandas, so
``streaming/extract_stream.py``, which imports pandas for its
``applyInPandasWithState`` function, freezes again at the end of its
body: a worker that ran extraction first would otherwise walk pandas'
~33k objects after every later task.  Frozen objects are never
collected, so the freeze must never run while batch data is alive: only
at import, never per task or per batch.
"""

from __future__ import annotations

import functools
import gc
import os
import sys
import zipimport


def install_zip_reread_guard() -> None:
    "Skip re-reads of unchanged zip archives on invalidate_caches (CPython < 3.12)."
    if sys.version_info >= (3, 12):
        return
    reread = zipimport.zipimporter.invalidate_caches
    if hasattr(reread, "read_stamps"):
        return
    # archive path -> stamp taken just before the read now in
    # zipimport._zip_directory_cache; importers of the same archive
    # (one per package prefix) share that cached directory
    stamps: dict = {}

    @functools.wraps(reread)
    def invalidate_caches(self):
        archive = self.archive
        try:
            st = os.stat(archive)
            stamp = (st.st_mtime_ns, st.st_size, st.st_ino)
        except OSError:
            stamp = None
        cached = zipimport._zip_directory_cache.get(archive)
        if stamp is not None and cached is not None and stamps.get(archive) == stamp:
            self._files = cached
            return
        stamps.pop(archive, None)
        reread(self)
        if stamp is not None and archive in zipimport._zip_directory_cache:
            stamps[archive] = stamp

    invalidate_caches.read_stamps = stamps
    zipimport.zipimporter.invalidate_caches = invalidate_caches


_modules_at_freeze = 0  # len(sys.modules) when the heap was last frozen


def freeze_import_heap() -> None:
    """Collect, then freeze the survivors out of every later collection.
    A no-op unless modules were imported since the last freeze: each
    module body that calls it freezes what the imports before it added,
    once per process."""
    global _modules_at_freeze
    if len(sys.modules) == _modules_at_freeze:
        return
    gc.collect()
    gc.freeze()
    _modules_at_freeze = len(sys.modules)


install_zip_reread_guard()
