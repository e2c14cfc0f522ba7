"""Once-per-process set-up of a reused Python worker.

A reused PySpark worker pays two fixed costs on every task that depend
on neither the data nor the UDF:

1. ``pyspark/worker_util.py:setup_spark_files`` calls
   ``importlib.invalidate_caches()`` at the start of each task.  Up to
   CPython 3.12, ``zipimport.zipimporter.invalidate_caches`` re-parses
   the whole archive directory every time, and a worker holds one
   zipimporter per package directory it imported from ``pyspark.zip``
   (1,328 entries) plus py4j, a Spark jar and the shipped ``ocr_spark``
   zip: 0.15-0.24 s of CPU per task on a 4-core x86 VM.  CPython 3.13
   made the re-read lazy, so there the module leaves zipimport alone.
2. ``pyspark/daemon.py`` calls ``gc.collect()`` after each task of a
   reused worker, which walks every tracked object numpy, pandas,
   pyarrow and pyspark left behind at import (~73k objects, 37-53 ms).
   Freezing them once moves them out of the collector's generations.

Neither is a knob, because neither trades anything away.  The zip fix
re-reads an archive whose ``(st_mtime_ns, st_size, st_ino)`` changed
since that importer last read it, so imports see exactly what the stock
method would show them.  The freeze keeps only objects alive at the
first task out of later collections; the import heap among them lives
as long as the process anyway.  :func:`install` runs from
``ocr_spark/__init__``, which every UDF closure imports when it is
unpickled, and does nothing outside a Spark task (the driver has no
``TaskContext``).
"""

from __future__ import annotations

import gc
import os
import sys
import weakref
import zipimport

_original_invalidate = zipimport.zipimporter.invalidate_caches
# importer -> archive stat at its last read.  Per importer, not per
# archive: each importer holds its own ``_files`` dict before 3.13.
_read_stat: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def _invalidate_if_changed(self) -> None:
    """``zipimporter.invalidate_caches`` that skips an unchanged archive."""
    # Stat before reading: a write racing the read leaves the old stat
    # recorded, so the next call reads again rather than serving stale.
    try:
        st = os.stat(self.archive)
        stat = (st.st_mtime_ns, st.st_size, st.st_ino)
    except OSError:
        stat = None
    if stat is not None and _read_stat.get(self) == stat:
        return
    _original_invalidate(self)
    if stat is None:
        _read_stat.pop(self, None)
    else:
        _read_stat[self] = stat


def install_zip_stat_check() -> None:
    """Swap in the stat-checked ``invalidate_caches`` (CPython < 3.13)."""
    if sys.version_info < (3, 13):
        zipimport.zipimporter.invalidate_caches = _invalidate_if_changed


def install() -> None:
    """Apply both fixes in a Python worker process; no-op elsewhere."""
    # A worker has imported pyspark before it unpickles a UDF; a process
    # that only uses the kernels never needs pyspark imported for this.
    if "pyspark" not in sys.modules:
        return
    from pyspark import TaskContext

    if TaskContext.get() is None:
        return
    install_zip_stat_check()
    # Collect once, then freeze every object the imports left behind.
    import numpy  # noqa: F401
    import pandas  # noqa: F401
    import pyarrow  # noqa: F401

    gc.collect()
    gc.freeze()
