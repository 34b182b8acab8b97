"""Stat-checked zip-archive cache invalidation inside PySpark Python workers.

At the start of every task, pyspark's worker puts the task's py-files on
``sys.path`` and calls ``importlib.invalidate_caches()``
(``setup_spark_files`` in ``pyspark/worker_util.py``). On CPython 3.10-3.12
that makes every ``zipimporter`` in ``sys.path_importer_cache`` re-read its
archive's whole central directory: Spark's ``spark-core`` jar (5,359
entries), its ``org/`` sub-importer, ``pyspark.zip`` (1,328 entries) and one
sub-importer per pyspark package the worker imported, about 150 ms of CPU
per task whatever the batch size. CPython 3.13 only drops the cached
directory; before 3.10 the method does not exist.

``install`` makes ``zipimporter.invalidate_caches`` re-read an archive only
when its ``(st_mtime_ns, st_size)`` differs from what that importer saw when
it last read it: one ``os.stat`` per importer instead of one directory read.
``kgspark/__init__`` calls ``install_in_worker``, which installs it only
inside a worker task; every other process keeps the stdlib method. This module
does not import pyspark: ``textops`` and ``oracle`` stay Spark-free.
"""

from __future__ import annotations

import os
import sys
import zipimport

#: Interpreters whose zipimporter.invalidate_caches re-reads eagerly.
EAGER_REREAD = (3, 10) <= sys.version_info[:2] < (3, 13)

_stdlib_invalidate = getattr(zipimport.zipimporter, "invalidate_caches", None)


def _archive_stat(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def invalidate_if_changed(self) -> None:
    """zipimporter.invalidate_caches that skips an unchanged archive.

    The stat is taken before the read, so a rewrite racing the read leaves
    an older stat behind and the next call reads again. A missing archive
    always goes to the stdlib method, which empties the importer."""
    stat = _archive_stat(self.archive)
    if stat is not None and stat == getattr(self, "_read_stat", None):
        return
    _stdlib_invalidate(self)
    self._read_stat = stat


def install() -> None:
    """Patch zipimporter.invalidate_caches (3.10-3.12 only; idempotent).

    Importers that already exist get the archive's current stat as their
    baseline. In a worker this runs while the first task's closure is
    unpickled, right after that task's set-up re-read every archive, so the
    baseline is what those reads saw and the worker's second task reads
    nothing."""
    zipimporter = zipimport.zipimporter
    if not EAGER_REREAD or zipimporter.invalidate_caches is invalidate_if_changed:
        return
    for importer in list(sys.path_importer_cache.values()):
        if isinstance(importer, zipimporter):
            importer._read_stat = _archive_stat(importer.archive)
    zipimporter.invalidate_caches = invalidate_if_changed


def install_in_worker() -> None:
    """install(), but only inside a PySpark Python worker task: pyspark's
    task context is imported and set. pyspark itself is not imported."""
    taskcontext = sys.modules.get("pyspark.taskcontext")
    if taskcontext is not None and taskcontext.TaskContext.get() is not None:
        install()
