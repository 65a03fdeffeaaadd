"""Stop PySpark Python workers from re-reading zip archives before every task.

The worker calls ``importlib.invalidate_caches()`` before each task
(``pyspark.worker_util.setup_spark_files``).  On CPython 3.10-3.12
``zipimporter.invalidate_caches`` then re-reads its archive's whole
directory, and a worker holds a dozen importers on ``pyspark.zip`` and two
on the Spark core jar: about 27k entries, ~0.2 s per task.  Inside a task,
:func:`install` swaps in a version that re-reads only an archive whose stat
changed since its last read.  Python 3.13 made the stdlib method lazy;
delete this module once that is the minimum.
"""

from __future__ import annotations

import logging
import os
import sys
import zipimport

_log = logging.getLogger(__name__)


def _stamp(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def install() -> bool:
    """Make ``zipimporter.invalidate_caches`` stat-keyed in this process.

    Returns whether the stat-keyed method is in place.  Archives already
    cached are stamped now, so the next invalidation already skips them."""
    if not (3, 10) <= sys.version_info[:2] < (3, 13):
        return False
    cls = zipimport.zipimporter
    original = cls.invalidate_caches
    cache = getattr(zipimport, "_zip_directory_cache", None)
    importers = [i for i in sys.path_importer_cache.values() if isinstance(i, cls)]
    if not isinstance(cache, dict) or not all(
        hasattr(i, "_files") and hasattr(i, "archive") for i in importers
    ):
        _log.warning(
            "zipimport_shim_unavailable: zipimport internals changed; "
            "every task re-reads its zip archives"
        )
        return False
    stamps = {archive: _stamp(archive) for archive in cache}

    def invalidate_caches(self) -> None:
        archive = self.archive
        stamp = _stamp(archive)
        files = cache.get(archive)
        if stamp is not None and files is not None and stamps.get(archive) == stamp:
            self._files = files
            return
        original(self)
        stamps[archive] = stamp

    cls.invalidate_caches = invalidate_caches
    return True


def install_in_task() -> bool:
    """:func:`install` when running inside a PySpark task, else nothing."""
    taskcontext = sys.modules.get("pyspark.taskcontext")
    if taskcontext is None or taskcontext.TaskContext.get() is None:
        return False
    return install()
