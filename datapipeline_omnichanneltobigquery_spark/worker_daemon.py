"""``pyspark.daemon`` with lazy zip-import invalidation.

Before every task a PySpark worker calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``).  Below CPython 3.13 that makes
every ``zipimporter`` re-read its archive's whole directory: in a worker the
16 importers over Spark's ``pyspark.zip`` (1,328 entries) cost 0.16-0.25 s
per task on a 4-vCPU host, against 0.1-0.2 ms with one ``stat`` per archive.
Run as ``python -m`` (``spark.python.daemon.module``, which
:func:`~datapipeline_omnichanneltobigquery_spark.session.get_spark` sets),
this module re-reads an archive only when its ``(st_mtime_ns, st_size)``
changed, then hands over to ``pyspark.daemon.manager``; the workers it forks
inherit the patch.  Importing it patches nothing.
"""

from __future__ import annotations

import os
import sys
import zipimport

_reread = zipimport.zipimporter.invalidate_caches
_stamps: dict[str, tuple[int, int] | None] = {}


def _stamp(archive: str) -> tuple[int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _lazy_invalidate_caches(self: zipimport.zipimporter) -> None:
    stamp = _stamp(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is None or files is None or _stamps.get(self.archive) != stamp:
        _reread(self)
        _stamps[self.archive] = stamp
    else:
        self._files = files


def install() -> None:
    """Make ``zipimporter.invalidate_caches`` lazy, taking every archive read
    so far as current.  A no-op on Python >= 3.13, whose zip importer
    already invalidates lazily."""
    if sys.version_info >= (3, 13):
        return
    for archive in zipimport._zip_directory_cache:
        _stamps.setdefault(archive, _stamp(archive))
    zipimport.zipimporter.invalidate_caches = _lazy_invalidate_caches


if __name__ == "__main__":
    # patch from the importable module, not ``__main__``, so a worker can
    # tell by ``invalidate_caches.__module__`` which daemon forked it
    from datapipeline_omnichanneltobigquery_spark import worker_daemon
    from pyspark.daemon import manager

    worker_daemon.install()
    manager()
