"""Cheap ``importlib.invalidate_caches()`` for zip archives on ``sys.path``.

Spark's Python workers call ``importlib.invalidate_caches()`` before every
task and every DataSource planner call
(``pyspark.worker_util.setup_spark_files``). Before CPython 3.13,
``zipimport.zipimporter.invalidate_caches`` re-reads its archive's whole
central directory on each call, and a worker holds one importer per package
it imported from ``pyspark.zip`` plus two on the Spark core jar: 220-350 ms
per task on a 4-vCPU VM. ``install()`` makes an importer re-read its archive
only when the archive's ``(st_mtime_ns, st_size)`` changed since the last
read; otherwise the importer is rebound to the directory already cached for
that archive, so a changed archive is still picked up. CPython 3.13+ reads
lazily and is left as it is.
"""

from __future__ import annotations

import os
import sys
import zipimport

_eager = zipimport.zipimporter.invalidate_caches

#: archive path -> (st_mtime_ns, st_size) when it was last read
_STAMPS: dict[str, tuple[int, int] | None] = {}


def _invalidate_caches(self) -> None:
    try:
        st = os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_size)
    except OSError:
        stamp = None
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and files is not None and _STAMPS.get(self.archive) == stamp:
        self._files = files
        return
    _eager(self)
    _STAMPS[self.archive] = stamp


def install() -> None:
    """Patch ``zipimport.zipimporter.invalidate_caches``; idempotent."""
    if sys.version_info < (3, 13):
        zipimport.zipimporter.invalidate_caches = _invalidate_caches
