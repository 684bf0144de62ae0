"""Python-worker-side fixes, applied from inside the engine's UDFs.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``worker_util.setup_spark_files``). On Python 3.10 and 3.11
each ``zipimporter`` then re-reads its archive's whole central directory,
and a worker holds one importer per package directory it imported from
``pyspark.zip`` (14-16 of them), so every task re-reads the same archive
that many times. Measured on 4 vCPUs (Spark 4.1.2, Python 3.11): 0.19-0.22
CPU-s per Python task, two thirds of a scoring task's Python CPU, spent
before the worker reads its first input batch. Python 3.12 made the
re-read lazy (CPython gh-103200), so there is nothing to fix there.
"""

from __future__ import annotations

import os
import sys
import zipimport

_read_at: dict[str, tuple[int, int] | None] = {}
_eager_invalidate = zipimport.zipimporter.invalidate_caches


def _archive_version(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _invalidate_if_changed(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that re-reads the archive only when
    its mtime or size changed since this process last read it."""
    version = _archive_version(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if version is not None and files is not None and _read_at.get(self.archive) == version:
        self._files = files
        return
    _eager_invalidate(self)
    _read_at[self.archive] = version


def cheap_task_start() -> None:
    """Make later tasks of this worker process skip re-reading unchanged
    zip archives. Idempotent; a no-op on Python 3.12 and later."""
    if sys.version_info < (3, 12):
        zipimport.zipimporter.invalidate_caches = _invalidate_if_changed
