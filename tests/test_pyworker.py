"""The worker-side zip-import fix: an unchanged archive is not re-read at
task start, a changed one is."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pytest

from hdinsight_pyspark_cntk_integration_spark import pyworker


@pytest.mark.skipif(sys.version_info >= (3, 12), reason="Python 3.12+ re-reads lazily")
def test_invalidate_rereads_only_changed_archives(tmp_path, monkeypatch):
    archive = tmp_path / "pkg.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("zipped_mod_a.py", "X = 1\n")
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", pyworker._eager_invalidate)
    monkeypatch.syspath_prepend(str(archive))
    reads = []
    real_read = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory", lambda p: reads.append(p) or real_read(p))
    importlib.import_module("zipped_mod_a")
    try:
        pyworker.cheap_task_start()
        importlib.invalidate_caches()  # first sight of the archive: read
        seen = reads.count(str(archive))
        importlib.invalidate_caches()  # unchanged: no read
        importlib.invalidate_caches()
        assert reads.count(str(archive)) == seen

        with zipfile.ZipFile(archive, "a") as z:
            z.writestr("zipped_mod_b.py", "Y = 2\n")
        importlib.invalidate_caches()  # changed: read again, new module visible
        assert reads.count(str(archive)) == seen + 1
        assert importlib.import_module("zipped_mod_b").Y == 2
    finally:
        sys.modules.pop("zipped_mod_a", None)
        sys.modules.pop("zipped_mod_b", None)
