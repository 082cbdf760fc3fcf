"""The Python worker daemon: its stat-guarded zip re-read, without Spark,
and that a session's workers run under it."""

import importlib
import sys
import zipfile
import zipimport

import pytest

from series_correction_project_updated_spark import _pyworker


def _write_zip(path, source, pad=""):
    with zipfile.ZipFile(path, "w") as zf:
        if pad:  # moves m.py's offset: a stale directory reads the pad
            zf.writestr("pad.py", pad)
        zf.writestr("m.py", source)


@pytest.fixture
def guarded(monkeypatch):
    """The guard installed, with calls to the real re-read counted; the
    unguarded method and ``sys.path`` are restored afterwards."""
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    calls = []
    reread = _pyworker._reread

    def counting(self):
        calls.append(self.archive)
        reread(self)

    monkeypatch.setattr(_pyworker, "_reread", counting)
    _pyworker.install()
    monkeypatch.setattr(sys, "path", list(sys.path))
    monkeypatch.delitem(sys.modules, "m", raising=False)
    yield calls
    sys.modules.pop("m", None)


def test_rewritten_archive_is_reread(guarded, tmp_path):
    archive = tmp_path / "pkg.zip"
    _write_zip(archive, "X = 1\n")
    sys.path.insert(0, str(archive))
    assert importlib.import_module("m").X == 1
    importlib.invalidate_caches()  # the first guarded call reads and stamps
    assert guarded.count(str(archive)) == 1

    # rewritten in place, at a different size and offsets
    _write_zip(archive, "X = 2\n", pad="Y = 0\n")
    del sys.modules["m"]
    importlib.invalidate_caches()
    assert guarded.count(str(archive)) == 2
    assert importlib.import_module("m").X == 2


def test_unchanged_archive_is_not_reread(guarded, tmp_path):
    archive = tmp_path / "pkg.zip"
    _write_zip(archive, "X = 1\n")
    sys.path.insert(0, str(archive))
    assert importlib.import_module("m").X == 1

    importlib.invalidate_caches()
    assert guarded.count(str(archive)) == 1
    importlib.invalidate_caches()
    assert guarded.count(str(archive)) == 1


def test_workers_run_under_package_daemon(spark):
    # nested, so that it is pickled by value: workers cannot import tests/
    def daemon_of_worker(batches):
        import zipimport

        import pandas as pd

        for _ in batches:
            yield pd.DataFrame({"module": [zipimport.zipimporter.invalidate_caches.__module__]})

    rows = spark.range(1, numPartitions=1).mapInPandas(daemon_of_worker, "module string").collect()
    assert [r.module for r in rows] == [_pyworker.__name__]
