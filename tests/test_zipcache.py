"""kelos_on_kafka_spark.zipcache: ``importlib.invalidate_caches()`` keeps
an unchanged zip archive's directory and re-reads a changed one."""

import importlib
import sys
import zipfile
import zipimport

import pytest

import kelos_on_kafka_spark  # noqa: F401  (installs the cache)

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="CPython 3.13+ is left unpatched"
)


def _write_zip(path, source):
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr("zipcache_m.py", source)


@pytest.fixture
def archive(tmp_path, monkeypatch):
    path = str(tmp_path / "mods.zip")
    _write_zip(path, "VALUE = 1\n")
    monkeypatch.syspath_prepend(path)
    monkeypatch.delitem(sys.modules, "zipcache_m", raising=False)
    yield path
    sys.modules.pop("zipcache_m", None)
    sys.path_importer_cache.pop(path, None)
    zipimport._zip_directory_cache.pop(path, None)


def _count_reads(monkeypatch):
    calls = []
    read = zipimport._read_directory

    def counting(archive):
        calls.append(archive)
        return read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return calls


def test_unchanged_archive_is_not_reread(archive, monkeypatch):
    import zipcache_m

    assert zipcache_m.VALUE == 1
    calls = _count_reads(monkeypatch)
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert archive not in calls


def test_changed_archive_is_reread(archive, monkeypatch):
    import zipcache_m

    assert zipcache_m.VALUE == 1
    # a longer source: the size changes even if the mtime does not
    _write_zip(archive, "VALUE = 2  # rewritten\n")
    calls = _count_reads(monkeypatch)
    importlib.invalidate_caches()
    assert archive in calls
    del sys.modules["zipcache_m"]
    import zipcache_m

    assert zipcache_m.VALUE == 2
