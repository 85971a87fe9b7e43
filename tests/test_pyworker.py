"""The worker daemon's zipimporter.invalidate_caches: exact, but no re-read of unchanged archives."""

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from moonlink_spark import pyworker

MODULES = ("pyworker_probe_a", "pyworker_probe_b",
           "pyworker_probe_pkg", "pyworker_probe_pkg.a", "pyworker_probe_pkg.c")


def _write_zip(path, members, mtime_ns):
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in members.items():
            zf.writestr(name, src)
    os.utime(path, ns=(mtime_ns, mtime_ns))


@pytest.fixture()
def archive(tmp_path, monkeypatch):
    """A zip on sys.path holding module ``pyworker_probe_a``, with the daemon's method installed."""
    path = str(tmp_path / "probe.zip")
    _write_zip(path, {"pyworker_probe_a.py": "X = 1\n"}, 1_000_000_000_000_000_000)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", pyworker.invalidate_caches)
    monkeypatch.setattr(pyworker, "_directories", {})
    monkeypatch.syspath_prepend(path)
    yield path
    for name in MODULES:
        sys.modules.pop(name, None)
    for key in [k for k in sys.path_importer_cache if k.startswith(path)]:
        del sys.path_importer_cache[key]
    zipimport._zip_directory_cache.pop(path, None)


@pytest.fixture()
def reads(monkeypatch):
    """Archive paths passed to zipimport._read_directory, in call order."""
    seen = []
    stock = zipimport._read_directory

    def counted(archive):
        seen.append(archive)
        return stock(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counted)
    return seen


def test_rewritten_archive_is_reread(archive):
    assert importlib.import_module("pyworker_probe_a").X == 1
    importlib.invalidate_caches()
    _write_zip(
        archive,
        {"pyworker_probe_a.py": "X = 1\n", "pyworker_probe_b.py": "Y = 2\n"},
        1_000_000_000_000_000_001,
    )
    importlib.invalidate_caches()
    assert importlib.import_module("pyworker_probe_b").Y == 2


def test_unchanged_archive_is_not_reread(archive, reads):
    importlib.import_module("pyworker_probe_a")
    importlib.invalidate_caches()  # the first call per archive reads it and records its stamp
    reads.clear()
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads.count(archive) == 0


def test_every_importer_of_a_rewritten_archive_sees_it(archive, reads):
    """Package subdirectories get their own zipimporter; one directory read serves them all."""
    pkg = {"pyworker_probe_pkg/__init__.py": "", "pyworker_probe_pkg/a.py": "X = 1\n"}
    _write_zip(archive, pkg, 1_000_000_000_000_000_002)
    importlib.invalidate_caches()
    importlib.import_module("pyworker_probe_pkg.a")
    assert os.path.join(archive, "pyworker_probe_pkg") in sys.path_importer_cache
    _write_zip(archive, {**pkg, "pyworker_probe_pkg/c.py": "Z = 3\n"}, 1_000_000_000_000_000_003)
    reads.clear()
    importlib.invalidate_caches()
    assert importlib.import_module("pyworker_probe_pkg.c").Z == 3
    assert reads.count(archive) == 1


def test_missing_archive_falls_back_to_stock(archive):
    importlib.import_module("pyworker_probe_a")
    importlib.invalidate_caches()
    importer = sys.path_importer_cache[archive]
    os.remove(archive)
    importlib.invalidate_caches()
    assert importer.find_spec("pyworker_probe_a") is None
    assert archive not in pyworker._directories


def test_session_workers_run_library_daemon(spark):
    """Tasks of a get_spark session run in workers forked from moonlink_spark.pyworker."""

    def probe(batches):
        import zipimport

        import pyarrow as pa

        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict({"m": [zipimport.zipimporter.invalidate_caches.__module__]})

    rows = spark.range(1, numPartitions=1).mapInArrow(probe, "m string").collect()
    assert [r.m for r in rows] == ["moonlink_spark.pyworker"]
