"""Stat-keyed zip directory invalidation (wavelet_decomposition_spark._zipcache).

PySpark's reused worker calls ``importlib.invalidate_caches()`` before every
task; on Python < 3.12 the stdlib then re-reads every zip archive on
``sys.path``. The package installs a replacement that re-reads an archive
only when its stat changed.
"""

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from wavelet_decomposition_spark import _zipcache

NEEDS_FIX = sys.version_info < (3, 12)


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name, value in modules.items():
            zf.writestr(f"{name}.py", f"VALUE = {value!r}\n")


@pytest.fixture
def zip_on_path(tmp_path):
    """A zip archive on sys.path; its modules and caches go at teardown."""
    archive = str(tmp_path / "mods.zip")
    tag = tmp_path.name.replace("-", "_")
    names = [f"zc_a_{tag}", f"zc_b_{tag}"]
    yield archive, names
    for name in names:
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(archive, None)
    zipimport._zip_directory_cache.pop(archive, None)
    _zipcache._read_stats.pop(archive, None)


@pytest.fixture
def read_spy(monkeypatch):
    """Archives whose directory ``zipimport`` reads while the spy is on."""
    reads = []
    real = zipimport._read_directory

    def spy(archive):
        reads.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", spy)
    return reads


def test_install_is_idempotent_and_version_gated():
    assert _zipcache.install() is NEEDS_FIX
    assert _zipcache.install() is NEEDS_FIX
    assert _zipcache.installed() is NEEDS_FIX


def test_unchanged_archive_is_not_reread(zip_on_path, monkeypatch, read_spy):
    archive, (mod_a, _) = zip_on_path
    _write_zip(archive, {mod_a: 1})
    monkeypatch.syspath_prepend(archive)
    assert importlib.import_module(mod_a).VALUE == 1
    importlib.invalidate_caches()  # records the archive's stat
    assert archive in read_spy

    read_spy.clear()
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    if NEEDS_FIX:
        assert archive not in read_spy
        assert sys.path_importer_cache[archive]._files is (
            zipimport._zip_directory_cache[archive]
        )


def test_rewritten_archive_is_reread(zip_on_path, monkeypatch, read_spy):
    archive, (mod_a, mod_b) = zip_on_path
    _write_zip(archive, {mod_a: 1})
    monkeypatch.syspath_prepend(archive)
    assert importlib.import_module(mod_a).VALUE == 1
    importlib.invalidate_caches()
    with pytest.raises(ImportError):
        importlib.import_module(mod_b)

    _write_zip(archive, {mod_a: 1, mod_b: 2})  # in place: same inode
    read_spy.clear()
    importlib.invalidate_caches()
    assert read_spy.count(archive) >= 1
    assert importlib.import_module(mod_b).VALUE == 2

    read_spy.clear()
    importlib.invalidate_caches()
    if NEEDS_FIX:
        assert archive not in read_spy


def test_replaced_archive_is_reread(zip_on_path, monkeypatch, read_spy):
    archive, (mod_a, mod_b) = zip_on_path
    _write_zip(archive, {mod_a: 1})
    monkeypatch.syspath_prepend(archive)
    assert importlib.import_module(mod_a).VALUE == 1
    importlib.invalidate_caches()

    # same size and a restored mtime: only the inode tells them apart
    st = os.stat(archive)
    _write_zip(archive + ".new", {mod_b: 1})
    os.utime(archive + ".new", ns=(st.st_atime_ns, st.st_mtime_ns))
    assert os.stat(archive + ".new").st_size == st.st_size
    os.replace(archive + ".new", archive)
    read_spy.clear()
    importlib.invalidate_caches()
    assert archive in read_spy
    assert importlib.import_module(mod_b).VALUE == 1


def test_deleted_archive_empties_its_importer(zip_on_path, monkeypatch):
    archive, (mod_a, mod_b) = zip_on_path
    _write_zip(archive, {mod_a: 1})
    monkeypatch.syspath_prepend(archive)
    assert importlib.import_module(mod_a).VALUE == 1
    importlib.invalidate_caches()

    os.remove(archive)
    importlib.invalidate_caches()
    assert archive not in zipimport._zip_directory_cache
    if NEEDS_FIX:
        assert sys.path_importer_cache[archive]._files == {}


def test_reused_spark_worker_skips_unchanged_archives(spark):
    """A second engine-UDF task on a reused worker re-reads no archive."""

    def probe(batches):
        import os
        import sys
        import zipimport

        import pyarrow as pa

        # what unpickling any engine UDF does first
        from wavelet_decomposition_spark import _zipcache

        spy = zipimport._read_directory
        first = not hasattr(spy, "reads")
        if first:
            real = spy

            def spy(archive):
                spy.reads += 1
                return real(archive)

            zipimport._read_directory = spy
        reads, spy.reads = (-1 if first else spy.reads), 0
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict(
            {
                "pid": [os.getpid()],
                "reads": [reads],
                "installed": [_zipcache.installed()],
                "zips": [
                    sum(
                        isinstance(f, zipimport.zipimporter)
                        for f in sys.path_importer_cache.values()
                    )
                ],
            }
        )

    rows = (
        spark.range(0, 32, numPartitions=32)
        .mapInArrow(probe, "pid long, reads long, installed boolean, zips long")
        .collect()
    )
    reused = [r for r in rows if r.reads >= 0]
    assert reused, rows
    assert all(r.zips > 0 for r in rows), rows
    assert all(r.installed is NEEDS_FIX for r in rows), rows
    assert all(r.reads == 0 for r in reused), rows
