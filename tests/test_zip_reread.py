"""zipimport stamp check: importing the package in a Spark Python worker
(Python < 3.13) makes `importlib.invalidate_caches()` re-read a zip
archive's directory only when the archive's (mtime, size) changed."""

import importlib
import sys
import zipfile
import zipimport

import basicocr_spark

# 3.13 made zipimporter.invalidate_caches lazy: it drops the cached
# directory and the next lookup re-reads it
EAGER_REREAD = sys.version_info < (3, 13)


def _write_zip(path, names):
    with zipfile.ZipFile(path, "w") as z:
        for name in names:
            z.writestr(f"{name}.py", f"NAME = {name!r}\n")


def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, ["m1"])
    reads = []
    read_directory = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    monkeypatch.syspath_prepend(archive)
    try:
        assert importlib.import_module("m1").NAME == "m1"
        basicocr_spark._reread_zip_archives_only_when_changed()
        importlib.invalidate_caches()  # first call records the stamp
        n = reads.count(archive)
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert reads.count(archive) == n

        _write_zip(archive, ["m1", "m2"])  # larger archive: new stamp
        importlib.invalidate_caches()
        assert reads.count(archive) == n + EAGER_REREAD
        assert importlib.import_module("m2").NAME == "m2"
        assert reads.count(archive) == n + 1
    finally:
        for name in ("m1", "m2"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)


def test_archive_that_fails_to_stat_is_always_invalidated(tmp_path, monkeypatch):
    archive = tmp_path / "gone.zip"
    _write_zip(archive, ["m1"])
    importer = zipimport.zipimporter(str(archive))
    calls = []
    invalidate = zipimport.zipimporter.invalidate_caches

    def counting(self):
        calls.append(self)
        invalidate(self)

    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", counting)
    basicocr_spark._reread_zip_archives_only_when_changed()
    importer.invalidate_caches()
    importer.invalidate_caches()
    assert len(calls) == 1  # unchanged: the stamp check skips the second
    archive.unlink()
    importer.invalidate_caches()
    importer.invalidate_caches()
    assert len(calls) == 3
    assert str(archive) not in zipimport._zip_directory_cache


def test_patch_is_live_in_workers_only(spark):
    """A worker that imports the package runs the stamp check; the
    driver keeps the stdlib method."""

    def probe(batches):
        import zipimport

        import pyarrow as pa

        import basicocr_spark  # noqa: F401

        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict(
            {
                "module": [zipimport.zipimporter.invalidate_caches.__module__],
                "eager": [sys.version_info < (3, 13)],
            }
        )

    row = spark.range(1, numPartitions=1).mapInArrow(probe, "module string, eager boolean").first()
    assert row.module == ("basicocr_spark" if row.eager else "zipimport")
    assert zipimport.zipimporter.invalidate_caches.__module__ == "zipimport"
