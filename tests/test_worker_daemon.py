"""Engine worker daemon: a zip on the import path is re-read only when it
changed, and engine sessions start their Python workers through it."""

import importlib
import sys
import zipfile
import zipimport

from h2h_spark import worker_daemon


def test_zip_directory_reread_only_when_changed(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("h2h_zmod_a.py", "X = 1\n")
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", worker_daemon.invalidate_caches
    )
    monkeypatch.syspath_prepend(archive)
    for name in ("h2h_zmod_a", "h2h_zmod_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    assert importlib.import_module("h2h_zmod_a").X == 1

    reads = []
    read_directory = zipimport._read_directory

    def counted(path):
        reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counted)
    importlib.invalidate_caches()
    assert reads.count(archive) == 1  # first call reads, as the stock method
    importlib.invalidate_caches()
    assert reads.count(archive) == 1  # unchanged archive: nothing re-read

    with zipfile.ZipFile(archive, "a") as z:
        z.writestr("h2h_zmod_b.py", "Y = 2\n")
    importlib.invalidate_caches()
    assert reads.count(archive) == 2
    assert importlib.import_module("h2h_zmod_b").Y == 2
    sys.path_importer_cache.pop(archive, None)


def test_session_workers_run_engine_daemon(spark):
    def probe(_):
        import zipimport

        yield zipimport.zipimporter.invalidate_caches.__module__

    got = spark.sparkContext.parallelize([0], 1).mapPartitions(probe).collect()
    assert got == ["h2h_spark.worker_daemon"]
