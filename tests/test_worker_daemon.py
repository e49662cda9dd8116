"""The Python worker daemon every `get_spark` session forks its workers
from: zip archives are re-read only when they change, and workers still
import `refine_spark` from their own sys.path."""

from __future__ import annotations

import zipfile
import zipimport
from pathlib import Path

import refine_spark
from refine_spark import worker_daemon


def test_archive_reread_only_when_changed(tmp_path, monkeypatch):
    archive = tmp_path / "mods.zip"
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr("a.py", "A = 1\n")
    importer = zipimport.zipimporter(str(archive))
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", worker_daemon.invalidate_if_changed
    )
    reads = []
    read_directory = zipimport._read_directory

    def counted(path):
        reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counted)

    importer.invalidate_caches()
    n = len(reads)
    importer.invalidate_caches()
    assert len(reads) == n, "an unchanged archive was re-read"

    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr("a.py", "A = 1\n")
        zf.writestr("b.py", "B = 2\n")
    importer.invalidate_caches()
    assert len(reads) == n + 1
    assert importer.find_spec("b") is not None

    archive.unlink()
    importer.invalidate_caches()
    assert importer.find_spec("a") is None


def test_session_workers_run_the_daemon(spark):
    def probe(_):
        import zipimport

        import refine_spark

        yield zipimport.zipimporter.invalidate_caches.__qualname__, refine_spark.__file__

    got = spark.sparkContext.parallelize(range(4), 4).mapPartitions(probe).collect()
    assert len(got) == 4
    pkg_dir = Path(refine_spark.__file__).resolve().parent
    for qualname, pkg_file in got:
        assert qualname == worker_daemon.invalidate_if_changed.__qualname__
        assert Path(pkg_file).resolve().parent == pkg_dir
