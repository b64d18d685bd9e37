"""The engine's Python worker daemon: stamp-checked zipimport
invalidation (wrds2pg_spark/pydaemon.py) and the PySpark behaviour it
must keep, files added with ``addPyFile`` becoming importable."""

import sys
import zipfile
import zipimport

import pytest

OLD_ZIPIMPORT = sys.version_info < (3, 13)


@pytest.mark.skipif(not OLD_ZIPIMPORT,
                    reason="zipimporter.invalidate_caches is lazy from 3.13")
def test_stamp_checked_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    """An unchanged archive is read once, also for a second importer
    over it; one rewritten in place is re-read; a deleted one leaves
    its importer with no files."""
    from wrds2pg_spark.pydaemon import stamp_checked

    archive = tmp_path / "graft_probe.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("graft_probe_a.py", "X = 1\n")
    importer = zipimport.zipimporter(str(archive))
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches",
        stamp_checked(zipimport.zipimporter.invalidate_caches))
    reads = []
    read_directory = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory",
                        lambda path: reads.append(path) or read_directory(path))

    importer.invalidate_caches()
    importer.invalidate_caches()
    zipimport.zipimporter(str(archive / "pkg")).invalidate_caches()
    assert reads == [str(archive)]  # unchanged archive: read once

    # rewritten in place (same inode) with a new member: re-read
    inode = archive.stat().st_ino
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("graft_probe_a.py", "X = 1\n")
        z.writestr("graft_probe_b.py", "Y = 2\n")
    assert archive.stat().st_ino == inode
    assert importer.find_spec("graft_probe_b") is None
    importer.invalidate_caches()
    assert len(reads) == 2
    assert importer.find_spec("graft_probe_b") is not None

    # deleted: stat fails, the original runs and the importer sees nothing
    archive.unlink()
    importer.invalidate_caches()
    assert importer._files == {}
    assert importer.find_spec("graft_probe_a") is None
    assert str(archive) not in zipimport._zip_directory_cache


def test_workers_start_through_engine_daemon(spark):
    """get_spark's sessions start workers through wrds2pg_spark.pydaemon,
    whose wrapper is in place inside a task on Python < 3.13."""
    def report(batches):
        import importlib
        import sys
        import zipimport

        import pandas as pd

        for _ in batches:
            pass
        reads = []
        read_directory = zipimport._read_directory
        zipimport._read_directory = (
            lambda path: reads.append(path) or read_directory(path))
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read_directory
        inv = zipimport.zipimporter.invalidate_caches
        yield pd.DataFrame({
            "old": [sys.version_info < (3, 13)],
            "qualname": [inv.__qualname__],
            "file": [inv.__code__.co_filename],
            "reads": [len(reads)],
        })

    assert (spark.sparkContext.getConf().get("spark.python.daemon.module")
            == "wrds2pg_spark.pydaemon")
    rows = spark.range(1, numPartitions=1).mapInPandas(
        report, "old boolean, qualname string, file string, reads long",
    ).collect()
    assert len(rows) == 1
    row = rows[0]
    if row["old"]:
        assert row["qualname"] == "stamp_checked.<locals>.invalidate_caches"
        assert row["file"].endswith("pydaemon.py")
        assert row["reads"] == 0  # no archive on the path changed
    else:
        assert row["qualname"] == "zipimporter.invalidate_caches"


def test_add_py_file_zip_importable_after_workers_warm(spark, tmp_path):
    """A new archive is a new sys.path entry with a fresh importer, so
    the stamp check must not hide it from the next task."""
    def identity(batches):
        yield from batches

    def use(batches):
        import pandas as pd

        import graft_addpy_probe

        for b in batches:
            yield pd.DataFrame({"v": [graft_addpy_probe.VALUE] * len(b)})

    frame = spark.range(4, numPartitions=2)
    assert frame.mapInPandas(identity, "id long").count() == 4  # warm

    archive = tmp_path / "graft_addpy_probe.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("graft_addpy_probe.py", "VALUE = 42\n")
    spark.sparkContext.addPyFile(str(archive))
    assert {r["v"] for r in frame.mapInPandas(use, "v long").collect()} == {42}
