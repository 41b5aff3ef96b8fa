"""polars_quant_spark.worker_daemon: Python workers fork from a daemon that
has already frozen its heap and stamped every zip importer, and a changed
archive or a newly added Python file is still found."""

from __future__ import annotations

import importlib
import os
import uuid
import zipfile
import zipimport

import pyarrow as pa

from polars_quant_spark import worker_daemon


def test_worker_is_frozen_and_skips_unchanged_archives(spark):
    def probe(batches):
        import gc

        for _ in batches:
            pass
        # PySpark already ran invalidate_caches once for this task; count
        # the archive reads a second call makes
        reads = []
        read = zipimport._read_directory
        zipimport._read_directory = lambda path: reads.append(path) or read(path)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read
        yield pa.RecordBatch.from_pydict({"frozen": [gc.get_freeze_count()], "reads": [len(reads)]})

    rows = spark.range(2, numPartitions=2).mapInArrow(probe, "frozen long, reads long").collect()
    assert len(rows) == 2
    for row in rows:
        assert row.frozen > 0
        assert row.reads == 0


def test_changed_archive_is_read_again(tmp_path, monkeypatch):
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", worker_daemon._invalidate_if_changed)
    archive = tmp_path / "lib.zip"
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr("old_member.py", "X = 1\n")
    importer = zipimport.zipimporter(str(archive))
    importer.invalidate_caches()
    assert importer.find_spec("old_member") is not None
    assert importer.find_spec("new_member") is None

    before = os.stat(archive)
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr("old_member.py", "X = 1\n")
        zf.writestr("new_member.py", "Y = 2\n")
    os.utime(archive, ns=(before.st_atime_ns, before.st_mtime_ns + 10**9))
    importer.invalidate_caches()
    assert importer.find_spec("new_member") is not None


def test_py_file_added_after_tasks_ran_is_importable(spark, tmp_path):
    def ran(batches):
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict({"ok": [1]})

    assert spark.range(2, numPartitions=2).mapInArrow(ran, "ok long").count() == 2

    name = f"late_{uuid.uuid4().hex}"
    path = tmp_path / f"{name}.py"
    path.write_text("VALUE = 42\n")
    spark.sparkContext.addPyFile(str(path))

    def load(batches):
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict({"value": [importlib.import_module(name).VALUE]})

    rows = spark.range(2, numPartitions=2).mapInArrow(load, "value long").collect()
    assert [r.value for r in rows] == [42, 42]
