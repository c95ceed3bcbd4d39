"""The stat-guarded zip invalidation the package installs on import
(streaming_recommendation_spark/_zipimport.py): an archive's directory
is re-read only when the archive changed, so a reused Python worker
starts each task without re-reading pyspark.zip."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pyarrow as pa
import pytest

from streaming_recommendation_spark.cascade.recommend import item_side

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="zipimporter.invalidate_caches is lazy from 3.13"
)


def _write_module(archive, source: str) -> None:
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("zip_guard_probe.py", source)


def test_invalidation_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    """Two invalidations of an unchanged archive read its directory at
    most once; after the archive is rewritten (new size), invalidation
    re-reads it and a reload sees the new module."""
    archive = str(tmp_path / "probe.zip")
    _write_module(archive, "VALUE = 1\n")
    sys.path.insert(0, archive)
    try:
        module = importlib.import_module("zip_guard_probe")
        assert module.VALUE == 1
        reads = []
        read = zipimport._read_directory

        def counted(path):
            if path == archive:
                reads.append(path)
            return read(path)

        monkeypatch.setattr(zipimport, "_read_directory", counted)
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert len(reads) <= 1, reads

        _write_module(archive, "VALUE = 2  # the archive's size changes\n")
        importlib.invalidate_caches()
        assert importlib.reload(module).VALUE == 2
    finally:
        sys.path.remove(archive)
        sys.path_importer_cache.pop(archive, None)
        sys.modules.pop("zip_guard_probe", None)


def test_reused_python_worker_reads_no_zip_directory(spark):
    """Consecutive one-task mapInArrow jobs: a worker pid seen again
    read no zip directory between its two tasks, i.e. in the next
    task's setup_spark_files -> importlib.invalidate_caches()."""

    def probe(batches):
        import os
        import zipimport

        for _ in batches:
            pass
        assert item_side  # unpickled by reference: the worker imports the package
        read = zipimport._read_directory
        if hasattr(read, "reads"):
            reads, read.reads = read.reads, 0
        else:  # first task seen in this worker: start counting

            def counted(archive, read=read):
                counted.reads += 1
                return read(archive)

            counted.reads = 0
            zipimport._read_directory = counted
            reads = -1
        yield pa.RecordBatch.from_pydict({"pid": [os.getpid()], "reads": [reads]})

    one = spark.range(0, 1, 1, 1)
    tasks = [one.mapInArrow(probe, "pid long, reads long").collect()[0] for _ in range(6)]
    seen, again = set(), []
    for pid, reads in tasks:
        if pid in seen:
            again.append(reads)
        seen.add(pid)
    assert again, tasks  # workers are reused
    assert again == [0] * len(again), tasks
