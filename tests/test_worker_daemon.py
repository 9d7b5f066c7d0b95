"""The worker daemon's zip-directory guard (_daemon.py): a Spark task's
importlib.invalidate_caches() re-reads no unchanged archive, and a
changed archive is still re-read."""

import importlib
import sys
import zipfile
import zipimport

import pytest

from sbb_ocr_postcorrection_spark import _daemon

pytestmark = pytest.mark.skipif(
    not hasattr(zipimport, "_zip_directory_cache"),
    reason="the guard is installed only on CPython's zipimport",
)


def test_worker_task_rereads_no_unchanged_archive(spark):
    def probe(batches):
        import importlib
        import zipimport

        import pyarrow as pa

        reads = []
        read = zipimport._read_directory

        def counting(archive):
            reads.append(archive)
            return read(archive)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict({"n": [len(reads)]})

    counts = spark.range(4, numPartitions=4).mapInArrow(probe, "n long").collect()
    assert [r["n"] for r in counts] == [0, 0, 0, 0]


def test_guard_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    # importing the module patched nothing
    assert zipimport.zipimporter.invalidate_caches.__module__ == "zipimport"
    # registers the stock method, so teardown undoes install()
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches",
        zipimport.zipimporter.invalidate_caches,
    )
    _daemon.install()

    archive = str(tmp_path / "lib.zip")

    def write(source):
        with zipfile.ZipFile(archive, "w") as z:
            z.writestr("daemon_guard_probe.py", source)

    write("VERSION = 1\n")
    monkeypatch.syspath_prepend(archive)
    sys.modules.pop("daemon_guard_probe", None)
    assert importlib.import_module("daemon_guard_probe").VERSION == 1
    importlib.invalidate_caches()  # the guard's first read stamps the archive

    reads = []
    read = zipimport._read_directory
    monkeypatch.setattr(
        zipimport, "_read_directory", lambda a: reads.append(a) or read(a)
    )
    importlib.invalidate_caches()
    assert archive not in reads

    write("VERSION = 22\n")
    importlib.invalidate_caches()
    assert reads.count(archive) == 1
    del sys.modules["daemon_guard_probe"]
    assert importlib.import_module("daemon_guard_probe").VERSION == 22
    del sys.modules["daemon_guard_probe"]
