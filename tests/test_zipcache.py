"""zipcache: `importlib.invalidate_caches()` re-reads a zip archive's
central directory only when the archive changed — in this process
(no Spark) and in a Spark Python worker."""

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from information_retrieval_spark import zipcache

old_python = pytest.mark.skipif(
    sys.version_info >= (3, 12),
    reason="CPython >= 3.12 reads zip directories lazily; install() is a no-op")


def _write_zip(path, modules):
    tmp = f"{path}.tmp"
    with zipfile.ZipFile(tmp, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)
    os.replace(tmp, path)


def _count_reads(monkeypatch):
    calls = []
    real = zipimport._read_directory

    def counting(archive):
        calls.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return calls


@old_python
def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch):
    zipcache.install()
    zipcache.install()  # idempotent: still one wrapper over the original
    assert zipcache.installed()
    assert zipcache._original is not zipcache._invalidate_caches
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"zc_mod_a": "VALUE = 'a'\n"})
    monkeypatch.syspath_prepend(archive)
    for name in ("zc_mod_a", "zc_mod_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    assert importlib.import_module("zc_mod_a").VALUE == "a"

    reads = _count_reads(monkeypatch)
    importlib.invalidate_caches()  # first call after install: reads
    assert reads.count(archive) == 1
    del reads[:]
    for _ in range(3):
        importlib.invalidate_caches()
    assert archive not in reads

    # a rewritten archive (new size) is read again and its new module
    # imports
    _write_zip(archive, {"zc_mod_a": "VALUE = 'a'\n",
                         "zc_mod_b": "VALUE = 'bb'\n"})
    importlib.invalidate_caches()
    assert reads.count(archive) == 1
    assert importlib.import_module("zc_mod_b").VALUE == "bb"


@old_python
def test_python_workers_skip_the_reread(spark):
    # the function is pickled by value, but its `zipcache` global is a
    # package module: unpickling it imports the package in the worker,
    # as unpickling any package kernel does
    import pyarrow as pa

    def report(batches):
        for _ in batches:
            pass
        importlib.invalidate_caches()  # the read that records each archive
        reads = []
        real = zipimport._read_directory
        zipimport._read_directory = lambda a: reads.append(a) or real(a)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        yield pa.RecordBatch.from_pydict({
            "pid": [os.getpid()], "installed": [zipcache.installed()],
            "reads": [len(reads)]})

    rows = (spark.range(2, numPartitions=2)
            .mapInArrow(report, "pid long, installed boolean, reads long")
            .collect())
    assert len(rows) == 2
    for r in rows:
        assert r["pid"] != os.getpid()
        assert r["installed"] and r["reads"] == 0, r
