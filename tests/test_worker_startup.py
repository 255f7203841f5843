"""Python worker task start: ``session.keep_zip_directories`` keeps
PySpark's per-task ``importlib.invalidate_caches()`` from re-reading zip
archives that did not change."""

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from frechetrange_spark.session import keep_zip_directories, warm_python_workers

eager = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="CPython 3.13+ zipimporter.invalidate_caches only drops the cache",
)


def _write_zip(path, modules: dict) -> None:
    tmp = f"{path}.tmp"
    with zipfile.ZipFile(tmp, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)
    os.replace(tmp, path)


@eager
def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch):
    """With the hook, invalidating the import caches reads an archive's
    directory once and then not again while the archive is unchanged; a
    rewritten archive is read again and its new module imports."""
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"_zip_hook_a": "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    for name in ("_zip_hook_a", "_zip_hook_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    assert importlib.import_module("_zip_hook_a").X == 1

    # restored at teardown: the hook patches the zipimporter class
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    keep_zip_directories()
    keep_zip_directories()
    read = zipimport._read_directory
    reads = []
    monkeypatch.setattr(
        zipimport, "_read_directory", lambda p: reads.append(p) or read(p)
    )

    def rereads() -> int:
        reads.clear()
        importlib.invalidate_caches()
        return reads.count(archive)

    assert rereads() == 1  # the finder's own read carries no stamp
    assert rereads() == 0
    assert rereads() == 0
    _write_zip(archive, {"_zip_hook_a": "X = 1\n", "_zip_hook_b": "Y = 2\n"})
    assert rereads() == 1
    assert importlib.import_module("_zip_hook_b").Y == 2
    assert rereads() == 0


@eager
def test_warm_workers_install_zip_hook(spark):
    """After ``warm_python_workers``, a ``mapInArrow`` task runs on a worker
    whose ``invalidate_caches`` re-reads no archive. Idle workers are
    reused first-in first-out and the pool may hold more workers than the
    warm-up's one task per slot reaches, so the probe runs enough tasks to
    reach the warmed ones and checks every task that reports the hook."""
    warm_python_workers(spark, mb_per_task=8)
    n = 8 * spark.sparkContext.defaultParallelism

    def probe(batches):
        import importlib
        import zipimport

        import pyarrow as pa

        read = zipimport._read_directory
        reads = []
        zipimport._read_directory = lambda p: reads.append(p) or read(p)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read
        for _ in batches:
            pass
        hooked = hasattr(zipimport.zipimporter.invalidate_caches, "__wrapped__")
        yield pa.RecordBatch.from_pydict({"hooked": [hooked], "reads": [len(reads)]})

    rows = (
        spark.range(n, numPartitions=n)
        .mapInArrow(probe, "hooked boolean, reads long")
        .collect()
    )
    assert any(r["hooked"] for r in rows)
    assert all(r["reads"] == 0 for r in rows if r["hooked"])
