"""SparkSession factory with the engine's standard configuration.

Tuned for correctness-vs-oracle (UTC timestamps) and for the scale story:
AQE on (runtime re-planning + skew-join splitting), Arrow on (all kernels
are pandas UDFs), shuffle partitions sized to cores in local mode.
"""

from __future__ import annotations

import functools
import os
import sys

from pyspark.sql import SparkSession


# glibc malloc tunables for the Python kernel workers. The Arrow kernels
# allocate multi-MB numpy temporaries per chunk; with default glibc these
# exceed M_MMAP_THRESHOLD, so every call mmaps fresh pages and munmaps
# them on free — and under virtualized kernels (microVM sandboxes, some
# cloud hypervisors) first-touch page faults are slow enough to dominate:
# measured here, a cold decide_pairs_arrow call under 32-way parallelism
# is 44.7s vs 6.0s warm (~87% page-fault overhead). Forcing large blocks
# onto the sbrk heap (high mmap threshold) and keeping freed heap pages
# mapped (high trim threshold) makes each worker pay the fault cost once,
# after which any allocation size reuses already-mapped pages. These must
# be in the environment BEFORE a process starts (glibc reads them at
# startup), so they are exported here — before the JVM launches — and
# inherited by the python daemon/workers; spark.executorEnv.* carries
# them to real cluster executors below.
_MALLOC_ENV = {
    "MALLOC_MMAP_THRESHOLD_": str(64 * 1024 * 1024),
    "MALLOC_TRIM_THRESHOLD_": str(1024 * 1024 * 1024),
}


def get_spark(
    app_name: str = "frechetrange_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    for k, v in _MALLOC_ENV.items():
        os.environ.setdefault(k, v)
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        if master.startswith("local["):
            inner = master[len("local[") : -1]
            shuffle_partitions = 32 if inner == "*" else max(int(inner), 1)
        else:
            shuffle_partitions = 200
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in _MALLOC_ENV.items():
        builder = builder.config(f"spark.executorEnv.{k}", v)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def keep_zip_directories() -> None:
    """Stop ``importlib.invalidate_caches()`` from re-reading zip archives
    that did not change. Call it inside a Python worker.

    PySpark's worker calls ``importlib.invalidate_caches()`` at the start
    of every task (``pyspark.worker_util.setup_spark_files``). On CPython
    3.11 and 3.12, every ``zipimporter`` finder then re-reads the whole
    central directory of its archive. A reused worker holds 16 such
    finders: 2 on the Spark core jar (5,359 entries, ~47 ms each), 12 on
    ``pyspark.zip`` (1,328 entries, ~11.5 ms each) and 2 on py4j. Together
    they add ~0.23 s to the start of every task. The wrapper re-reads an
    archive only when its ``(st_mtime_ns, st_size, st_ino)`` differs from
    the stamp taken at its last read, so a rewritten archive is still read
    again. The first call per archive always reads, since the finder's
    own read has no stamp. Idempotent. It does nothing on CPython 3.13+,
    whose ``invalidate_caches`` only drops the cache entry."""
    import zipimport

    reread = zipimport.zipimporter.invalidate_caches
    if sys.version_info >= (3, 13) or hasattr(reread, "__wrapped__"):
        return
    stamps: dict = {}

    @functools.wraps(reread)
    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            stamp = (st.st_mtime_ns, st.st_size, st.st_ino)
        except OSError:
            stamp = None
        files = zipimport._zip_directory_cache.get(self.archive)
        if stamp is not None and files is not None and stamps.get(self.archive) == stamp:
            self._files = files
            return
        reread(self)
        stamps[self.archive] = stamp

    zipimport.zipimporter.invalidate_caches = invalidate_caches


def warm_python_workers(spark: SparkSession, mb_per_task: int | None = None) -> None:
    """Pre-fault the python workers' allocation heaps — the worker-side
    analogue of JVM warmup — and install ``keep_zip_directories`` in
    every worker.

    Under virtualized kernels, first-touch page faults dominate a cold
    Arrow kernel call (measured: 44.7s cold vs 6.0s warm for the same
    decide batch at 32-way parallelism — see _MALLOC_ENV). Each warm task
    allocates and touches ``mb_per_task`` MB of numpy heap and frees it;
    with the high trim threshold the pages stay mapped, so every later
    kernel call in that worker allocates from already-faulted memory.
    One task per slot, launched simultaneously, reaches every pooled
    worker. Safe to call more than once (later calls find warm heaps and
    return fast). With the zip hook in place, a reused worker starts a
    task's function ~0.1 s after submit instead of 0.2-0.4 s (verify
    skill §6).

    RETAINED-RSS COST: because MALLOC_TRIM_THRESHOLD_ deliberately keeps
    the freed pages mapped, each python worker retains ~``mb_per_task``
    MB of RSS for its lifetime (~8 GB total at 256 MB x 32 slots). On
    memory-tight executors set ``SPARK_GRAFT_WARM_MB`` lower (the
    default; 0 disables the warmup entirely) — the first kernel batches
    then pay the fault cost instead, and the first pair stage's tasks
    install the zip hook (``range_query._pair_kernel``): a worker's first
    pair-stage task pays the full re-read of every finder, its second
    one reads each archive once more to stamp it."""
    if mb_per_task is None:
        mb_per_task = int(os.environ.get("SPARK_GRAFT_WARM_MB", "256"))
    if mb_per_task <= 0:
        return
    n = spark.sparkContext.defaultParallelism

    def gen(batches):
        import numpy as np

        keep_zip_directories()
        held = [np.full((1024, 1024), 1.0) for _ in range(mb_per_task // 8)]
        del held
        yield from batches

    spark.range(n, numPartitions=n).mapInArrow(gen, "id long").write.format(
        "noop"
    ).mode("overwrite").save()
