"""SparkSession factory tuned for the rollup workload.

Defaults size the session to the host it runs on (``host_resources``:
local[CPUs this process may use], a quarter of physical memory for the
driver) but every knob is the one you would set on a 1000-executor
cluster:

- AQE on (runtime shuffle coalescing + skew-join splitting),
- Arrow on (all our Python kernels are pandas/Arrow-vectorized),
- maxPartitionBytes left at 128m so scans split into memory-safe tasks.

Partition policy (n = the master's core count):

- batch shuffles start at ``max(2n, 8)`` partitions
  (``spark.sql.adaptive.coalescePartitions.initialPartitionNum``) and
  AQE coalesces them down to what the data needs; at 100 TB you would
  raise that floor, not lower it;
- ``spark.sql.shuffle.partitions`` is n. Only plans that run without
  AQE read it, i.e. streaming queries: a NEW checkpoint records it as
  its state-partition count, so each micro-batch of a stateful twin
  runs one wave of n Python tasks and state-store commits instead of
  two. An existing checkpoint keeps the count its offset log recorded;
- an explicit ``shuffle_partitions=`` sets both values.

Codegen policy: ``spark.sql.codegen.cache.maxEntries`` is 256, not
Spark's 100. The cache of compiled whole-stage classes is a Guava LRU
split into four segments, so at 100 a segment holds about 25 classes.
A refresh (``refresh_from_pages``) and its realtime reads use about
170 distinct classes, so at 100 each one was evicted before the next
refresh asked for it: 105 Janino compiles per warm refresh-and-read,
each JIT-compiled again. At 256 the refresh compiles 0 classes and
the reads 8 (their watermark bounds are inlined literals); 200 still
evicts. The entries hold compiled classes, not data.

Executor Python workers start with ``_worker_site`` on their
PYTHONPATH (merged in front of any ``spark.executorEnv.PYTHONPATH``
the caller passes); its ``sitecustomize`` removes pyspark's per-task
zip-import re-read on Python < 3.12 (see that module). On a cluster
whose executors do not share the driver's filesystem the entry does
not exist there and is ignored.
"""

from __future__ import annotations

import os
import tempfile
import zipfile

from pyspark.sql import SparkSession


def package_zip() -> str:
    """Zip the lambdo_spark package for --py-files-style distribution.

    Executor Python workers unpickle our pandas-UDF kernels *by module
    reference*, so the package must be importable on every worker.
    On a real cluster this zip is what you pass to
    ``spark-submit --py-files``; locally we ``addPyFile`` it so the
    engine works regardless of the driver's cwd/PYTHONPATH.
    """
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    out = os.path.join(tempfile.gettempdir(), "lambdo_spark_pkg.zip")
    with zipfile.ZipFile(out, "w") as z:
        for root, _dirs, files in os.walk(pkg_dir):
            if "__pycache__" in root:
                continue
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    rel = os.path.relpath(full, os.path.dirname(pkg_dir))
                    z.write(full, rel)
    return out


def host_resources() -> tuple[int, str]:
    """(CPUs, driver memory) to run at: ``SPARK_GRAFT_CPUS`` and
    ``SPARK_DRIVER_MEM`` when set, else the CPUs this process may run
    on and a quarter of the host's physical memory (MemTotal)."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    mem = os.environ.get("SPARK_DRIVER_MEM")
    if not mem:
        total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
        mem = f"{max(1024, total // 4 // 2**20)}m"
    return (int(cpus) if cpus else len(os.sched_getaffinity(0))), mem


WORKER_SITE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "_worker_site")


def session_conf(
    cpus: int,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> dict[str, str]:
    """The partition, codegen and worker-path settings ``get_spark``
    adds for a master with ``cpus`` cores (policy in the module
    docstring); ``extra_conf`` wins except for PYTHONPATH, which is
    merged."""
    extra = dict(extra_conf or {})
    if shuffle_partitions is None:
        state, batch = cpus, max(2 * cpus, 8)
    else:
        state = batch = shuffle_partitions
    path_key = "spark.executorEnv.PYTHONPATH"
    conf = {
        "spark.sql.shuffle.partitions": str(state),
        "spark.sql.adaptive.coalescePartitions.initialPartitionNum": str(batch),
        "spark.sql.codegen.cache.maxEntries": "256",
        path_key: os.pathsep.join(p for p in (WORKER_SITE, extra.pop(path_key, "")) if p),
    }
    conf.update(extra)
    return conf


def get_spark(
    app_name: str = "lambdo_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus, driver_mem = host_resources()
    master = master or f"local[{cpus}]"
    try:
        n = int(master.split("[")[1].rstrip("]*")) if "[" in master else cpus
    except ValueError:
        n = cpus

    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # 64k-row Arrow batches: our pandas kernels are fully
        # vectorized, so per-batch fixed overhead dominates at small
        # batch sizes (measured: compress stage 26% faster at 65536
        # than the 10k default; 256k regresses)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.sql.session.timeZone", "UTC")
        # Spark still defaults parquet timestamps to legacy INT96,
        # which carries NO column statistics — a `ts >= watermark`
        # predicate then cannot skip a single row group, so every
        # time-range read scans all history. int64 micros restores
        # min/max stats (measured: the realtime-read tail scan drops
        # from 100% to ~3% of raw bytes, tools/bench_realtime.py).
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.driver.memory", driver_mem)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in session_conf(n, shuffle_partitions, extra_conf).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.addPyFile(package_zip())
    return spark


def load_table(spark: SparkSession, sf_dir: str, name: str):
    """Read one driver-provided parquet table (TESTDATA.md)."""
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
