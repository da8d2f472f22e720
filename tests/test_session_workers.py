"""Session-layer fixed costs (lambdo_spark/session.py, _worker_site).

1. Python workers start with a stat-checked ``zipimporter``
   invalidation (Python < 3.12): pyspark calls
   ``importlib.invalidate_caches()`` once per task, and an unchanged
   archive must cost a ``stat``, not a re-read of its directory, while
   a changed archive is still re-read.
2. Partition policy: stateful streams get one wave of state partitions
   (``spark.sql.shuffle.partitions`` = cores for a new checkpoint)
   while AQE batch shuffles start at ``max(2 x cores, 8)``; an existing
   checkpoint keeps its recorded count.
3. Codegen policy: generated classes outlive a burst of other plans,
   and a table write at a new version reuses the last write's classes.
   Compiles are counted with Spark's ``CodegenMetrics``.

The Spark-side checks run in child processes with their own sessions,
so the shared test session is not reconfigured and its history does
not move the compile counts.
"""

import importlib
import importlib.util
import json
import os
import subprocess
import sys
import zipfile
import zipimport

import pytest

from lambdo_spark.session import WORKER_SITE, session_conf

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HOOK = os.path.join(WORKER_SITE, "sitecustomize.py")
PRE_312 = sys.version_info < (3, 12)


def _load_hook():
    """Import the worker hook into this process (installs the fix)."""
    spec = importlib.util.spec_from_file_location("lambdo_worker_site", HOOK)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _write_module(archive: str, name: str, value: int) -> None:
    with zipfile.ZipFile(archive, "a") as z:
        z.writestr(f"{name}.py", f"VALUE = {value}\n")


@pytest.fixture
def zip_on_path(tmp_path):
    archive = str(tmp_path / "mods.zip")
    _write_module(archive, "lambdo_zipmod_a", 1)
    sys.path.insert(0, archive)
    yield archive
    sys.path.remove(archive)
    sys.path_importer_cache.pop(archive, None)
    for name in ("lambdo_zipmod_a", "lambdo_zipmod_b"):
        sys.modules.pop(name, None)


def test_zip_import_sees_module_added_after_first_import(zip_on_path):
    _load_hook()
    assert hasattr(zipimport.zipimporter.invalidate_caches, "__wrapped__") == PRE_312
    assert importlib.import_module("lambdo_zipmod_a").VALUE == 1
    _write_module(zip_on_path, "lambdo_zipmod_b", 2)
    importlib.invalidate_caches()
    assert importlib.import_module("lambdo_zipmod_b").VALUE == 2


@pytest.mark.skipif(not PRE_312, reason="Python >= 3.12 re-reads archives lazily")
def test_unchanged_archive_is_not_reread(zip_on_path, monkeypatch):
    _load_hook()
    importlib.import_module("lambdo_zipmod_a")
    reads = []
    read_directory = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return read_directory(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    importlib.invalidate_caches()
    assert zip_on_path not in reads
    _write_module(zip_on_path, "lambdo_zipmod_b", 2)
    importlib.invalidate_caches()
    assert reads.count(zip_on_path) == 1


def _run_python(code: str, pythonpath: str = "") -> str:
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    if pythonpath:
        env["PYTHONPATH"] = pythonpath
    return subprocess.run(
        [sys.executable, "-c", code], env=env, capture_output=True,
        text=True, check=True,
    ).stdout.strip()


def test_hook_installs_nothing_on_312():
    code = f"""
import sys, zipimport
read_directory = zipimport._read_directory
invalidate = zipimport.zipimporter.invalidate_caches
sys.version_info = (3, 12, 0, "final", 0)
import importlib.util
spec = importlib.util.spec_from_file_location("hook", {HOOK!r})
spec.loader.exec_module(importlib.util.module_from_spec(spec))
print(zipimport._read_directory is read_directory,
      zipimport.zipimporter.invalidate_caches is invalidate)
"""
    assert _run_python(code) == "True True"


def test_hook_runs_the_sitecustomize_it_shadows(tmp_path):
    (tmp_path / "sitecustomize.py").write_text(
        "import builtins\nbuiltins.lambdo_shadowed_ran = True\n"
    )
    code = """
import builtins, zipimport
print(getattr(builtins, "lambdo_shadowed_ran", False),
      hasattr(zipimport.zipimporter.invalidate_caches, "__wrapped__"))
"""
    out = _run_python(code, os.pathsep.join([WORKER_SITE, str(tmp_path)]))
    assert out == f"True {PRE_312}"


def test_session_conf_partition_policy_and_worker_path():
    path_key = "spark.executorEnv.PYTHONPATH"
    conf = session_conf(4)
    assert conf["spark.sql.shuffle.partitions"] == "4"
    assert conf["spark.sql.adaptive.coalescePartitions.initialPartitionNum"] == "8"
    assert conf[path_key] == WORKER_SITE
    assert session_conf(6)["spark.sql.adaptive.coalescePartitions.initialPartitionNum"] == "12"
    # an explicit count keeps its old meaning: both values
    conf = session_conf(4, shuffle_partitions=3)
    assert conf["spark.sql.shuffle.partitions"] == "3"
    assert conf["spark.sql.adaptive.coalescePartitions.initialPartitionNum"] == "3"
    # the caller's PYTHONPATH is kept, behind the hook directory
    conf = session_conf(4, extra_conf={path_key: "/x/lib", "spark.sql.shuffle.partitions": "5"})
    assert conf[path_key] == os.pathsep.join([WORKER_SITE, "/x/lib"])
    assert conf["spark.sql.shuffle.partitions"] == "5"
    # codegen policy: a cache that holds a refresh's generated classes
    key = "spark.sql.codegen.cache.maxEntries"
    assert session_conf(4)[key] == "256"
    assert session_conf(4, extra_conf={key: "64"})[key] == "64"


_CHILD = """
import datetime as dt, json, os, re, sys
sys.path.insert(0, {repo!r})
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupStateTimeout
from lambdo_spark.session import get_spark
from lambdo_spark.streaming.smoothing import streaming_ewma

work = {work!r}
spark = get_spark(app_name="session_probe", extra_conf={{
    # every task runs in a freshly forked worker: each one is its first
    "spark.python.worker.reuse": "false",
    "spark.executorEnv.PYTHONPATH": {extra_path!r},
    "spark.ui.showConsoleProgress": "false",
}})
spark.sparkContext.setLogLevel("ERROR")
out = {{}}

def probe(it):
    import zipimport
    import lambdo_probe_mod
    for pdf in it:
        yield pd.DataFrame({{
            "fixed": [hasattr(zipimport.zipimporter.invalidate_caches, "__wrapped__")],
            "extra_path": [lambdo_probe_mod.VALUE == 7],
        }})

out["map_in_pandas"] = [
    tuple(r) for r in spark.range(8, numPartitions=4)
    .mapInPandas(probe, "fixed boolean, extra_path boolean").collect()
]

plan = spark.range(100).groupBy((F.col("id") % 3).alias("k")).count()
plan = plan._jdf.queryExecution().executedPlan().toString()
out["batch_shuffle"] = int(re.search(r"hashpartitioning\\(\\S+, (\\d+)\\)", plan).group(1))

src = os.path.join(work, "src")
schema = "key string, ts timestamp, value double"

def land(i):
    rows = [(f"k{{j}}", dt.datetime(2024, 1, 1, i, j), float(j)) for j in range(6)]
    spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(src)

def ewma_partitions(ckpt):
    q = (
        streaming_ewma(spark.readStream.schema(schema).parquet(src), 0.5)
        .writeStream.format("noop").option("checkpointLocation", ckpt)
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(300)
    return q.lastProgress["stateOperators"][0]["numShufflePartitions"]

land(0)
out["new_checkpoint"] = ewma_partitions(os.path.join(work, "ckpt_new"))
old = os.path.join(work, "ckpt_old")
out["session_default"] = spark.conf.get("spark.sql.shuffle.partitions")
spark.conf.set("spark.sql.shuffle.partitions", "8")
ewma_partitions(old)
spark.conf.set("spark.sql.shuffle.partitions", out["session_default"])
land(1)
out["restarted_checkpoint"] = ewma_partitions(old)

def state_probe(key, pdfs, state):
    import zipimport
    for pdf in pdfs:
        yield pd.DataFrame({{
            "key": [key[0]],
            "fixed": [hasattr(zipimport.zipimporter.invalidate_caches, "__wrapped__")],
        }})

q = (
    spark.readStream.schema(schema).parquet(src).groupBy("key")
    .applyInPandasWithState(
        state_probe, "key string, fixed boolean", "n long", "append",
        GroupStateTimeout.NoTimeout,
    )
    .writeStream.format("memory").queryName("state_probe")
    .option("checkpointLocation", os.path.join(work, "ckpt_state"))
    .trigger(availableNow=True).start()
)
q.awaitTermination(300)
out["apply_in_pandas_with_state"] = [
    r.fixed for r in spark.table("state_probe").collect()
]
print("PROBE " + json.dumps(out))
spark.stop()
"""

CORES = 5


@pytest.fixture(scope="module")
def probe(tmp_path_factory):
    work = str(tmp_path_factory.mktemp("session_probe"))
    extra = os.path.join(work, "extra")
    os.makedirs(extra)
    with open(os.path.join(extra, "lambdo_probe_mod.py"), "w") as f:
        f.write("VALUE = 7\n")
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(CORES), SPARK_DRIVER_MEM="1g",
               TMPDIR=work)
    code = _CHILD.format(repo=REPO, work=work, extra_path=extra)
    res = subprocess.run(
        [sys.executable, "-c", code], env=env, cwd=work, capture_output=True,
        text=True, timeout=900,
    )
    line = next((x for x in res.stdout.splitlines() if x.startswith("PROBE ")), None)
    assert line is not None, res.stderr[-3000:]
    return json.loads(line[len("PROBE "):])


def test_workers_have_the_fix_from_their_first_task(probe):
    """Every task runs in a fresh worker (reuse off): the fix is in
    place for mapInPandas and applyInPandasWithState alike, and the
    caller's executor PYTHONPATH still reaches the workers."""
    assert probe["map_in_pandas"] and all(e for _, e in probe["map_in_pandas"])
    assert all(f == PRE_312 for f, _ in probe["map_in_pandas"])
    assert len(probe["apply_in_pandas_with_state"]) == 6
    assert all(f == PRE_312 for f in probe["apply_in_pandas_with_state"])


def test_new_checkpoint_gets_one_wave_of_state_partitions(probe):
    assert probe["new_checkpoint"] == CORES
    assert probe["session_default"] == str(CORES)


def test_batch_shuffle_starts_at_twice_the_cores(probe):
    assert probe["batch_shuffle"] == max(2 * CORES, 8)


def test_existing_checkpoint_keeps_its_partition_count(probe):
    assert probe["restarted_checkpoint"] == 8


_CODEGEN_CHILD = """
import json, os, sys
sys.path.insert(0, {repo!r})
from pyspark.sql import functions as F
from lambdo_spark.session import get_spark
from lambdo_spark.sources.iceberg_layout import IcebergLayoutTable

spark = get_spark(app_name="codegen_probe", extra_conf={{
    "spark.ui.showConsoleProgress": "false",
}})
spark.sparkContext.setLogLevel("ERROR")
metric = (spark.sparkContext._jvm.org.apache.spark.metrics.source
          .CodegenMetrics.METRIC_COMPILATION_TIME())

def compiles(run):
    n = metric.getCount()
    run()
    return metric.getCount() - n

out = {{}}
# an int literal is inlined into the generated source: every k makes
# classes of its own (two per collect), about 150 in all -- more than
# Spark's default cache of 100 holds, well inside the policy's 256
base = spark.range(4)
projections = [base.select((F.col("id") * k + k).alias("x")) for k in range(1, 76)]
out["first"] = compiles(projections[0].collect)
out["others"] = compiles(lambda: [p.collect() for p in projections[1:]])
out["first_again"] = compiles(projections[0].collect)

table = IcebergLayoutTable(os.path.join({work!r}, "t"))
rows = spark.createDataFrame(
    [(0, 1, 1.0), (604800, 2, 2.0)], "part long, k long, v double"
)
out["versions"] = []

def write():
    snap = table.overwrite_parts(rows, ["0", "604800"])
    out["versions"].append(snap["parts"]["0"])

out["writes"] = [compiles(write) for _ in range(2)]
print("PROBE " + json.dumps(out))
spark.stop()
"""


@pytest.fixture(scope="module")
def codegen(tmp_path_factory):
    work = str(tmp_path_factory.mktemp("codegen_probe"))
    env = dict(os.environ, SPARK_GRAFT_CPUS="2", SPARK_DRIVER_MEM="1g", TMPDIR=work)
    res = subprocess.run(
        [sys.executable, "-c", _CODEGEN_CHILD.format(repo=REPO, work=work)],
        env=env, cwd=work, capture_output=True, text=True, timeout=900,
    )
    line = next((x for x in res.stdout.splitlines() if x.startswith("PROBE ")), None)
    assert line is not None, res.stderr[-3000:]
    return json.loads(line[len("PROBE "):])


def test_generated_classes_outlive_a_burst_of_other_plans(codegen):
    """74 other compiled projections in between (Spark's default
    cache keeps 100 classes, in four LRU segments of 25): the first
    projection's classes are still cached."""
    assert codegen["first"] >= 1 and codegen["others"] >= 74 * codegen["first"]
    assert codegen["first_again"] == 0


def test_a_write_at_a_new_version_compiles_nothing(codegen):
    """The second overwrite of the same frame shape, at the next
    version, reuses every class of the first: the version reaches the
    partition path without being inlined into generated source."""
    assert codegen["versions"][1] > codegen["versions"][0]
    first, second = codegen["writes"]
    assert first >= 1
    assert second == 0
