"""Crash-resume robustness for the checkpointed tier writer.

Two scenarios beyond test_iceberg_layout's partial-commit resume:
1. orphaned data files — a kill BETWEEN the parquet write and the
   manifest/snapshot commit leaves data on disk with no metadata;
   readers must never see it, and resume must overwrite it cleanly;
2. a real SIGKILL of a pipeline subprocess mid-run, then resume in a
   fresh session — the end state must equal a never-crashed run.
"""

import os
import signal
import subprocess
import sys
import time

from pyspark.sql import functions as F

from lambdo_spark.rollup.tiers import finalize, partials_from_pages
from lambdo_spark.sources.iceberg_layout import IcebergLayoutTable, with_part
from lambdo_spark.sources.pages import generate_pages

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_orphan_data_invisible_and_overwritten(spark, tmp_path):
    pages = generate_pages(spark, 800, seed=42)
    tier = with_part(finalize(partials_from_pages(pages, 3600)))
    root = str(tmp_path / "t")
    t = IcebergLayoutTable(root)

    parts = sorted({str(r[0]) for r in tier.select("part").distinct().collect()})
    committed = parts[:1]
    t.write_tier(tier.where(F.col("part").cast("string").isin(committed)))

    # simulate a kill mid-write of the NEXT partition: data files exist,
    # no manifest, no snapshot membership
    orphan = parts[1]
    (
        tier.where(F.col("part").cast("string") == orphan)
        .limit(3)  # truncated — as a killed write would leave it
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("part")
        .parquet(t.data_dir)
    )
    # snapshot isolation: the orphan partition is not readable
    assert t.committed_parts() == set(committed)
    visible = {str(r[0]) for r in t.read_tier(spark).select("part").distinct().collect()}
    assert visible == set(committed)

    # resume: recomputes ALL missing partitions incl. the orphan,
    # overwriting the truncated files; final content == full tier
    snap = t.write_tier(tier)
    assert orphan in snap["new_parts"]
    assert t.read_tier(spark).count() == tier.count()
    # lineage row counts agree with what is actually readable
    assert sum(m["rows"] for m in t.lineage()) == tier.count()


_CHILD = """
import sys
sys.path.insert(0, {repo!r})
from lambdo_spark.session import get_spark
from lambdo_spark.rollup.pipeline import run_retention_pipeline
from lambdo_spark.sources.pages import generate_pages
spark = get_spark(app_name="crash_child", master="local[4]")
spark.sparkContext.setLogLevel("ERROR")
print("CHILD_STARTED", flush=True)
run_retention_pipeline(spark, generate_pages(spark, 60000, seed=7), {out!r},
                       enforce_audit=False)
print("CHILD_DONE", flush=True)
spark.stop()
"""


def test_sigkill_midrun_then_resume(spark, tmp_path):
    out = str(tmp_path / "tiers")
    code = _CHILD.format(repo=REPO, out=out)
    p = subprocess.Popen(
        [sys.executable, "-c", code],
        stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, cwd=REPO,
    )
    # wait for Spark-up, then kill while tier writes are in flight
    line = p.stdout.readline()
    assert "CHILD_STARTED" in line
    time.sleep(6)
    if p.poll() is None:
        os.kill(p.pid, signal.SIGKILL)
        p.wait()
        killed_midrun = True
    else:
        killed_midrun = False  # tiny host raced it to completion — still valid

    # resume in THIS session: must complete and match a clean build
    from lambdo_spark.rollup.compress_stage import compress_tier
    from lambdo_spark.rollup.incremental import read_finalized_tier
    from lambdo_spark.rollup.pipeline import RETENTION_TAG, run_retention_pipeline
    from lambdo_spark.rollup.tiers import TIER_SECONDS, rollup_all_tiers

    pages = generate_pages(spark, 60000, seed=7)
    run_retention_pipeline(spark, pages, out, enforce_audit=False)
    store = IcebergLayoutTable(os.path.join(out, "partials_1h")).current_snapshot()
    assert store["applied_deltas"] == [RETENTION_TAG]
    assert store.get("pending") is None

    full = rollup_all_tiers(pages)
    for tier_name, tsec in TIER_SECONDS.items():
        got = read_finalized_tier(spark, out, tier_name)
        # raw tier rows only (gap fill is read-time); every (url,bucket) once
        assert got.select("url", "bucket_s").distinct().count() == got.count()
        exp = full[tier_name]
        for a, b in ((got, exp), (exp, got)):
            assert a.drop("lang_hist").exceptAll(b.drop("lang_hist")).count() == 0
        comp = IcebergLayoutTable(os.path.join(out, f"compressed_{tier_name}"))
        got_c = comp.read_tier(spark).drop("part")
        exp_c = compress_tier(exp, value_col="mean_len", tier_seconds=tsec)
        assert got_c.exceptAll(exp_c).count() == exp_c.exceptAll(got_c).count() == 0
    # a second resume is a no-op
    again = run_retention_pipeline(spark, pages, out, enforce_audit=False)
    assert again == {"affected_parts": {}, "snapshots": {}, "skipped": RETENTION_TAG}, (
        killed_midrun,
        again,
    )
