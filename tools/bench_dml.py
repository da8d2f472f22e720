"""Row-level DML cost: copy-on-write vs merge-on-read, per verb.

Re-runs BENCH.md's "Row-level ops" shape: a 2,000,000-row table in 4
weekly partitions (50k urls), and a sparse predicate ``v = 1.0`` that
matches ~0.1 % of the rows. Each verb x mode runs once on a fresh
copy of the same base table:

- DELETE ``WHERE v = 1.0``
- UPDATE ``SET v = v + 1000 WHERE v = 1.0``
- MERGE of the matching rows with a new ``v`` plus 1,000 new keys

and reports, per verb x mode, the wall time, the Spark jobs the call ran (its job group in the status tracker), the
partitions and data files it rewrote, the data files it appended and
the delete files it added, and the wall of one full read afterwards.
Timed calls wait while the 1-minute load average is above the CPU
count (at most ``LOAD_WAIT_S`` seconds).

Usage: python tools/bench_dml.py
Prints one JSON line. Repeat a measurement by running the script again
(interleave two checkouts run by run to compare them).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from lambdo_spark.session import get_spark, host_resources
from lambdo_spark.sources.iceberg_layout import IcebergLayoutTable
from tools import wait_for_quiet

WEEK = 604800
N_ROWS = 2_000_000
N_URLS = 50_000
N_PARTS = 4
MODES = ("copy-on-write", "merge-on-read")
KEYS = ["url", "bucket_s"]
LOAD_WAIT_S = 120.0


def base_frame(spark):
    """Unique (url, bucket_s) keys spread over N_PARTS weekly parts;
    ``v`` in 0..999, so ``v = 1.0`` matches ~0.1 % of the rows."""
    j = F.floor(F.col("id") / N_PARTS)
    part = (F.col("id") % N_PARTS) * WEEK
    return spark.range(N_ROWS).select(
        F.concat(F.lit("u"), (j % N_URLS).cast("string")).alias("url"),
        (part + F.floor(j / N_URLS) * 3600).cast("long").alias("bucket_s"),
        F.pmod(F.xxhash64("id"), F.lit(1000)).cast("double").alias("v"),
        part.cast("long").alias("part"),
    )


def verbs(spark, delta_rows, schema):
    delta = spark.createDataFrame(delta_rows, schema)
    return {
        "delete": lambda t, mode: t.delete_where(spark, "v = 1.0", mode=mode),
        "update": lambda t, mode: t.update_where(
            spark, "v = 1.0", {"v": "v + 1000"}, mode=mode
        ),
        "merge": lambda t, mode: t.merge_rows(delta, keys=KEYS, mode=mode),
    }


def files_of(t: IcebergLayoutTable, pairs) -> int:
    return sum(len(t._manifest(p, v)["files"]) for p, v in pairs)


def change_counts(t: IcebergLayoutTable, before: dict, after: dict) -> dict:
    rewritten = [
        p for p, v in after["parts"].items() if before["parts"].get(p) != v
    ]
    appended = [
        (p, v) for p, vs in (after.get("adds") or {}).items() for v in vs
        if v not in (before.get("adds") or {}).get(p, [])
    ]
    dels = sum(len(ds) for ds in (after.get("deletes") or {}).values()) - sum(
        len(ds) for ds in (before.get("deletes") or {}).values()
    )
    return {
        "parts_rewritten": len(rewritten),
        "files_rewritten": files_of(t, [(p, after["parts"][p]) for p in rewritten]),
        "files_appended": files_of(t, appended),
        "delete_files_added": max(dels, 0),
    }


def main() -> None:
    cpus, _ = host_resources()
    spark = get_spark(
        app_name="bench_dml",
        master=f"local[{cpus}]",
        extra_conf={
            "spark.sql.files.maxPartitionBytes": str(4 * 1024 * 1024),
            "spark.sql.files.openCostInBytes": str(512 * 1024),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    work = tempfile.mkdtemp(prefix="bench_dml_")
    try:
        base_root = os.path.join(work, "base")
        base = IcebergLayoutTable(base_root)
        base.write_tier(base_frame(spark))
        # the merge delta: every matching row with a new v, plus 1,000
        # new keys in the existing partitions (built before timing)
        hits = [
            (r["url"], r["bucket_s"], -r["v"], r["part"])
            for r in base.read_tier(spark).where("v = 1.0").collect()
        ]
        fresh = [
            (f"new{i}", (i % N_PARTS) * WEEK + i, 5.0, (i % N_PARTS) * WEEK)
            for i in range(1000)
        ]
        ops = verbs(spark, hits + fresh, "url string, bucket_s bigint, v double, part bigint")
        out: dict = {}
        for verb, op in ops.items():
            for mode in MODES:
                root = os.path.join(work, f"{verb}-{mode}")
                shutil.copytree(base_root, root)
                t = IcebergLayoutTable(root)
                before = t.current_snapshot()
                load = wait_for_quiet(cpus, LOAD_WAIT_S)
                group = f"bench_dml_{verb}_{mode}"
                sc.setJobGroup(group, f"{verb} {mode}")
                t0 = time.time()
                op(t, mode)
                wall = time.time() - t0
                sc.setLocalProperty("spark.jobGroup.id", None)
                jobs = len(sc.statusTracker().getJobIdsForGroup(group))
                t0 = time.time()
                rows = t.read_tier(spark).count()
                read_s = time.time() - t0
                out.setdefault(verb, {})[mode] = dict(
                    wall_s=round(wall, 3), jobs=jobs, rows_after=rows,
                    read_after_s=round(read_s, 3), load1=load,
                    **change_counts(t, before, t.current_snapshot()),
                )
                shutil.rmtree(root, ignore_errors=True)
                print(f"{verb} {mode}: {wall:.2f}s jobs={jobs}", file=sys.stderr)
        print(json.dumps({
            "rows": N_ROWS, "parts": N_PARTS, "matched": len(hits),
            "cpus": cpus, "results": out,
        }))
    finally:
        shutil.rmtree(work, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
