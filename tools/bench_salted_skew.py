"""Salted-vs-plain aggregation under REAL key skew (VERDICT r3 #7).

The salting module's claim is specific: Spark's *built-in* aggregates
already pre-combine hot keys map-side (partial HashAggregate + AQE),
so salting buys little there — the win is for CUSTOM pandas-UDF
kernels (``applyInPandas``), which have NO partial aggregation: every
raw row of a hot key is shipped to, and processed by, ONE task. This
harness records that claim as numbers, on a zipf-extreme input where
one key owns half the corpus:

  builtin_plain   groupBy(key).agg(built-ins)      — baseline sanity
  pandas_plain    groupBy(key).applyInPandas(k)    — hot-key straggler
  pandas_salted   salted applyInPandas + algebraic JVM merge
                  (rollup/salting.py two-phase shape)

All three produce identical results (asserted via a full-frame
checksum). Interleaved reps, best-of reported.

Two readings per variant, because a 32-thread local box HIDES
stragglers: while the one hot-key task grinds, the other 31 threads
drain every other partition, so end-to-end wall looks similar. On a
1000-executor cluster the longest task IS the stage wall (nothing
else is left to run). So besides wall we record, from the Spark REST
status API, the MAX vs MEDIAN task duration of the heaviest
applyInPandas stage — the straggler ratio that salting exists to fix.

Usage: BENCH_SKEW_ROWS=20000000 python tools/bench_salted_skew.py [reps]
Prints one JSON line; record in BENCH.md.
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pandas as pd

from pyspark.sql import functions as F

from lambdo_spark.session import get_spark, host_resources
from lambdo_spark.rollup.salting import with_salt

N_ROWS = int(os.environ.get("BENCH_SKEW_ROWS", "20000000"))
HOT_SHARE_MOD = 2  # xxhash64(id) % 2 == 0 → 'hot' (~50% of rows)
N_COLD_KEYS = 1_000
OUT_SCHEMA = "key string, n long, s long, lo long, hi long"


def _stage_skew(ui_port: int = 4040) -> dict:
    """Max vs median task duration of the heaviest completed stage
    since the last call (straggler ratio)."""
    base = f"http://localhost:{ui_port}/api/v1/applications"
    apps = json.load(urllib.request.urlopen(base, timeout=10))
    app_id = apps[0]["id"]
    stages = json.load(
        urllib.request.urlopen(f"{base}/{app_id}/stages?status=complete",
                               timeout=30)
    )
    worst = {"max_task_sec": 0.0, "median_task_sec": 0.0, "stage_id": None,
             "num_tasks": 0}
    for s in stages:
        if s["stageId"] <= _stage_skew.seen:
            continue
        q = json.load(urllib.request.urlopen(
            f"{base}/{app_id}/stages/{s['stageId']}/{s['attemptId']}"
            f"/taskSummary?quantiles=0.5,1.0", timeout=30))
        mx = q["executorRunTime"][1] / 1000.0
        if mx > worst["max_task_sec"]:
            worst = {"max_task_sec": round(mx, 2),
                     "median_task_sec": round(q["executorRunTime"][0] / 1000.0, 3),
                     "stage_id": s["stageId"], "num_tasks": s["numTasks"]}
    _stage_skew.seen = max((s["stageId"] for s in stages), default=_stage_skew.seen)
    return worst


_stage_skew.seen = -1


def _kernel(pdf: pd.DataFrame) -> pd.DataFrame:
    v = pdf["v"]
    return pd.DataFrame(
        {"key": [pdf["key"].iloc[0]], "n": [len(v)], "s": [v.sum()],
         "lo": [v.min()], "hi": [v.max()]}
    )


def _salted_kernel(pdf: pd.DataFrame) -> pd.DataFrame:
    out = _kernel(pdf)
    out["_salt"] = pdf["_salt"].iloc[0]
    return out


def main() -> None:
    reps = int(sys.argv[1]) if len(sys.argv) > 1 else 3
    cpus, _ = host_resources()
    spark = get_spark(
        app_name="bench_salted_skew", master=f"local[{cpus}]",
        extra_conf={"spark.ui.enabled": "true"},  # REST API for task skew
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(0, int(cpus) * 4, numPartitions=int(cpus) * 4).mapInPandas(
        lambda it: it, schema="id long"
    ).count()

    # deterministic skewed frame: key 'hot' owns ~50% of rows, the
    # rest spread uniformly over N_COLD_KEYS cold keys; materialized
    # to parquet so every variant reads the same table (untimed setup)
    path = f"/tmp/lambdo_bench_skew_{N_ROWS}"
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        base = spark.range(0, N_ROWS, numPartitions=int(cpus) * 4)
        df = base.select(
            F.when(F.pmod(F.xxhash64("id"), F.lit(2)) == 0, F.lit("hot"))
            .otherwise(
                F.concat(
                    F.lit("u"),
                    F.pmod(F.xxhash64("id", F.lit(1)), F.lit(N_COLD_KEYS))
                    .cast("string"),
                )
            )
            .alias("key"),
            F.pmod(F.xxhash64("id", F.lit(2)), F.lit(10_000)).alias("v"),
        )
        df.write.mode("overwrite").parquet(path)
    data = spark.read.parquet(path)

    def checksum(df) -> int:
        row = df.agg(
            F.count(F.lit(1)).alias("rows"),
            F.bit_xor(
                F.xxhash64("key", "n", "s", "lo", "hi")
            ).alias("h"),
        ).first()
        return (row["rows"], row["h"])

    def builtin_plain():
        return data.groupBy("key").agg(
            F.count(F.lit(1)).alias("n"), F.sum("v").alias("s"),
            F.min("v").alias("lo"), F.max("v").alias("hi"),
        )

    def pandas_plain():
        return data.groupBy("key").applyInPandas(_kernel, OUT_SCHEMA)

    def pandas_salted():
        hot = spark.createDataFrame([("hot",)], "key string")
        salted = with_salt(data, ["key"], hot_keys=hot, buckets=int(cpus))
        partials = salted.groupBy("key", "_salt").applyInPandas(
            _salted_kernel, OUT_SCHEMA + ", _salt int"
        )
        return partials.groupBy("key").agg(
            F.sum("n").alias("n"), F.sum("s").alias("s"),
            F.min("lo").alias("lo"), F.max("hi").alias("hi"),
        )

    variants = {
        "builtin_plain": builtin_plain,
        "pandas_plain": pandas_plain,
        "pandas_salted": pandas_salted,
    }
    sums = {}
    walls: dict[str, list] = {k: [] for k in variants}
    skews: dict[str, dict] = {}
    for rep in range(reps):
        for name, fn in variants.items():
            _stage_skew()  # advance the seen-stages cursor
            t0 = time.time()
            sums[name] = checksum(fn())
            walls[name].append(round(time.time() - t0, 3))
            sk = _stage_skew()
            prev = skews.get(name)
            if prev is None or sk["max_task_sec"] < prev["max_task_sec"]:
                skews[name] = sk  # best (least noisy) rep's heaviest stage
            print(f"rep{rep} {name}: {walls[name][-1]}s skew={sk}",
                  file=sys.stderr)
    assert len(set(sums.values())) == 1, f"variants disagree: {sums}"
    summary = {
        k: {"best": min(v), "mean": round(sum(v) / len(v), 3), "all": v,
            "task_skew": skews.get(k)}
        for k, v in walls.items()
    }
    p, s = skews["pandas_plain"], skews["pandas_salted"]
    print(json.dumps({
        "metric": "salted_vs_plain_skew",
        "rows": N_ROWS,
        "hot_share": round(1.0 / HOT_SHARE_MOD, 3),
        "cpus": cpus,
        "reps": reps,
        "results": summary,
        "straggler_ratio_plain": round(
            p["max_task_sec"] / max(p["median_task_sec"], 1e-3), 1),
        "straggler_ratio_salted": round(
            s["max_task_sec"] / max(s["median_task_sec"], 1e-3), 1),
        "max_task_speedup_salted": round(
            p["max_task_sec"] / max(s["max_task_sec"], 1e-3), 2),
    }))


if __name__ == "__main__":
    main()
