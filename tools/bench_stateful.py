"""Stateful streaming kernels throughput: rows/sec through
applyInPandasWithState for the EWMA / CUSUM / seasonal-anomaly twins.

One availableNow pass over a pre-generated parquet source (N rows,
K keys), noop sink — measures the state-store + Arrow + kernel cost
profile, no sink IO. A small parquet-sink validation run first
asserts each op emits exactly one row per input row, so the timed
numbers cannot hide dropped data.

Usage: BENCH_STATEFUL_ROWS=2000000 BENCH_STATEFUL_KEYS=20000 \
         python tools/bench_stateful.py
Prints one JSON line; record in BENCH.md.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from lambdo_spark.session import get_spark, host_resources
from lambdo_spark.streaming.detect import streaming_anomaly, streaming_cusum
from lambdo_spark.streaming.smoothing import streaming_ewma

N = int(os.environ.get("BENCH_STATEFUL_ROWS", "2000000"))
K = int(os.environ.get("BENCH_STATEFUL_KEYS", "20000"))


def _source(spark, path: str, n: int):
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        (
            spark.range(0, n)
            .select(
                F.format_string("k%06d", F.pmod(F.col("id"), F.lit(K))).alias("k"),
                F.timestamp_seconds(
                    F.lit(1704067200) + (F.col("id") / F.lit(K)).cast("long") * 60
                ).alias("ts"),
                (F.lit(1704067200) + (F.col("id") / F.lit(K)).cast("long") * 3600)
                .cast("long")
                .alias("bucket_s"),
                F.pmod(F.xxhash64("id"), F.lit(1000)).alias("v"),
            )
            .write.mode("overwrite")
            .parquet(path)
        )
    return spark.read.parquet(path).schema


def _run(spark, schema, src, op_name, build, ckpt_root, sink_path=None):
    ckpt = os.path.join(ckpt_root, op_name)
    shutil.rmtree(ckpt, ignore_errors=True)
    stream = spark.readStream.schema(schema).format("parquet").load(src)
    out = build(stream)
    w = out.writeStream.option("checkpointLocation", ckpt).outputMode("append")
    if sink_path:
        shutil.rmtree(sink_path, ignore_errors=True)
        w = w.format("parquet").option("path", sink_path)
    else:
        w = w.format("noop")
    t0 = time.time()
    q = w.trigger(availableNow=True).start()
    q.awaitTermination(1800)
    wall = round(time.time() - t0, 3)
    # state-store telemetry from the final micro-batch: total keys
    # resident and store memory — the state-size evidence for the
    # unbounded-key-domain discussion (see state_ttl_s)
    state = {}
    p = q.lastProgress
    if p and p.get("stateOperators"):
        so = p["stateOperators"][0]
        state = {
            "state_rows": so.get("numRowsTotal"),
            "state_memory_bytes": so.get("memoryUsedBytes"),
        }
    q.stop()
    return wall, state


def main() -> None:
    cpus, _ = host_resources()
    spark = get_spark(
        app_name="bench_stateful",
        master=f"local[{cpus}]",
        extra_conf={
            "spark.sql.files.maxPartitionBytes": str(8 * 1024 * 1024),
            "spark.sql.shuffle.partitions": str(int(cpus) * 2),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    src = f"/tmp/lambdo_stateful_src_{N}_{K}"
    schema = _source(spark, src, N)
    ckpt_root = "/tmp/lambdo_stateful_ckpt"

    ops = {
        "streaming_ewma": lambda s: streaming_ewma(
            s, 0.3, key_col="k", ts_col="ts", value_col="v"
        ),
        "streaming_cusum": lambda s: streaming_cusum(
            s, 500, 50, key_col="k", ts_col="ts", value_col="v"
        ),
        "streaming_anomaly": lambda s: streaming_anomaly(
            s, period_s=86400, lookback=7, min_prior=3, threshold=2.0,
            key_col="k", bucket_col="bucket_s", value_col="v",
        ),
    }

    # ground-truth gate: every op emits one row per input at small N
    small = f"/tmp/lambdo_stateful_small_{K}"
    shutil.rmtree(small, ignore_errors=True)
    sschema = _source(spark, small, 100_000)
    for name, build in ops.items():
        sink = os.path.join("/tmp/lambdo_stateful_val", name)
        _run(spark, sschema, small, f"v_{name}", build, ckpt_root, sink_path=sink)
        got = spark.read.parquet(sink).count()
        assert got == 100_000, (name, got)
        print(f"validated {name}: 100000 rows out", file=sys.stderr)

    walls, states = {}, {}
    for name, build in ops.items():
        walls[name], states[name] = _run(
            spark, schema, src, name, build, ckpt_root
        )
        print(f"{name}: {walls[name]}s {states[name]}", file=sys.stderr)
    print(
        json.dumps(
            {
                "metric": "stateful_streaming_rows_per_sec",
                "rows": N,
                "keys": K,
                "cpus": cpus,
                "walls_sec": walls,
                "rows_per_sec": {k: int(N / v) for k, v in walls.items()},
                "state": states,
            }
        )
    )


if __name__ == "__main__":
    main()
