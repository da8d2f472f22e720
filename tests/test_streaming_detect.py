"""Streaming CUSUM (streaming/detect.py): emitted scores must equal
the textbook zero-floored recursion over the processed order, exactly
(integer arithmetic), across a checkpointed restart."""

import datetime as dt
import glob
import os
import shutil

from lambdo_spark.streaming.detect import streaming_cusum

TARGET, SLACK = 5, 1


def _ts(m):
    return dt.datetime(2024, 1, 1) + dt.timedelta(minutes=m)


def _land(df, staging: str, src: str, name: str) -> str:
    tmp = os.path.join(staging, name)
    df.write.parquet(tmp)
    os.makedirs(src, exist_ok=True)
    for i, f in enumerate(sorted(glob.glob(os.path.join(tmp, "part-*.parquet")))):
        shutil.copy(f, os.path.join(src, f"{name}-{i}.parquet"))
    return tmp


def _start(spark, src, out, ckpt, schema):
    stream = spark.readStream.schema(schema).format("parquet").load(src)
    q = (
        streaming_cusum(stream, TARGET, SLACK, key_col="k", ts_col="ts",
                        value_col="v")
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    q.stop()


def test_streaming_cusum_exact_recursion_across_restart(spark, tmp_path):
    src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))
    staging = str(tmp_path / "staging")

    batch1 = [5, 7, 3, 9]
    batch2 = [9, 9, 2, 1, 8]
    f1 = _land(
        spark.createDataFrame(
            [("u", _ts(i), v) for i, v in enumerate(batch1)],
            "k string, ts timestamp, v long",
        ),
        staging, src, "f1",
    )
    schema = spark.read.parquet(f1).schema
    _start(spark, src, out, ckpt, schema)
    _land(
        spark.createDataFrame(
            [("u", _ts(len(batch1) + i), v) for i, v in enumerate(batch2)],
            "k string, ts timestamp, v long",
        ),
        staging, src, "f2",
    )
    _start(spark, src, out, ckpt, schema)

    got = (
        spark.read.parquet(out)
        .toPandas()
        .sort_values("ts_s")
        .reset_index(drop=True)
    )
    sp = sn = 0
    exp_p, exp_n = [], []
    for v in batch1 + batch2:
        sp = max(0, sp + (v - TARGET - SLACK))
        sn = max(0, sn - (v - TARGET + SLACK))
        exp_p.append(sp)
        exp_n.append(sn)
    assert list(got["cusum_pos"]) == exp_p
    assert list(got["cusum_neg"]) == exp_n
    assert not got["late"].any()


def test_streaming_anomaly_matches_batch_in_order(spark, tmp_path):
    """In bucket-order arrival, the streaming seasonal detector must
    reach the same verdicts/zscores as the batch anomaly_seasonal over
    the same bucketed series (one file = one micro-batch)."""
    import numpy as np

    from lambdo_spark.rollup.analytics import anomaly_seasonal
    from lambdo_spark.streaming.detect import streaming_anomaly

    rows = []
    for day in range(9):
        for hod in range(3):
            v = 100 + (day % 3)
            if day == 8 and hod == 1:
                v = 900  # planted spike
            rows.append(("u", day * 86400 + hod * 3600, v))
    df = spark.createDataFrame(rows, "k string, bucket_s long, v long")
    src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))
    staging = str(tmp_path / "staging")
    f1 = _land(df.coalesce(1), staging, src, "f1")
    schema = spark.read.parquet(f1).schema
    stream = spark.readStream.schema(schema).format("parquet").load(src)
    q = (
        streaming_anomaly(
            stream, period_s=86400, lookback=7, min_prior=3, threshold=2.0,
            key_col="k", bucket_col="bucket_s", value_col="v",
        )
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    q.stop()

    got = (
        spark.read.parquet(out)
        .toPandas()
        .sort_values("bucket_s")
        .reset_index(drop=True)
    )
    exp = (
        anomaly_seasonal(df, "v", "bucket_s", ["k"], period_s=86400,
                         lookback=7, min_prior=3, threshold=2.0)
        .toPandas()
        .sort_values("bucket_s")
        .reset_index(drop=True)
    )
    assert len(got) == len(exp) == len(rows)
    assert list(got["is_anomaly"]) == list(exp["is_anomaly"])
    np.testing.assert_allclose(
        got["zscore"].astype(float), exp["zscore"].astype(float),
        rtol=1e-9, equal_nan=True,
    )
    assert list(got[got["is_anomaly"]]["bucket_s"]) == [8 * 86400 + 3600]
    assert not got["late"].any()


def test_streaming_cusum_exact_beyond_2_pow_53(spark, tmp_path):
    """Seeded longs around 2^53 (with nulls in the same Arrow batches,
    which Arrow would otherwise hand to pandas as float64): every
    stream CUSUM value and score equals batch ``cusum`` exactly,
    across two micro-batches."""
    import random

    from lambdo_spark.rollup.analytics import cusum

    rng = random.Random(53)
    target, slack = 2**53 - 500, 3
    rows = []
    for k in ("a", "b", "c"):
        for i in range(40):
            v = None if rng.random() < 0.15 else 2**53 + rng.randint(-1000, 1000)
            rows.append((k, _ts(i), v))
    schema = "k string, ts timestamp, v long"
    src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))
    staging = str(tmp_path / "staging")
    first = [r for r in rows if r[1] < _ts(20)]
    second = [r for r in rows if r[1] >= _ts(20)]
    for name, part in (("f1", first), ("f2", second)):
        f = _land(spark.createDataFrame(part, schema).coalesce(1), staging, src, name)
    stream = (
        spark.readStream.schema(spark.read.parquet(f).schema)
        .option("maxFilesPerTrigger", 1).parquet(src)
    )
    q = (
        streaming_cusum(stream, target, slack, key_col="k", ts_col="ts", value_col="v")
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt).trigger(availableNow=True).start()
    )
    q.awaitTermination(180)
    q.stop()

    cols = ["value", "cusum_pos", "cusum_neg"]
    # collect(), not toPandas(): a nullable long column would come back
    # as float64 and round the very digits under test
    got = {
        (r["key"], r["ts_s"]): tuple(r[c] for c in cols)
        for r in spark.read.parquet(out).collect()
    }
    exp_df = cusum(spark.createDataFrame(rows, schema), "v", ["ts"], ["k"],
                   target=target, slack=slack)
    exp = {
        (r["k"], int(r["ts"].replace(tzinfo=dt.timezone.utc).timestamp())):
            (r["v"], r["cusum_pos"], r["cusum_neg"])
        for r in exp_df.collect()
    }
    assert any(v is not None and v % 2 for v, _, _ in exp.values())  # not float-exact
    assert got == exp
