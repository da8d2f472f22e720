"""Round-trip property tests for the Gorilla / delta-of-delta codecs
(SURVEY.md §7.3: "exact round-trip vs a reference decoder")."""

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from lambdo_spark.functions.compress import (
    compression_ratio,
    decode_timestamps,
    decode_values,
    encode_timestamps,
    encode_values,
)


def ts_roundtrip(a):
    a = np.asarray(a, dtype=np.int64)
    assert np.array_equal(decode_timestamps(encode_timestamps(a)), a)


def val_roundtrip(a):
    a = np.asarray(a, dtype=np.float64)
    out = decode_values(encode_values(a))
    assert np.array_equal(a.view(np.uint64), out.view(np.uint64))


def test_ts_edges():
    for arr in ([], [5], [5, 6], [0] * 50, [0, 2**40, 5, -(2**40)],
                list(range(0, 10**6, 3600))):
        ts_roundtrip(arr)


def test_val_edges():
    for arr in ([], [5.0], [1.5] * 100, [1e308, -1e308, 0.0, -0.0, np.nan,
                np.inf, -np.inf], list(np.linspace(0, 1, 257))):
        val_roundtrip(arr)


@settings(max_examples=200, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=2**40), max_size=200))
def test_ts_property(xs):
    ts_roundtrip(sorted(xs))


@settings(max_examples=200, deadline=None)
@given(
    st.lists(
        st.floats(allow_nan=True, allow_infinity=True, width=64), max_size=200
    )
)
def test_val_property(xs):
    val_roundtrip(xs)


def test_regular_grid_compresses_hard():
    ts = (np.arange(10_000) * 3600 + 1704067200).astype(np.int64)
    ratio = compression_ratio(len(ts), encode_timestamps(ts))
    assert ratio > 40  # dod==0 everywhere → ~1 bit/point


def test_slowly_varying_values_compress():
    rng = np.random.default_rng(0)
    vals = np.round(np.cumsum(rng.normal(0, 0.5, 10_000)) + 100, 2)
    enc = encode_values(vals)
    assert np.array_equal(decode_values(enc), vals)


def test_grouped_encoders_byte_identical():
    """encode_*_many must produce exactly the bytes the per-group
    encoders produce, for every group size incl. 1 and 2."""
    from lambdo_spark.functions.compress import (
        encode_timestamps_many,
        encode_values_many,
    )

    rng = np.random.default_rng(7)
    sizes = np.concatenate(([1, 2, 3], rng.integers(1, 60, 300)))
    starts = np.concatenate(([0], np.cumsum(sizes)[:-1]))
    n = int(sizes.sum())
    ts = np.empty(n, dtype=np.int64)
    for s, c in zip(starts, sizes):
        ts[s : s + c] = np.sort(rng.integers(0, 10**9, c))
    vals = np.round(rng.normal(50, 3, n), 2)
    vals[rng.integers(0, n, 10)] = np.nan
    mt = encode_timestamps_many(ts, starts)
    mv = encode_values_many(vals, starts)
    for i, (s, c) in enumerate(zip(starts, sizes)):
        assert mt[i] == encode_timestamps(ts[s : s + c])
        assert mv[i] == encode_values(vals[s : s + c])
        assert np.array_equal(decode_timestamps(mt[i]), ts[s : s + c])
        assert np.array_equal(
            decode_values(mv[i]).view(np.uint64),
            vals[s : s + c].view(np.uint64),
        )


def test_decompress_tier_roundtrip_distributed(spark):
    """compress_tier → decompress_tier must reproduce the tier rows
    exactly (bit-for-bit doubles), across chunk boundaries."""
    import pandas as pd

    from lambdo_spark.rollup.compress_stage import compress_tier, decompress_tier

    rows = []
    for u in ("a", "b"):
        # 5000 buckets → spans two 4096-bucket chunks; irregular gaps
        for i in range(5000):
            if i % 7 == 3:
                continue
            rows.append((u, 3600 * (i * 2 if i % 11 == 0 else i), float(i) * 1.25 - 17.5))
    tier = spark.createDataFrame(rows, "url string, bucket_s long, v double")
    comp = compress_tier(tier, value_col="v", chunk_buckets=4096)
    got = (
        decompress_tier(comp, value_col="v")
        .toPandas()
        .sort_values(["url", "bucket_s"])
        .reset_index(drop=True)
    )
    exp = (
        pd.DataFrame(rows, columns=["url", "bucket_s", "v"])
        .sort_values(["url", "bucket_s"])
        .reset_index(drop=True)
    )
    assert len(got) == len(exp)
    assert (got["url"] == exp["url"]).all()
    assert (got["bucket_s"] == exp["bucket_s"]).all()
    assert (got["v"].to_numpy() == exp["v"].to_numpy()).all()  # exact, not approx


def test_decompress_tier_bucket_range_prunes_chunks(spark):
    """bucket_range prunes chunks JVM-side (fewer blobs reach the
    Python decoder) and the decoded result equals the full decode
    filtered — exact at chunk boundaries."""
    import pandas as pd

    from lambdo_spark.rollup.compress_stage import compress_tier, decompress_tier

    rows = [(u, 3600 * i, float(i) + (0.5 if u == "b" else 0.0))
            for u in ("a", "b") for i in range(10000)]
    tier = spark.createDataFrame(rows, "url string, bucket_s long, v double")
    comp = compress_tier(tier, value_col="v", chunk_buckets=1024).persist()
    try:
        n_chunks = comp.count()
        lo, hi = 3600 * 2000, 3600 * 3000  # inside chunks 1-2 of 0-9
        pruned = decompress_tier(
            comp, value_col="v", bucket_range=(lo, hi), chunk_buckets=1024
        )
        # chunk predicate is pure JVM: the scan after pruning holds
        # only overlapping chunks (2 per url of 10 per url)
        kept = comp.where(
            (comp.chunk >= lo // (1024 * 3600)) & (comp.chunk <= hi // (1024 * 3600))
        ).count()
        assert kept < n_chunks
        got = pruned.toPandas().sort_values(["url", "bucket_s"]).reset_index(drop=True)
        exp = (
            pd.DataFrame(rows, columns=["url", "bucket_s", "v"])
            .query("@lo <= bucket_s <= @hi")
            .sort_values(["url", "bucket_s"])
            .reset_index(drop=True)
        )
        assert len(got) == len(exp) > 0
        assert (got["bucket_s"].to_numpy() == exp["bucket_s"].to_numpy()).all()
        assert (got["v"].to_numpy() == exp["v"].to_numpy()).all()
        # open-ended range
        tail = decompress_tier(
            comp, value_col="v", bucket_range=(3600 * 9000, None), chunk_buckets=1024
        ).count()
        assert tail == 2 * 1000
    finally:
        comp.unpersist()


def _result_stage_tasks(spark, df, group: str) -> int:
    """Task count of the stage that produced ``df.collect()``'s rows
    (the last job's highest stage id), read from the status tracker."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        df.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    st = sc.statusTracker()
    last_job = max(st.getJobIdsForGroup(group))
    return st.getStageInfo(max(st.getJobInfo(last_job).stageIds)).numTasks


def test_compress_tier_python_stage_sized_to_data(spark):
    """Without an explicit partition count the url shuffle is one AQE
    may coalesce, so a small tier's mapInPandas runs as ONE Python task
    (each task costs a fixed worker-CPU floor); ``partitions=n`` still
    pins the exchange to n tasks. Output is identical either way."""
    from lambdo_spark.rollup.compress_stage import compress_tier

    rows = [(f"u{i % 40}", 3600 * i, float(i % 97)) for i in range(2000)]
    tier = spark.createDataFrame(rows, "url string, bucket_s long, v double").repartition(4)
    auto = compress_tier(tier, value_col="v", chunk_buckets=16)
    pinned = compress_tier(tier, value_col="v", chunk_buckets=16, partitions=8)
    assert _result_stage_tasks(spark, auto, "compress_auto") == 1
    assert _result_stage_tasks(spark, pinned, "compress_pinned") == 8
    key = ["url", "chunk"]
    assert auto.orderBy(*key).collect() == pinned.orderBy(*key).collect()
