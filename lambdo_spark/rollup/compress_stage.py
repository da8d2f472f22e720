"""Spark stage: per-url ordered series → compressed binary columns.

Each tier's (bucket_s, value) series is grouped per (url, chunk),
sorted, and encoded with delta-of-delta (timestamps) + Gorilla XOR
(values) into two ``BinaryType`` blobs — one row per (url, chunk).

Execution shape (the fast path): ``groupBy().applyInPandas`` costs
~5-10 ms of Python/pandas overhead *per group*, which is ruinous for
many small groups (measured 11 s for 1.5k groups at sf0.1). Instead:

    repartition(url) → sortWithinPartitions(url, chunk, bucket_s)
    → mapInPandas(kernel)

One Python invocation per Arrow batch, many groups per batch; group
boundaries never interleave because rows are sorted within the
partition, and a group straddling two batches is carried into the
next one by ``table_ops.whole_groups`` (memory stays O(batch +
largest group), not O(partition)).

The shuffle is sized to the data: with no explicit ``partitions`` it
is ``repartition("url")`` (a by-column exchange AQE may coalesce), not
a fixed count. Each Python task costs ~0.3 s of worker CPU before it
sees a row (README scale notes), so a fixed 8-way exchange made a
3k-row tier pay for 8 tasks; coalescing merges whole hash partitions,
so a (url, chunk) group never splits and the output is unchanged.
An explicit ``partitions=n`` still pins the exchange to n.

Scale notes:
- input is *tier rows* (≤ one per bucket), so a url with 10^8 raw
  pages still has ≤ 2.2k rows per 90 days at 1h — hot-url skew is
  structurally bounded here;
- chunking (``chunk_buckets``) caps blob size so a decade-long series
  never becomes a multi-GB cell; chunk id derives from bucket_s so
  re-runs are deterministic.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, functions as F

import numpy as np

from lambdo_spark.functions.compress import (
    encode_timestamps_many,
    encode_values_many,
)
from lambdo_spark.operators.table_ops import whole_groups


def _compressed_schema(tier: DataFrame) -> str:
    key_type = dict(tier.dtypes)["url"]
    return (
        f"url {key_type}, chunk long, n long, ts_blob binary, "
        "val_blob binary, ratio double"
    )


def _encode_batch(b: pd.DataFrame) -> pd.DataFrame:
    """Encode every (url, chunk) group in the frame in one vectorized
    pass (grouped codec API — per-group encode calls cost ~0.2 ms of
    fixed numpy overhead, ruinous at 100k+ small series)."""
    urls = b["url"].to_numpy()
    chunks = b["_chunk"].to_numpy()
    boundary = np.flatnonzero((urls[1:] != urls[:-1]) | (chunks[1:] != chunks[:-1]))
    starts = np.concatenate(([0], boundary + 1))
    counts = np.diff(np.append(starts, len(b)))
    ts_blobs = encode_timestamps_many(b["bucket_s"].to_numpy("int64"), starts)
    val_blobs = encode_values_many(b["_v"].to_numpy("float64"), starts)
    sizes = np.array([len(t) + len(v) for t, v in zip(ts_blobs, val_blobs)])
    return pd.DataFrame(
        {
            "url": urls[starts],
            "chunk": chunks[starts].astype("int64"),
            "n": counts,
            "ts_blob": ts_blobs,
            "val_blob": val_blobs,
            "ratio": counts * 16.0 / np.maximum(sizes, 1),
        }
    )


def compress_tier(
    tier: DataFrame,
    value_col: str = "mean_len",
    chunk_buckets: int = 4096,
    tier_seconds: int = 3600,
    partitions: int | None = None,
) -> DataFrame:
    """(url, bucket_s, value) tier rows → per-(url, chunk) binary blobs."""
    chunk_span = chunk_buckets * tier_seconds

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in whole_groups(batches, ["url", "_chunk"]):
            yield _encode_batch(b)

    # no count given → a REPARTITION_BY_COL exchange AQE can coalesce
    by_url = (partitions, "url") if partitions is not None else ("url",)
    prepared = (
        tier.select(
            "url",
            "bucket_s",
            F.col(value_col).cast("double").alias("_v"),
            (F.floor(F.col("bucket_s") / F.lit(chunk_span)))
            .cast("long")
            .alias("_chunk"),
        )
        .repartition(*by_url)
        .sortWithinPartitions("url", "_chunk", "bucket_s")
    )
    return prepared.mapInPandas(kernel, schema=_compressed_schema(tier))


def decompress_tier(
    compressed: DataFrame,
    value_col: str = "value",
    bucket_range: tuple[int | None, int | None] | None = None,
    chunk_buckets: int = 4096,
    tier_seconds: int = 3600,
) -> DataFrame:
    """Inverse of :func:`compress_tier`: blobs → (url, bucket_s, value)
    point rows — the read path for time-travel / backfill queries over
    compressed retention data.

    One Python decode call per (url, chunk) ROW, not per point: a blob
    holds up to ``chunk_buckets`` points, so the per-call overhead
    amortizes ~4096×; rows distribute across whatever partitioning the
    compressed table already has (no shuffle — decompression is
    embarrassingly parallel). Codecs are lossless (delta-of-delta longs,
    Gorilla XOR on the float64 bit pattern), so the round trip is exact
    — pinned bit-for-bit by tests and, end-to-end, by the
    ``compressed_roundtrip`` DuckDB oracle query.

    ``bucket_range=(lo, hi)`` (inclusive, ``None`` = open end) prunes
    chunks BEFORE any Python decode: the chunk id is
    ``floor(bucket_s / (chunk_buckets * tier_seconds))``, so chunks
    partition bucket space and a pure-JVM predicate on ``chunk``
    eliminates non-overlapping blobs at scan time (reading one day
    from a years-deep compressed table decodes ~1 chunk per url, not
    the table). ``chunk_buckets``/``tier_seconds`` must match the
    :func:`compress_tier` call that built the table (same defaults).
    The exact range is re-applied to the decoded rows — chunks only
    bound the range, points inside a boundary chunk are filtered.
    """
    from lambdo_spark.functions.compress import decode_timestamps, decode_values

    lo = hi = None
    if bucket_range is not None:
        lo, hi = bucket_range
        span = chunk_buckets * tier_seconds
        if lo is not None:
            compressed = compressed.where(F.col("chunk") >= lo // span)
        if hi is not None:
            compressed = compressed.where(F.col("chunk") <= hi // span)

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            if len(b) == 0:
                continue
            urls, ts, vals = [], [], []
            for url, tb, vb in zip(b["url"], b["ts_blob"], b["val_blob"]):
                t = decode_timestamps(bytes(tb))
                urls.append(np.repeat(url, len(t)))
                ts.append(t)
                vals.append(decode_values(bytes(vb)))
            yield pd.DataFrame(
                {
                    "url": np.concatenate(urls),
                    "bucket_s": np.concatenate(ts),
                    value_col: np.concatenate(vals),
                }
            )

    key_type = dict(compressed.dtypes)["url"]
    out = compressed.mapInPandas(
        kernel, schema=f"url {key_type}, bucket_s long, {value_col} double"
    )
    if lo is not None:
        out = out.where(F.col("bucket_s") >= F.lit(lo))
    if hi is not None:
        out = out.where(F.col("bucket_s") <= F.lit(hi))
    return out
