"""Structured Streaming variant of the 1h rollup tier.

The reference is strictly batch (SURVEY.md §2.4 "Streaming: none");
this is the forward-looking path a crawl firehose would use: the same
partial schema as the batch tier, computed incrementally with event-
time windows + watermark so late pages fold into their bucket until
the watermark passes, then the state is dropped.

Merge-compatibility invariant: a streamed 1h partial row is
*identical* to the batch 1h partial row once the bucket is closed —
both are ``tiers.partial_rows``, one definition of the (url, bucket_s,
lang, n_points, sum_len, min_ts, max_ts) row — so downstream 1d/30d
downsampling (batch) can consume either. tests/test_streaming.py pins
streamed == batch on the same input.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from lambdo_spark.rollup.tiers import partial_rows


def streaming_1h_partials(
    pages_stream: DataFrame,
    watermark: str = "2 hours",
    url_col: str = "url",
    ts_col: str = "warc_ts",
    text_col: str = "text",
    lang_col: str = "lang",
) -> DataFrame:
    """readStream pages → watermarked 1h-window partials.

    The batch tier's partial row (``tiers.partial_rows``) grouped on an
    event-time ``F.window`` (streaming-state aware) instead of the
    bucket arithmetic; ``bucket_s`` is the window start, so the output
    schema matches the batch tier exactly.
    """
    return partial_rows(
        pages_stream.withWatermark(ts_col, watermark),
        F.window(F.col(ts_col), "1 hour"),
        url_col, ts_col, lang_col, F.length(F.col(text_col)).cast("long"),
    ).withColumn("bucket_s", F.unix_timestamp(F.col("bucket_s.start")))


def run_stream_to_parquet(
    spark,
    source_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    schema,
    watermark: str = "2 hours",
):
    """File-source streaming job: new parquet files landing in
    ``source_dir`` flow into 1h partials appended to ``out_dir``.

    Append output mode: a (url, window, lang) group is emitted exactly
    once, when the watermark closes its window — the streaming analog
    of the batch tier's finality; the checkpoint makes the whole job
    kill-and-resume safe (the streaming counterpart of
    IcebergLayoutTable's manifest resume).
    """
    stream = (
        spark.readStream.schema(schema).format("parquet").load(source_dir)
    )
    partials = streaming_1h_partials(stream, watermark=watermark)
    return (
        partials.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
    )
