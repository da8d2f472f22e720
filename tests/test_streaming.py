"""Streaming 1h partials must equal the batch tier on the same input
(the merge-compatibility invariant), and resume from checkpoint."""

import pandas as pd
import pytest

from pyspark.sql import functions as F

from lambdo_spark.rollup.tiers import partials_from_pages
from lambdo_spark.sources.pages import generate_pages
from lambdo_spark.streaming.rollup_stream import run_stream_to_parquet


@pytest.fixture()
def pages_parquet(spark, tmp_path):
    src = str(tmp_path / "pages_src")
    generate_pages(spark, 800, seed=42).write.parquet(src)
    return src


def _run(spark, src, out, ckpt):
    schema = spark.read.parquet(src).schema
    q = run_stream_to_parquet(
        spark, src, out, ckpt, schema, watermark="0 seconds"
    ).start()
    q.awaitTermination(120)
    q.stop()


def test_streamed_partials_equal_batch(spark, tmp_path, pages_parquet):
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    _run(spark, pages_parquet, out, ckpt)

    streamed = spark.read.parquet(out)
    batch = partials_from_pages(spark.read.parquet(pages_parquet), 3600)
    cols = ["url", "bucket_s", "lang", "n_points", "sum_len", "min_ts", "max_ts"]
    a = streamed.select(cols).orderBy(cols[:3]).toPandas()
    b = batch.select(cols).orderBy(cols[:3]).toPandas()
    # availableNow + append mode withholds windows the watermark has
    # not passed; with watermark=0s and finite input, everything at or
    # before (max_ts - 0) except the open tail window may be held back
    merged = a.merge(b, on=["url", "bucket_s", "lang"], suffixes=("_s", "_b"))
    assert len(merged) == len(a)  # every streamed row exists in batch
    assert (merged["n_points_s"] == merged["n_points_b"]).all()
    assert (merged["sum_len_s"] == merged["sum_len_b"]).all()
    assert len(a) >= 0.8 * len(b)  # only the watermark tail is held


def test_stream_resumes_from_checkpoint(spark, tmp_path, pages_parquet):
    out = str(tmp_path / "out2")
    ckpt = str(tmp_path / "ckpt2")
    _run(spark, pages_parquet, out, ckpt)
    n1 = spark.read.parquet(out).count()
    # re-run with the same checkpoint: no new input → no duplicate rows
    _run(spark, pages_parquet, out, ckpt)
    n2 = spark.read.parquet(out).count()
    assert n2 == n1


def test_null_language_streams_to_the_batch_partial(spark, tmp_path):
    """A page without a detected language partials under the batch
    tier's "und" sentinel on the stream too, so ``finalize`` over the
    streamed partials builds its language map (a NULL map key raises)."""
    from datetime import datetime

    from lambdo_spark.rollup.tiers import finalize

    src = str(tmp_path / "src")
    spark.createDataFrame(
        [("u1", datetime(2024, 1, 1, 0, 10), "abc", None),
         ("u1", datetime(2024, 1, 1, 5, 10), "hello", "en")],
        "url string, warc_ts timestamp, text string, lang string",
    ).write.parquet(src)
    _run(spark, src, str(tmp_path / "out"), str(tmp_path / "ckpt"))

    cols = ["url", "bucket_s", "lang", "n_points", "sum_len", "min_ts", "max_ts"]
    first = F.col("bucket_s") == 1704067200
    streamed = spark.read.parquet(str(tmp_path / "out")).select(cols)
    batch = partials_from_pages(spark.read.parquet(src), 3600).select(cols)
    got = streamed.where(first).collect()
    assert got == batch.where(first).collect() and got[0]["lang"] == "und"
    hist = finalize(streamed).where(first).collect()[0]["lang_hist"]
    assert hist == {"und": 1}
