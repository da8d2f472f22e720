"""Streaming continuous-aggregate maintenance (streaming/continuous.py):
a pages stream driving refresh_from_pages through foreachBatch must
reproduce the full-recompute tiers exactly after each micro-batch, and
a re-run over the same checkpoint must be a no-op (exactly-once)."""

import glob
import os
import shutil

from lambdo_spark.rollup.incremental import read_finalized_tier
from lambdo_spark.rollup.tiers import rollup_all_tiers
from lambdo_spark.sources.iceberg_layout import IcebergLayoutTable
from lambdo_spark.sources.pages import generate_pages
from lambdo_spark.streaming.continuous import continuous_refresh_writer


def _canon(df):
    pdf = df.toPandas()
    if "lang_hist" in pdf.columns:
        pdf["lang_hist"] = pdf["lang_hist"].map(
            lambda m: tuple(sorted(m.items())) if m is not None else None
        )
    return (
        pdf.sort_values(["url", "bucket_s"])
        .reset_index(drop=True)
        .drop(columns=["bucket"], errors="ignore")
    )


def _land(df, staging, src, name):
    tmp = os.path.join(staging, name)
    df.write.parquet(tmp)
    os.makedirs(src, exist_ok=True)
    for i, f in enumerate(sorted(glob.glob(os.path.join(tmp, "part-*.parquet")))):
        shutil.copy(f, os.path.join(src, f"{name}-{i}.parquet"))


def test_continuous_refresh_matches_full_recompute(spark, tmp_path):
    src, staging = str(tmp_path / "src"), str(tmp_path / "staging")
    root, ckpt = str(tmp_path / "tiers"), str(tmp_path / "ckpt")
    d1 = generate_pages(spark, 1500, seed=31)
    d2 = generate_pages(spark, 1500, seed=32)
    _land(d1, staging, src, "d1")
    schema = d1.schema

    def run():
        stream = spark.readStream.schema(schema).format("parquet").load(src)
        q = (
            continuous_refresh_writer(stream, root, ckpt, compress=True)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        q.stop()

    run()
    for tier_name, exp in rollup_all_tiers(d1).items():
        got = _canon(read_finalized_tier(spark, root, tier_name))
        assert got.equals(_canon(exp)), f"tier {tier_name} after batch 1"

    # second landing: the stream merges ONLY the delta, tiers stay exact
    _land(d2, staging, src, "d2")
    run()
    full = rollup_all_tiers(d1.unionByName(d2))
    for tier_name in ("1h", "1d", "30d"):
        got = _canon(read_finalized_tier(spark, root, tier_name))
        assert got.equals(_canon(full[tier_name])), f"tier {tier_name} after batch 2"

    store = IcebergLayoutTable(os.path.join(root, "partials_1h"))
    snap = store.current_snapshot()
    applied = list(snap["applied_deltas"])
    assert applied and all(t.startswith("stream:") for t in applied)
    assert snap.get("pending") is None  # every rebuild completed

    # re-run with the same checkpoint and no new files: no new batch,
    # no new delta tags, tiers untouched (exactly-once)
    run()
    snap2 = IcebergLayoutTable(os.path.join(root, "partials_1h")).current_snapshot()
    assert list(snap2["applied_deltas"]) == applied
    got = _canon(read_finalized_tier(spark, root, "1d"))
    assert got.equals(_canon(full["1d"]))

    # compressed chunks were maintained by the stream too
    comp = IcebergLayoutTable(os.path.join(root, "compressed_1h"))
    assert comp.current_snapshot() is not None


def test_continuous_refresh_crash_resume(spark, tmp_path, monkeypatch):
    """A crash between the store merge commit and the tier rebuild is
    healed by Spark's replay of the SAME batch_id: the ledger skips the
    re-merge, the pending marker finishes the rebuild."""
    import lambdo_spark.rollup.incremental as inc

    src, staging = str(tmp_path / "src"), str(tmp_path / "staging")
    root, ckpt = str(tmp_path / "tiers"), str(tmp_path / "ckpt")
    d1 = generate_pages(spark, 1200, seed=33)
    _land(d1, staging, src, "d1")

    real_rebuild = inc._rebuild_tiers
    calls = {"n": 0}

    def exploding_rebuild(*a, **kw):
        calls["n"] += 1
        if calls["n"] == 1:
            raise RuntimeError("injected crash after store commit")
        return real_rebuild(*a, **kw)

    monkeypatch.setattr(inc, "_rebuild_tiers", exploding_rebuild)

    def run():
        stream = spark.readStream.schema(d1.schema).format("parquet").load(src)
        q = (
            continuous_refresh_writer(stream, root, ckpt, compress=False)
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination(300)
        finally:
            q.stop()

    try:
        run()
    except Exception:
        pass  # streaming query fails with the injected crash
    store = IcebergLayoutTable(os.path.join(root, "partials_1h"))
    snap = store.current_snapshot()
    assert snap is not None and snap.get("pending")  # merged, rebuild unfinished

    run()  # replayed batch: same batch_id → skip merge, resume rebuild
    assert calls["n"] == 2
    snap2 = store.current_snapshot()
    assert snap2.get("pending") is None
    for tier_name, exp in rollup_all_tiers(d1).items():
        got = _canon(read_finalized_tier(spark, root, tier_name))
        assert got.equals(_canon(exp)), f"tier {tier_name} after resume"


def test_stream_root_serves_cascade_realtime(spark, tmp_path):
    """The lambda architecture end-to-end: a stream-maintained root
    (store + tiers written by foreachBatch refresh) serves hierarchical
    realtime reads — data landed AFTER the last micro-batch appears via
    the raw tail above the store watermark, and the stitched coarse
    tier equals a full recompute over everything."""
    from pyspark.sql import functions as F

    from lambdo_spark.rollup.incremental import _partials_store
    from lambdo_spark.rollup.realtime import (
        _table_watermark,
        read_realtime_tier,
    )

    src, staging = str(tmp_path / "src"), str(tmp_path / "staging")
    root, ckpt = str(tmp_path / "tiers"), str(tmp_path / "ckpt")
    d1 = generate_pages(spark, 1500, seed=33)
    _land(d1, staging, src, "d1")
    stream = spark.readStream.schema(d1.schema).format("parquet").load(src)
    q = (
        continuous_refresh_writer(stream, root, ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    q.stop()

    # new data lands but is NOT streamed yet: only rows at/above the
    # store watermark (below it, un-refreshed late rows are invisible
    # by contract — same as TimescaleDB's materialization threshold)
    w_p = _table_watermark(_partials_store(root), "bucket_s")
    fresh = generate_pages(spark, 800, seed=34).where(
        F.unix_timestamp("warc_ts") >= w_p
    )
    raw = d1.unionByName(fresh)
    for tier_name in ("1d", "30d"):
        got = _canon(
            read_realtime_tier(spark, root, tier_name, raw, cascade=True)
        )
        exp = _canon(rollup_all_tiers(raw)[tier_name])
        assert got.equals(exp), f"cascade realtime at {tier_name}"
