"""Incremental tier refresh (rollup/incremental.py): merging deltas
must reproduce the full-recompute tiers EXACTLY at every tier
(including 30d buckets that straddle weekly partitions), rewrite only
affected partitions, and ignore a duplicated delta."""

import pandas as pd
import pytest

from lambdo_spark.rollup.incremental import (
    PART_SECONDS,
    _parts_containing_overlapping_buckets,
    refresh_from_pages,
    read_finalized_tier,
)
from lambdo_spark.rollup.tiers import TIER_SECONDS, rollup_all_tiers
from lambdo_spark.sources.pages import generate_pages


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


def test_parts_overlap_math():
    week = PART_SECONDS
    # 1h/1d divide the week: only the affected week is rewritten
    assert _parts_containing_overlapping_buckets({3 * week}, 3600) == {3 * week}
    assert _parts_containing_overlapping_buckets({3 * week}, 86400) == {3 * week}
    # a 30d bucket overlapping week 3 can START weeks earlier — its
    # partition (start week) must be rewritten too
    tsec = TIER_SECONDS["30d"]
    parts = _parts_containing_overlapping_buckets({3 * week}, tsec)
    b0 = (3 * week // tsec) * tsec  # bucket containing week-3 start
    assert (b0 // week) * week in parts
    assert all(p <= 3 * week for p in parts)


def test_incremental_matches_full_recompute(spark, tmp_path):
    root = str(tmp_path / "tiers")
    # two disjoint-seed deltas; seeds give overlapping (url, bucket)
    # pairs so the algebraic merge is actually exercised
    d1 = generate_pages(spark, 2500, seed=21)
    d2 = generate_pages(spark, 2500, seed=22)

    r1 = refresh_from_pages(spark, d1, root, delta_tag="d1")
    assert r1["affected_parts"]["partials_1h"]
    r2 = refresh_from_pages(spark, d2, root, delta_tag="d2")

    full = rollup_all_tiers(d1.unionByName(d2))
    for tier_name in ("1h", "1d", "30d"):
        got = _canon(read_finalized_tier(spark, root, tier_name))
        exp = _canon(full[tier_name])
        assert len(got) == len(exp), tier_name
        pd.testing.assert_frame_equal(got, exp, check_dtype=False)


def test_duplicate_delta_is_noop(spark, tmp_path):
    root = str(tmp_path / "tiers")
    d1 = generate_pages(spark, 1500, seed=31)
    refresh_from_pages(spark, d1, root, delta_tag="d1")
    before = _canon(read_finalized_tier(spark, root, "1h"))
    r = refresh_from_pages(spark, d1, root, delta_tag="d1")  # retry
    assert r.get("skipped") == "d1"
    after = _canon(read_finalized_tier(spark, root, "1h"))
    pd.testing.assert_frame_equal(before, after)


def test_refresh_rewrites_only_affected_partitions(spark, tmp_path):
    root = str(tmp_path / "tiers")
    base = generate_pages(spark, 4000, seed=41)
    refresh_from_pages(spark, base, root, delta_tag="base")

    # a late delta confined to ONE week of the base range
    lo = base.selectExpr("min(unix_timestamp(warc_ts)) AS lo").collect()[0]["lo"]
    week0 = (int(lo) // PART_SECONDS) * PART_SECONDS
    late = base.where(
        f"unix_timestamp(warc_ts) >= {week0} AND "
        f"unix_timestamp(warc_ts) < {week0 + PART_SECONDS}"
    ).limit(200)
    r = refresh_from_pages(spark, late, root, delta_tag="late")

    all_1h_parts = {
        m["part"]
        for m in __import__("lambdo_spark.rollup.incremental", fromlist=["x"])
        ._tier_table(root, "1h").lineage()
    }
    assert r["affected_parts"]["partials_1h"] == [str(week0)]
    assert r["affected_parts"]["1h"] == [str(week0)]
    assert len(all_1h_parts) > 1  # base spans several weeks
    # 30d rewrites a handful of partitions, not the whole table
    assert len(r["affected_parts"]["30d"]) <= 6


def test_incremental_compression_matches_full(spark, tmp_path):
    """After two deltas, decompressing the incrementally-maintained
    compressed tables must equal compressing the full-recompute tiers
    (lossless codecs + identical inputs => identical points)."""
    from lambdo_spark.rollup.compress_stage import compress_tier, decompress_tier

    root = str(tmp_path / "tiers")
    d1 = generate_pages(spark, 2000, seed=51)
    d2 = generate_pages(spark, 2000, seed=52)
    refresh_from_pages(spark, d1, root, delta_tag="d1")
    r2 = refresh_from_pages(spark, d2, root, delta_tag="d2")
    assert "compressed_1h" in r2["affected_parts"]

    full = rollup_all_tiers(d1.unionByName(d2))
    for tier_name, tsec in TIER_SECONDS.items():
        from lambdo_spark.sources.iceberg_layout import IcebergLayoutTable
        import os as _os

        ctable = IcebergLayoutTable(_os.path.join(root, f"compressed_{tier_name}"))
        got = (
            decompress_tier(ctable.read_tier(spark).drop("part"), "v")
            .toPandas()
            .sort_values(["url", "bucket_s"])
            .reset_index(drop=True)
        )
        exp = (
            decompress_tier(
                compress_tier(full[tier_name], value_col="mean_len", tier_seconds=tsec),
                "v",
            )
            .toPandas()
            .sort_values(["url", "bucket_s"])
            .reset_index(drop=True)
        )
        assert len(got) == len(exp), tier_name
        assert (got["url"] == exp["url"]).all()
        assert (got["bucket_s"] == exp["bucket_s"]).all()
        assert (got["v"].to_numpy() == exp["v"].to_numpy()).all(), tier_name


def test_retention_then_refresh_shared_root(spark, tmp_path):
    """The README workflow: bootstrap with run_retention_pipeline, then
    refresh deltas into the SAME root. The retention run must persist
    the partials store so the refresh merges into the base (not a
    delta-only store that would overwrite base rows)."""
    from lambdo_spark.rollup.pipeline import run_retention_pipeline

    root = str(tmp_path / "tiers")
    base = generate_pages(spark, 2500, seed=71)
    delta = generate_pages(spark, 2500, seed=72)
    run_retention_pipeline(spark, base, root, enforce_audit=False)
    refresh_from_pages(spark, delta, root, delta_tag="d1")

    full = rollup_all_tiers(base.unionByName(delta))
    for tier_name in ("1h", "1d", "30d"):
        got = _canon(read_finalized_tier(spark, root, tier_name))
        exp = _canon(full[tier_name])
        assert len(got) == len(exp), tier_name
        pd.testing.assert_frame_equal(got, exp, check_dtype=False)


def test_refresh_refuses_root_without_store(spark, tmp_path):
    """Tier tables without a partials store (e.g. a root built by a
    pre-fix retention run): refresh must refuse instead of silently
    rebuilding tiers from a delta-only store."""
    import os

    root = str(tmp_path / "tiers")
    t = __import__("lambdo_spark.rollup.incremental", fromlist=["x"])._tier_table(
        root, "1h"
    )
    t.write_tier(spark.createDataFrame([(0, 1)], "part long, k long"))
    assert os.path.exists(os.path.join(root, "tier_1h", "metadata", "CURRENT"))
    d = generate_pages(spark, 200, seed=73)
    with pytest.raises(ValueError, match="destroy base rows"):
        refresh_from_pages(spark, d, root, delta_tag="x", enforce_audit=False)


def test_crash_between_commits_resumes(spark, tmp_path, monkeypatch):
    """Two-commit protocol: a crash AFTER the store's merge commit but
    BEFORE the tier rebuild leaves a pending marker; the retry of the
    same delta_tag must skip the merge (exactly-once) but FINISH the
    rebuild — tiers end identical to a never-crashed run."""
    import lambdo_spark.rollup.incremental as inc

    root = str(tmp_path / "tiers")
    d1 = generate_pages(spark, 1500, seed=81)
    d2 = generate_pages(spark, 1500, seed=82)
    refresh_from_pages(spark, d1, root, delta_tag="d1")

    def boom(*a, **k):
        raise RuntimeError("simulated crash after store commit")

    monkeypatch.setattr(inc, "_rebuild_tiers", boom)
    with pytest.raises(RuntimeError, match="simulated crash"):
        refresh_from_pages(spark, d2, root, delta_tag="d2")
    monkeypatch.undo()

    # the merge committed with a pending marker; tiers are stale
    store = inc._partials_store(root)
    snap = store.current_snapshot()
    assert "d2" in snap["applied_deltas"]
    assert snap["pending"] and snap["pending"]["tag"] == "d2"

    # retry: no re-merge (no double count), rebuild completes
    r = refresh_from_pages(spark, d2, root, delta_tag="d2")
    assert r.get("skipped") == "d2" and r.get("resumed") == "d2"
    assert store.current_snapshot()["pending"] is None

    full = rollup_all_tiers(d1.unionByName(d2))
    for tier_name in ("1h", "1d", "30d"):
        got = _canon(read_finalized_tier(spark, root, tier_name))
        exp = _canon(full[tier_name])
        assert len(got) == len(exp), tier_name
        pd.testing.assert_frame_equal(got, exp, check_dtype=False)
    # a further retry is now a pure no-op
    r2 = refresh_from_pages(spark, d2, root, delta_tag="d2")
    assert r2.get("skipped") == "d2" and "resumed" not in r2


def test_read_finalized_tier_gapfill(spark, tmp_path):
    """Read-time gap fill over the stored raw tier equals gap_fill of
    the recomputed tier (both write paths store raw rows only)."""
    from lambdo_spark.rollup.tiers import gap_fill

    root = str(tmp_path / "tiers")
    d1 = generate_pages(spark, 1200, seed=91)
    refresh_from_pages(spark, d1, root, delta_tag="d1")
    got = _canon(read_finalized_tier(spark, root, "1h", gapfill=True))
    exp = _canon(gap_fill(rollup_all_tiers(d1)["1h"], TIER_SECONDS["1h"]))
    assert len(got) == len(exp)
    pd.testing.assert_frame_equal(got, exp, check_dtype=False)


def test_refresh_audit_gate(spark, tmp_path):
    from pyspark.sql import functions as F

    bad = generate_pages(spark, 300, seed=61).withColumn(
        "text", F.concat(F.col("text"), F.lit("TAMPERED"))
    )
    with pytest.raises(ValueError, match="hash audit"):
        refresh_from_pages(spark, bad, str(tmp_path / "t"), delta_tag="x")


def test_replayed_tag_runs_no_job(spark, tmp_path):
    """The tag ledger is consulted before the hash audit: replaying an
    applied tag with no pending marker scans no page — no Spark job."""
    root = str(tmp_path / "tiers")
    pages = generate_pages(spark, 300, seed=63)
    refresh_from_pages(spark, pages, root, delta_tag="d1")
    sc = spark.sparkContext
    group = "replayed_tag"
    sc.setJobGroup(group, "replay of an applied tag")
    try:
        r = refresh_from_pages(spark, pages, root, delta_tag="d1")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert r == {"affected_parts": {}, "snapshots": {}, "skipped": "d1"}
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


def test_refresh_keeps_a_mor_delete_on_the_store(spark, tmp_path):
    """A merge-on-read delete on the partials store stays applied when a
    later delta for another url merges into the same week: the merge
    reads the store's current rows, so the deleted row is absent from
    both the store and tier_1h."""
    from pyspark.sql import functions as F

    from lambdo_spark.rollup.incremental import _partials_store, _tier_table

    root = str(tmp_path / "tiers")
    base = generate_pages(spark, 1500, seed=64)
    refresh_from_pages(spark, base, root, delta_tag="base", enforce_audit=False)
    store = _partials_store(root)
    gone = store.read_tier(spark).orderBy("part", "url", "bucket_s").first()
    store.delete_where(
        spark, f"url = '{gone['url']}' AND bucket_s = {gone['bucket_s']}",
        mode="merge-on-read",
    )
    ts = F.unix_timestamp("warc_ts")
    delta = base.where(
        (F.col("url") != gone["url"])
        & (ts >= int(gone["part"])) & (ts < int(gone["part"]) + PART_SECONDS)
    ).limit(1)
    r = refresh_from_pages(spark, delta, root, delta_tag="d1", enforce_audit=False)
    assert r["affected_parts"]["partials_1h"] == [str(gone["part"])]

    hit = (F.col("url") == gone["url"]) & (F.col("bucket_s") == gone["bucket_s"])
    assert store.read_tier(spark).where(hit).count() == 0
    assert _tier_table(root, "1h").read_tier(spark).where(hit).count() == 0


def test_empty_tagged_delta_records_its_tag(spark, tmp_path):
    """A tagged delta that touches no partition still enters the tag
    ledger: replaying its tag is skipped, and a retention build that
    merged nothing is not run a second time."""
    root = str(tmp_path / "tiers")
    pages = generate_pages(spark, 300, seed=65)
    refresh_from_pages(spark, pages, root, delta_tag="base", enforce_audit=False)
    r = refresh_from_pages(spark, pages.limit(0), root, delta_tag="empty",
                           enforce_audit=False)
    assert r == {"affected_parts": {}, "snapshots": {}}
    r = refresh_from_pages(spark, pages, root, delta_tag="empty",
                           enforce_audit=False)
    assert r["skipped"] == "empty"

    from lambdo_spark.rollup.pipeline import RETENTION_TAG, run_retention_pipeline

    fresh = str(tmp_path / "fresh")
    run_retention_pipeline(spark, pages.limit(0), fresh, enforce_audit=False)
    again = run_retention_pipeline(spark, pages, fresh, enforce_audit=False)
    assert again["skipped"] == RETENTION_TAG
    # the ledger-only store still takes real deltas
    r = refresh_from_pages(spark, pages, fresh, delta_tag="d1", enforce_audit=False)
    assert r["affected_parts"]["partials_1h"]
    assert read_finalized_tier(spark, fresh, "1d").count() > 0
