"""Real-time continuous aggregates (rollup/realtime.py): the stitched
materialized-tier ∪ raw-tail read must equal a full recompute over all
raw rows, the watermark must come from manifest metadata alone (no
data-file IO), and the raw-tail filter must reach the scan."""

import os

import pytest
from pyspark.sql import functions as F

from lambdo_spark.rollup.pipeline import run_retention_pipeline
from lambdo_spark.rollup.realtime import (
    materialization_watermark,
    read_realtime_tier,
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


@pytest.fixture(scope="module")
def split_root(spark, tmp_path_factory):
    """Pages split at a bucket-aligned cutoff; the head half
    materialized into a tier root, the full frame kept as raw."""
    pages = generate_pages(spark, 6000, seed=31).persist()
    lo, hi = pages.agg(
        F.min(F.unix_timestamp("warc_ts")), F.max(F.unix_timestamp("warc_ts"))
    ).first()
    cut = ((lo + (hi - lo) // 2) // 3600) * 3600  # 1h-bucket aligned
    head = pages.where(F.unix_timestamp("warc_ts") < cut)
    root = str(tmp_path_factory.mktemp("rt") / "tiers")
    run_retention_pipeline(spark, head, root, enforce_audit=False)
    yield root, pages, cut
    pages.unpersist()


def test_watermark_is_metadata_only(split_root):
    root, pages, cut = split_root
    tier_dir = os.path.join(root, "tier_1h", "data")
    mtimes = {}
    for dirpath, _, files in os.walk(tier_dir):
        for f in files:
            p = os.path.join(dirpath, f)
            mtimes[p] = os.stat(p).st_atime_ns
    w = materialization_watermark(root, "1h")  # no spark handle at all
    assert w is not None
    assert w == (cut // 3600) * 3600 - 3600  # last bucket strictly below cut
    # nothing opened the data files (atime unchanged under relatime is
    # weak evidence; the strong proof is that no SparkSession was given
    # and the call succeeded — the fallback scan path raises without one)


def test_watermark_empty_root(tmp_path):
    assert materialization_watermark(str(tmp_path / "nope"), "1h") is None


@pytest.mark.parametrize("tier_name", ["1h", "1d"])
def test_realtime_equals_full_recompute(spark, split_root, tier_name):
    root, pages, cut = split_root
    got = _canon(read_realtime_tier(spark, root, tier_name, pages))
    exp = _canon(rollup_all_tiers(pages)[tier_name])
    assert got.equals(exp)


def test_realtime_prune_both_sides(spark, split_root):
    """A bucket-range prune must constrain BOTH halves identically."""
    root, pages, cut = split_root
    w = materialization_watermark(root, "1h")
    rng = (w - 3 * 3600, w + 3 * 3600)  # straddles the watermark
    got = _canon(
        read_realtime_tier(spark, root, "1h", pages, prune={"bucket_s": rng})
    )
    exp = rollup_all_tiers(pages)["1h"].where(
        (F.col("bucket_s") >= rng[0]) & (F.col("bucket_s") <= rng[1])
    )
    assert got.equals(_canon(exp))
    # the range genuinely straddles: both halves contribute
    assert (got["bucket_s"] <= w).any() and (got["bucket_s"] > w).any()


def test_realtime_tail_filter_pushes_down(spark, split_root, tmp_path):
    """The raw-tail predicate must reach the parquet scan (PushedFilters
    on the timestamp column), so the raw side never reads history."""
    root, pages, cut = split_root
    raw_path = str(tmp_path / "raw.parquet")
    pages.write.parquet(raw_path)
    raw = spark.read.parquet(raw_path)
    plan = read_realtime_tier(
        spark, root, "1h", raw
    )._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan
    assert any(
        "GreaterThanOrEqual(warc_ts" in line
        for line in plan.splitlines()
        if "PushedFilters" in line
    ), plan


def test_realtime_gapfill(spark, split_root):
    root, pages, cut = split_root
    got = _canon(read_realtime_tier(spark, root, "1h", pages, gapfill=True))
    from lambdo_spark.rollup.tiers import gap_fill

    exp = _canon(gap_fill(rollup_all_tiers(pages)["1h"], 3600))
    assert got.equals(exp)


def test_realtime_empty_tier_serves_all_from_raw(spark, tmp_path):
    pages = generate_pages(spark, 800, seed=33)
    got = _canon(read_realtime_tier(spark, str(tmp_path / "none"), "1h", pages))
    exp = _canon(rollup_all_tiers(pages)["1h"])
    assert got.equals(exp)


@pytest.mark.parametrize("tier_name", ["1d", "30d"])
def test_realtime_cascade_equals_full_recompute(spark, split_root, tier_name):
    """Hierarchical read: fresh side served from the 1h partials store,
    raw scanned only above the STORE's watermark — result identical to
    the raw-tail path and to a full recompute."""
    root, pages, cut = split_root
    got = _canon(
        read_realtime_tier(spark, root, tier_name, pages, cascade=True)
    )
    exp = _canon(rollup_all_tiers(pages)[tier_name])
    assert got.equals(exp)


def test_realtime_cascade_bounds_raw_scan_by_store_watermark(
    spark, split_root, tmp_path
):
    """The raw scan's pushed lower bound must be the 1h store watermark
    (hours above the 30d tier watermark), not the coarse bucket start —
    the point of the cascade: raw tail cost is O(refresh cadence), not
    O(coarse bucket width)."""
    import datetime

    from lambdo_spark.rollup.realtime import _table_watermark
    from lambdo_spark.rollup.incremental import _partials_store

    root, pages, cut = split_root
    raw_path = str(tmp_path / "raw.parquet")
    pages.write.parquet(raw_path)
    raw = spark.read.parquet(raw_path)

    w30 = materialization_watermark(root, "30d")
    w_p = _table_watermark(_partials_store(root), "bucket_s")
    assert w_p > w30  # the cascade genuinely narrows the raw span
    plan = read_realtime_tier(
        spark, root, "30d", raw, cascade=True
    )._jdf.queryExecution().executedPlan().toString()
    bound = datetime.datetime.fromtimestamp(
        w_p, datetime.timezone.utc
    ).strftime("%Y-%m-%d %H:%M:%S")
    assert any(
        f"GreaterThanOrEqual(warc_ts,{bound}" in line
        for line in plan.splitlines()
        if "PushedFilters" in line
    ), plan


def test_realtime_cascade_without_store_falls_back_to_raw(spark, tmp_path):
    """A tier-only root (no partials store) serves the cascade read via
    the plain raw tail — same answer, no error."""
    from pyspark.sql import functions as F

    from lambdo_spark.rollup.tiers import finalize, partials_from_pages
    from lambdo_spark.sources.iceberg_layout import IcebergLayoutTable, with_part

    pages = generate_pages(spark, 2000, seed=37)
    lo, hi = pages.agg(
        F.min(F.unix_timestamp("warc_ts")), F.max(F.unix_timestamp("warc_ts"))
    ).first()
    cut = ((lo + (hi - lo) // 2) // 86400) * 86400
    head = pages.where(F.unix_timestamp("warc_ts") < cut)
    root = str(tmp_path / "tiers")
    tier = finalize(partials_from_pages(head, 86400))
    IcebergLayoutTable(os.path.join(root, "tier_1d")).write_tier(
        with_part(tier), input_snapshot="pages@head"
    )
    got = _canon(read_realtime_tier(spark, root, "1d", pages, cascade=True))
    exp = _canon(rollup_all_tiers(pages)["1d"])
    assert got.equals(exp)


def _fresh_split_root(spark, tmp_path, n=3000, seed=35):
    pages = generate_pages(spark, n, seed=seed)
    lo, hi = pages.agg(
        F.min(F.unix_timestamp("warc_ts")), F.max(F.unix_timestamp("warc_ts"))
    ).first()
    cut = ((lo + (hi - lo) // 2) // 3600) * 3600
    root = str(tmp_path / "tiers")
    run_retention_pipeline(
        spark, pages.where(F.unix_timestamp("warc_ts") < cut), root,
        enforce_audit=False,
    )
    return root, pages


def test_realtime_after_partition_evolution(spark, tmp_path):
    """Evolving the root's partition spec (weekly → daily) must not
    disturb the realtime read: the watermark walk is spec-independent
    (it maxes file stats across whatever parts the snapshot lists) and
    the stitched result still equals a full recompute."""
    from lambdo_spark.rollup.incremental import evolve_root_partitioning

    root, pages = _fresh_split_root(spark, tmp_path)
    w_before = materialization_watermark(root, "1h")
    evolve_root_partitioning(spark, root, 86400)
    assert materialization_watermark(root, "1h") == w_before  # no spark handle
    got = _canon(read_realtime_tier(spark, root, "1h", pages))
    exp = _canon(rollup_all_tiers(pages)["1h"])
    assert got.equals(exp)


def test_realtime_mor_delete_below_watermark_stays_deleted(spark, tmp_path):
    """Documented contract: rows deleted from the tier below the
    watermark stay deleted — the raw tail never resurrects their
    buckets — and the watermark itself (a *processing* threshold from
    file stats) is unmoved by deletes, even of the newest tier rows."""
    from lambdo_spark.rollup.incremental import _tier_table

    root, pages = _fresh_split_root(spark, tmp_path, seed=36)
    w = materialization_watermark(root, "1h")
    full = _canon(rollup_all_tiers(pages)["1h"])
    below = full[full["bucket_s"] < w]
    victim = below.iloc[len(below) // 2]
    url, b0 = victim["url"], int(victim["bucket_s"])

    t = _tier_table(root, "1h")
    s0 = t.current_snapshot()["snapshot_id"]
    snap = t.delete_where(
        spark, f"url = '{url}' AND bucket_s = {b0}", mode="merge-on-read"
    )
    assert snap["snapshot_id"] != s0  # something was deleted

    assert materialization_watermark(root, "1h") == w  # threshold unmoved
    got = _canon(read_realtime_tier(spark, root, "1h", pages))
    exp = full[~((full["url"] == url) & (full["bucket_s"] == b0))].reset_index(
        drop=True
    )
    assert got.equals(exp)
