"""Partition spec evolution (Iceberg's partition evolution adapted to
the single-spec invariant): spec metadata, spec-aware with_part, the
atomic rewrite commit, time travel across the evolution, and an
incremental refresh on an evolved root matching a full recompute."""

import os

import pytest
from pyspark.sql import functions as F

from lambdo_spark.rollup.incremental import (
    evolve_root_partitioning,
    read_finalized_tier,
    refresh_from_pages,
)
from lambdo_spark.rollup.pipeline import run_retention_pipeline
from lambdo_spark.rollup.tiers import rollup_all_tiers
from lambdo_spark.sources.iceberg_layout import (
    DEFAULT_PART_SECONDS,
    ConcurrentWriteConflict,
    IcebergLayoutTable,
)
from lambdo_spark.sources.pages import generate_pages

DAY = 86400


def _tier_rows(spark, n=400, seed=7):
    """Small keyed tier-shaped frame spanning a few weeks."""
    return spark.range(n).select(
        (F.col("id") % 13).alias("url"),
        (F.col("id") * 7200).alias("bucket_s"),
        F.lit(1).alias("n_points"),
    )


def _canon(df):
    return sorted(
        tuple(r) for r in df.select("url", "bucket_s", "n_points").collect()
    )


def test_default_spec_and_empty_evolution(spark, tmp_path):
    t = IcebergLayoutTable(str(tmp_path / "t"))
    assert t.part_spec()["part_seconds"] == DEFAULT_PART_SECONDS
    snap = t.evolve_partitioning(DAY)  # empty: metadata-only
    assert snap["part_spec_id"] == 1 and snap["parts"] == {}
    assert t.part_spec()["part_seconds"] == DAY
    # writes now bucket daily via the spec-aware with_part
    df = t.with_part(_tier_rows(spark))
    t.write_tier(df, input_snapshot="first")
    parts = sorted(int(p) for p in t.part_versions())
    assert all(p % DAY == 0 for p in parts)
    assert any(p % DEFAULT_PART_SECONDS != 0 for p in parts)  # genuinely daily
    # spec id carries through ordinary commits
    assert t.current_snapshot()["part_spec_id"] == 1


def test_evolution_with_data_requires_rewrite(spark, tmp_path):
    t = IcebergLayoutTable(str(tmp_path / "t"))
    t.write_tier(t.with_part(_tier_rows(spark)), input_snapshot="base")
    with pytest.raises(ValueError, match="rewrite=True"):
        t.evolve_partitioning(DAY)
    with pytest.raises(ValueError, match="spark"):
        t.evolve_partitioning(DAY, rewrite=True)


def test_rewrite_evolution_atomic_and_time_travelable(spark, tmp_path):
    t = IcebergLayoutTable(str(tmp_path / "t"))
    rows = _tier_rows(spark)
    before = t.write_tier(t.with_part(rows), input_snapshot="base")
    weekly_parts = set(t.part_versions())
    snap = t.evolve_partitioning(DAY, spark=spark, rewrite=True)
    assert snap["part_spec_id"] == 1
    daily_parts = set(t.part_versions())
    assert daily_parts != weekly_parts
    assert all(int(p) % DAY == 0 for p in daily_parts)
    # same rows, new layout
    assert _canon(t.read_tier(spark)) == _canon(rows)
    # time travel to the pre-evolution snapshot: old layout intact
    old = t.read_tier(spark, snapshot_id=before["snapshot_id"])
    assert _canon(old) == _canon(rows)
    assert set(t.snapshot(before["snapshot_id"])["parts"]) == weekly_parts
    # no-op when already at the requested width
    assert t.evolve_partitioning(DAY)["snapshot_id"] == snap["snapshot_id"]


def test_spec_pointer_cas(spark, tmp_path):
    t = IcebergLayoutTable(str(tmp_path / "t"))
    t.evolve_partitioning(DAY)
    with pytest.raises(ConcurrentWriteConflict, match="part_spec_id"):
        # a committer that derived its work from the pre-evolution
        # spec (part_spec_id absent) must fail the metadata CAS
        t._commit(
            {"input_snapshot": "stale", "new_parts": [], "part_col": "part"},
            update={}, base_versions={},
            expect_extra={"part_spec_id": None},
        )


def test_refresh_on_evolved_root_matches_full_recompute(spark, tmp_path):
    root = str(tmp_path / "tiers")
    d1 = generate_pages(spark, 2000, seed=41)
    d2 = generate_pages(spark, 2000, seed=42)
    run_retention_pipeline(spark, d1, root, enforce_audit=False)
    evolved = evolve_root_partitioning(spark, root, DAY)
    assert set(evolved) >= {"partials_1h", "tier_1h", "tier_1d", "tier_30d"}
    r = refresh_from_pages(spark, d2, root, delta_tag="d2", enforce_audit=False)
    assert all(int(p) % DAY == 0 for p in r["affected_parts"]["partials_1h"])
    full = rollup_all_tiers(d1.unionByName(d2))
    for tier_name in ("1h", "1d", "30d"):
        got = read_finalized_tier(spark, root, tier_name)
        exp = full[tier_name]
        g = got.select("url", "bucket_s", "n_points").toPandas().sort_values(
            ["url", "bucket_s"]).reset_index(drop=True)
        e = exp.select("url", "bucket_s", "n_points").toPandas().sort_values(
            ["url", "bucket_s"]).reset_index(drop=True)
        assert g.equals(e), tier_name


def test_retention_pipeline_respects_evolved_spec(spark, tmp_path):
    """Evolve an EMPTY root to daily, then run retention — every table
    must land daily partitions (pipeline writes are spec-aware)."""
    root = str(tmp_path / "tiers")
    store = IcebergLayoutTable(os.path.join(root, "partials_1h"))
    store.evolve_partitioning(DAY)
    for t in ("1h", "1d", "30d"):
        IcebergLayoutTable(os.path.join(root, f"tier_{t}")).evolve_partitioning(DAY)
    run_retention_pipeline(
        spark, generate_pages(spark, 1200, seed=5), root, enforce_audit=False
    )
    for name in ("partials_1h", "tier_1h", "tier_1d", "tier_30d"):
        tab = IcebergLayoutTable(os.path.join(root, name))
        parts = [int(p) for p in tab.part_versions()]
        assert parts and all(p % DAY == 0 for p in parts), name
        assert any(p % DEFAULT_PART_SECONDS != 0 for p in parts), name


def test_refresh_refuses_mixed_spec_root_and_evolve_recovers(spark, tmp_path):
    """Crash-interrupted evolve (store evolved, tiers not): the next
    refresh must REFUSE (rebuilding would key a day's rows into weekly
    partitions — silent data loss), and re-running evolve must
    complete the remaining tables (per-table evolution is idempotent),
    after which refresh succeeds."""
    import pytest

    root = str(tmp_path / "tiers")
    d1 = generate_pages(spark, 1500, seed=41)
    run_retention_pipeline(spark, d1, root, enforce_audit=False)
    # simulate the crash: only the store reaches the new spec
    IcebergLayoutTable(os.path.join(root, "partials_1h")).evolve_partitioning(
        DAY, spark=spark, rewrite=True
    )
    d2 = generate_pages(spark, 800, seed=42)
    with pytest.raises(ValueError, match="diverge"):
        refresh_from_pages(spark, d2, root, delta_tag="dx", enforce_audit=False)
    # recovery: evolve the whole root (store no-ops, tiers evolve)
    evolve_root_partitioning(spark, root, DAY)
    r = refresh_from_pages(spark, d2, root, delta_tag="dx2", enforce_audit=False)
    assert r["affected_parts"]["partials_1h"]
