"""Chain vs direct on seeded random splits: a retention build of a
random base followed by refreshes of the remaining deltas (random
sizes, one empty, applied out of time order so some are late, one tag
replayed) must leave every tier equal to ``rollup_all_tiers`` over all
pages and every compressed table equal to ``compress_tier`` over those
tiers. Also pins the retention guard against double counting."""

import os
import random
from collections import Counter

import pytest

from pyspark.sql import functions as F

from lambdo_spark.rollup.compress_stage import compress_tier
from lambdo_spark.rollup.incremental import read_finalized_tier, refresh_from_pages
from lambdo_spark.rollup.pipeline import RETENTION_TAG, run_retention_pipeline
from lambdo_spark.rollup.tiers import TIER_SECONDS, rollup_all_tiers
from lambdo_spark.sources.iceberg_layout import IcebergLayoutTable
from lambdo_spark.sources.pages import generate_pages

N_PAGES = 1500
N_DELTAS = 4  # non-empty deltas besides the base


def _random_split(pages, rng, seed):
    """Base plus N_DELTAS deltas: time slices between random cut points
    (random sizes), with a quarter of the rows moved to a random other
    slice so deltas also land in weeks other slices fill."""
    t = F.unix_timestamp("warc_ts")
    lo, hi = pages.agg(F.min(t), F.max(t)).first()
    cuts = sorted(rng.uniform(lo, hi) for _ in range(N_DELTAS))
    by_time = sum((t >= F.lit(c)).cast("int") for c in cuts)
    h = F.xxhash64("url", "warc_ts", F.lit(seed))
    moved = F.pmod(h, F.lit(4)) == 0
    at_random = F.pmod(F.shiftright(h, 2), F.lit(N_DELTAS + 1)).cast("int")
    sliced = pages.withColumn("_s", F.when(moved, at_random).otherwise(by_time))
    return [sliced.where(F.col("_s") == i).drop("_s") for i in range(N_DELTAS + 1)]


def _rows(df):
    """Multiset of rows; the lang_hist map becomes its sorted items."""
    if "lang_hist" in df.columns:
        df = df.withColumn("lang_hist", F.to_json("lang_hist"))
    return Counter(tuple(r) for r in df.select(sorted(df.columns)).collect())


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_base_plus_random_deltas_equals_direct(spark, tmp_path, seed):
    rng = random.Random(seed)
    pages = generate_pages(spark, N_PAGES, seed=100 + seed)
    slices = _random_split(pages, rng, seed)
    base_ix = rng.randrange(len(slices))
    deltas = [(f"d{i}", s) for i, s in enumerate(slices) if i != base_ix]
    rng.shuffle(deltas)
    starts = [s.agg(F.min("warc_ts")).first()[0] for _, s in deltas]
    starts = [s for s in starts if s is not None]
    if starts == sorted(starts):
        deltas.reverse()  # at least one delta arrives after a later one
    replay = rng.choice([tag for tag, _ in deltas])
    deltas.insert(rng.randrange(len(deltas) + 1), ("empty", pages.limit(0)))
    deltas.insert(
        rng.randrange([tag for tag, _ in deltas].index(replay) + 1, len(deltas) + 1),
        (replay, dict(deltas)[replay]),
    )

    root = str(tmp_path / "tiers")
    run_retention_pipeline(spark, slices[base_ix], root, enforce_audit=False)
    seen = set()
    for tag, delta in deltas:
        r = refresh_from_pages(spark, delta, root, delta_tag=tag, enforce_audit=False)
        assert (r.get("skipped") == tag) == (tag in seen), (tag, r)
        seen.add(tag)

    full = rollup_all_tiers(pages)
    for tier_name, tsec in TIER_SECONDS.items():
        got = read_finalized_tier(spark, root, tier_name)
        assert _rows(got) == _rows(full[tier_name]), tier_name
        comp = IcebergLayoutTable(os.path.join(root, f"compressed_{tier_name}"))
        exp = compress_tier(full[tier_name], value_col="mean_len", tier_seconds=tsec)
        assert _rows(comp.read_tier(spark).drop("part")) == _rows(exp), tier_name

    # a completed retention root: the build is a no-op even after refreshes
    again = run_retention_pipeline(spark, slices[base_ix], root, enforce_audit=False)
    assert again["skipped"] == RETENTION_TAG
    assert again["snapshots"] == {}


def test_retention_refuses_a_refreshed_root(spark, tmp_path):
    root = str(tmp_path / "tiers")
    pages = generate_pages(spark, 300, seed=5)
    refresh_from_pages(spark, pages, root, delta_tag="d1", enforce_audit=False)
    before = IcebergLayoutTable(os.path.join(root, "partials_1h")).current_snapshot()
    with pytest.raises(ValueError, match="refresh_from_pages") as err:
        run_retention_pipeline(spark, pages, root, enforce_audit=False)
    assert root in str(err.value)
    after = IcebergLayoutTable(os.path.join(root, "partials_1h")).current_snapshot()
    assert after == before
