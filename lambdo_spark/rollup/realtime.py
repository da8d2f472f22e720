"""Real-time continuous aggregates: materialized tier ∪ raw tail.

TimescaleDB's real-time continuous aggregate read (and Druid's
lambda-architecture query path): buckets at or below the
**materialization watermark** are served from the finalized tier table
(pre-aggregated, compressed, stat-pruned reads), buckets above it are
rolled up on the fly from the raw table's un-materialized tail. The
stitched result is what a full recompute over all raw rows would
return — without rescanning the materialized history.

The reference computes every aggregate from scratch on each
``wf.execute()`` (/root/reference/lambdo/Workflow.py:91-115 re-runs the
whole populate/evaluate DAG); a 100 TB table cannot re-aggregate years
of history to answer "this hour so far", which is exactly the gap this
read path closes.

Scale notes (the 100 TB consideration):

- The watermark is **metadata-only**: the max ``bucket_s`` across the
  tier's manifest file column stats (the same per-file min/max the
  write path records for scan pruning). No Spark job, no data IO —
  O(committed parts) small-JSON reads on the driver, identical cost
  shape to Iceberg's driver-side planning.
- The raw tail filter is a plain ``ts >= timestamp_seconds(W + tier)``
  comparison on the timestamp column, so it reaches the parquet scan
  as a pushed filter: the raw side reads only the tail files, never
  the materialized history.
- The materialized side goes through ``read_finalized_tier`` and keeps
  its stat-pruned, gap-fill-at-read behavior.

Semantics: the newest materialized bucket W is re-aggregated from raw
(it may be partial — ingestion rarely stops on a bucket boundary);
buckets strictly below W are served as materialized, so rows that
arrive *late* into them are invisible until the next
``refresh_from_pages`` — the same contract as TimescaleDB's
materialization threshold. Rows deleted from the tier (row-level
DELETE) below W stay deleted; the raw tail never resurrects those
buckets.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from lambdo_spark.rollup.incremental import (
    TIER_SECONDS,
    _tier_table,
    read_finalized_tier,
)
from lambdo_spark.rollup.tiers import (
    downsample,
    finalize,
    gap_fill,
    partials_from_table,
)

__all__ = ["materialization_watermark", "read_realtime_tier"]


def materialization_watermark(
    root: str,
    tier_name: str,
    col: str = "bucket_s",
) -> int | None:
    """Max materialized ``bucket_s`` of a tier — metadata-only.

    Walks the current snapshot's manifests and takes the max of the
    per-file column stats the write path records (no Spark job, no
    data file IO). Position/equality deletes are ignored on purpose:
    the watermark is a *processing* threshold ("everything ≤ W was
    materialized"), not a row max — deleting the newest tier rows must
    not re-open their buckets to the raw tail.

    A data file without a ``col`` stat raises ``ValueError`` naming
    the file. Returns ``None`` for an empty/absent tier.
    """
    return _table_watermark(_tier_table(root, tier_name), col)


def _table_watermark(t, col: str) -> int | None:
    snap = t.current_snapshot()
    if snap is None:
        return None
    hi: int | None = None
    for p, v in t._version_pairs(snap):
        for fr in t._manifest(p, v)["files"]:
            st = fr["stats"].get(col)
            if st is None or st[1] is None:
                raise ValueError(
                    f"table {t.root}: data file {fr['path']} records no "
                    f"max {col} stat, so the watermark is unknown"
                )
            hi = int(st[1]) if hi is None else max(hi, int(st[1]))
    return hi


def read_realtime_tier(
    spark: SparkSession,
    root: str,
    tier_name: str,
    raw: DataFrame,
    url_col: str = "url",
    ts_col: str = "warc_ts",
    text_col: str = "text",
    lang_col: str = "lang",
    measure=None,
    gapfill: bool = False,
    prune: dict | None = None,
    watermark: int | None = None,
    cascade: bool = False,
) -> DataFrame:
    """Finalized tier rows ∪ fresh rollup of the raw tail.

    ``raw`` is the full raw table (pages-shaped by default; pass
    ``measure``/``cat`` columns for other shapes — same knobs as
    ``partials_from_table``). Only rows in buckets strictly above the
    materialization watermark are aggregated; the filter is a direct
    timestamp comparison, so it pushes down to the raw scan.

    ``prune`` is forwarded to the materialized read (manifest-stat file
    skipping) and re-applied to the fresh side as a plain filter, so
    both halves see the same predicate.

    ``cascade=True`` (coarse tiers only) is the hierarchical read
    TimescaleDB's tiered caggs do: the fresh side's history comes from
    the durable **1h partials store** instead of raw, and raw is
    scanned only ABOVE the store's own watermark. Without it, a
    realtime 30d read re-aggregates the whole un-materialized edge
    bucket — up to 30 *days* of raw — from the pages table; with it,
    the raw tail is bounded by the store's refresh cadence (≤ 1h for
    an hourly refresh) no matter how wide the coarse bucket is. The
    merge is exact **for in-order arrivals** (event ts at/above the
    store watermark): store rows are algebraic 1h partials, and
    ``downsample`` re-aggregates them with the raw-derived partials in
    one union. Late-data caveat: cascade widens the blind window for
    stragglers — a raw row with event ts in [tier watermark, store
    watermark) is not yet in the store and is no longer scanned from
    raw, so it surfaces only after the next partials refresh, whereas
    the non-cascade read (which scans raw from the tier watermark)
    includes it immediately. Requires a retention/refresh-built root
    (those always
    persist the store); ``measure``/``lang_col`` must match what the
    store was built from, same contract as ``refresh_from_pages``.
    """
    tsec = TIER_SECONDS[tier_name]
    w = (
        watermark
        if watermark is not None
        else materialization_watermark(root, tier_name)
    )
    if measure is None:
        measure = F.length(F.col(text_col)).cast("long")
    store_partials = None
    if w is None:
        # nothing materialized yet — the whole read is the fresh path
        mat, tail = None, raw
    else:
        # The newest materialized bucket W may be PARTIAL — ingestion
        # rarely stops on a bucket boundary (a 1h-aligned cutoff leaves
        # the 1d/30d edge buckets half-full). Serve materialized rows
        # strictly below W and re-aggregate W itself along with the
        # tail: one extra bucket of rebuild buys correctness at every
        # tier regardless of where ingestion stopped. W stays a literal
        # here and in the tail filter below, although codegen inlines
        # it and so compiles these filters anew for each watermark:
        # only a literal bound reaches the parquet scan as a pushed
        # filter, and row-group pruning of the tail and the tier needs it.
        mat = read_finalized_tier(spark, root, tier_name, prune=prune).where(
            F.col("bucket_s") < F.lit(w)
        )
        raw_from = w
        if cascade and tsec > 3600:
            from lambdo_spark.rollup.incremental import _partials_store

            store = _partials_store(root)
            w_p = _table_watermark(store, "bucket_s")
            if w_p is not None and w_p > w:
                # 1h partials in [w, w_p) replace that span of raw; the
                # store's own (possibly partial) newest hour w_p is
                # re-aggregated from raw, same edge rule as the tier
                store_partials = store.read_tier(
                    spark, prune={"bucket_s": (w, w_p - 1)}
                ).drop("part")
                raw_from = w_p
        # direct column comparison with a literal bound (not
        # unix_timestamp(col) >= ..., and not a bound codegen could
        # pass by reference) so the predicate reaches the parquet scan
        # as a pushed filter
        tail = raw.where(
            F.col(ts_col) >= F.timestamp_seconds(F.lit(raw_from))
        )
    fresh_partials = partials_from_table(
        tail,
        3600 if store_partials is not None else tsec,
        key_col=url_col,
        ts_col=ts_col,
        cat_col=lang_col,
        measure=measure,
    )
    if store_partials is not None:
        fresh_partials = downsample(
            store_partials.unionByName(fresh_partials), tsec
        )
    fresh = finalize(fresh_partials)
    if prune:
        for c, bound in prune.items():
            if c not in fresh.columns:
                continue
            if isinstance(bound, (tuple, list)):
                lo, hi = bound
                if lo is not None:
                    fresh = fresh.where(F.col(c) >= F.lit(lo))
                if hi is not None:
                    fresh = fresh.where(F.col(c) <= F.lit(hi))
            else:
                fresh = fresh.where(F.col(c) == F.lit(bound))
    out = fresh if mat is None else mat.unionByName(fresh)
    if gapfill:
        # output schema always keys on "url" (partials_from_table
        # aliases key_col → url; the stored tier matches)
        out = gap_fill(out, tsec, key="url")
    return out
