"""Incremental tier refresh — continuous-aggregate maintenance.

At 10^12 pages a daily crawl delta is ~0.1% of the table, so the
steady-state operation must touch only what changed. This module
maintains the tiers incrementally and EXACTLY, leaning on the same
algebra that makes downsampling exact (SURVEY §7.3: partial+final —
carry (sum, count), min/max, per-lang partial rows; never averages):

* The **durable unit is the 1h partials store** (an Iceberg-layout
  table of ``(url, bucket_s, lang, n_points, sum_len, min_ts,
  max_ts)`` rows, weekly-partitioned on bucket). New pages aggregate
  into *delta partials* (one shuffle over just the delta), which merge
  with the stored partials of the affected weekly partitions only —
  an algebraic groupBy, exact regardless of how many deltas arrived
  or in what order.
* Finalized tiers (1h/1d/30d) are then **rebuilt only for affected
  partitions**, reading the partials store with a partition filter
  (parquet `part=` directory pruning — the unaffected 99.9% is never
  opened). A 30d bucket overlapping a changed week is recomputed from
  ALL its constituent weeks' partials, so cross-partition buckets stay
  exact.
* Every rewrite goes through ``IcebergLayoutTable.overwrite_parts``:
  dynamic partition overwrite + fresh manifest + new snapshot, so a
  crash mid-refresh leaves the previous snapshot readable.
* **Exactly-once is enforced here**, not by the caller's
  orchestration: re-merging a delta into an already-merged store
  would double-count, so the store's merge commit appends the delta
  tag to its ``applied_deltas`` ledger (a replayed tag returns
  ``skipped`` without reading its pages) and records a ``pending``
  marker with the affected weeks. A metadata-only commit clears the
  marker once every tier committed; a later call that finds it set
  first finishes that tier rebuild (``refresh_from_pages``).

Late data needs no special path: a page for any historical bucket
lands in its week's partition and that week (plus any coarser bucket
covering it) is rebuilt — same mechanics as fresh data.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from lambdo_spark.rollup.tiers import (
    TIER_SECONDS,
    downsample,
    finalize,
    partials_from_pages,
)
from lambdo_spark.sources.iceberg_layout import IcebergLayoutTable, with_part

PART_SECONDS = 7 * 86400  # weekly partitions, matching with_part()


def _partials_store(root: str) -> IcebergLayoutTable:
    return IcebergLayoutTable(os.path.join(root, "partials_1h"))


def _tier_table(root: str, tier_name: str) -> IcebergLayoutTable:
    return IcebergLayoutTable(os.path.join(root, f"tier_{tier_name}"))


def _parts_containing_overlapping_buckets(
    aff_weeks: set[int], tsec: int, ps: int = PART_SECONDS
) -> set[int]:
    """Partitions (width ``ps``, weekly by default — the store's
    partition spec) holding any tier bucket that OVERLAPS an affected
    partition. For tsec ≤ ps (1h/1d under weekly) that is the affected
    partitions themselves; a 30d bucket is not week-aligned, so data
    in one partition can change a bucket whose start (= partition)
    lies earlier."""
    parts: set[int] = set()
    for w in aff_weeks:
        b = (w // tsec) * tsec  # first bucket overlapping the partition
        while b < w + ps:
            parts.add((b // ps) * ps)
            b += tsec
    return parts


def _recompress_chunks(
    spark: SparkSession,
    root: str,
    tier_name: str,
    tsec: int,
    rewritten_weeks: set[int],
    chunk_buckets: int,
    ps: int = PART_SECONDS,
) -> dict | None:
    from lambdo_spark.rollup.compress_stage import compress_tier

    span = chunk_buckets * tsec
    chunks: set[int] = set()
    for w in rewritten_weeks:
        c = w // span
        while c * span < w + ps:
            chunks.add(c)
            c += 1
    tier_table = _tier_table(root, tier_name)
    need = {
        p
        for p in tier_table.committed_parts()
        if any(
            int(p) < (c + 1) * span and int(p) + ps > c * span
            for c in chunks
        )
    }
    if not need:
        return None
    src = tier_table.read_parts(spark, need).drop("part")
    src = src.where(
        F.floor(F.col("bucket_s") / F.lit(span)).isin(sorted(chunks))
    )
    comp = compress_tier(
        src, value_col="mean_len", chunk_buckets=chunk_buckets, tier_seconds=tsec
    ).withColumn("part", F.col("chunk"))
    ctable = IcebergLayoutTable(os.path.join(root, f"compressed_{tier_name}"))
    return ctable.overwrite_parts(
        comp,
        [str(c) for c in sorted(chunks)],
        input_snapshot=f"tier_{tier_name}:incremental",
    )


def _rebuild_tiers(
    spark: SparkSession,
    store: IcebergLayoutTable,
    root: str,
    affected: set[str],
    store_snapshot_id: int,
    compress: bool,
    chunk_buckets: int,
    result: dict,
) -> None:
    """Steps 2+3: rebuild affected tier partitions from the merged
    store, then recompress affected chunks. Idempotent — safe to re-run
    after a crash (reads the committed store, overwrites whole
    partitions)."""
    # 2. rebuild affected partitions of each finalized tier from
    #    the (now-merged) store, reading only the weeks needed.
    # A tier row's partition is the week of its bucket START, and
    # dynamic overwrite replaces whole partitions — so every
    # partition containing an affected bucket is rebuilt IN FULL
    # (all its buckets), never partially.
    ps = store.part_spec()["part_seconds"]
    _check_uniform_spec(root, ps)
    aff_weeks = {int(p) for p in affected}
    # per-tier rewrite sets and their source weeks: a bucket starting
    # in a rewritten partition ends at most tsec past it (30d buckets
    # span ~5 weekly partitions)
    plans = {}
    for tier_name, tsec in TIER_SECONDS.items():
        parts_to_rewrite = _parts_containing_overlapping_buckets(
            aff_weeks, tsec, ps
        )
        need_weeks = set()
        for p in parts_to_rewrite:
            w = p
            while w < p + ps + tsec:
                need_weeks.add(str(w))
                w += ps
        plans[tier_name] = (tsec, parts_to_rewrite, need_weeks)
    # ONE store scan for all three tiers: the union of the need sets
    # (in practice the 30d superset), persisted because every tier's
    # rebuild consumes it (without the cache each tier re-reads the
    # store); the per-tier need filter is a partition-column predicate
    # on the cached frame, so no tier reads weeks it doesn't need twice
    union_weeks = set().union(*(nw for _, _, nw in plans.values()))
    src_all = store.read_parts(spark, union_weeks)
    if src_all is None:
        return
    src_all = src_all.persist()
    try:
        for tier_name, (tsec, parts_to_rewrite, need_weeks) in plans.items():
            if not parts_to_rewrite:
                continue
            src = src_all.where(
                F.col("part").cast("string").isin(sorted(need_weeks))
            )
            part1h = src.drop("part")
            tier_partials = (
                part1h
                if tsec == TIER_SECONDS["1h"]
                else downsample(part1h, tsec)
            )
            out = with_part(finalize(tier_partials), part_seconds=ps)
            out = out.where(
                F.col("part").isin(sorted(parts_to_rewrite))
            )
            tsnap = _tier_table(root, tier_name).overwrite_parts(
                out,
                [str(p) for p in sorted(parts_to_rewrite)],
                input_snapshot=f"partials@{store_snapshot_id}",
            )
            result["affected_parts"][tier_name] = sorted(
                str(p) for p in parts_to_rewrite
            )
            result["snapshots"][tier_name] = tsnap
    finally:
        src_all.unpersist()

    # 3. recompress only the chunks whose buckets changed — the
    # compressed tables partition on chunk id, and a chunk blob
    # covers its whole span, so affected chunks rebuild in full
    # from the (just-refreshed) finalized tier
    if compress:
        for tier_name, tsec in TIER_SECONDS.items():
            if tier_name not in result["affected_parts"]:
                continue
            csnap = _recompress_chunks(
                spark,
                root,
                tier_name,
                tsec,
                {int(p) for p in result["affected_parts"][tier_name]},
                chunk_buckets,
                ps,
            )
            if csnap is not None:
                result["affected_parts"][f"compressed_{tier_name}"] = csnap[
                    "new_parts"
                ]
                result["snapshots"][f"compressed_{tier_name}"] = csnap


def refresh_from_pages(
    spark: SparkSession,
    new_pages: DataFrame,
    root: str,
    delta_tag: str = "",
    compress: bool = True,
    chunk_buckets: int = 4096,
    enforce_audit: bool = True,
) -> dict:
    """Merge a pages delta into the partials store and rebuild only
    the affected partitions of every finalized tier.

    Crash-safe two-commit protocol: the store's merge commit records
    the delta tag (exactly-once — a retry never re-merges) AND a
    ``pending`` marker with the affected weeks; after every tier /
    compressed table committed, a metadata-only commit clears the
    marker. A retry (same or any later delta) that finds a pending
    marker re-runs the idempotent tier rebuild for those weeks before
    (or along with) its own — finalized tiers can never be left
    permanently stale by a crash between commits.

    Returns {"affected_parts": {...}, "snapshots": {...}} per tier.
    """
    store = _partials_store(root)
    prev = store.current_snapshot()
    if prev is None:
        # refuse to refresh a root whose tiers exist without a partials
        # store: rebuilding from a delta-only store would overwrite
        # committed partitions with delta-only aggregates (data loss).
        # such a root predates the store; rebuild it into an empty
        # root with run_retention_pipeline.
        existing_tiers = [
            t for t in TIER_SECONDS
            if os.path.exists(
                os.path.join(root, f"tier_{t}", "metadata", "CURRENT")
            )
        ]
        if existing_tiers:
            raise ValueError(
                f"tier tables {existing_tiers} exist under {root} but no "
                "partials_1h store does — refresh would destroy base rows. "
                "Rebuild it into an empty root with run_retention_pipeline."
            )
    prev = prev or {}
    applied = list(prev.get("applied_deltas", []))
    pending = prev.get("pending") or None
    pending_parts: set[str] = set(pending["parts"]) if pending else set()

    # exactly-once per delta_tag: the store's merge commit carries the
    # ledger of applied tags; a retried/duplicated delta never
    # re-merges (refresh is NOT idempotent without this)
    if delta_tag and delta_tag in applied:
        result: dict = {"affected_parts": {}, "snapshots": {}, "skipped": delta_tag}
        if pending_parts:
            # the merge committed but a crash interrupted the tier
            # rebuild — finish it now from the already-merged store
            result["resumed"] = pending["tag"]
            result["affected_parts"]["partials_1h"] = sorted(pending_parts)
            _rebuild_tiers(
                spark, store, root, pending_parts, prev["snapshot_id"],
                compress, chunk_buckets, result,
            )
            _clear_pending(store, pending["tag"], expect=pending)
        return result

    # the audit gates only pages that will be merged: a replayed tag
    # returned above without scanning them
    if enforce_audit:
        from lambdo_spark.rollup.audit import audit_summary

        a = audit_summary(new_pages).collect()[0]
        if a["violations"]:
            raise ValueError(
                f"hash audit failed on delta: {a['violations']}/"
                f"{a['total_rows']} rows have non-byte-identical text"
            )
    ps = store.part_spec()["part_seconds"]
    _check_uniform_spec(root, ps)
    delta = with_part(
        partials_from_pages(new_pages, TIER_SECONDS["1h"]),
        part_seconds=ps,
    ).persist()
    delta_parts = {str(r[0]) for r in delta.select("part").distinct().collect()}
    # a crashed predecessor's pending weeks ride along with this delta
    affected = delta_parts | pending_parts
    result = {"affected_parts": {}, "snapshots": {}}
    try:
        if not affected:
            if delta_tag:
                # nothing to merge, but the tag is applied: record it
                # so a replay (or a second retention build) is skipped
                store.commit_metadata(
                    input_snapshot=f"delta:{delta_tag}",
                    extra={"applied_deltas": applied + [delta_tag]},
                    expect_extra={"applied_deltas": prev.get("applied_deltas")},
                )
            return result

        # 1. merge delta into the stored partials of affected weeks
        #    (only the weeks the DELTA touches get rewritten — pending
        #    weeks are already merged in the store)
        if delta_parts:
            # delta partials are unique per key already; only weeks the
            # store holds need the algebraic merge (a bulk build into
            # an empty root writes the delta as is)
            merged = delta
            existing = store.read_parts(spark, delta_parts)
            if existing is not None:
                merged = with_part(
                    downsample(
                        delta.drop("part").unionByName(existing.drop("part")),
                        TIER_SECONDS["1h"],
                    ),
                    part_seconds=ps,
                )
            snap = store.overwrite_parts(
                merged,
                sorted(delta_parts),
                input_snapshot=f"delta:{delta_tag}",
                extra={
                    "applied_deltas": applied
                    + ([delta_tag] if delta_tag else []),
                    "pending": {
                        "tag": delta_tag or "untagged",
                        "parts": sorted(affected),
                    },
                },
                # CAS: this commit's ledger/pending were derived from
                # `prev` — a concurrent refresh moving either key in
                # the window would have its entry silently dropped
                # (double-merge on ITS retry). Conflict -> raise, the
                # caller re-runs against the fresh snapshot.
                expect_extra={
                    "applied_deltas": prev.get("applied_deltas"),
                    "pending": prev.get("pending"),
                },
            )
        else:
            snap = prev
        result["affected_parts"]["partials_1h"] = sorted(affected)
        result["snapshots"]["partials_1h"] = snap

        _rebuild_tiers(
            spark, store, root, affected, snap["snapshot_id"],
            compress, chunk_buckets, result,
        )

        # all downstream tables committed — clear the pending marker
        _clear_pending(
            store,
            delta_tag or "untagged",
            expect={
                "tag": delta_tag or "untagged", "parts": sorted(affected)
            },
        )
    finally:
        delta.unpersist()
    return result


def _check_uniform_spec(root: str, ps: int) -> None:
    """Single-spec invariant across the root: tier part math derives
    every tier's partition keys from the STORE's width. A crashed
    evolve_root_partitioning can leave tiers on the old width —
    rebuilding would overwrite a week-keyed partition with a day's
    rows (silent data loss). Detect and refuse; the remedy is
    idempotent (re-run evolve_root_partitioning: per-table evolution
    no-ops tables already at the target spec, completes the rest)."""
    mixed = {}
    for tier_name in TIER_SECONDS:
        tdir = os.path.join(root, f"tier_{tier_name}", "metadata", "CURRENT")
        if not os.path.exists(tdir):
            continue
        tps = _tier_table(root, tier_name).part_spec()["part_seconds"]
        if tps != ps:
            mixed[tier_name] = tps
    if mixed:
        raise ValueError(
            f"partition specs diverge across the root: partials store is "
            f"{ps}s but {mixed} — an interrupted evolve_root_partitioning? "
            f"Re-run evolve_root_partitioning(spark, root, {ps}) to bring "
            f"every table to one spec (idempotent), then retry the refresh."
        )


def _clear_pending(store, tag: str, expect: dict) -> None:
    """Clear the pending-refresh marker with a CAS on its value: if a
    CONCURRENT refresh replaced the marker after this one's merge
    commit, that refresh's pending covers these weeks too (pending
    parts ride along into every later refresh), so ownership of the
    clear transferred — leave THEIR marker for them to clear rather
    than clobbering it."""
    from lambdo_spark.sources.iceberg_layout import ConcurrentWriteConflict

    try:
        store.commit_metadata(
            input_snapshot=f"refresh-complete:{tag}",
            extra={"pending": None},
            expect_extra={"pending": expect},
        )
    except ConcurrentWriteConflict:
        pass


def evolve_root_partitioning(
    spark: SparkSession, root: str, part_seconds: int
) -> dict:
    """Evolve the partition width of a whole retention/refresh root —
    the partials store and every tier table in lockstep, each as one
    atomic rewrite commit (``IcebergLayoutTable.evolve_partitioning``).
    The refresh part math derives widths from the STORE's spec, so the
    root must stay uniform; compressed tables partition on chunk id
    and are untouched. Use case: a table growing past ~10^3 files per
    weekly partition moves to daily partitions without downtime —
    readers on prior snapshots keep the old layout (MVCC), and the
    next refresh just works."""
    out: dict = {}
    tables = {"partials_1h": _partials_store(root)}
    for t in TIER_SECONDS:
        if os.path.exists(os.path.join(root, f"tier_{t}", "metadata", "CURRENT")):
            tables[f"tier_{t}"] = _tier_table(root, t)
    for name, tab in tables.items():
        out[name] = tab.evolve_partitioning(
            part_seconds, spark=spark, rewrite=True
        )
    return out


def read_finalized_tier(
    spark: SparkSession,
    root: str,
    tier_name: str,
    gapfill: bool = False,
    prune: dict | None = None,
) -> DataFrame:
    """Committed snapshot view of an incrementally-maintained tier.

    ``gapfill=True`` densifies each key's bucket series at READ time
    (TimescaleDB-style): stored tiers hold only real rows — both the
    retention and refresh write paths — because materialized gap rows
    cannot be maintained incrementally (a delta that extends a key's
    max bucket would need gap rows inserted across arbitrarily many
    *unaffected* old partitions) and inflate tier storage ~10×.

    ``prune`` ({col: (lo, hi)} or {col: value}, e.g.
    ``{"bucket_s": (t0, t1)}`` or ``{"url": u}``) skips data files via
    the manifest column stats recorded at write time — a per-url or
    time-range read touches only the files whose min/max ranges can
    match, with the range re-applied as a residual predicate (exact
    results; see ``IcebergLayoutTable.plan_files``). Gap-fill then
    densifies only the surviving keys' series.
    """
    from lambdo_spark.rollup.tiers import gap_fill

    df = _tier_table(root, tier_name).read_tier(spark, prune=prune).drop("part")
    if gapfill:
        df = gap_fill(df, TIER_SECONDS[tier_name])
    return df
