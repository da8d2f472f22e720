"""Regenerate PLANS.md — explain(formatted) captures of the
load-bearing physical plans with what-to-look-for commentary, then the
prose sections (``NOTES``) whose evidence lives in test pins. The
whole file is written here; edit this script, not PLANS.md.

Usage: python tools/gen_plans.py
"""

from __future__ import annotations

import contextlib
import io
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from lambdo_spark.operators import column_ops as C  # noqa: E402
from lambdo_spark.rollup.compress_stage import compress_tier  # noqa: E402
from lambdo_spark.rollup.tiers import (  # noqa: E402
    TIER_SECONDS,
    downsample,
    finalize,
    gap_fill,
    partials_from_pages,
)
from lambdo_spark.session import get_spark  # noqa: E402
from lambdo_spark.sources.pages import generate_pages  # noqa: E402


# Sections whose evidence is a test pin rather than one captured plan:
# written out as prose after the captured plans.
NOTES = [
    (
        "MinHash-LSH band shuffle (round 3: ids only, no text)",
        """
What to look for (pinned by
tests/test_dedup.py::test_minhash_band_shuffle_carries_no_text):
- the `Generate posexplode(bnd)` node and the band-key Exchange carry
  `[id, band_ix, band_key]` — the document text does NOT ride the
  band explode or the bucket self-join. Before round 3, `txt` rode
  both: at 16 bands the exchange moved ~16× corpus bytes (1.6 PB of
  shuffle per 100 TB of corpus) and the candidate join doubled it
  again as `txt_a`/`txt_b`.
- text enters exactly twice, joined BY ID onto the already-
  `dropDuplicates`-deduplicated candidate pairs — candidate volume ≈
  LSH collisions, orders of magnitude below docs×bands.
- shuffle volume for the band stage is now ~24 B × docs × bands
  (fixed-width id+two longs), independent of document size.
""",
    ),
    (
        "Merge-on-read read path (round 3: O(merges) scans, metadata schemas)",
        """
Two plan-build properties on stacked-DML tables:
- equality-delete files group by their commit SEQUENCE into one
  multi-path scan each (all of a commit's per-partition delete files
  share a seq): 3 stacked merges = 3 delete scans, however many
  partitions each touched. Per-file scans planned
  O(partitions × merges) reads — 41 scans and seconds of plan build
  on a 13-partition benchmark table.
- every data/delete read passes an explicit schema derived from the
  table's registered schema metadata (field dtypes ARE Spark DDL) —
  no parquet footer-inference job at plan time, the
  metadata-not-footers contract real Iceberg has. Plan building no
  longer scales with file count; narrower historical files
  (int→bigint / float→double promotions) upcast at scan.
""",
    ),
    (
        "Training-data ops added late round 3 (plan discipline)",
        """
Pins in tests/test_plans.py (`test_sample_stratified_no_single_partition`,
`test_boilerplate_counts_partial_agg`, `test_connected_components_star_plan`):

- **sample_stratified** — both ranking windows are key-partitioned
  ((strata, salt) then strata): `SinglePartition` never appears, so the
  worst task ranks `stratum/salt_buckets` rows, not a stratum and not
  the corpus. Proportional mode's count aggregate groups on the same
  strata key the window shuffles on.
- **remove_boilerplate_lines** — the line-frequency count shows
  `partial_` aggregates before its exchange (map-side combine over
  corpus lines); reassembly is a per-doc groupBy with `array_sort`
  inside the aggregate — no global sort, no SinglePartition.
- **connected_components (large-star/small-star)** — each round is a
  `partial_min`-combined groupBy plus a join back on the SAME key; no
  `collect_set` neighbor arrays (a boilerplate mega-cluster hub with
  degree 10^7 stays a streaming min, not an in-memory array), no
  SinglePartition. Rounds are O(log² n) with edges localCheckpoint'ed,
  so the physical plan per round is constant-depth.
""",
    ),
    (
        "Round-4 plan discipline (hash keys, codegen paths, multiprobe)",
        """
Pins in tests/test_plans.py
(`test_dedup_spans_count_exchange_fixed_width_key`,
`test_dedup_spans_plan_no_interpreted_lambda`,
`test_lm_score_plan_codegen_and_partial_agg`,
`test_decontaminate_plan_no_interpreted_lambda`, plus
`test_boilerplate_counts_partial_agg`'s new anti-join asserts and
test_dedup.py's multiprobe no-crossJoin pin):

- **span dedup (exact_substr)** — the corpus-wide window count
  exchange carries `unhex(md5(window))` (16-byte binary, computed in
  the map-side projection) — never the ~L-token window string; no
  Aggregate groups on an `array_join` expression. Window construction
  is `Generate(explode(sequence))` + `slice`/`array_join` in a plain
  projection (whole-stage codegen); the only `transform` lambda left
  is the per-doc reassembly, whose input is one document's tokens.
  The duplicated-window set BROADCASTS into the occurrence join (one
  `Exchange hashpartitioning(_ng)` total in the executed plan).
- **boilerplate removal** — line counts group on `unhex(md5(line))`;
  removal is a LEFT ANTI join against the (small) over-threshold set
  with null-safe group matching — the corpus-lines frame is never
  inner-joined against the full count table.
- **MinHash bucket cap** — the flood-bucket filter is a LEFT ANTI
  join against the over-cap set only (AQE broadcasts it at runtime);
  previously every exploded (id, band) row sort-merge-joined the full
  bucket-size table.
- **lm_score** — bigrams via `posexplode` + `element_at` (no
  interpreted higher-order lambda anywhere in the optimized plan);
  bigram/context counts `partial_`-combine; contexts and vocabulary
  derive from the c12 count table, not a corpus re-scan; the single
  `SinglePartition` in the plan is the vocabulary-size count over the
  already-distinct token set (|V| rows).
- **multi-probe embedding dedup** — the implicit sub-0.7 path plans
  the bucket self-join + exact re-rank (ids-only bucket exchange);
  `Cross` join never appears unless `exact=True` is passed.
- **decontaminate** — n-gram explode is Generate + plain projection
  on both the plain and hash64-prefilter paths; the prefilter
  broadcasts 8-byte hashes and re-verifies candidates against the
  strings with a second (broadcast) semi-join.
""",
    ),
    (
        "Continuation-session plans (series analytics + retrieval + SemDeDup)",
        """
The plan shape for each new operator, and which check pins it:

- **ewma** — one `Exchange hashpartitioning(keys)`, a `Sort` on
  (keys, order) within each partition, then `MapInPandas`: one Python
  call per Arrow batch runs pandas' grouped ewm over the batch's whole
  series (a series cut by the batch end is held back for the next
  batch), never one call per series. No other shuffle, no
  row-at-a-time Python (pinned: tests/test_analytics.py
  `test_ewma_plans_one_exchange_and_a_batch_map`). A series never
  splits across tasks; the unit of work is the per-key series, which
  is bounded by the retention window on tier input.
- **cusum** — ONE exchange + ONE sort: the cumulative-sum windows and
  their running extrema all share `partitionBy(keys).orderBy(order)`,
  so Catalyst chains the Window nodes over the same sort without
  re-exchanging (pinned: tests/test_analytics.py
  `test_cusum_one_exchange_one_sort`).
- **anomaly_seasonal** — one exchange on (keys, phase); avg/stddev/
  count share a single window frame; everything whole-stage codegen.
- **corr_pairs** — the self-join runs AFTER aggregation (|series|·
  |buckets| rows), and `corr` is an algebraic aggregate (co-moment
  partials, map-side combined). The `max_series` guard is a filter on
  the join's left side over a distinct-count scalar subquery
  (`raise_error` past the bound): no job runs while the plan is built
  (pinned: tests/test_analytics.py
  `test_corr_pairs_guard_builds_without_a_job`).
- **bm25 / tfidf** — doc lengths come from `size(tokens)` (no
  explode, no shuffle) and tf materializes only for the broadcast
  query/vocab terms (semi-join BEFORE the (doc, term) groupBy) —
  measured 5× at 500k docs vs aggregating the full vocabulary; df is
  a window over the filtered tf frame so the corpus tokenize appears
  ONCE in the physical plan (pinned: tests/test_ir.py single-Generate
  + broadcast pins); the only non-broadcast join is tf-to-dl on
  doc_id, corpus-sized on both sides where a hash shuffle is the
  right plan.
- **semdedup (matmul)** — zero-shuffle centroid assignment (Arrow
  matmul against the broadcast codebook), then ONE exchange on
  cluster_id into the per-cell blocked-Gram kernel; pair work is
  vectorized BLAS, never |cell|² engine rows. The `join` method
  keeps the relational form for cross-checking (both pinned equal in
  tests/test_semdedup.py).
- **bpe** — training: corpus scanned once (word-count groupBy); each
  merge round is a vocab-sized `slice`+`arrays_zip` pair count (no
  interpreted HOF lambdas — the zip is a built-in) + a TakeOrdered(1)
  argmax; the vocab frame re-persists per round and localCheckpoints
  every 8 rounds to cap plan depth. Encoding: mapInPandas with a
  per-batch distinct-word memo — per-doc work only.
- **fit_logistic** — each Newton step is one `agg` over the input
  (gradient + Hessian sums, O(p²) scalars collected); the linear
  predictor and IRLS weights are JVM column expressions, so the pass
  is whole-stage codegen up to the final aggregate.
""",
    ),
]


def fmt(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main() -> None:
    spark = get_spark(app_name="plans", master="local[8]")
    spark.sparkContext.setLogLevel("ERROR")
    pages_path = "/tmp/plans_pages"
    if not os.path.exists(os.path.join(pages_path, "_SUCCESS")):
        generate_pages(spark, 50000, seed=9).write.mode("overwrite").parquet(pages_path)
    pages = spark.read.parquet(pages_path)

    p1h = partials_from_pages(pages, 3600)
    t1h = finalize(p1h)
    cust = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
    nation = spark.read.parquet("/root/testdata/sf0.001/nation.parquet")

    sections = [
        (
            "1h tier partials (scan -> groupBy)",
            """
What to look for:
- `ReadSchema` has url/warc_ts/text/lang only — `html` (the multi-KB
  binary) never leaves the parquet reader (column pruning);
- `HashAggregate ... partial_` BEFORE the Exchange: map-side combine,
  so a zipf-hot url ships one pre-combined row per task, not one row
  per page;
- the whole path is inside WholeStageCodegen — no Python.
""",
            fmt(p1h),
        ),
        (
            "gap-fill (single-pass lag window + gap-range explode)",
            """
What to look for:
- NO join node anywhere: each real row is exploded into
  `sequence(lag(bucket_s)+step, bucket_s)` — its predecessor-gap
  buckets plus itself — and non-real rows are nulled by plain `when`
  projections, so the dense grid never exists as a join input and the
  whole generate+project sits inside WholeStageCodegen (a
  `transform`+`struct` variant of the same idea ran interpreted and
  measured 10x SLOWER than the join; this form measures 2.9x faster);
- exactly one `Exchange hashpartitioning(url)` — the window's; gap
  rows materialize AFTER it, so shuffle volume is the real rows only,
  independent of how sparse the series is (the old grid+left-join
  shape shuffled a grid measured 47x the real rows on the bench pages
  table);
- `coalesce(n_points, 0)` is the lambdo fillna_value semantics.
""",
            fmt(gap_fill(t1h, 3600)),
        ),
        (
            "30d tier from 1d partials (partial+final re-aggregation)",
            """
What to look for: the 30d tier re-aggregates 1d PARTIALS (sum/sum/
min/max merges) — the scan appears once; no second read of raw pages.
At 10^12 rows this is the difference between re-scanning 100 TB and
shuffling a few GB of partials.
""",
            fmt(finalize(downsample(downsample(p1h, TIER_SECONDS["1d"]), TIER_SECONDS["30d"]))),
        ),
        (
            "compression stage (sorted mapInPandas)",
            """
What to look for:
- ONE Exchange (hashpartitioning by url) then in-partition Sort then
  a single `MapInPandas` — the Gorilla/delta-of-delta kernel sees
  whole Arrow batches of many contiguous groups (one Python call per
  ~64k rows, not per group);
- that Exchange is `REPARTITION_BY_COL` with the session's shuffle
  partition count, which AQE coalesces to what the data needs (a
  fixed `REPARTITION_BY_NUM` count would not be coalesced, and each
  Python task has a fixed CPU cost before it sees a row — README
  scale notes);
- everything upstream of the kernel is JVM.
""",
            fmt(compress_tier(t1h, value_col="mean_len")),
        ),
        (
            "link (C4) against a small dimension",
            """
What to look for: `BroadcastHashJoin` — Catalyst broadcasts the
25-row nation dimension; the customer side is never shuffled.
""",
            fmt(C.link(cust, "nat", ["c_nationkey"], nation, ["n_nationkey"])),
        ),
        (
            "timeseries window stack (sessionize + delta + rate)",
            """
What to look for: ONE `Exchange hashpartitioning(user_id)` feeding a
single `Window` operator chain — Catalyst merges the identical
(partitionBy, orderBy) specs of sessionize's lag/sum, delta's lag and
rate's lag into one shuffle + one sort. Stacking toolkit columns is
O(1) shuffles, and there is no Python anywhere (`BatchEvalPython` /
`ArrowEvalPython` absent).
""",
            None,  # filled below (needs the timeseries module)
        ),
    ]
    from lambdo_spark.rollup.timeseries import delta, rate, sessionize

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    stacked = sessionize(ev, ["user_id"], "ts", 1800, ["event_id"])
    stacked = delta(stacked, "d", "value", ["ts", "event_id"], ["user_id"])
    stacked = rate(stacked, "r", "value", "ts", ["ts", "event_id"], ["user_id"])
    sections[-1] = (sections[-1][0], sections[-1][1], fmt(stacked))

    # real-time continuous aggregate: materialized tier ∪ raw tail
    import tempfile

    from pyspark.sql import functions as F

    from lambdo_spark.rollup.pipeline import run_retention_pipeline
    from lambdo_spark.rollup.realtime import read_realtime_tier

    rt_root = tempfile.mkdtemp(prefix="plans_rt_")
    lo, hi = pages.agg(
        F.min(F.unix_timestamp("warc_ts")), F.max(F.unix_timestamp("warc_ts"))
    ).first()
    cut = ((lo + 9 * (hi - lo) // 10) // 3600) * 3600
    run_retention_pipeline(
        spark, pages.where(F.unix_timestamp("warc_ts") < cut), rt_root,
        enforce_audit=False,
    )
    sections.append(
        (
            "real-time continuous aggregate (materialized tier ∪ raw tail)",
            """
What to look for:
- TWO scans under the Union: the tier table's parquet (pre-aggregated
  rows, no re-aggregation below the watermark) and the raw pages scan
  with `PushedFilters: [IsNotNull(warc_ts), GreaterThanOrEqual(warc_ts, ...)]`
  — the tail predicate reaches the raw reader, so history files are
  skipped at the scan, and only the tail flows into the fresh
  HashAggregate;
- the watermark itself appears as a literal (computed driver-side
  from manifest file stats — no Spark job ran to find it).
""",
            fmt(read_realtime_tier(spark, rt_root, "1h", pages)),
        )
    )

    sections.append(
        (
            "cascading realtime read at a coarse tier (tier ∪ 1h store ∪ raw tail)",
            """
What to look for — THREE scans under the Union:
- the 30d tier's parquet with `LessThan(bucket_s, W30)` pushed;
- the 1h partials-store parquet with a `bucket_s` RANGE pushed
  (`>= W30`, `< Wstore`) feeding the exact algebraic downsample —
  no raw rows touched for that span;
- the raw pages scan whose pushed `GreaterThanOrEqual(warc_ts, ...)`
  bound is the STORE's watermark (hours above W30): the raw tail is
  O(refresh cadence), not O(30-day bucket width).
""",
            fmt(read_realtime_tier(spark, rt_root, "30d", pages, cascade=True)),
        )
    )

    with open(os.path.join(REPO, "PLANS.md"), "w") as f:
        f.write(
            """# PLANS — physical-plan evidence for the scale claims

`df.explain("formatted")` output for the flagship plans, captured from
the real engine (regenerate: `python tools/gen_plans.py`;
tests/test_plans.py asserts the load-bearing properties so they cannot
silently regress). Commentary above each plan says what property makes
it survive 100 TB / 10^12 rows.
"""
        )
        for title, commentary, plan in sections:
            f.write(f"\n## {title}\n{commentary}\n```\n{plan}```\n")
        for title, text in NOTES:
            f.write(f"\n## {title}\n{text}")
    print("PLANS.md regenerated")
    spark.stop()


if __name__ == "__main__":
    main()
