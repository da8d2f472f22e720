"""Regenerate PLANS.md — explain(formatted) captures of the
load-bearing physical plans with what-to-look-for commentary.

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
  Python task costs ~0.3 s of worker CPU before it sees a row);
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
    print("PLANS.md regenerated")
    spark.stop()


if __name__ == "__main__":
    main()
