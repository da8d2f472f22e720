"""Headline benchmark: rollup tiers + gap-fill + compression.

Runs at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS]; also runs the north-rule pages pipeline on a
deterministically synthesized pages table (no external data).

Prints ONE JSON line:
  {"metric": ..., "value": total_sec, "unit": "sec",
   "queries": {name: sec, ...}, "sf": ..., "rolled_up_points_per_sec": N}
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F

import __spark_entry__ as ent
from lambdo_spark.session import get_spark, host_resources
from lambdo_spark.rollup.tiers import TIER_SECONDS, downsample, finalize, gap_fill
from lambdo_spark.rollup.compress_stage import compress_tier
from lambdo_spark.sources.pages import generate_pages
from lambdo_spark.rollup.tiers import partials_from_pages
from tools import load1

PAGES_ROWS = int(os.environ.get("BENCH_PAGES_ROWS", "2000000"))
# best-of-N per query. 2 catches JVM/codegen warmup; on this co-tenant
# host (loadavg swings 0→28 by itself, BENCH.md) a rep can land in a
# load spike, so when the 1-min loadavg at rep time exceeds
# BENCH_LOAD_GATE an extra rep is taken (up to BENCH_MAX_REPS) — the
# reported minimum then reflects the code, not the neighbors.
BENCH_REPS = int(os.environ.get("BENCH_REPS", "2"))
BENCH_MAX_REPS = int(os.environ.get("BENCH_MAX_REPS", "4"))
BENCH_LOAD_GATE = float(os.environ.get("BENCH_LOAD_GATE", "3.0"))


def run(df) -> int:
    """Force full computation; return row count (points rolled up).

    count() genuinely forces AGGREGATE-shaped queries (the grouping
    must run to know the row count) — the whole core basis. It does
    NOT force doc-shaped outputs that end in a left join back onto the
    id list: Catalyst proves the aggregated right side unique on the
    join key, eliminates the join, and counts the bare id column —
    measured: the dedup_spans count plan collapses to one Aggregate
    over the parquet scan. Those queries go through run_forced()."""
    return df.count()


def run_forced(df) -> int:
    """Force EVERY column to materialize via the noop sink (the
    standard Spark benchmarking sink: full execution, zero write
    cost), then count (which is ~free precisely because of the join
    elimination documented above)."""
    df.write.format("noop").mode("overwrite").save()
    return df.count()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus, _ = host_resources()
    # sandbox inputs are many ~1 MB parquet files; default bin-packing
    # (128 MB + 4 MB open cost) would cap scan parallelism at ~10 tasks
    # (tools/bench_scaling.py has the full note — real 100 TB tables
    # have >=128 MB row groups where the defaults are right)
    spark = get_spark(
        app_name="lambdo_spark_bench",
        master=f"local[{cpus}]",
        extra_conf={
            "spark.sql.files.maxPartitionBytes": str(4 * 1024 * 1024),
            "spark.sql.files.openCostInBytes": str(512 * 1024),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")

    # untimed warmup: JVM/codegen spin-up and the Python-UDF worker
    # pool — costs a real cluster amortizes across jobs (BENCH.md)
    spark.range(0, 10_000).selectExpr("sum(id)").collect()
    spark.range(0, int(cpus) * 4, numPartitions=int(cpus) * 4).mapInPandas(
        lambda it: it, schema="id long"
    ).count()

    timings: dict[str, float] = {}
    points = 0

    # best-of-N per query (see BENCH_REPS note above): a single shot on
    # this co-tenant host can read 10x slow; the steady-state best is
    # the number comparable across rounds
    points_by: dict[str, int] = {}

    def bench(name, thunk):
        nonlocal points
        best, n = None, 0
        rep = 0
        while rep < BENCH_REPS or (
            rep < BENCH_MAX_REPS and load1() > BENCH_LOAD_GATE
        ):
            t0 = time.time()
            n = thunk()
            el = time.time() - t0
            best = el if best is None else min(best, el)
            rep += 1
        timings[name] = round(best, 3)
        points += n
        points_by[name] = n

    qs = ent.queries()
    for name in ["rollup_1h", "rollup_1d_via_partials", "rollup_gapfill_1h", "hist_1d", "compressed_chunks"]:
        bench(name, lambda n=name: run(qs[n](spark, sf_dir)))

    # north-rule flagship: pages table (materialized parquet, the
    # stand-in for the Iceberg scan — setup is untimed) → all three
    # tiers + gapfill + compression via partial+final re-aggregation
    pages_path = f"/tmp/lambdo_bench_pages_{PAGES_ROWS}"
    if not os.path.exists(os.path.join(pages_path, "_SUCCESS")):
        generate_pages(spark, PAGES_ROWS, seed=42).write.mode("overwrite").parquet(
            pages_path
        )
    pages = spark.read.parquet(pages_path)

    def pages_pipeline() -> int:
        # 1h partials computed once, shared by every downstream tier
        p1h = partials_from_pages(pages, TIER_SECONDS["1h"]).persist()
        # 1d partials are small (≈half of 1h) and feed BOTH finalize(1d)
        # and the 30d downsample — persisting saves re-running the
        # 1h→1d shuffle for the 30d tier
        p1d = downsample(p1h, TIER_SECONDS["1d"]).persist()
        try:
            p30 = downsample(p1d, TIER_SECONDS["30d"])
            n = 0
            # each tier's finalize (incl. the lang_hist map build —
            # count() does NOT prune the aggregate) runs from the
            # cached partials. The 1h tier is deliberately NOT
            # persisted: caching 1.2M map-typed rows costs ~2 s of
            # columnar cache-store that none of the downstream
            # consumers read back (gap-fill/compression reference only
            # the scalar columns, and Catalyst column-prunes a
            # RECOMPUTED finalize but cannot prune through a cache) —
            # re-deriving the pruned aggregate from cached p1h is
            # cheaper than materializing the maps into the block store.
            # (run_retention_pipeline does the same: it persists only
            # the partials it reads back from its store.)
            n += run(finalize(p1h))
            n += run(finalize(p1d))
            n += run(finalize(p30))
            n += run(gap_fill(finalize(p1h), TIER_SECONDS["1h"]))
            n += run(compress_tier(finalize(p1h), value_col="mean_len"))
            return n
        finally:
            p1h.unpersist()
            p1d.unpersist()

    bench("pages_all_tiers", pages_pipeline)

    # ---- round-2 surfaces, regression-guarded from round 3 on ----
    # (setup is untimed and cached on disk keyed by PAGES_ROWS; the
    # timed part is exactly what a production read pays)

    # mergeable-chain query: 1d time-weighted means re-aggregated from
    # persisted 1h partials (proves the merge algebra's cost, not just
    # its correctness)
    bench(
        "time_weighted_1d_chain",
        lambda: run(qs["time_weighted_1d_chain"](spark, sf_dir)),
    )

    # realtime stitched read: retention root built on the first 90% of
    # the pages time range; raw = full pages, so the fresh tail is a
    # real ~10% re-aggregation stitched onto the finalized tier
    from lambdo_spark.rollup.pipeline import run_retention_pipeline
    from lambdo_spark.rollup.realtime import read_realtime_tier

    tiers_root = f"/tmp/lambdo_bench_tiers_{PAGES_ROWS}"
    if not os.path.exists(os.path.join(tiers_root, "_BENCH_READY")):
        b = pages.agg(
            F.min("warc_ts").alias("lo"), F.max("warc_ts").alias("hi")
        ).first()
        cutoff = b["hi"] - (b["hi"] - b["lo"]) * 0.1
        run_retention_pipeline(
            spark, pages.where(F.col("warc_ts") < F.lit(cutoff)), tiers_root
        )
        open(os.path.join(tiers_root, "_BENCH_READY"), "w").close()

    bench(
        "realtime_read_1d",
        lambda: run(read_realtime_tier(spark, tiers_root, "1d", pages)),
    )
    bench(
        "realtime_read_1d_cascade",
        lambda: run(
            read_realtime_tier(spark, tiers_root, "1d", pages, cascade=True)
        ),
    )

    # MOR read after stacked DML: 3 merge-on-read upserts + 2 MOR
    # deletes on the 1h tier (setup, untimed), then time the read that
    # has to apply equality+position deletes via broadcast anti-joins
    from lambdo_spark.sources.iceberg_layout import IcebergLayoutTable

    mor_dir = os.path.join(tiers_root, "tier_1h_morbench")
    mor = IcebergLayoutTable(mor_dir)
    if not os.path.exists(os.path.join(tiers_root, "_MOR_READY")):
        base = IcebergLayoutTable(os.path.join(tiers_root, "tier_1h"))
        mor.write_tier(base.read_tier(spark), input_snapshot="morbench")
        for i in range(3):
            delta = (
                mor.read_tier(spark)
                .where(f"pmod(bucket_s, {7200 * (i + 1)}) = 0")
                .withColumn("n_points", F.col("n_points") + 1)
            )
            mor.merge_rows(
                delta, keys=["url", "bucket_s"], mode="merge-on-read"
            )
        mor.delete_where(spark, "pmod(n_points, 17) = 3", mode="merge-on-read")
        mor.delete_where(spark, "pmod(n_points, 23) = 5", mode="merge-on-read")
        open(os.path.join(tiers_root, "_MOR_READY"), "w").close()
    bench("mor_read_after_dml", lambda: run(mor.read_tier(spark)))

    # ---- corpus-pipeline surfaces (round 3): regression-guard the
    # training-data ops at the same sf (documents table, 5k docs at
    # sf0.1) — outside core_queries_total like the other extras
    # doc-shaped outputs (trailing id-join) need run_forced — count()
    # alone is join-eliminated (see run/run_forced docstrings). NB the
    # r2/r3 decontaminate/shuffle_order extras were recorded with
    # count() and so under-measured; the forced basis starts round 4.
    bench("dedup_clusters", lambda: run(qs["dedup_clusters"](spark, sf_dir)))
    bench(
        "decontaminate",
        lambda: run_forced(qs["decontaminate"](spark, sf_dir)),
    )
    bench(
        "shuffle_order",
        lambda: run_forced(qs["shuffle_order"](spark, sf_dir)),
    )
    # round-4 additions: span dedup (128-bit shuffle key) + bigram-LM
    # scoring — regression guards like the other extras
    bench("dedup_spans", lambda: run_forced(qs["dedup_spans"](spark, sf_dir)))
    bench("lm_score", lambda: run_forced(qs["lm_score"](spark, sf_dir)))
    # round-4 continuation: series analytics + retrieval + SemDeDup
    # regression guards (same extras policy — outside the core basis)
    # ewma's grouped-map UDF can't be pruned by count(); cusum's window
    # columns CAN (column pruning drops an unreferenced Window) → forced
    bench("ewma_smooth", lambda: run(qs["ewma_smooth"](spark, sf_dir)))
    bench(
        "cusum_changepoint",
        lambda: run_forced(qs["cusum_changepoint"](spark, sf_dir)),
    )
    bench("bm25_search", lambda: run(qs["bm25_search"](spark, sf_dir)))
    bench("semdedup_keep", lambda: run(qs["semdedup_keep"](spark, sf_dir)))

    total = round(sum(timings.values()), 3)
    CORE = (
        "rollup_1h", "rollup_1d_via_partials", "rollup_gapfill_1h",
        "hist_1d", "compressed_chunks", "pages_all_tiers",
    )
    core = round(sum(timings[k] for k in CORE), 3)
    core_points = sum(points_by[k] for k in CORE)
    print(
        json.dumps(
            {
                "metric": "rollup_bench_total",
                # the SAME six rollup queries r01/r02's "value" covered —
                # round-over-round comparable despite the added surfaces;
                # the full wall incl. regression-guard extras is
                # all_queries_total
                "value": core,
                "unit": "sec",
                "queries": timings,
                "sf": sf_dir.rstrip("/").split("sf")[-1],
                "core_queries_total": core,
                "all_queries_total": total,
                # rollup throughput on the SAME six queries BASELINE.md
                # records (r02's points/total was computed over exactly
                # these — extras added since would silently dilute it)
                "rolled_up_points_per_sec": int(core_points / core) if core else 0,
                "all_queries_points_per_sec": int(points / total) if total else 0,
                "pages_rows": PAGES_ROWS,
                "cpus": cpus,
                "timing": f"best_of_{BENCH_REPS}_loadgated_{BENCH_MAX_REPS}",
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
