"""Interleaved A/B/C for the pages_all_tiers caching strategy.

Round-3 watch item (VERDICT r3 "What's wrong" #4): the driver bench
read pages_all_tiers at 7.285 s in r2 (finalized 1h tier CACHED,
map column and all) and 8.818 s in r3 (tier UNCACHED, each consumer
re-derives a column-pruned finalize from the cached 1h partials —
commits 8f53c0c/ae493e7). Both readings sit inside this co-tenant
host's documented swing, so this harness decides it properly:
INTERLEAVED reps (A B C A B C ...) so host drift hits every variant
equally, load-gated, best-of + trimmed mean reported.

  A  uncached   — current bench shape: finalize re-derived per
                  consumer from cached 1h partials (3 shuffles of the
                  partials, zero cache stores beyond the partials)
  B  cache-map  — round-2 shape: persist the full finalized tier,
                  lang_hist map included (1 shuffle + heavy store)
  C  cache-scalar — persist finalize WITHOUT the map column for the
                  gap-fill/compression consumers; the tier output
                  itself still runs one full map finalize
                  (2 shuffles + light store)

Usage: python tools/ab_pages_tiers.py [reps_per_variant]
Writes one JSON line; paste the numbers into BENCH.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from lambdo_spark.session import get_spark, host_resources
from lambdo_spark.rollup.tiers import (
    TIER_SECONDS, downsample, finalize, gap_fill, partials_from_pages,
)
from lambdo_spark.rollup.compress_stage import compress_tier
from lambdo_spark.sources.pages import generate_pages
from tools import load1, wait_for_quiet

PAGES_ROWS = int(os.environ.get("BENCH_PAGES_ROWS", "2000000"))


def run(df) -> int:
    return df.count()


def variant_a(pages):
    """Current: consumers re-derive pruned finalize from cached partials."""
    p1h = partials_from_pages(pages, TIER_SECONDS["1h"]).persist()
    p1d = downsample(p1h, TIER_SECONDS["1d"]).persist()
    try:
        p30 = downsample(p1d, TIER_SECONDS["30d"])
        n = run(finalize(p1h)) + run(finalize(p1d)) + run(finalize(p30))
        n += run(gap_fill(finalize(p1h), TIER_SECONDS["1h"]))
        n += run(compress_tier(finalize(p1h), value_col="mean_len"))
        return n
    finally:
        p1h.unpersist()
        p1d.unpersist()


def variant_b(pages):
    """Round-2: persist the full finalized tier (map column included)."""
    p1h = partials_from_pages(pages, TIER_SECONDS["1h"]).persist()
    p1d = downsample(p1h, TIER_SECONDS["1d"]).persist()
    t1h = finalize(p1h).persist()
    try:
        p30 = downsample(p1d, TIER_SECONDS["30d"])
        n = run(t1h) + run(finalize(p1d)) + run(finalize(p30))
        n += run(gap_fill(t1h, TIER_SECONDS["1h"]))
        n += run(compress_tier(t1h, value_col="mean_len"))
        return n
    finally:
        t1h.unpersist()
        p1h.unpersist()
        p1d.unpersist()


def variant_c(pages):
    """Persist a SCALAR finalize (no map) for gap-fill + compression;
    the tier output still runs one full map finalize."""
    p1h = partials_from_pages(pages, TIER_SECONDS["1h"]).persist()
    p1d = downsample(p1h, TIER_SECONDS["1d"]).persist()
    scalar = finalize(p1h).drop("lang_hist").persist()
    try:
        p30 = downsample(p1d, TIER_SECONDS["30d"])
        n = run(finalize(p1h)) + run(finalize(p1d)) + run(finalize(p30))
        n += run(gap_fill(scalar, TIER_SECONDS["1h"]))
        n += run(compress_tier(scalar, value_col="mean_len"))
        return n
    finally:
        scalar.unpersist()
        p1h.unpersist()
        p1d.unpersist()


def main() -> None:
    reps = int(sys.argv[1]) if len(sys.argv) > 1 else 4
    cpus, _ = host_resources()
    spark = get_spark(
        app_name="ab_pages_tiers",
        master=f"local[{cpus}]",
        extra_conf={
            "spark.sql.files.maxPartitionBytes": str(4 * 1024 * 1024),
            "spark.sql.files.openCostInBytes": str(512 * 1024),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(0, 10_000).selectExpr("sum(id)").collect()
    spark.range(0, int(cpus) * 4, numPartitions=int(cpus) * 4).mapInPandas(
        lambda it: it, schema="id long"
    ).count()

    pages_path = f"/tmp/lambdo_bench_pages_{PAGES_ROWS}"
    if not os.path.exists(os.path.join(pages_path, "_SUCCESS")):
        generate_pages(spark, PAGES_ROWS, seed=42).write.mode(
            "overwrite"
        ).parquet(pages_path)
    pages = spark.read.parquet(pages_path)

    variants = {"A_uncached": variant_a, "B_cache_map": variant_b,
                "C_cache_scalar": variant_c}
    walls: dict[str, list] = {k: [] for k in variants}
    counts = set()
    for rep in range(reps):
        for name, fn in variants.items():
            wait_for_quiet(8.0, float("inf"), poll_s=10.0)  # wait out load spikes
            t0 = time.time()
            counts.add(fn(pages))
            walls[name].append(round(time.time() - t0, 3))
            print(f"rep{rep} {name}: {walls[name][-1]}s load={load1()}",
                  file=sys.stderr)
    assert len(counts) == 1, f"variants disagree on row counts: {counts}"
    summary = {
        k: {"best": min(v), "mean": round(sum(v) / len(v), 3), "all": v}
        for k, v in walls.items()
    }
    print(json.dumps({"pages_rows": PAGES_ROWS, "cpus": cpus,
                      "reps": reps, "results": summary}))


if __name__ == "__main__":
    main()
