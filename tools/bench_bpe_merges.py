"""BPE merge-training scaling: per-merge cost must track the
AFFECTED-WORD volume (which shrinks as training converges), never the
corpus. Runs ``train_bpe`` in incremental mode for ``--merges`` rules
over the sf documents corpus (plus a deterministic synthetic pad so
the vocab is big enough to sustain 1k+ productive merges), printing
windowed per-merge wall times and a recount-mode comparison at a
small merge count.

Usage: python tools/bench_bpe_merges.py [--merges 1000] [--sf DIR]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from lambdo_spark.session import get_spark


def corpus(spark, sf_dir: str):
    """sf documents + a deterministic synthetic tail: composite words
    built from a seeded alphabet mix keep pair statistics rich enough
    that 1k merges stay productive (the tiny sf0.01 vocab saturates
    after a few hundred)."""
    from pyspark.sql import functions as F

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    pad = (
        spark.range(0, 100_000)
        .select(
            F.concat(
                F.lit("w"),
                F.conv(F.col("id") % 7919, 10, 36),
                F.lit("x"),
                F.conv((F.col("id") * 31) % 104729, 10, 36),
            ).alias("text"),
            F.col("id").alias("doc_id"),
        )
    )
    return docs.select("doc_id", "text").unionByName(
        pad.select("doc_id", "text")
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--merges", type=int, default=1000)
    ap.add_argument("--sf", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"))
    ap.add_argument("--recount-merges", type=int, default=8,
                    help="merge count for the recount-mode comparison")
    args = ap.parse_args()

    spark = get_spark(app_name="bench_bpe_merges", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")

    from lambdo_spark.functions import bpe

    docs = corpus(spark, args.sf)

    # --- recount-mode reference at a small merge count
    t0 = time.time()
    rec = bpe.train_bpe(docs, args.recount_merges, mode="recount")
    recount_wall = time.time() - t0
    t0 = time.time()
    inc_small = bpe.train_bpe(docs, args.recount_merges, mode="incremental")
    inc_small_wall = time.time() - t0
    assert rec == inc_small, "mode mismatch at small merge count"

    # --- incremental at full depth, instrumented per merge (inline
    # copy of _train_incremental with a wall clock around each round)
    walls: list[float] = []
    t_all = time.time()

    def timed_train(base, num_merges, checkpoint_every):
        # inline copy of the public call path with per-merge timing
        from pyspark.sql import functions as F

        syms = bpe._with_marker(base).localCheckpoint(eager=True)
        pc = bpe._pair_counts(syms).localCheckpoint(eager=True)
        n_parts = max(1, syms.rdd.getNumPartitions())
        merges = []
        for _ in range(num_merges):
            t0 = time.time()
            best = (
                pc.orderBy(F.desc("total"), "p0", "p1").limit(1).collect()
            )
            if not best or int(best[0]["total"]) < 2:
                break
            a, b = best[0]["p0"], best[0]["p1"]
            merges.append((a, b))
            hit = F.col("marker").contains(
                F.lit(bpe._SEP + a + bpe._SEP + b + bpe._SEP))
            pat = ("\\Q" + bpe._SEP + a + bpe._SEP + b
                   + "\\E(?=\\Q" + bpe._SEP + "\\E)")
            new_marker = F.regexp_replace("marker", pat, bpe._SEP + a + b)
            aff_new = syms.where(hit).select(
                "count",
                F.array_remove(F.split(new_marker, bpe._SEP), "").alias(
                    "syms"),
                new_marker.alias("marker"),
            )
            delta = bpe._pair_counts(aff_new).unionByName(
                bpe._pair_counts(syms.where(hit)).withColumn(
                    "total", -F.col("total"))
            )
            pc = (
                pc.unionByName(delta)
                .groupBy("p0", "p1")
                .agg(F.sum("total").alias("total"))
                .where(F.col("total") > 0)
                .localCheckpoint(eager=True)
            )
            syms = (
                syms.where(~hit)
                .unionByName(aff_new)
                .coalesce(n_parts)
                .localCheckpoint(eager=True)
            )
            walls.append(time.time() - t0)
            if len(walls) % 50 == 0:
                w = walls[-50:]
                print(
                    f"merge {len(walls)}: last-50 mean "
                    f"{sum(w) / len(w):.2f}s",
                    file=sys.stderr, flush=True,
                )
        return merges

    from pyspark.sql import functions as F

    inc = timed_train(
        bpe.word_counts(docs).select(
            "count",
            F.concat(F.split("word", ""), F.array(F.lit(bpe.END))).alias(
                "syms"
            ),
        ),
        args.merges,
        8,
    )
    total_wall = time.time() - t_all
    assert inc[: len(rec)] == rec, "incremental diverged from recount prefix"

    def window(lo, hi):
        w = walls[lo:hi]
        return round(sum(w) / max(1, len(w)), 3) if w else None

    n = len(walls)
    out = {
        "metric": "bpe_incremental_merge_training",
        "sf": args.sf,
        "merges_completed": n,
        "total_wall_s": round(total_wall, 1),
        "recount_wall_s_at_small": round(recount_wall, 1),
        "incremental_wall_s_at_small": round(inc_small_wall, 1),
        "small_merges": args.recount_merges,
        "per_merge_s_first100": window(0, 100),
        "per_merge_s_mid": window(n // 2 - 50, n // 2 + 50),
        "per_merge_s_last100": window(max(0, n - 100), n),
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
