"""Corpus-scale datapoint for the dedup_clusters pipeline.

VERDICT r3 #6: the per-round bench runs dedup_clusters on the 5k-doc
sf0.1 documents table, which measures fixed per-job latency (MinHash
UDF spin-up + ~3 CC rounds of driver round-trips), not the shuffle
design. This harness runs the full MinHash → LSH pairs → connected
components → representative pipeline on a synthesized corpus with
PLANTED ground truth (sources/documents.py: n/8 near-dup trios) so
both the throughput AND the answer are checked:

* expected verified pairs   = 3 * n/8
* expected non-singleton clusters = n/8 (each of size 3)
* every doc labeled, representative count = n - 2*(n/8)

Reports docs/sec end-to-end plus the band-exchange shuffle volume
(read from the Spark REST status API) — the number that proves the
ids-only band shuffle: ~24 B x docs x bands, NOT corpus bytes.

Usage: BENCH_CLUSTER_DOCS=500000 python tools/bench_clusters_scale.py
Prints one JSON line; record it in BENCH.md.
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from lambdo_spark.session import get_spark, host_resources
from lambdo_spark.functions.cluster import dedup_clusters
from lambdo_spark.sources.documents import generate_documents

N_DOCS = int(os.environ.get("BENCH_CLUSTER_DOCS", "500000"))


def _rest_totals(ui_port: int = 4040) -> dict:
    """Sum shuffle/in-out bytes over all completed stages via REST."""
    base = f"http://localhost:{ui_port}/api/v1/applications"
    apps = json.load(urllib.request.urlopen(base, timeout=10))
    app_id = apps[0]["id"]
    stages = json.load(
        urllib.request.urlopen(f"{base}/{app_id}/stages", timeout=30)
    )
    tot = {"shuffle_write_bytes": 0, "shuffle_read_bytes": 0,
           "input_bytes": 0, "stages": 0}
    for s in stages:
        if s.get("status") not in ("COMPLETE", "COMPLETED"):
            continue
        tot["shuffle_write_bytes"] += s.get("shuffleWriteBytes", 0)
        tot["shuffle_read_bytes"] += s.get("shuffleReadBytes", 0)
        tot["input_bytes"] += s.get("inputBytes", 0)
        tot["stages"] += 1
    return tot


def main() -> None:
    cpus, _ = host_resources()
    spark = get_spark(
        app_name="bench_clusters_scale",
        master=f"local[{cpus}]",
        extra_conf={
            "spark.ui.enabled": "true",   # REST status API for shuffle bytes
            "spark.sql.files.maxPartitionBytes": str(4 * 1024 * 1024),
            "spark.sql.files.openCostInBytes": str(512 * 1024),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(0, 10_000).selectExpr("sum(id)").collect()
    spark.range(0, int(cpus) * 4, numPartitions=int(cpus) * 4).mapInPandas(
        lambda it: it, schema="id long"
    ).count()

    # materialize the corpus to parquet first so the timed pipeline
    # reads a real table (generation cost excluded, like bench.py)
    path = f"/tmp/lambdo_bench_docs_{N_DOCS}"
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        generate_documents(
            spark, N_DOCS, seed=42, partitions=int(cpus) * 4
        ).write.mode("overwrite").parquet(path)
    docs = spark.read.parquet(path)

    before = _rest_totals()
    metrics: dict = {}
    t0 = time.time()
    out = dedup_clusters(docs, threshold=0.8, metrics=metrics)
    agg = out.agg(
        F.count(F.lit(1)).alias("rows"),
        F.sum("is_representative").alias("reps"),
        F.count_distinct("cluster_id").alias("clusters"),
    ).first()
    wall = round(time.time() - t0, 3)
    after = _rest_totals()

    trios = N_DOCS // 8
    expect_reps = N_DOCS - 2 * trios
    result = {
        "metric": "dedup_clusters_scale",
        "docs": N_DOCS,
        "wall_sec": wall,
        "docs_per_sec": int(N_DOCS / wall),
        "rows": agg["rows"],
        "clusters": agg["clusters"],
        "representatives": agg["reps"],
        "expected_clusters": N_DOCS - 2 * trios,  # trio -> 1 cluster id
        "expected_representatives": expect_reps,
        "ground_truth_ok": bool(
            agg["rows"] == N_DOCS
            and agg["reps"] == expect_reps
            and agg["clusters"] == N_DOCS - 2 * trios
        ),
        "shuffle_write_bytes": after["shuffle_write_bytes"]
        - before["shuffle_write_bytes"],
        "shuffle_read_bytes": after["shuffle_read_bytes"]
        - before["shuffle_read_bytes"],
        "shuffle_write_bytes_per_doc": round(
            (after["shuffle_write_bytes"] - before["shuffle_write_bytes"])
            / N_DOCS,
            1,
        ),
        "cpus": cpus,
    }
    print(json.dumps(result))


if __name__ == "__main__":
    main()
