"""Real-time continuous aggregate read cost: O(tail), not O(history).

Builds a tier root from the first ~97% of a pages table's time range,
then compares, for the SAME answer (row counts asserted equal):
  a) full recompute of the 1h tier from ALL raw pages;
  b) read_realtime_tier (materialized tier ∪ fresh rollup of the
     un-materialized ~3% tail).

Two metrics:

- **wall (best-of-N)** — at sandbox size this mostly measures the
  aggregation work avoided (hashing 2M raw rows vs the tail only);
- **bytes a parquet reader must fetch**, computed exactly from parquet
  footers: projected column chunks only (column pruning), minus row
  groups the pushed predicate's min/max stats skip. This is the
  scale-bearing number — Spark's own REST inputBytes metric
  under-reports vectorized local-fs parquet reads (measured: 389 KB
  for a 29 MB column scan), so we account from metadata instead.
  At 100 TB the full recompute fetches every history row group of
  (url, warc_ts, text, lang) while the realtime read fetches the tier
  table + only tail row groups — the ratio printed here is the IO
  ratio that survives the scale-up (PLANS.md pins the pushed filters
  on both scans).

The raw table is written time-ordered (repartitionByRange on warc_ts +
sortWithinPartitions) — the layout any ingest produces, since data
arrives in time order — so each row group covers a narrow time slice
and the tail predicate skips almost all of them.

Usage: python tools/bench_realtime.py [n_rows] [reps]
"""

from __future__ import annotations

import glob
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyarrow.parquet as pq

from pyspark.sql import functions as F

from lambdo_spark.rollup.pipeline import run_retention_pipeline
from lambdo_spark.rollup.realtime import (
    materialization_watermark,
    read_realtime_tier,
)
from lambdo_spark.rollup.tiers import finalize, partials_from_pages
from lambdo_spark.session import get_spark, host_resources
from lambdo_spark.sources.pages import generate_pages


def fetch_bytes(
    files: list[str],
    cols: set[str] | None = None,
    ts_col: str | None = None,
    ts_min: float | None = None,
    ts_max: float | None = None,
) -> int:
    """Bytes a parquet reader fetches: projected column chunks of row
    groups surviving the ``ts_min <= ts_col < ts_max`` stats check
    (epoch seconds; timestamp or integer-epoch columns)."""

    def _epoch(v):
        return v.timestamp() if hasattr(v, "timestamp") else float(v)

    total = 0
    for f in files:
        md = pq.ParquetFile(f).metadata
        for rg in range(md.num_row_groups):
            g = md.row_group(rg)
            chunks = {g.column(c).path_in_schema: g.column(c) for c in range(g.num_columns)}
            if ts_col is not None:
                st = chunks[ts_col].statistics
                if st is not None and st.has_min_max:
                    if ts_min is not None and _epoch(st.max) < ts_min:
                        continue  # row group entirely below the range
                    if ts_max is not None and _epoch(st.min) >= ts_max:
                        continue  # entirely above
            for name, ch in chunks.items():
                if cols is None or name.split(".")[0] in cols:
                    total += ch.total_compressed_size
    return total


def main() -> None:
    n_rows = int(sys.argv[1]) if len(sys.argv) > 1 else 2_000_000
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    cpus, _ = host_resources()
    spark = get_spark(
        app_name="bench_realtime",
        master=f"local[{cpus}]",
        extra_conf={
            "spark.sql.files.maxPartitionBytes": str(4 * 1024 * 1024),
            "spark.sql.files.openCostInBytes": str(512 * 1024),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(0, 10_000).selectExpr("sum(id)").collect()

    # denser revisit pattern than the default n_rows//64 urls: real
    # crawls revisit hot urls many times per hour, so tier rows sit a
    # small multiple below raw rows (~2k urls over 90 days)
    pages_path = f"/tmp/lambdo_bench_rt_pages_{n_rows}"
    if not os.path.exists(os.path.join(pages_path, "_SUCCESS")):
        (
            generate_pages(spark, n_rows, seed=42, n_urls=2_000)
            .repartitionByRange(64, "warc_ts")
            .sortWithinPartitions("warc_ts")
            .write.mode("overwrite")
            .parquet(pages_path)
        )
    pages = spark.read.parquet(pages_path)
    lo, hi = pages.agg(
        F.min(F.unix_timestamp("warc_ts")), F.max(F.unix_timestamp("warc_ts"))
    ).first()
    cut = ((lo + 97 * (hi - lo) // 100) // 3600) * 3600
    root = tempfile.mkdtemp(prefix="bench_rt_")
    t0 = time.time()
    run_retention_pipeline(
        spark, pages.where(F.unix_timestamp("warc_ts") < cut), root,
        enforce_audit=False,
    )
    build_s = time.time() - t0

    full_df = finalize(partials_from_pages(pages, 3600))
    rt_df = read_realtime_tier(spark, root, "1h", pages)

    def best(thunk):
        walls, n = [], None
        for _ in range(reps):
            t0 = time.time()
            n = thunk()
            walls.append(time.time() - t0)
        return min(walls), n

    full_s, full_n = best(full_df.count)
    rt_s, rt_n = best(rt_df.count)
    assert full_n == rt_n, (full_n, rt_n)

    raw_files = sorted(glob.glob(os.path.join(pages_path, "*.parquet")))
    need = {"url", "warc_ts", "text", "lang"}  # html is column-pruned
    full_bytes = fetch_bytes(raw_files, need)
    w = materialization_watermark(root, "1h")
    tail_bytes = fetch_bytes(raw_files, need, ts_col="warc_ts", ts_min=float(w))
    tier_files = [
        f.removeprefix("file:")
        for f in glob.glob(os.path.join(root, "tier_1h", "data", "**", "*.parquet"), recursive=True)
    ]
    tier_bytes = fetch_bytes(tier_files)
    rt_bytes = tier_bytes + tail_bytes

    print(
        {
            "pages_rows": n_rows,
            "tier_rows": rt_n,
            "rollup_ratio": round(n_rows / rt_n, 2),
            "materialize_s": round(build_s, 2),
            "full_recompute": {"wall_s": round(full_s, 2), "fetch_bytes": full_bytes},
            "realtime_read": {
                "wall_s": round(rt_s, 2),
                "fetch_bytes": rt_bytes,
                "tier_bytes": tier_bytes,
                "raw_tail_bytes": tail_bytes,
            },
            "wall_speedup": round(full_s / rt_s, 2),
            "raw_bytes_skipped_pct": round(100.0 * (1.0 - tail_bytes / full_bytes), 2),
            "reps": reps,
            "cpus": cpus,
        }
    )

    # ---- 30d tier: plain realtime (raw tail from the 30d watermark —
    # up to 30 DAYS of raw) vs cascade (1h store + raw above the
    # STORE's watermark). Same answer, asserted; the bytes ratio is
    # the point of the hierarchical read.
    from lambdo_spark.rollup.realtime import _table_watermark
    from lambdo_spark.rollup.incremental import _partials_store

    plain_df = read_realtime_tier(spark, root, "30d", pages)
    casc_df = read_realtime_tier(spark, root, "30d", pages, cascade=True)
    plain_s, plain_n = best(plain_df.count)
    casc_s, casc_n = best(casc_df.count)
    assert plain_n == casc_n, (plain_n, casc_n)

    w30 = materialization_watermark(root, "30d")
    store = _partials_store(root)
    w_p = _table_watermark(store, "bucket_s")
    plain_raw = fetch_bytes(raw_files, need, ts_col="warc_ts", ts_min=float(w30))
    casc_raw = fetch_bytes(raw_files, need, ts_col="warc_ts", ts_min=float(w_p))
    store_files = [
        f for f in glob.glob(os.path.join(root, "partials_1h", "data", "**", "*.parquet"), recursive=True)
    ]
    casc_store = fetch_bytes(
        store_files, ts_col="bucket_s", ts_min=float(w30), ts_max=float(w_p)
    )
    tier30_files = [
        f for f in glob.glob(os.path.join(root, "tier_30d", "data", "**", "*.parquet"), recursive=True)
    ]
    tier30 = fetch_bytes(tier30_files)
    print(
        {
            "tier": "30d",
            "edge_span_h": round((w_p - w30) / 3600.0, 1),
            "plain_realtime": {
                "wall_s": round(plain_s, 2),
                "fetch_bytes": tier30 + plain_raw,
                "raw_tail_bytes": plain_raw,
            },
            "cascade_realtime": {
                "wall_s": round(casc_s, 2),
                "fetch_bytes": tier30 + casc_store + casc_raw,
                "store_bytes": casc_store,
                "raw_tail_bytes": casc_raw,
            },
            "raw_tail_shrink": round(plain_raw / max(casc_raw, 1), 1),
        }
    )


if __name__ == "__main__":
    main()
