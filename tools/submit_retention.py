"""spark-submit entry script for the retention pipeline.

The north rule requires the job to run via ``spark-submit --py-files``
on a multi-executor cluster. This is that script:

    python -c "from lambdo_spark.session import package_zip; print(package_zip())"
    spark-submit --master <cluster> --py-files /tmp/lambdo_spark_pkg.zip \\
        tools/submit_retention.py --synthesize 1000000 --out /data/tiers

Unlike ``python -m lambdo_spark`` (which builds its own session and
ships the package itself), this script uses the session spark-submit
provides and relies on --py-files for the package — i.e. the exact
cluster deployment shape. Local smoke (works in this sandbox):

    spark-submit --master 'local[4]' \\
        --py-files "$(python -c 'from lambdo_spark.session import package_zip; print(package_zip())')" \\
        tools/submit_retention.py --synthesize 50000 --out /tmp/submit_tiers
"""

from __future__ import annotations

import argparse
import json

from pyspark.sql import SparkSession


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", default=None)
    ap.add_argument("--synthesize", type=int, default=0)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--out", required=True)
    ap.add_argument("--no-audit", action="store_true")
    args = ap.parse_args()

    spark = (
        SparkSession.builder.appName("lambdo_spark:retention:submit")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    # imports AFTER getOrCreate: on a cluster the lambdo_spark package
    # arrives via --py-files and must resolve on executors too
    from lambdo_spark.rollup.pipeline import run_retention_pipeline
    from lambdo_spark.sources.pages import generate_pages

    pages = (
        generate_pages(spark, args.synthesize, seed=args.seed)
        if args.synthesize
        else spark.read.parquet(args.pages)
    )
    result = run_retention_pipeline(
        spark, pages, args.out, enforce_audit=not args.no_audit
    )
    print(
        json.dumps(
            {
                "skipped": result.get("skipped"),
                "affected_parts": {
                    k: len(v) for k, v in result["affected_parts"].items()
                },
            }
        )
    )
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
