"""End-to-end retention pipeline (the north_rule flagship).

pages scan → hash audit → 1h partials store → 1h/1d/30d tiers
(partial+final) → Gorilla/delta-of-delta compression, each an
Iceberg-layout table with per-partition lineage. Gap fill is a
read-time transform (``read_finalized_tier(..., gapfill=True)``).

The build is a refresh into an empty root: one
``refresh_from_pages`` call under the fixed delta tag
``RETENTION_TAG``, so a root has one writer and one resume protocol.
Both live in the partials store's snapshot:

* the merge commit records ``RETENTION_TAG`` in the store's
  ``applied_deltas`` ledger, so re-running a completed build merges
  nothing and returns ``{"skipped": RETENTION_TAG, ...}``;
* the same commit sets a ``pending`` marker naming the affected
  partitions. A build killed after it (mid tier or compression write)
  is finished by the re-run, which rebuilds those partitions from the
  committed store and then clears the marker;
* a build killed before the merge commit left nothing committed
  (orphaned data files are invisible to readers and overwritten), so
  the re-run starts over.

The reference analog is a whole lambdo workflow JSON (e.g.
/root/reference/examples/example5.json: one table, one family of
rolling means at windows 10/5/2); here the "family" is the tier set
and every stage is a distributed DataFrame plan.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from lambdo_spark.rollup.incremental import refresh_from_pages
from lambdo_spark.sources.iceberg_layout import IcebergLayoutTable

# Module attributes perfbench/spans.py wraps by name when it traces a
# build; the build itself reaches both through refresh_from_pages.
from lambdo_spark.rollup.audit import audit_summary  # noqa: F401
from lambdo_spark.rollup.compress_stage import compress_tier  # noqa: F401

RETENTION_TAG = "retention"


def run_retention_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    out_root: str,
    enforce_audit: bool = True,
) -> dict:
    """Build every table of ``out_root`` from ``pages``; returns the
    ``refresh_from_pages`` result (see the module doc for resume).

    Refuses a root whose partials store already holds data from
    anything but this build: merging ``pages`` into it would count
    every page the store already has twice. Add pages to such a root
    with ``refresh_from_pages`` and a fresh delta tag.
    """
    snap = IcebergLayoutTable(os.path.join(out_root, "partials_1h")).current_snapshot()
    if snap and snap["parts"] and RETENTION_TAG not in snap.get("applied_deltas", []):
        raise ValueError(
            f"the partials store under {out_root} already holds data that no "
            "retention build wrote; a retention build would double count it. "
            "Use refresh_from_pages(spark, pages, root, delta_tag=...) to add "
            "pages to an existing root."
        )
    return refresh_from_pages(
        spark, pages, out_root, delta_tag=RETENTION_TAG, enforce_audit=enforce_audit
    )
