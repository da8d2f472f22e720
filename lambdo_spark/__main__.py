"""CLI — successor of the reference's ``lambdo workflow.json`` entry
point (/root/reference/lambdo/main.py:31-58), plus the flagship
retention pipeline as a first-class job.

    python -m lambdo_spark workflow.json --show my_table
    python -m lambdo_spark retention --pages /data/pages --out /data/tiers
    python -m lambdo_spark retention --synthesize 1000000 --out /tmp/tiers

Under ``spark-submit`` the same module works unchanged:

    spark-submit --py-files lambdo_spark_pkg.zip \\
        -m ... # or: spark-submit __main__-wrapper.py retention ...

``get_spark`` uses ``getOrCreate`` so submitted master/conf win, and
ships the package zip to executors (the --py-files equivalent) for
plain ``python -m`` runs.
"""

from __future__ import annotations

import argparse
import json
import sys

from lambdo_spark.session import get_spark


def _run_workflow(args) -> int:
    from lambdo_spark.plans.compiler import Workflow

    with open(args.workflow) as f:
        spec = f.read()
    spark = get_spark(app_name=f"lambdo_spark:{args.workflow}", master=args.master)
    try:
        wf = Workflow(spec, spark)
        tables = wf.execute()
        if wf.streams:
            print(f"awaiting {len(wf.streams)} stream sink(s)...")
            wf.await_streams()
        print(f"executed {len(tables)} tables in {len(wf.layers)} layers:")
        for layer in wf.layers:
            print("  layer:", ", ".join(layer))
        for t in args.show:
            print(f"\n== {t} ==")
            tables[t].show(args.show_rows, truncate=False)
        return 0
    finally:
        spark.stop()


def _run_tier_build(args) -> int:
    """``retention`` (a build into an empty root) and ``refresh`` (a
    pages delta into a built root) differ only in the delta tag; both
    print the refresh result."""
    from lambdo_spark.rollup.incremental import refresh_from_pages
    from lambdo_spark.rollup.pipeline import run_retention_pipeline
    from lambdo_spark.sources.pages import generate_pages

    spark = get_spark(app_name=f"lambdo_spark:{args.cmd}", master=args.master)
    try:
        if args.synthesize:
            pages = generate_pages(spark, args.synthesize, seed=args.seed)
        elif args.pages:
            pages = spark.read.parquet(args.pages)
        else:
            print(f"{args.cmd}: need --pages PATH or --synthesize N", file=sys.stderr)
            return 2
        if args.cmd == "retention":
            result = run_retention_pipeline(
                spark, pages, args.out, enforce_audit=not args.no_audit
            )
        else:
            result = refresh_from_pages(
                spark, pages, args.out, delta_tag=args.delta_tag
            )
        print(
            json.dumps(
                {
                    "skipped": result.get("skipped"),
                    "affected_parts": {
                        k: len(v) for k, v in result["affected_parts"].items()
                    },
                },
                indent=1,
            )
        )
        return 0
    finally:
        spark.stop()


def _run_realtime(args) -> int:
    from lambdo_spark.rollup.realtime import (
        materialization_watermark,
        read_realtime_tier,
    )

    spark = get_spark(app_name="lambdo_spark:realtime", master=args.master)
    try:
        from pyspark.sql import functions as F

        raw = spark.read.parquet(args.raw)
        w = materialization_watermark(args.root, args.tier)
        df = read_realtime_tier(
            spark, args.root, args.tier, raw,
            gapfill=args.gapfill, cascade=args.cascade,
        )
        n = df.count()
        mx = df.agg({"bucket_s": "max"}).first()[0]
        print(
            json.dumps(
                {
                    "tier": args.tier,
                    "rows": n,
                    "materialization_watermark": w,
                    "max_bucket_s": mx,
                    "cascade": args.cascade,
                }
            )
        )
        if args.show:
            df.orderBy(F.col("bucket_s").desc(), "url").show(args.show, truncate=False)
        return 0
    finally:
        spark.stop()


def _run_stream_refresh(args) -> int:
    from lambdo_spark.streaming.continuous import continuous_refresh_writer

    spark = get_spark(app_name="lambdo_spark:stream-refresh", master=args.master)
    try:
        schema = spark.read.parquet(args.src).schema
        stream = spark.readStream.schema(schema).format("parquet").load(args.src)
        writer = continuous_refresh_writer(
            stream, args.out, args.checkpoint, tag_prefix=args.tag_prefix
        )
        if args.interval:
            q = writer.trigger(processingTime=args.interval).start()
            q.awaitTermination()  # live firehose: run until killed
        else:
            q = writer.trigger(availableNow=True).start()
            q.awaitTermination()
        q.stop()
        from lambdo_spark.sources.iceberg_layout import IcebergLayoutTable
        import os as _os

        snap = IcebergLayoutTable(
            _os.path.join(args.out, "partials_1h")
        ).current_snapshot() or {}
        print(
            json.dumps(
                {
                    "applied_deltas": snap.get("applied_deltas", []),
                    "snapshot_id": snap.get("snapshot_id"),
                },
                indent=1,
            )
        )
        return 0
    finally:
        spark.stop()


def _run_maintain(args) -> int:
    from lambdo_spark.sources.iceberg_layout import IcebergLayoutTable

    spark = get_spark(app_name="lambdo_spark:maintain", master=args.master)
    try:
        t = IcebergLayoutTable(args.table)
        out: dict = {"table": args.table}
        if args.compact:
            snap = t.compact_parts(
                spark,
                target_files=args.target_files,
                order=args.compact_order,
            )
            out["compacted_parts"] = len(snap["new_parts"])
            out["snapshot_id"] = snap["snapshot_id"]
        if args.rewrite_deletes is not None:
            before = (t.current_snapshot() or {}).get("snapshot_id")
            snap = t.rewrite_deletes(
                spark, min_files=args.rewrite_deletes,
                target_files=args.target_files,
            )
            out["delete_rewritten_parts"] = (
                snap.get("new_parts", []) if snap["snapshot_id"] != before else []
            )
            out["snapshot_id"] = snap["snapshot_id"]
        if args.drop_older_than is not None:
            before = (t.current_snapshot() or {}).get("snapshot_id")
            snap = t.drop_parts_older_than(args.drop_older_than)
            out["dropped_parts"] = (
                snap.get("dropped_parts", [])
                if snap["snapshot_id"] != before else []
            )
            out["snapshot_id"] = snap["snapshot_id"]
        if args.expire_keep is not None:
            deleted = t.expire_snapshots(keep_last=args.expire_keep)
            out["expired_version_dirs"] = len(deleted)
        if args.remove_orphans:
            out["orphan_dirs_removed"] = len(
                t.remove_orphans(older_than_s=args.orphan_grace)
            )
        print(json.dumps(out, indent=1))
        return 0
    finally:
        spark.stop()


def _run_schema(args) -> int:
    """Metadata-only (no SparkSession): show or evolve the table
    schema. Renames/drops/widens never touch data files."""
    from lambdo_spark.sources.iceberg_layout import IcebergLayoutTable

    t = IcebergLayoutTable(args.table)
    for spec in args.rename:
        old, _, new = spec.partition(":")
        t.rename_column(old, new)
    for spec in args.add:
        name, _, dtype = spec.partition(":")
        t.add_column(name, dtype)
    for name in args.drop:
        t.drop_column(name)
    for spec in args.widen:
        name, _, dtype = spec.partition(":")
        t.widen_column(name, dtype)
    s = t.schema(args.schema_id)
    print(json.dumps({"table": args.table, "schema": s}, indent=1))
    return 0


def _run_evolve_parts(args) -> int:
    """Partition spec evolution. A populated table needs a Spark
    session for the one-shot re-bucketing rewrite; an empty one
    evolves metadata-only."""
    from lambdo_spark.sources.iceberg_layout import IcebergLayoutTable

    spark = get_spark(app_name="lambdo_spark:evolve-parts", master=args.master)
    try:
        out: dict = {"part_seconds": args.part_seconds}
        if args.root:
            from lambdo_spark.rollup.incremental import evolve_root_partitioning

            snaps = evolve_root_partitioning(spark, args.root, args.part_seconds)
            out["root"] = args.root
            out["evolved"] = {
                name: {"snapshot_id": s["snapshot_id"],
                       "part_spec_id": s.get("part_spec_id"),
                       "parts": len(s.get("parts", {}))}
                for name, s in snaps.items()
            }
        else:
            t = IcebergLayoutTable(args.table)
            s = t.evolve_partitioning(
                args.part_seconds, spark=spark, rewrite=True
            )
            out["table"] = args.table
            out["snapshot_id"] = s.get("snapshot_id")
            out["part_spec_id"] = s.get("part_spec_id")
            out["parts"] = sorted(s.get("parts", {}))
        print(json.dumps(out, indent=1))
        return 0
    finally:
        spark.stop()


def _run_branch(args) -> int:
    """Metadata-only (no SparkSession): create / publish / drop branch
    refs — the write-audit-publish control surface."""
    from lambdo_spark.sources.iceberg_layout import IcebergLayoutTable

    t = IcebergLayoutTable(args.table)
    out: dict = {"table": args.table}
    if args.create:
        out["created"] = t.create_branch(args.create, from_snapshot=args.at)
    if args.publish:
        out["published"] = t.publish_branch(args.publish)
    if args.drop:
        t.drop_branch(args.drop)
        out["dropped"] = args.drop
    out["branches"] = t.list_branches()
    print(json.dumps(out, indent=1))
    return 0


def _run_delete(args) -> int:
    from lambdo_spark.sources.iceberg_layout import IcebergLayoutTable

    spark = get_spark(app_name="lambdo_spark:delete", master=args.master)
    try:
        t = IcebergLayoutTable(args.table, branch=args.branch)
        prune = _prune(args.prune)
        before = (t.current_snapshot() or {}).get("snapshot_id")
        snap = t.delete_where(spark, args.where, prune=prune or None, mode=args.mode)
        changed = snap["snapshot_id"] != before
        print(json.dumps({
            "table": args.table,
            "predicate": args.where,
            "mode": args.mode,
            "rewritten_parts": snap.get("new_parts", []) if changed else [],
            "delete_file_parts": snap.get("delete_parts", []) if changed else [],
            "snapshot_id": snap["snapshot_id"],
        }, indent=1))
        return 0
    finally:
        spark.stop()


def _run_update(args) -> int:
    from lambdo_spark.sources.iceberg_layout import IcebergLayoutTable

    spark = get_spark(app_name="lambdo_spark:update", master=args.master)
    try:
        t = IcebergLayoutTable(args.table, branch=args.branch)
        sets = {}
        for s in args.set:
            c, _, expr = s.partition("=")
            sets[c.strip()] = expr
        before = (t.current_snapshot() or {}).get("snapshot_id")
        snap = t.update_where(spark, args.where, sets, mode=args.mode)
        changed = snap["snapshot_id"] != before
        print(json.dumps({
            "table": args.table,
            "predicate": args.where,
            "set": sets,
            "mode": args.mode,
            "rewritten_parts": snap.get("new_parts", []) if changed else [],
            "updated_parts": snap.get("add_parts", []) if changed else [],
            "snapshot_id": snap["snapshot_id"],
        }, indent=1))
        return 0
    finally:
        spark.stop()


def _run_merge(args) -> int:
    from lambdo_spark.sources.iceberg_layout import IcebergLayoutTable

    spark = get_spark(app_name="lambdo_spark:merge", master=args.master)
    try:
        t = IcebergLayoutTable(args.table, branch=args.branch)
        delta = spark.read.parquet(args.delta)
        snap = t.merge_rows(delta, keys=args.keys.split(","), mode=args.mode)
        print(json.dumps({
            "table": args.table,
            "mode": args.mode,
            "rewritten_parts": snap["new_parts"],
            "appended_parts": snap.get("add_parts", []),
            "snapshot_id": snap["snapshot_id"],
        }, indent=1))
        return 0
    finally:
        spark.stop()


def _coerce(v: str):
    for cast in (int, float):
        try:
            return cast(v)
        except ValueError:
            pass
    return v


def _prune(specs: list[str]) -> dict:
    """``COL=LO..HI`` (inclusive; either end may be left open) and
    ``COL=VALUE`` specs as a ``plan_files`` prune, numbers coerced."""
    prune: dict = {}
    for w in specs:
        c, _, v = w.partition("=")
        if ".." in v:
            lo, hi = v.split("..", 1)
            prune[c] = (_coerce(lo) if lo else None, _coerce(hi) if hi else None)
        else:
            prune[c] = _coerce(v)
    return prune


def _run_plan(args) -> int:
    """Metadata-only (no SparkSession): resolve the snapshot, apply
    manifest column-stat pruning, report what a read would touch."""
    from lambdo_spark.sources.iceberg_layout import IcebergLayoutTable

    t = IcebergLayoutTable(args.table)
    if args.diff:
        frm, _, to = args.diff.partition("..")
        ch = t.changed_parts(int(frm), int(to) if to else None)
        print(json.dumps(
            {k: ch[k] for k in ("added", "rewritten", "removed", "part_col")},
            indent=1,
        ))
        return 0
    prune = _prune(args.where)
    plan = t.plan_files(args.snapshot, prune)
    out = {
        "table": args.table,
        "prune": {k: list(v) if isinstance(v, tuple) else v for k, v in prune.items()},
        "matched_files": len(plan["files"]),
        "total_files": plan["total_files"],
        "skipped_files": plan["skipped_files"],
        "skipped_parts": plan["skipped_parts"],
    }
    print(json.dumps(out, indent=1))
    if args.list_files:
        for f in plan["files"]:
            print(f)
    return 0


def main(argv: list[str] | None = None) -> int:
    argv = list(sys.argv[1:] if argv is None else argv)
    ap = argparse.ArgumentParser(prog="lambdo_spark")
    sub = ap.add_subparsers(dest="cmd", required=True)

    def command(name, run, **kw):
        p = sub.add_parser(name, **kw)
        p.set_defaults(run=run)
        return p

    runp = command("run", _run_workflow, help="execute a workflow JSON (// comments ok)")
    runp.add_argument("workflow")
    runp.add_argument("--master", default=None)
    runp.add_argument("--show", metavar="TABLE", action="append", default=[])
    runp.add_argument("--show-rows", type=int, default=20)

    ret = command("retention", _run_tier_build, help="flagship tier rollup pipeline")
    ref = command(
        "refresh", _run_tier_build,
        help="incremental tier refresh: merge a pages delta, rebuild "
        "only affected partitions (exactly-once per --delta-tag)",
    )
    for p in (ret, ref):
        p.add_argument("--pages", default=None, help="pages parquet path")
        p.add_argument("--synthesize", type=int, default=0,
                       help="generate N deterministic pages instead of reading")
        p.add_argument("--seed", type=int, default=42)
        p.add_argument("--out", required=True, help="tier root")
        p.add_argument("--master", default=None)
    ret.add_argument("--no-audit", action="store_true")
    ref.add_argument("--delta-tag", default="", help="idempotency key for this delta")

    srf = command(
        "stream-refresh", _run_stream_refresh,
        help="continuous-aggregate maintenance: watch a directory for "
        "new pages parquet files and incrementally refresh the tiers "
        "(exactly-once per micro-batch)",
    )
    srf.add_argument("--src", required=True, help="pages landing directory")
    srf.add_argument("--out", required=True, help="tier root (shared with retention)")
    srf.add_argument("--checkpoint", required=True)
    srf.add_argument("--tag-prefix", default="stream")
    srf.add_argument("--interval", default=None,
                     help="processingTime trigger (e.g. '30 seconds'); "
                     "default: availableNow catch-up then exit")
    srf.add_argument("--master", default=None)

    rtm = command(
        "realtime", _run_realtime,
        help="real-time continuous-aggregate read: finalized tier ∪ "
        "fresh rollup of the raw tail (--cascade: coarse-tier edge "
        "from the 1h partials store, raw bounded by the store "
        "watermark)",
    )
    rtm.add_argument("--root", required=True, help="tier root")
    rtm.add_argument("--tier", default="1h", choices=["1h", "1d", "30d"])
    rtm.add_argument("--raw", required=True, help="raw pages parquet path")
    rtm.add_argument(
        "--cascade", action="store_true",
        help="serve the coarse-tier edge from the 1h partials store "
        "instead of raw. Exact for rows arriving at/above the STORE "
        "watermark; late rows with event ts in [tier watermark, store "
        "watermark) surface only after the next partials refresh (the "
        "non-cascade read includes them immediately)",
    )
    rtm.add_argument("--gapfill", action="store_true")
    rtm.add_argument("--show", type=int, default=0, metavar="N",
                     help="print the last N buckets")
    rtm.add_argument("--master", default=None)

    mnt = command(
        "maintain", _run_maintain,
        help="table maintenance: compact small files and/or expire old "
        "snapshot versions of one Iceberg-layout table",
    )
    mnt.add_argument("--table", required=True, help="table root (e.g. .../tier_1h)")
    mnt.add_argument("--compact", action="store_true")
    mnt.add_argument("--target-files", type=int, default=1)
    mnt.add_argument("--compact-order", choices=["linear", "zorder"],
                     default="linear",
                     help="zorder (with --target-files > 1) rewrites each "
                     "partition into files covering narrow rectangles of "
                     "the sort-order key space — per-file stats then prune "
                     "on every sort dimension (OPTIMIZE ZORDER BY)")
    mnt.add_argument("--expire-keep", type=int, default=None,
                     help="keep only the N most recent snapshots")
    mnt.add_argument("--drop-older-than", type=int, default=None,
                     metavar="CUTOFF",
                     help="age-based retention: drop partitions whose "
                     "time-bucket value is < CUTOFF — metadata-only "
                     "(zero data IO; expire reclaims bytes later)")
    mnt.add_argument("--rewrite-deletes", type=int, default=None,
                     metavar="MIN_FILES",
                     help="compact only partitions whose merge-on-read "
                     "read tax (delete files + appended file sets) is at "
                     "least MIN_FILES — folds them into clean base files")
    mnt.add_argument("--remove-orphans", action="store_true",
                     help="delete version dirs, manifests and delete files "
                     "no snapshot references (crashed attempts, lost "
                     "commit races)")
    mnt.add_argument("--orphan-grace", type=float, default=3600.0,
                     help="seconds a dir must be idle before it counts "
                     "as orphaned (protects in-flight writers)")
    mnt.add_argument("--master", default=None)

    pln = command(
        "plan", _run_plan,
        help="metadata-only scan planning: which data files a pruned "
        "read of one Iceberg-layout table would touch (no Spark job)",
    )
    pln.add_argument("--table", required=True, help="table root (e.g. .../tier_1h)")
    pln.add_argument("--snapshot", type=int, default=None, help="time-travel snapshot id")
    pln.add_argument(
        "--where", action="append", default=[], metavar="COL=LO..HI|COL=VALUE",
        help="prune range (inclusive, open ends ok: bucket_s=1700000000..) "
        "or equality; repeatable",
    )
    pln.add_argument("--list-files", action="store_true")
    pln.add_argument(
        "--diff", default=None, metavar="FROM[..TO]",
        help="instead of planning a read, show which partitions changed "
        "between two snapshots (added/rewritten/removed; TO defaults "
        "to CURRENT) — the planning half of read_changes",
    )

    sch = command(
        "schema", _run_schema,
        help="show or evolve one Iceberg-layout table's schema "
        "(metadata-only; renames/drops/widens rewrite ZERO data files)",
    )
    sch.add_argument("--table", required=True, help="table root (e.g. .../tier_1h)")
    sch.add_argument("--schema-id", type=int, default=None,
                     help="show a historical schema instead of current")
    sch.add_argument("--rename", action="append", default=[], metavar="OLD:NEW")
    sch.add_argument("--add", action="append", default=[], metavar="NAME:TYPE")
    sch.add_argument("--drop", action="append", default=[], metavar="NAME")
    sch.add_argument("--widen", action="append", default=[], metavar="NAME:TYPE",
                     help="promote a type (tinyint→…→bigint, float→double)")

    evo = command(
        "evolve-parts", _run_evolve_parts,
        help="partition spec evolution: change a table's (or a whole "
        "retention root's) time-partition width; empty tables evolve "
        "metadata-only, populated ones re-bucket in one atomic commit",
    )
    tgt = evo.add_mutually_exclusive_group(required=True)
    tgt.add_argument("--table", help="one table root (e.g. .../tier_1h)")
    tgt.add_argument("--root", help="retention root: partials store + "
                     "every tier table evolve in lockstep")
    evo.add_argument("--part-seconds", type=int, required=True,
                     metavar="SECONDS", help="new partition width "
                     "(86400=daily, 604800=weekly)")
    evo.add_argument("--master", default=None)

    brn = command(
        "branch", _run_branch,
        help="create/publish/drop branch refs (write-audit-publish): "
        "stage writes on a branch with --branch on write commands, "
        "audit them, then publish fast-forwards main atomically "
        "(metadata-only; no Spark session)",
    )
    brn.add_argument("--table", required=True)
    brn.add_argument("--create", default=None, metavar="NAME")
    brn.add_argument("--at", type=int, default=None,
                     help="snapshot id to branch from (default: main head)")
    brn.add_argument("--publish", default=None, metavar="NAME")
    brn.add_argument("--drop", default=None, metavar="NAME")

    dlt = command(
        "delete", _run_delete,
        help="row-level DELETE: rewrite only the partitions containing "
        "matching rows (stat-pruned scan finds them)",
    )
    dlt.add_argument("--table", required=True)
    dlt.add_argument("--where", required=True, help="SQL predicate (rows matching it are deleted)")
    dlt.add_argument("--prune", action="append", default=[],
                     metavar="COL=LO..HI|COL=VALUE",
                     help="file-stat prune range to bound the matching scan")
    dlt.add_argument("--mode", default="copy-on-write",
                     choices=["copy-on-write", "merge-on-read"],
                     help="merge-on-read writes position-delete files "
                     "(O(matched rows), zero data rewrite); copy-on-write "
                     "rewrites the matching partitions")
    dlt.add_argument("--branch", default="main",
                     help="stage the delete on a branch ref (write-audit-publish)")
    dlt.add_argument("--master", default=None)

    upd = command(
        "update", _run_update,
        help="row-level UPDATE: SET col=expr on rows matching a "
        "predicate — copy-on-write rewrites matching partitions, "
        "merge-on-read writes position-deletes + updated images",
    )
    upd.add_argument("--table", required=True)
    upd.add_argument("--where", required=True)
    upd.add_argument("--set", action="append", required=True,
                     metavar="COL=SQL_EXPR",
                     help="repeatable; expression sees the row's columns")
    upd.add_argument("--mode", default="copy-on-write",
                     choices=["copy-on-write", "merge-on-read"])
    upd.add_argument("--branch", default="main",
                     help="stage the update on a branch ref (write-audit-publish)")
    upd.add_argument("--master", default=None)

    mrg = command(
        "merge", _run_merge,
        help="keyed MERGE (upsert): delta rows replace base rows with "
        "the same key; only the delta's partitions are rewritten",
    )
    mrg.add_argument("--table", required=True)
    mrg.add_argument("--delta", required=True, help="delta parquet path (must carry the part column)")
    mrg.add_argument("--keys", required=True, help="comma-separated key columns")
    mrg.add_argument("--mode", default="copy-on-write",
                     choices=["copy-on-write", "merge-on-read"],
                     help="merge-on-read appends the delta + equality-delete "
                     "files (O(delta) write, zero base rewrite); copy-on-write "
                     "rewrites the delta's partitions")
    mrg.add_argument("--branch", default="main",
                     help="stage the merge on a branch ref (write-audit-publish)")
    mrg.add_argument("--master", default=None)

    # bare form: `python -m lambdo_spark workflow.json [...]` runs it
    if argv and argv[0] not in sub.choices:
        argv = ["run", *argv]
    args = ap.parse_args(argv)
    return args.run(args)


if __name__ == "__main__":
    sys.exit(main())
