"""Checkpointed write / resume / lineage protocol tests
(SURVEY.md §7.3 "Resumability without Iceberg's transaction layer")."""

import os

import pytest
from pyspark.sql import functions as F

from lambdo_spark.rollup.compress_stage import compress_tier
from lambdo_spark.rollup.pipeline import RETENTION_TAG, run_retention_pipeline
from lambdo_spark.rollup.tiers import finalize, partials_from_pages
from lambdo_spark.sources.iceberg_layout import IcebergLayoutTable, with_part
from lambdo_spark.sources.pages import generate_pages
from lambdo_spark.functions.compress import decode_timestamps, decode_values


def test_write_read_and_lineage(spark, tmp_path):
    pages = generate_pages(spark, 1000, seed=42)
    tier = with_part(finalize(partials_from_pages(pages, 3600)))
    t = IcebergLayoutTable(str(tmp_path / "t1h"))
    snap = t.write_tier(tier, input_snapshot="pages@test")
    assert snap["snapshot_id"] == 0 and snap["parts"]
    back = t.read_tier(spark)
    assert back.count() == tier.count()
    lin = t.lineage()
    assert len(lin) == len(snap["parts"])
    assert sum(m["rows"] for m in lin) == tier.count()
    assert all(m["input_snapshot"] == "pages@test" for m in lin)


def test_write_clusters_files_and_sorts(spark, tmp_path):
    """Writes rebalance on the partition column and sort within tasks:
    each part=<p>/snapv=<v> dir must hold ONE parquet file (no
    tasks-x-parts small-file scatter), with rows sorted by the table
    sort order inside it — content identical either way."""
    import glob

    import pandas as pd

    pages = generate_pages(spark, 2000, seed=7)
    tier = with_part(finalize(partials_from_pages(pages, 3600)))
    # shuffle the frame so the input is deliberately NOT part-clustered
    tier = tier.repartition(16, "url")
    root = str(tmp_path / "t")
    t = IcebergLayoutTable(root)
    t.write_tier(tier)
    part_dirs = glob.glob(os.path.join(root, "data", "part=*", "snapv=*"))
    assert part_dirs
    for d in part_dirs:
        files = glob.glob(os.path.join(d, "*.parquet"))
        assert len(files) == 1, (d, files)
        pdf = pd.read_parquet(files[0])[["url", "bucket_s"]]
        assert pdf.equals(pdf.sort_values(["url", "bucket_s"]).reset_index(drop=True)), d
    assert t.read_tier(spark).count() == tier.count()


def test_resume_skips_committed_parts(spark, tmp_path):
    pages = generate_pages(spark, 800, seed=42)
    tier = with_part(finalize(partials_from_pages(pages, 3600)))
    root = str(tmp_path / "t")
    t = IcebergLayoutTable(root)

    parts = sorted({str(r[0]) for r in tier.select("part").distinct().collect()})
    assert len(parts) >= 2
    # first run: only half the partitions exist upstream (simulates kill)
    half = parts[: len(parts) // 2]
    t.write_tier(tier.where(F.col("part").cast("string").isin(half)))
    assert t.committed_parts() == set(half)
    s0 = t.current_snapshot()["snapshot_id"]

    # resume with the full input: only missing parts are new
    snap = t.write_tier(tier)
    assert snap["snapshot_id"] == s0 + 1
    assert set(snap["new_parts"]) == set(parts) - set(half)
    assert t.read_tier(spark).count() == tier.count()

    # idempotent re-run: nothing new
    snap2 = t.write_tier(tier)
    assert snap2["new_parts"] == []
    assert t.read_tier(spark).count() == tier.count()


def test_compress_stage_roundtrip(spark):
    pages = generate_pages(spark, 1200, seed=9)
    tier = finalize(partials_from_pages(pages, 3600))
    comp = compress_tier(tier, value_col="mean_len").collect()
    assert comp
    # decode a couple of blobs and compare to the tier rows
    tier_pd = tier.orderBy("url", "bucket_s").toPandas()
    for row in comp[:5]:
        ts = decode_timestamps(bytes(row["ts_blob"]))
        vals = decode_values(bytes(row["val_blob"]))
        sub = tier_pd[tier_pd.url == row["url"]]
        sub = sub[(sub.bucket_s >= ts.min()) & (sub.bucket_s <= ts.max())]
        assert list(ts) == list(sub.bucket_s)
        assert list(vals) == list(sub.mean_len)


def test_full_pipeline_runs_and_resumes(spark, tmp_path):
    pages = generate_pages(spark, 600, seed=11)
    out = str(tmp_path / "pipe")
    r1 = run_retention_pipeline(spark, pages, out)
    tiers = ("1h", "1d", "30d")
    assert set(r1["snapshots"]) == {
        "partials_1h", *tiers, *(f"compressed_{t}" for t in tiers)
    }
    for snap in r1["snapshots"].values():
        assert snap["parts"]
    # re-run is a no-op resume: the store's tag ledger skips it and no
    # table gets a new snapshot
    dirs = ["partials_1h", *(f"{k}_{t}" for k in ("tier", "compressed") for t in tiers)]
    before = [IcebergLayoutTable(os.path.join(out, d)).current_snapshot() for d in dirs]
    r2 = run_retention_pipeline(spark, pages, out)
    assert r2 == {"affected_parts": {}, "snapshots": {}, "skipped": RETENTION_TAG}
    after = [IcebergLayoutTable(os.path.join(out, d)).current_snapshot() for d in dirs]
    assert after == before
    assert os.path.exists(os.path.join(out, "tier_30d", "metadata", "CURRENT"))
    # the durable partials store exists — refresh can share this root
    assert os.path.exists(os.path.join(out, "partials_1h", "metadata", "CURRENT"))


def test_mvcc_time_travel_and_reader_isolation(spark, tmp_path):
    """A rewrite must not disturb the previous snapshot: time-travel
    reads return the exact pre-rewrite rows (old version dirs are
    immutable), and expire_snapshots garbage-collects only versions no
    kept snapshot references."""
    import os

    from lambdo_spark.sources.iceberg_layout import IcebergLayoutTable

    root = str(tmp_path / "t")
    t = IcebergLayoutTable(root)
    df1 = spark.createDataFrame(
        [(1, 10, "a"), (1, 11, "b"), (2, 20, "c")], "part long, k long, v string"
    )
    s1 = t.write_tier(df1)
    v1 = t.read_tier(spark).toPandas().sort_values("k")

    # rewrite partition 1 with different content
    df2 = spark.createDataFrame(
        [(1, 99, "z")], "part long, k long, v string"
    )
    s2 = t.overwrite_parts(df2, ["1"])
    assert s2["snapshot_id"] == s1["snapshot_id"] + 1

    cur = t.read_tier(spark).toPandas().sort_values("k")
    assert sorted(cur["v"]) == ["c", "z"]
    # time travel to snapshot 0: the original three rows, bit-exact
    old = t.read_tier(spark, snapshot_id=s1["snapshot_id"]).toPandas().sort_values("k")
    assert old.reset_index(drop=True).equals(v1.reset_index(drop=True))

    # both versions exist on disk (immutability), then expire drops
    # only the version snapshot 0 exclusively references
    p1_versions = os.listdir(os.path.join(root, "data", "part=1"))
    assert len(p1_versions) == 2, p1_versions
    deleted = t.expire_snapshots(keep_last=1)
    assert len(deleted) == 1 and "part=1" in deleted[0]
    # current snapshot still fully readable; old one is gone
    cur2 = t.read_tier(spark).toPandas()
    assert sorted(cur2["v"]) == ["c", "z"]
    import pytest as _pytest

    with _pytest.raises(FileNotFoundError):
        t.read_tier(spark, snapshot_id=s1["snapshot_id"])


def test_mvcc_lineage_tracks_versions(spark, tmp_path):
    from lambdo_spark.sources.iceberg_layout import IcebergLayoutTable

    root = str(tmp_path / "t2")
    t = IcebergLayoutTable(root)
    t.write_tier(spark.createDataFrame([(1, 1)], "part long, k long"))
    t.overwrite_parts(
        spark.createDataFrame([(1, 2), (1, 3)], "part long, k long"), ["1"]
    )
    lin = t.lineage()
    assert len(lin) == 1 and lin[0]["rows"] == 2 and lin[0]["version"] == 1


def test_compaction_carries_applied_deltas(spark, tmp_path):
    """compact_parts must not drop snapshot application state — the
    exactly-once delta ledger survives maintenance commits."""
    from lambdo_spark.sources.iceberg_layout import IcebergLayoutTable

    root = str(tmp_path / "t5")
    t = IcebergLayoutTable(root)
    df = spark.createDataFrame([(1, i) for i in range(50)], "part long, k long")
    t.write_tier(df)
    t.overwrite_parts(df, ["1"], extra={"applied_deltas": ["d1", "d2"]})
    t.compact_parts(spark)
    snap = t.current_snapshot()
    assert snap["input_snapshot"] == "compaction"
    assert snap["applied_deltas"] == ["d1", "d2"]


def test_compaction_preserves_content_hash(spark, tmp_path):
    """compact_parts: many small files → 1 per partition, identical
    rows (lineage value_hash must carry over), old snapshot intact."""
    import glob
    import os

    from lambdo_spark.sources.iceberg_layout import IcebergLayoutTable

    root = str(tmp_path / "t3")
    # cluster_writes=False: the small-file regime compaction exists for
    # (streaming micro-batches / foreign writers land one file per task)
    t = IcebergLayoutTable(root, cluster_writes=False)
    df = spark.createDataFrame(
        [(p, i, f"v{p}_{i}") for p in (1, 2) for i in range(200)],
        "part long, k long, v string",
    ).repartition(16)
    s1 = t.write_tier(df)
    hashes_before = {m["part"]: m["value_hash"] for m in t.lineage()}
    files_before = len(glob.glob(os.path.join(root, "data", "part=*", "*", "*.parquet")))
    assert files_before > 2

    s2 = t.compact_parts(spark)
    assert s2["snapshot_id"] == s1["snapshot_id"] + 1
    hashes_after = {m["part"]: m["value_hash"] for m in t.lineage()}
    assert hashes_after == hashes_before  # byte-identical content
    # current version dirs hold exactly one file per partition
    for p in ("1", "2"):
        v = t.part_versions()[p]
        files = glob.glob(
            os.path.join(root, "data", f"part={p}", f"snapv={v}", "*.parquet")
        )
        assert len(files) == 1, files
    assert t.read_tier(spark).count() == 400
    assert t.read_tier(spark, snapshot_id=s1["snapshot_id"]).count() == 400


def test_manifest_file_stats_and_scan_pruning(spark, tmp_path):
    """Manifests record per-file min/max of the sort-order columns;
    plan_files/read_tier(prune=...) skip non-overlapping files and
    parts metadata-only, and the pruned read equals the full read
    filtered (residual predicate keeps it exact)."""
    pages = generate_pages(spark, 4000, seed=3)
    tier = with_part(finalize(partials_from_pages(pages, 3600)))
    root = str(tmp_path / "t")
    t = IcebergLayoutTable(root)
    t.write_tier(tier)

    lin = t.lineage()
    assert all(m.get("files") for m in lin)
    for m in lin:
        assert sum(f["rows"] for f in m["files"]) == m["rows"]
        for fr in m["files"]:
            assert set(fr["stats"]) == {"url", "bucket_s"}
            lo, hi = fr["stats"]["bucket_s"]
            assert lo <= hi

    # pick a bucket_s range covering ~one part
    parts = sorted(int(p) for p in t.part_versions())
    lo, hi = parts[1], parts[1] + 7 * 86400 - 1
    plan = t.plan_files(prune={"bucket_s": (lo, hi)})
    assert plan["skipped_files"] > 0
    assert len(plan["files"]) < plan["total_files"]

    pruned = t.read_tier(spark, prune={"bucket_s": (lo, hi)})
    full = t.read_tier(spark).where(
        (F.col("bucket_s") >= lo) & (F.col("bucket_s") <= hi)
    )
    assert len(pruned.inputFiles()) < len(t.read_tier(spark).inputFiles())
    a = sorted(pruned.collect())
    b = sorted(full.collect())
    assert a == b and len(a) > 0

    # part-col equality prune: one part's files only
    p0 = str(parts[0])
    plan0 = t.plan_files(prune={"part": int(p0)})
    assert all(f"part={p0}/" in f for f in plan0["files"])
    assert t.read_tier(spark, prune={"part": int(p0)}).count() == (
        t.read_tier(spark).where(F.col("part") == int(p0)).count()
    )

    # url prune: string-stat overlap, still exact
    one_url = tier.select("url").first()[0]
    pr = t.read_tier(spark, prune={"url": one_url})
    assert pr.count() == t.read_tier(spark).where(F.col("url") == one_url).count()


def test_read_changes_between_snapshots(spark, tmp_path):
    """Incremental (CDC) read: diff two snapshots reading ONLY changed
    partitions; inserts/deletes reconstruct the new view from the old."""
    pages = generate_pages(spark, 2000, seed=11)
    tier = with_part(finalize(partials_from_pages(pages, 3600)))
    root = str(tmp_path / "t")
    t = IcebergLayoutTable(root)
    s0 = t.write_tier(tier)["snapshot_id"]

    # rewrite one partition with perturbed rows + add a synthetic part
    parts = sorted(t.part_versions())
    p0 = parts[0]
    mod = (
        t.read_tier(spark)
        .where(F.col("part") == int(p0))
        .withColumn("n_points", F.col("n_points") + F.lit(1))
    )
    s1 = t.overwrite_parts(mod, [p0])["snapshot_id"]

    ch = t.changed_parts(s0, s1)
    assert ch["rewritten"] == [p0] and ch["added"] == [] and ch["removed"] == []

    changes = t.read_changes(spark, s0, s1)
    # every change row belongs to the rewritten part — no unchanged
    # partition was read (plan-level: inputFiles stay within part=p0)
    assert all(f"part={p0}/" in f for f in changes.inputFiles())
    pdf = changes.toPandas()
    n_ins = (pdf["_change"] == "insert").sum()
    n_del = (pdf["_change"] == "delete").sum()
    old_rows = mod.count()
    assert n_ins == old_rows and n_del == old_rows  # every row's n changed

    # old snapshot + changes == new snapshot (apply deletes, add
    # inserts; lang_hist dropped — set ops reject map columns, and
    # read_changes itself already diffs maps via sorted entries)
    old = t.read_tier(spark, snapshot_id=s0).drop("lang_hist")
    new = t.read_tier(spark, snapshot_id=s1).drop("lang_hist")
    ins = changes.where("_change = 'insert'").drop("_change", "lang_hist")
    dels = changes.where("_change = 'delete'").drop("_change", "lang_hist")
    rebuilt = old.exceptAll(dels).unionByName(ins)
    assert rebuilt.exceptAll(new).count() == 0
    assert new.exceptAll(rebuilt).count() == 0


def test_optimistic_concurrency_disjoint_writers(spark, tmp_path):
    """Two concurrent writers rewriting DIFFERENT partitions must both
    commit (Iceberg partition-level concurrency): distinct claimed
    versions, merged parts map, no lost update."""
    import threading

    from lambdo_spark.sources.iceberg_layout import IcebergLayoutTable

    root = str(tmp_path / "t")
    t = IcebergLayoutTable(root)
    df = spark.createDataFrame(
        [(p, i) for p in (1, 2) for i in range(50)], "part long, k long"
    )
    t.write_tier(df)
    v0 = dict(t.part_versions())

    errs = []

    def rewrite(p):
        try:
            mod = df.where(f"part = {p}").withColumn("k", df.k + 100)
            IcebergLayoutTable(root).overwrite_parts(mod, [str(p)])
        except Exception as e:  # pragma: no cover - failure reporting
            errs.append(e)

    th = [threading.Thread(target=rewrite, args=(p,)) for p in (1, 2)]
    [x.start() for x in th]
    [x.join() for x in th]
    assert errs == []
    v1 = t.part_versions()
    assert v1["1"] != v0["1"] and v1["2"] != v0["2"]
    assert v1["1"] != v1["2"]  # claimed versions are unique
    back = t.read_tier(spark)
    assert back.count() == 100
    assert back.agg({"k": "min"}).first()[0] == 100  # both rewrites landed


def test_optimistic_concurrency_conflict_and_orphans(spark, tmp_path):
    """Same-partition race: the second committer (stale base) raises
    ConcurrentWriteConflict; committed data is the winner's only; the
    loser's files are orphans that remove_orphans GCs without touching
    live data."""
    from lambdo_spark.sources.iceberg_layout import (
        ConcurrentWriteConflict,
        IcebergLayoutTable,
    )

    root = str(tmp_path / "t")
    t = IcebergLayoutTable(root)
    df = spark.createDataFrame([(1, i) for i in range(20)], "part long, k long")
    t.write_tier(df)
    base = dict(t.part_versions())  # both writers read the same base

    va = t._claim("version", floor=t._next_id("snapshot"))
    t._write_parts(df.withColumn("k", df.k + 1000), ["1"], va, "part", "A")
    t._commit({"input_snapshot": "A", "new_parts": ["1"], "part_col": "part"},
              update={"1": va}, base_versions=base)

    vb = t._claim("version", floor=t._next_id("snapshot"))
    assert vb != va
    t._write_parts(df.withColumn("k", df.k + 5000), ["1"], vb, "part", "B")
    import pytest as _pytest

    with _pytest.raises(ConcurrentWriteConflict):
        t._commit({"input_snapshot": "B", "new_parts": ["1"], "part_col": "part"},
                  update={"1": vb}, base_versions=base)

    back = t.read_tier(spark)
    assert back.agg({"k": "min"}).first()[0] == 1000  # winner's data only

    orphan = os.path.join(root, "data", "part=1", f"snapv={vb}")
    assert os.path.isdir(orphan)
    deleted = t.remove_orphans(older_than_s=0.0)
    assert orphan in deleted and not os.path.exists(orphan)
    assert t.read_tier(spark).count() == 20  # live data untouched


def test_stale_lock_break_single_winner(tmp_path):
    """Breaking a stale commit lock must move exactly one inode
    (atomic rename) — a second breaker that also judged it stale must
    NOT delete the fresh lock the winner re-created."""
    import os
    import time as _time

    t = IcebergLayoutTable(str(tmp_path / "t"))
    os.makedirs(t.meta_dir, exist_ok=True)
    path = os.path.join(t.meta_dir, "COMMIT.lock")
    # plant a stale lock (born 999s ago)
    with open(path, "w") as fh:
        fh.write(f"999 {_time.time() - 999}")
    os.utime(path, (_time.time() - 999,) * 2)
    with t._commit_lock(timeout_s=5, stale_s=120):
        # we broke the stale lock and now hold a fresh one
        assert os.path.exists(path)
        with open(path) as fh:
            born = float(fh.read().split()[1])
        assert _time.time() - born < 10
    assert not os.path.exists(path)
    # no stale-break graveyard files left behind
    assert not [f for f in os.listdir(t.meta_dir) if "stale" in f]


def test_stale_lock_break_restores_stolen_fresh_lock(tmp_path, monkeypatch):
    """The narrow race: between a breaker's staleness check and its
    rename, the stale holder releases and a NEW writer creates a
    fresh lock — the breaker then steals the fresh lock. It must put
    it back (and not re-break it), leaving the live writer locked."""
    import os
    import time as _time

    t = IcebergLayoutTable(str(tmp_path / "t"))
    os.makedirs(t.meta_dir, exist_ok=True)
    path = os.path.join(t.meta_dir, "COMMIT.lock")
    with open(path, "w") as fh:
        fh.write(f"999 {_time.time() - 999}")  # embedded ts: STALE

    real_rename = os.rename

    def racy_rename(src, dst):
        if os.path.basename(src) == "COMMIT.lock":
            # simulate the release+re-acquire landing just before us
            with open(src, "w") as fh:
                fh.write(f"777 {_time.time()}")
        real_rename(src, dst)

    monkeypatch.setattr("os.rename", racy_rename)
    with pytest.raises(TimeoutError):
        with t._commit_lock(timeout_s=1.0, stale_s=120):
            pass
    # the stolen fresh lock was restored, content intact
    with open(path) as fh:
        assert fh.read().split()[0] == "777"
    assert not [f for f in os.listdir(t.meta_dir) if "stale" in f]


def test_overlaps_type_reconciliation():
    """String-stored stats vs numeric prune bounds must reconcile (or
    keep the file), never raise."""
    ov = IcebergLayoutTable._overlaps
    # numeric-as-string stats, int bounds: reconciled via float
    assert ov({"ts": ("100", "200")}, {"ts": (150, 180)}) is True
    assert ov({"ts": ("100", "200")}, {"ts": (250, 300)}) is False
    assert ov({"ts": ("100", "200")}, {"ts": (None, 50)}) is False
    # truly incomparable (non-numeric string stats): keep the file
    assert ov({"url": ("a", "m")}, {"url": (1, 2)}) is True


def test_cow_merge_toctou_conflict(spark, tmp_path):
    """Copy-on-write DML validates against the snapshot its data was
    READ from, not commit-time state: writer A commits between B's
    read and B's commit → B must raise ConcurrentWriteConflict instead
    of silently discarding A's rows (the TOCTOU the re-read base
    allowed)."""
    from lambdo_spark.sources.iceberg_layout import (
        ConcurrentWriteConflict,
        IcebergLayoutTable,
    )

    root = str(tmp_path / "t")
    t = IcebergLayoutTable(root)
    df = spark.createDataFrame(
        [(1, i, 0) for i in range(10)], "part long, k long, v long"
    )
    t.write_tier(df)

    # writer B: plan a CoW merge, then have A land first. We simulate
    # B's stale read by monkey-free sequencing: capture B's table
    # handle, let A commit, then run B's merge whose snap was read
    # BEFORE A committed — merge_rows reads the snapshot at call time,
    # so drive the race through overwrite_parts' base_snapshot hook.
    snap_before = t.current_snapshot()
    # A lands a CoW update (bumps part 1's version)
    ta = IcebergLayoutTable(root)
    ta.update_where(spark, "k = 3", {"v": "v + 7"})

    delta = spark.createDataFrame([(1, 3, 99)], "part long, k long, v long")
    with pytest.raises(ConcurrentWriteConflict):
        t.overwrite_parts(
            delta, ["1"], input_snapshot="merge",
            base_snapshot=snap_before,
        )

    # and merge_rows itself (fresh read) still works after the conflict
    tb = IcebergLayoutTable(root)
    tb.merge_rows(delta, keys=["part", "k"])
    got = {
        (r["k"], r["v"]) for r in tb.read_tier(spark).where("k = 3").collect()
    }
    assert got == {(3, 99)}


def test_cow_rewrite_conflicts_with_concurrent_mor_delete(spark, tmp_path):
    """A MOR delete landing between a CoW writer's read and commit
    does NOT bump the part version — row-state validation must catch
    it (otherwise the rewrite resurrects the deleted rows)."""
    from lambdo_spark.sources.iceberg_layout import (
        ConcurrentWriteConflict,
        IcebergLayoutTable,
    )

    root = str(tmp_path / "t")
    t = IcebergLayoutTable(root)
    df = spark.createDataFrame(
        [(1, i, 0) for i in range(10)], "part long, k long, v long"
    )
    t.write_tier(df)
    snap_before = t.current_snapshot()

    # concurrent MOR delete: same part version, new delete file
    IcebergLayoutTable(root).delete_where(
        spark, "k = 5", mode="merge-on-read"
    )

    stale_rewrite = spark.createDataFrame(
        [(1, i, 1) for i in range(10)], "part long, k long, v long"
    )
    with pytest.raises(ConcurrentWriteConflict):
        t.overwrite_parts(
            stale_rewrite, ["1"], input_snapshot="merge",
            base_snapshot=snap_before,
        )


def test_compact_parts_honors_target_files(spark, tmp_path):
    """target_files > 1 must actually bound the files per partition —
    the clustered-write rebalance hint must not override it."""
    import glob

    root = str(tmp_path / "t")
    t = IcebergLayoutTable(root)
    df = spark.createDataFrame(
        [(p, i, f"u{i % 97}") for p in (1, 2) for i in range(400)],
        "part long, k long, url string",
    )
    t.write_tier(df)
    before = t.read_tier(spark).orderBy("part", "k", "url").collect()
    snap = t.compact_parts(spark, target_files=3)
    for p in ("1", "2"):
        v = snap["parts"][p]
        files = glob.glob(
            os.path.join(root, "data", f"part={p}", f"snapv={v}", "*.parquet")
        )
        assert 2 <= len(files) <= 3, (p, files)
    after = t.read_tier(spark).orderBy("part", "k", "url").collect()
    assert after == before
    # and the default stays one file per part
    snap1 = t.compact_parts(spark, target_files=1)
    for p in ("1", "2"):
        v = snap1["parts"][p]
        files = glob.glob(
            os.path.join(root, "data", f"part={p}", f"snapv={v}", "*.parquet")
        )
        assert len(files) == 1, (p, files)


def test_expect_extra_cas_on_ledger_keys(spark, tmp_path):
    """Application-state CAS: a commit whose ledger expectation went
    stale (concurrent refresh/merge moved applied_deltas or pending)
    must raise instead of silently dropping the other writer's entry."""
    from lambdo_spark.sources.iceberg_layout import (
        ConcurrentWriteConflict,
        IcebergLayoutTable,
    )

    root = str(tmp_path / "t")
    t = IcebergLayoutTable(root)
    df = spark.createDataFrame([(1, 0)], "part long, k long")
    t.write_tier(df)
    prev = t.current_snapshot()

    # writer A extends the ledger
    t.overwrite_parts(
        df, ["1"], extra={"applied_deltas": ["a"]},
        expect_extra={"applied_deltas": prev.get("applied_deltas")},
    )
    # writer B derived its ledger from the SAME prev — must conflict
    with pytest.raises(ConcurrentWriteConflict):
        t.overwrite_parts(
            df, ["1"], extra={"applied_deltas": ["b"]},
            expect_extra={"applied_deltas": prev.get("applied_deltas")},
        )
    assert t.current_snapshot()["applied_deltas"] == ["a"]

    # commit_metadata CAS: clearing a pending marker someone replaced
    t.commit_metadata(extra={"pending": {"tag": "x", "parts": ["1"]}})
    with pytest.raises(ConcurrentWriteConflict):
        t.commit_metadata(
            extra={"pending": None},
            expect_extra={"pending": {"tag": "OLD", "parts": []}},
        )
    t.commit_metadata(
        extra={"pending": None},
        expect_extra={"pending": {"tag": "x", "parts": ["1"]}},
    )
    assert t.current_snapshot().get("pending") is None


def test_commit_metadata_preserves_concurrent_parts(spark, tmp_path):
    """commit_metadata takes the parts map from the LATEST snapshot
    under the commit lock — it must never roll back a data commit that
    landed concurrently."""
    from lambdo_spark.sources.iceberg_layout import IcebergLayoutTable

    root = str(tmp_path / "t")
    t = IcebergLayoutTable(root)
    t.write_tier(spark.createDataFrame([(1, 0)], "part long, k long"))
    # a data commit bumps part 1
    t2 = IcebergLayoutTable(root)
    s = t2.overwrite_parts(
        spark.createDataFrame([(1, 5)], "part long, k long"), ["1"]
    )
    # metadata-only commit afterwards keeps the bumped version
    m = t.commit_metadata(extra={"pending": None})
    assert m["parts"] == s["parts"]
    assert t.read_tier(spark).collect()[0]["k"] == 5


def _readback_manifest_oracle(spark, t, part, version, part_col="part"):
    """Manifest fields recomputed by RE-READING one written version:
    group by input_file_name() with bit_xor(xxhash64(data cols)) and
    min/max of the sort-order columns (non-numeric ones as
    CAST(... AS STRING)). The writer observes the hash in its write job
    and reads stats from parquet footers; both must agree with this.
    The version directory is read as Spark lists it, not through the
    manifest under test."""
    written = spark.read.parquet(t._version_dir(part, version, part_col))
    dtypes = dict(written.dtypes)
    hashable = [
        F.to_json(F.col(c)) if d.startswith(("map", "struct", "array")) else F.col(c)
        for c, d in written.dtypes
        if c not in (part_col, "snapv")
    ]
    stat_cols = [
        c for c in t.sort_order
        if c in dtypes and c not in (part_col, "snapv")
        and not dtypes[c].startswith(("map", "struct", "array", "binary"))
    ]
    aggs = []
    for c in stat_cols:
        col = F.col(c)
        if dtypes[c] not in ("int", "bigint", "smallint", "tinyint", "double", "float"):
            col = col.cast("string")
        aggs += [F.min(col).alias(f"_min_{c}"), F.max(col).alias(f"_max_{c}")]
    per_file = (
        written.select(
            F.input_file_name().alias("f"), F.xxhash64(*hashable).alias("_h"),
            *stat_cols,
        )
        .groupBy("f")
        .agg(F.count(F.lit(1)).alias("rows"), F.expr("bit_xor(_h)").alias("h"), *aggs)
        .collect()
    )
    vh = 0
    for r in per_file:
        vh ^= int(r["h"])
    files = [
        {
            "path": r["f"].split("/data/", 1)[-1],
            "rows": int(r["rows"]),
            "stats": {c: [r[f"_min_{c}"], r[f"_max_{c}"]] for c in stat_cols},
        }
        for r in sorted(per_file, key=lambda r: r["f"])
    ]
    return {"rows": sum(f["rows"] for f in files), "value_hash": vh, "files": files}


def _assert_manifests_match_oracle(spark, t):
    snap = t.current_snapshot()
    pairs = t._version_pairs(snap)
    assert pairs
    for p, v in pairs:
        m = t._manifest(p, v)
        got = {
            "rows": m["rows"],
            "value_hash": m["value_hash"],
            "files": [
                {k: fr[k] for k in ("path", "rows", "stats")} for fr in m["files"]
            ],
        }
        assert got == _readback_manifest_oracle(spark, t, p, v, snap["part_col"]), (p, v)


def test_single_pass_manifests_match_readback(spark, tmp_path):
    """Every writer path — write_tier, overwrite_parts, compaction —
    records the same manifests (rows, value_hash incl. the lang_hist
    map column, file paths, per-file stats) as a re-read of its files."""
    pages = generate_pages(spark, 3000, seed=21)
    tier = with_part(finalize(partials_from_pages(pages, 3600)))
    assert dict(tier.dtypes)["lang_hist"].startswith("map")
    t = IcebergLayoutTable(str(tmp_path / "t"))
    t.write_tier(tier.repartition(6, "url"))
    _assert_manifests_match_oracle(spark, t)
    parts = sorted(t.part_versions())[:2]
    t.overwrite_parts(
        tier.where(F.col("part").cast("string").isin(parts)).where(
            F.col("n_points") > 1
        ),
        parts,
    )
    _assert_manifests_match_oracle(spark, t)
    t.compact_parts(spark, target_files=2)
    _assert_manifests_match_oracle(spark, t)


def test_single_pass_manifest_stat_types(spark, tmp_path):
    """Sort-order stats over bigint, double, string, timestamp and date
    keep the read-back form (non-numeric as Spark's CAST AS STRING);
    a map/struct data column hashes like the read-back; an all-null
    stat column records [None, None]."""
    rows = [
        (
            p, i, i / 7.0, f"u{i % 13:03d}", 1_700_000_000 + 3601 * i + (i % 4) * 0.25,
            i % 40, {"k": i} if i % 3 else None, (i, f"s{i}"),
        )
        for p in (0, 1) for i in range(p * 500, p * 500 + 300)
    ]
    df = (
        spark.createDataFrame(
            rows,
            "part long, b long, d double, s string, ts_raw double, dt_raw int, "
            "m map<string,int>, st struct<x:long,y:string>",
        )
        .withColumn("ts", F.col("ts_raw").cast("timestamp"))
        .withColumn("dt", F.date_add(F.lit("2023-12-30").cast("date"), F.col("dt_raw")))
        .withColumn("nul", F.lit(None).cast("bigint"))
        .drop("ts_raw", "dt_raw")
    )
    order = ("b", "d", "s", "ts", "dt", "nul")
    t = IcebergLayoutTable(str(tmp_path / "t"), sort_order=order)
    t.write_tier(df.repartition(3))
    _assert_manifests_match_oracle(spark, t)
    for m in t.lineage():
        for fr in m["files"]:
            assert set(fr["stats"]) == set(order)
            assert fr["stats"]["nul"] == [None, None]
            assert isinstance(fr["stats"]["ts"][0], str)
            assert isinstance(fr["stats"]["dt"][0], str)


def test_footer_without_bounds_records_unknown(spark, tmp_path):
    """A file whose footer has no min/max for a stat column (INT96
    timestamps) records [None, None], and plan_files keeps it under
    any prune on that column."""
    df = spark.createDataFrame(
        [(1, i, float(i)) for i in range(50)], "part long, k long, t double"
    ).withColumn("ts", F.col("t").cast("timestamp"))
    t = IcebergLayoutTable(str(tmp_path / "t"), sort_order=("k", "ts"))
    key = "spark.sql.parquet.outputTimestampType"
    prev = spark.conf.get(key)
    spark.conf.set(key, "INT96")
    try:
        t.write_tier(df)
    finally:
        spark.conf.set(key, prev)
    (m,) = t.lineage()
    (fr,) = m["files"]
    assert fr["stats"]["ts"] == [None, None]
    assert fr["stats"]["k"] == [0, 49]
    assert m["value_hash"] == _readback_manifest_oracle(spark, t, "1", m["version"])["value_hash"]
    far = ("2999-01-01 00:00:00", "2999-12-31 00:00:00")
    assert t.plan_files(prune={"ts": far})["files"]
    assert not t.plan_files(prune={"k": (100, 200)})["files"]


def test_overwrite_parts_runs_no_job_after_write(spark, tmp_path, monkeypatch):
    """The manifest is built from the write job's observation and the
    parquet footers: once the data write returns, overwrite_parts runs
    no further Spark job."""
    from pyspark.sql.readwriter import DataFrameWriter

    pages = generate_pages(spark, 800, seed=4)
    tier = with_part(finalize(partials_from_pages(pages, 3600)))
    t = IcebergLayoutTable(str(tmp_path / "t"))
    t.write_tier(tier)
    parts = sorted(t.part_versions())[:2]
    delta = tier.where(F.col("part").cast("string").isin(parts))
    sc = spark.sparkContext
    group = "overwrite_parts_jobs"
    after_write: list[set] = []
    orig = DataFrameWriter.parquet

    def parquet(self, *a, **kw):
        out = orig(self, *a, **kw)
        after_write.append(set(sc.statusTracker().getJobIdsForGroup(group)))
        return out

    monkeypatch.setattr(DataFrameWriter, "parquet", parquet)
    sc.setJobGroup(group, "single-pass write")
    try:
        t.overwrite_parts(delta, parts)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = set(sc.statusTracker().getJobIdsForGroup(group))
    assert len(after_write) == 1 and after_write[0]
    assert jobs == after_write[0], sorted(jobs - after_write[0])
    assert sum(m["rows"] for m in t.lineage() if m["part"] in parts) == delta.count()


# ---------------------------------------------- metadata protocol races
def _before_lock(t, other_commit):
    """Land ``other_commit`` (through another handle) just before ``t``
    next takes the commit lock: a concurrent commit inside ``t``'s
    read→commit window."""
    lock = t._commit_lock

    def racing(*a, **kw):
        del t._commit_lock
        other_commit()
        return lock(*a, **kw)

    t._commit_lock = racing


def test_rename_keeps_a_concurrent_data_commit(spark, tmp_path):
    """A schema evolution commits its change onto the latest parts map:
    a partition landed between its read and its commit survives, and
    so does the rename."""
    root = str(tmp_path / "t")
    t = IcebergLayoutTable(root)
    rows = "part long, url string, v double"
    t.write_tier(spark.createDataFrame([(0, "a", 1.0), (604800, "b", 2.0)], rows))
    late = spark.createDataFrame([(1209600, "c", 3.0)], rows)
    _before_lock(t, lambda: IcebergLayoutTable(root).overwrite_parts(late, ["1209600"]))
    t.rename_column("v", "value")
    assert sorted(t.part_versions()) == ["0", "1209600", "604800"]
    back = t.read_tier(spark)
    assert sorted(r["value"] for r in back.collect()) == [1.0, 2.0, 3.0]


def test_part_spec_claims_from_one_listing_get_distinct_ids(tmp_path, monkeypatch):
    """Two part-spec claims that both listed metadata/ before either
    wrote start from the same id: the exclusive create moves the second
    to the next id, and the first spec file keeps its content."""
    t = IcebergLayoutTable(str(tmp_path / "t"))
    listdir = os.listdir

    def stale(d="."):
        names = listdir(d)
        if d != t.meta_dir:
            return names
        return [f for f in names if not f.startswith("part-spec-")]

    monkeypatch.setattr(os, "listdir", stale)
    first = t.evolve_partitioning(86400)
    second = t.evolve_partitioning(3600)
    monkeypatch.undo()
    assert first["part_spec_id"] != second["part_spec_id"]
    assert t.part_spec(first["part_spec_id"])["part_seconds"] == 86400
    assert t.part_spec(second["part_spec_id"])["part_seconds"] == 3600


def test_expire_inside_a_mor_delete_keeps_its_delete_files(spark, tmp_path):
    """expire_snapshots removes only what an expired snapshot
    referenced: a merge-on-read delete's files, written but not yet
    committed, survive it and the delete applies."""
    root = str(tmp_path / "t")
    t = IcebergLayoutTable(root)
    t.write_tier(spark.createDataFrame(
        [(0, i, float(i)) for i in range(10)], "part long, k long, v double"
    ))
    _before_lock(t, lambda: IcebergLayoutTable(root).expire_snapshots(keep_last=1))
    t.delete_where(spark, "v < 3", mode="merge-on-read")
    assert t.read_tier(spark).count() == 7


def test_remove_orphans_takes_a_lost_writers_manifest(spark, tmp_path):
    """A writer that loses a commit race leaves a version directory and
    its manifest; remove_orphans removes both, and nothing a snapshot
    references."""
    from lambdo_spark.sources.iceberg_layout import ConcurrentWriteConflict

    root = str(tmp_path / "t")
    t = IcebergLayoutTable(root)
    rows = "part long, k long"
    t.write_tier(spark.createDataFrame([(1, 0)], rows))
    winner = spark.createDataFrame([(1, 5)], rows)
    _before_lock(t, lambda: IcebergLayoutTable(root).overwrite_parts(winner, ["1"]))
    with pytest.raises(ConcurrentWriteConflict):
        t.overwrite_parts(spark.createDataFrame([(1, 9)], rows), ["1"])

    def manifests():
        return sorted(f for f in os.listdir(t.meta_dir) if f.startswith("manifest-"))

    live = sorted(
        f"manifest-1-v{t.snapshot(n)['parts']['1']}.json" for n in (0, 1)
    )
    assert len(manifests()) == 3
    t.remove_orphans(older_than_s=0.0)
    assert manifests() == live
    assert sorted(os.listdir(os.path.join(root, "data", "part=1"))) == sorted(
        f"snapv={t.snapshot(n)['parts']['1']}" for n in (0, 1)
    )
    assert [r["k"] for r in t.read_tier(spark).collect()] == [5]


def test_remove_orphans_takes_unreferenced_schemas_and_part_specs(spark, tmp_path):
    """Schemas and part specs claimed by evolutions that never committed
    are orphans; remove_orphans removes them and keeps every one a
    snapshot or a kept manifest names — here schema 0, which no
    snapshot names after the expiry but the renamed files were written
    under."""
    t = IcebergLayoutTable(str(tmp_path / "t"))
    t.evolve_partitioning(86400)  # part-spec-1, metadata-only
    t.write_tier(spark.createDataFrame([(0, 1, 2.0)], "part long, k long, v double"))
    t.rename_column("v", "value")
    t.expire_snapshots(keep_last=1)
    for tag in range(40):
        t._claim("schema", {"fields": [], "last_field_id": tag})
        t._claim("part-spec", {"part_seconds": tag}, floor=1)

    def meta():
        return sorted(
            f for f in os.listdir(t.meta_dir) if f.startswith(("schema-", "part-spec-"))
        )

    assert len(meta()) == 83
    t.remove_orphans(older_than_s=0.0)
    assert meta() == ["part-spec-1.json", "schema-0.json", "schema-1.json"]
    assert t.part_spec()["part_seconds"] == 86400
    assert [tuple(r) for r in t.read_tier(spark).select("k", "value").collect()] == [(1, 2.0)]


def test_missing_delete_file_fails_the_read(spark, tmp_path):
    """A committed delete file that is gone fails the read, naming its
    path, instead of serving the rows it deleted."""
    t = IcebergLayoutTable(str(tmp_path / "t"))
    t.write_tier(spark.createDataFrame(
        [(0, i, float(i)) for i in range(10)], "part long, k long, v double"
    ))
    t.delete_where(spark, "v < 3", mode="merge-on-read")
    path = t.current_snapshot()["deletes"]["0"][0]["path"]
    import shutil

    shutil.rmtree(os.path.join(t.root, path))
    with pytest.raises(Exception, match=path):
        t.read_tier(spark).count()


def test_concurrent_claims_get_distinct_ids(tmp_path):
    """Stress: more claiming threads than cores, all racing the same
    ids — every claim gets its own id and every claimed file keeps its
    own body."""
    import json
    import sys
    import threading

    t = IcebergLayoutTable(str(tmp_path / "t"))
    got: list[tuple[str, int, int]] = []
    lock = threading.Lock()

    def claim(w):
        for i in range(5):
            tag = w * 100 + i
            for kind, n in (
                ("schema", t._claim("schema", {"fields": [], "last_field_id": tag})),
                ("part-spec", t._claim("part-spec", {"part_seconds": tag}, floor=1)),
                ("version", t._claim("version", floor=t._next_id("snapshot"))),
            ):
                with lock:
                    got.append((kind, n, tag))

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=claim, args=(w,)) for w in range(8)]
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=60)
    finally:
        sys.setswitchinterval(interval)
    assert not any(th.is_alive() for th in threads)
    for kind in ("schema", "part-spec", "version"):
        ids = [n for k, n, _ in got if k == kind]
        assert len(ids) == 40 and len(set(ids)) == 40, kind
    for kind, n, tag in got:
        if kind == "schema":
            assert t.schema(n)["last_field_id"] == tag
        elif kind == "part-spec":
            with open(os.path.join(t.meta_dir, f"part-spec-{n}.json")) as f:
                assert json.load(f)["part_seconds"] == tag


def test_partitioning_rewrite_conflicts_with_a_concurrent_mor_delete(spark, tmp_path):
    """The re-bucketing rewrite reads every current row, so a
    merge-on-read delete landing before its commit fails the commit
    instead of being undone by it."""
    from lambdo_spark.sources.iceberg_layout import ConcurrentWriteConflict

    root = str(tmp_path / "t")
    t = IcebergLayoutTable(root)
    t.write_tier(with_part(spark.createDataFrame(
        [(f"u{i}", i * 3600, float(i)) for i in range(48)],
        "url string, bucket_s bigint, v double",
    )))
    other = IcebergLayoutTable(root)
    _before_lock(t, lambda: other.delete_where(spark, "v < 3", mode="merge-on-read"))
    with pytest.raises(ConcurrentWriteConflict):
        t.evolve_partitioning(86400, spark=spark, rewrite=True)
    assert t.read_tier(spark).count() == 45


def test_metadata_only_respec_conflicts_with_a_concurrent_write(spark, tmp_path):
    """Re-specing an empty table is metadata-only; a write landing
    before its commit makes the table non-empty, so the commit fails
    instead of labelling the weekly part it wrote with a daily spec."""
    from lambdo_spark.sources.iceberg_layout import ConcurrentWriteConflict

    root = str(tmp_path / "t")
    t = IcebergLayoutTable(root)
    rows = with_part(spark.createDataFrame(
        [("u", 604800 + 3 * 86400, 1.0)], "url string, bucket_s bigint, v double"
    ))
    _before_lock(t, lambda: IcebergLayoutTable(root).write_tier(rows))
    with pytest.raises(ConcurrentWriteConflict):
        t.evolve_partitioning(86400)
    assert t.part_spec()["part_seconds"] == 7 * 86400
    assert sorted(t.part_versions()) == ["604800"]
