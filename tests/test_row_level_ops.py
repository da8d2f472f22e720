"""Row-level MERGE (keyed upsert) and DELETE on the Iceberg-layout
table: copy-on-write scoped to the affected partitions only, MVCC
snapshots, and SQL three-valued delete semantics."""

import os

from pyspark.sql import functions as F

from lambdo_spark.sources.iceberg_layout import IcebergLayoutTable


def _mk(spark, parts=(0, 604800, 1209600), n=30):
    rows = []
    for p in parts:
        for i in range(n):
            rows.append((f"u{i % 5}", p + i * 60, float(i), p))
    return spark.createDataFrame(
        rows, "url string, bucket_s bigint, v double, part bigint"
    )


def _race(t, other_commit):
    """Land ``other_commit`` (through another handle) between ``t``'s
    next read and its commit — a concurrent writer in the window."""
    commit = t._commit

    def racing(*a, **kw):
        del t._commit
        other_commit()
        return commit(*a, **kw)

    t._commit = racing


def test_merge_upsert_updates_and_inserts(spark, tmp_path):
    t = IcebergLayoutTable(str(tmp_path / "t"))
    base = _mk(spark)
    t.write_tier(base)
    # update 3 rows in part 0, insert 2 new keys in part 604800
    delta = spark.createDataFrame(
        [
            ("u0", 0, 99.0, 0),
            ("u1", 60, 98.0, 0),
            ("u2", 120, 97.0, 0),
            ("zz", 604800, 1.0, 604800),
            ("zz", 604860, 2.0, 604800),
        ],
        "url string, bucket_s bigint, v double, part bigint",
    )
    snap = t.merge_rows(delta, keys=["url", "bucket_s"])
    assert sorted(snap["new_parts"]) == ["0", "604800"]
    back = t.read_tier(spark)
    assert back.count() == base.count() + 2
    assert back.where("url='u0' and bucket_s=0").first()["v"] == 99.0
    assert back.where("url='zz'").count() == 2
    # untouched partition kept its version (no rewrite)
    assert t.part_versions()["1209600"] == 0


def test_merge_into_new_partition_and_empty_table(spark, tmp_path):
    t = IcebergLayoutTable(str(tmp_path / "t"))
    delta = _mk(spark, parts=(0,), n=5)
    t.merge_rows(delta, keys=["url", "bucket_s"])  # merge into empty = write
    assert t.read_tier(spark).count() == 5
    # merge a brand-new partition: pure insert
    t.merge_rows(_mk(spark, parts=(604800,), n=4), keys=["url", "bucket_s"])
    assert t.read_tier(spark).count() == 9


def test_merge_preserves_mvcc_reader_isolation(spark, tmp_path):
    t = IcebergLayoutTable(str(tmp_path / "t"))
    base = _mk(spark, parts=(0,))
    t.write_tier(base)
    s0 = t.current_snapshot()["snapshot_id"]
    delta = base.limit(3).withColumn("v", F.lit(-1.0))
    t.merge_rows(delta, keys=["url", "bucket_s"])
    # old snapshot still reads pre-merge values
    old = t.read_tier(spark, snapshot_id=s0)
    assert old.where("v = -1.0").count() == 0
    assert t.read_tier(spark).where("v = -1.0").count() == 3


def test_delete_where_rewrites_only_matching_parts(spark, tmp_path):
    t = IcebergLayoutTable(str(tmp_path / "t"))
    base = _mk(spark)
    t.write_tier(base)
    v0 = dict(t.part_versions())
    snap = t.delete_where(spark, "part = 0 and url = 'u0'")
    assert snap["new_parts"] == ["0"]
    back = t.read_tier(spark)
    assert back.where("part = 0 and url = 'u0'").count() == 0
    assert back.count() == base.count() - base.where("part=0 and url='u0'").count()
    # non-matching partitions kept their versions
    assert t.part_versions()["604800"] == v0["604800"]
    assert t.part_versions()["1209600"] == v0["1209600"]


def test_delete_where_null_predicate_keeps_rows(spark, tmp_path):
    """DELETE three-valued logic: rows where the predicate is NULL are
    NOT deleted."""
    t = IcebergLayoutTable(str(tmp_path / "t"))
    df = spark.createDataFrame(
        [("a", 1, 1.0, 0), ("b", 2, None, 0), ("c", 3, 9.0, 0)],
        "url string, bucket_s bigint, v double, part bigint",
    )
    t.write_tier(df)
    t.delete_where(spark, "v > 5")
    back = t.read_tier(spark)
    assert {r["url"] for r in back.collect()} == {"a", "b"}  # NULL row kept


def test_delete_where_no_match_is_noop(spark, tmp_path):
    t = IcebergLayoutTable(str(tmp_path / "t"))
    t.write_tier(_mk(spark, parts=(0,)))
    s0 = t.current_snapshot()["snapshot_id"]
    snap = t.delete_where(spark, "url = 'nope'")
    assert snap["snapshot_id"] == s0  # no new snapshot committed


def test_delete_with_prune_uses_file_stats(spark, tmp_path):
    t = IcebergLayoutTable(str(tmp_path / "t"), sort_order=("url", "bucket_s"))
    base = _mk(spark)
    t.write_tier(base)
    snap = t.delete_where(
        spark, "bucket_s < 120", prune={"bucket_s": (None, 119)}
    )
    # only partitions actually containing bucket_s < 120 were rewritten
    assert snap["new_parts"] == ["0"]
    assert t.read_tier(spark).count() == base.where("bucket_s >= 120").count()


def test_merge_after_rename_uses_current_names(spark, tmp_path):
    """Merge against a renamed table: base files written under the old
    name normalize to the current schema before the key-join."""
    t = IcebergLayoutTable(str(tmp_path / "t"))
    t.write_tier(_mk(spark, parts=(0,)))
    t.rename_column("v", "value")
    delta = spark.createDataFrame(
        [("u0", 0, 50.0, 0)], "url string, bucket_s bigint, value double, part bigint"
    )
    t.merge_rows(delta, keys=["url", "bucket_s"])
    back = t.read_tier(spark)
    assert back.where("url='u0' and bucket_s=0").first()["value"] == 50.0
    assert "v" not in back.columns


def test_mor_delete_no_data_rewrite(spark, tmp_path):
    """Merge-on-read delete: rows disappear from reads but every data
    version is UNCHANGED — only position-delete files were written."""
    t = IcebergLayoutTable(str(tmp_path / "t"))
    base = _mk(spark)
    t.write_tier(base)
    v0 = dict(t.part_versions())
    snap = t.delete_where(spark, "part = 0 and url = 'u0'", mode="merge-on-read")
    assert t.part_versions() == v0  # zero data rewrite
    assert snap["delete_parts"] == ["0"]
    assert snap["deletes"]["0"][0]["kind"] == "pos"
    assert snap["deletes"]["0"][0]["rows"] == base.where(
        "part=0 and url='u0'"
    ).count()
    back = t.read_tier(spark)
    assert back.where("part = 0 and url = 'u0'").count() == 0
    assert back.count() == base.count() - snap["deletes"]["0"][0]["rows"]


def test_mor_delete_matches_cow_delete(spark, tmp_path):
    """The two physical strategies produce identical logical results."""
    rows = None
    for mode in ("copy-on-write", "merge-on-read"):
        t = IcebergLayoutTable(str(tmp_path / mode))
        t.write_tier(_mk(spark))
        t.delete_where(spark, "v > 20 or url = 'u3'", mode=mode)
        got = sorted(
            (r["url"], r["bucket_s"], r["v"], r["part"])
            for r in t.read_tier(spark).collect()
        )
        if rows is None:
            rows = got
        else:
            assert got == rows


def test_mor_delete_snapshot_isolation_and_stacking(spark, tmp_path):
    t = IcebergLayoutTable(str(tmp_path / "t"))
    t.write_tier(_mk(spark, parts=(0,)))
    s0 = t.current_snapshot()["snapshot_id"]
    t.delete_where(spark, "url = 'u0'", mode="merge-on-read")
    s1 = t.current_snapshot()["snapshot_id"]
    t.delete_where(spark, "url = 'u1'", mode="merge-on-read")
    # stacked deletes both apply; older snapshots see progressively more
    assert t.read_tier(spark).where("url in ('u0','u1')").count() == 0
    assert t.read_tier(spark, snapshot_id=s1).where("url = 'u1'").count() > 0
    assert t.read_tier(spark, snapshot_id=s1).where("url = 'u0'").count() == 0
    assert t.read_tier(spark, snapshot_id=s0).where("url = 'u0'").count() > 0
    # second delete scanned a deletes-applied view: no duplicate positions
    snap = t.current_snapshot()
    assert [d["rows"] for d in snap["deletes"]["0"]] == [6, 6]


def test_mor_delete_null_and_noop_semantics(spark, tmp_path):
    t = IcebergLayoutTable(str(tmp_path / "t"))
    t.write_tier(spark.createDataFrame(
        [("a", 1, 1.0, 0), ("b", 2, None, 0), ("c", 3, 9.0, 0)],
        "url string, bucket_s bigint, v double, part bigint",
    ))
    s0 = t.current_snapshot()["snapshot_id"]
    t.delete_where(spark, "v > 5", mode="merge-on-read")
    assert {r["url"] for r in t.read_tier(spark).collect()} == {"a", "b"}
    snap = t.delete_where(spark, "url = 'nope'", mode="merge-on-read")
    assert snap["snapshot_id"] == s0 + 1  # no-match commits nothing new


def test_compaction_materializes_mor_deletes(spark, tmp_path):
    t = IcebergLayoutTable(str(tmp_path / "t"))
    base = _mk(spark, parts=(0, 604800))
    t.write_tier(base)
    t.delete_where(spark, "url = 'u2'", mode="merge-on-read")
    expect = base.where("url <> 'u2'").count()
    t.compact_parts(spark, parts=["0"])
    snap = t.current_snapshot()
    # compacted part's descriptors dropped; the other part's remain
    assert "0" not in snap.get("deletes", {})
    assert "604800" in snap["deletes"]
    assert t.read_tier(spark).count() == expect
    # GC: expire old snapshots, then the orphaned delete dir for part 0
    t.expire_snapshots(keep_last=1)
    import os
    delv_parts = [
        f"{d}/{p}"
        for d in os.listdir(str(tmp_path / "t" / "deletes"))
        for p in os.listdir(str(tmp_path / "t" / "deletes" / d))
        if p.startswith("part=")
    ]
    assert delv_parts == [f"{snap['deletes']['604800'][0]['path'].split('/',1)[1]}"]
    assert t.read_tier(spark).count() == expect


def test_mor_delete_read_changes_and_merge_interop(spark, tmp_path):
    t = IcebergLayoutTable(str(tmp_path / "t"))
    t.write_tier(_mk(spark, parts=(0,), n=6))
    s0 = t.current_snapshot()["snapshot_id"]
    t.delete_where(spark, "url = 'u0' and bucket_s = 0", mode="merge-on-read")
    ch = t.read_changes(spark, s0)
    assert ch.where("_change='insert'").count() == 0
    dels = {(r["url"], r["bucket_s"]) for r in ch.where("_change='delete'").collect()}
    assert dels == {("u0", 0)}
    # CoW merge after a MOR delete must not resurrect the deleted row
    delta = spark.createDataFrame(
        [("u1", 60, 77.0, 0)], "url string, bucket_s bigint, v double, part bigint"
    )
    t.merge_rows(delta, keys=["url", "bucket_s"])
    back = t.read_tier(spark)
    assert back.where("url='u0' and bucket_s=0").count() == 0
    assert back.where("url='u1' and bucket_s=60").first()["v"] == 77.0


def test_mor_delete_conflicts_with_concurrent_rewrite(spark, tmp_path):
    """A rewrite that lands between the MOR scan and its commit must
    fail the commit — the positions reference superseded files."""
    import pytest

    from lambdo_spark.sources.iceberg_layout import ConcurrentWriteConflict

    t = IcebergLayoutTable(str(tmp_path / "t"))
    base = _mk(spark, parts=(0,))
    t.write_tier(base)
    other = IcebergLayoutTable(t.root)
    _race(t, lambda: other.compact_parts(spark, parts=["0"]))  # concurrent rewrite
    with pytest.raises(ConcurrentWriteConflict):
        t.delete_where(spark, "url = 'u0'", mode="merge-on-read")


def test_mor_merge_matches_cow_merge(spark, tmp_path):
    """MOR merge (appended delta + equality deletes) produces the same
    logical rows as the CoW merge, with ZERO base-version changes."""
    delta = None
    rows = None
    for mode in ("copy-on-write", "merge-on-read"):
        t = IcebergLayoutTable(str(tmp_path / mode))
        t.write_tier(_mk(spark))
        if delta is None:
            delta = spark.createDataFrame(
                [
                    ("u0", 0, 99.0, 0),
                    ("zz", 604800, 1.0, 604800),
                    ("nn", 2_000_000, 5.0, 1814400),  # brand-new partition
                ],
                "url string, bucket_s bigint, v double, part bigint",
            )
        v0 = dict(t.part_versions())
        snap = t.merge_rows(delta, keys=["url", "bucket_s"], mode=mode)
        got = sorted(
            (r["url"], r["bucket_s"], r["v"], r["part"])
            for r in t.read_tier(spark).collect()
        )
        if rows is None:
            rows = got
        else:
            assert got == rows
        if mode == "merge-on-read":
            # existing parts kept their base version; only the new
            # partition minted one
            assert {p: v for p, v in t.part_versions().items() if p in v0} == v0
            assert snap["add_parts"] == ["0", "604800"]
            assert snap["new_parts"] == ["1814400"]
            assert snap["deletes"]["0"][0]["kind"] == "eq"
            assert "1814400" not in snap.get("deletes", {})


def test_mor_merge_stacking_last_writer_wins(spark, tmp_path):
    t = IcebergLayoutTable(str(tmp_path / "t"))
    t.write_tier(_mk(spark, parts=(0,), n=4))
    d1 = spark.createDataFrame(
        [("u0", 0, 10.0, 0)], "url string, bucket_s bigint, v double, part bigint"
    )
    d2 = spark.createDataFrame(
        [("u0", 0, 20.0, 0), ("u1", 60, 21.0, 0)],
        "url string, bucket_s bigint, v double, part bigint",
    )
    t.merge_rows(d1, keys=["url", "bucket_s"], mode="merge-on-read")
    s1 = t.current_snapshot()["snapshot_id"]
    t.merge_rows(d2, keys=["url", "bucket_s"], mode="merge-on-read")
    back = t.read_tier(spark)
    assert back.where("url='u0' and bucket_s=0").collect()[0]["v"] == 20.0
    assert back.where("url='u1' and bucket_s=60").collect()[0]["v"] == 21.0
    assert back.count() == 4  # no duplicates from the stacked merges
    # time travel to between the merges sees the first merge's value
    assert (
        t.read_tier(spark, snapshot_id=s1)
        .where("url='u0' and bucket_s=0").collect()[0]["v"] == 10.0
    )


def test_mor_merge_compaction_and_changes(spark, tmp_path):
    t = IcebergLayoutTable(str(tmp_path / "t"))
    t.write_tier(_mk(spark, parts=(0,), n=4))
    s0 = t.current_snapshot()["snapshot_id"]
    delta = spark.createDataFrame(
        [("u0", 0, 42.0, 0), ("xx", 999, 1.0, 0)],
        "url string, bucket_s bigint, v double, part bigint",
    )
    t.merge_rows(delta, keys=["url", "bucket_s"], mode="merge-on-read")
    # CDC: exactly one update (delete+insert) and one pure insert
    ch = t.read_changes(spark, s0)
    ins = {(r["url"], r["v"]) for r in ch.where("_change='insert'").collect()}
    dels = {(r["url"], r["v"]) for r in ch.where("_change='delete'").collect()}
    assert ins == {("u0", 42.0), ("xx", 1.0)}
    assert dels == {("u0", 0.0)}
    expect = t.read_tier(spark).count()
    t.compact_parts(spark)
    snap = t.current_snapshot()
    assert "adds" not in snap or not snap["adds"]
    assert "deletes" not in snap or not snap["deletes"]
    assert t.read_tier(spark).count() == expect
    t.expire_snapshots(keep_last=1)
    import os
    assert not os.path.isdir(str(tmp_path / "t" / "deletes")) or not any(
        os.scandir(str(tmp_path / "t" / "deletes"))
    )
    assert t.read_tier(spark).count() == expect


def test_mor_merge_conflicts_with_concurrent_mor(spark, tmp_path):
    import pytest

    from lambdo_spark.sources.iceberg_layout import ConcurrentWriteConflict

    t = IcebergLayoutTable(str(tmp_path / "t"))
    t.write_tier(_mk(spark, parts=(0,), n=4))
    d = spark.createDataFrame(
        [("u0", 0, 1.0, 0)], "url string, bucket_s bigint, v double, part bigint"
    )
    other = IcebergLayoutTable(t.root)
    _race(t, lambda: other.merge_rows(d, keys=["url", "bucket_s"], mode="merge-on-read"))
    # a writer that derived from the snapshot before the other merge
    # must NOT commit: the partition's row state changed under it
    with pytest.raises(ConcurrentWriteConflict):
        t.merge_rows(d, keys=["url", "bucket_s"], mode="merge-on-read")


def test_mor_merge_then_mor_delete_interop(spark, tmp_path):
    t = IcebergLayoutTable(str(tmp_path / "t"))
    t.write_tier(_mk(spark, parts=(0,), n=4))
    delta = spark.createDataFrame(
        [("u0", 0, 42.0, 0)], "url string, bucket_s bigint, v double, part bigint"
    )
    t.merge_rows(delta, keys=["url", "bucket_s"], mode="merge-on-read")
    # MOR delete of a row that lives in an APPENDED file
    t.delete_where(spark, "v = 42.0", mode="merge-on-read")
    back = t.read_tier(spark)
    assert back.where("url='u0' and bucket_s=0").count() == 0
    assert back.count() == 3
    # stat pruning still works across base + adds
    pruned = t.read_tier(spark, prune={"url": ("u1", "u3")})
    assert pruned.count() == back.where("url >= 'u1' and url <= 'u3'").count()


def test_update_where_cow_and_mor_agree(spark, tmp_path):
    """UPDATE ... SET v = v*10 WHERE pred: CoW and MOR produce the
    same logical rows; MOR never rewrites a base version and only
    touches matched partitions."""
    rows = None
    for mode in ("copy-on-write", "merge-on-read"):
        t = IcebergLayoutTable(str(tmp_path / mode))
        t.write_tier(_mk(spark))
        v0 = dict(t.part_versions())
        snap = t.update_where(
            spark, "url = 'u1' and part = 0", {"v": "v * 10 + 1"}, mode=mode
        )
        got = sorted(
            (r["url"], r["bucket_s"], r["v"], r["part"])
            for r in t.read_tier(spark).collect()
        )
        if rows is None:
            rows = got
        else:
            assert got == rows
        if mode == "merge-on-read":
            assert t.part_versions() == v0
            assert snap["add_parts"] == ["0"]
        else:
            assert snap["new_parts"] == ["0"]
            assert t.part_versions()["604800"] == v0["604800"]
    # the predicate actually fired
    t = IcebergLayoutTable(str(tmp_path / "merge-on-read"))
    upd = t.read_tier(spark).where("url = 'u1' and part = 0").collect()
    assert upd and all(r["v"] % 10 == 1 for r in upd)


def test_update_where_null_semantics_and_noop(spark, tmp_path):
    t = IcebergLayoutTable(str(tmp_path / "t"))
    t.write_tier(spark.createDataFrame(
        [("a", 1, 1.0, 0), ("b", 2, None, 0), ("c", 3, 9.0, 0)],
        "url string, bucket_s bigint, v double, part bigint",
    ))
    s0 = t.current_snapshot()["snapshot_id"]
    t.update_where(spark, "v > 5", {"v": "0.0"}, mode="merge-on-read")
    back = {r["url"]: r["v"] for r in t.read_tier(spark).collect()}
    assert back == {"a": 1.0, "b": None, "c": 0.0}  # NULL row untouched
    assert t.update_where(spark, "url = 'zz'", {"v": "1.0"})["snapshot_id"] == s0 + 1
    import pytest
    with pytest.raises(ValueError, match="partition column"):
        t.update_where(spark, "v = 1.0", {"part": "1"})


def test_read_tier_as_of_timestamp(spark, tmp_path):
    t = IcebergLayoutTable(str(tmp_path / "t"))
    t.write_tier(_mk(spark, parts=(0,)))
    import time as _time
    ts_after_base = _time.time()
    _time.sleep(0.05)
    t.delete_where(spark, "url = 'u0'", mode="merge-on-read")
    n_now = t.read_tier(spark).count()
    n_then = t.read_tier(spark, as_of=ts_after_base).count()
    assert n_then > n_now
    assert t.read_tier(spark, as_of=_time.time()).count() == n_now
    import pytest
    with pytest.raises(FileNotFoundError, match="no snapshot at or before"):
        t.snapshot_as_of(0.0)
    with pytest.raises(ValueError, match="not both"):
        t.read_tier(spark, snapshot_id=0, as_of=ts_after_base)


def test_rewrite_deletes_targets_taxed_parts_only(spark, tmp_path):
    """rewrite_deletes(min_files=2) compacts only partitions whose MOR
    read tax reached the threshold; cheap partitions keep their state."""
    t = IcebergLayoutTable(str(tmp_path / "t"))
    base = _mk(spark, parts=(0, 604800))
    t.write_tier(base)
    t.delete_where(spark, "part = 0 and url = 'u0'", mode="merge-on-read")
    t.delete_where(spark, "part = 0 and url = 'u1'", mode="merge-on-read")
    t.delete_where(spark, "part = 604800 and url = 'u0'", mode="merge-on-read")
    expect = t.read_tier(spark).count()
    snap = t.rewrite_deletes(spark, min_files=2)
    assert snap["new_parts"] == ["0"]  # only the doubly-deleted part
    cur = t.current_snapshot()
    assert "0" not in cur.get("deletes", {})
    assert len(cur["deletes"]["604800"]) == 1
    assert t.read_tier(spark).count() == expect
    # below threshold everywhere now: no-op
    assert t.rewrite_deletes(spark, min_files=2)["snapshot_id"] == cur["snapshot_id"]


def test_merge_then_read_changes_shows_row_deltas(spark, tmp_path):
    t = IcebergLayoutTable(str(tmp_path / "t"))
    base = _mk(spark, parts=(0,), n=6)
    t.write_tier(base)
    s0 = t.current_snapshot()["snapshot_id"]
    delta = spark.createDataFrame(
        [("u0", 0, 42.0, 0)], "url string, bucket_s bigint, v double, part bigint"
    )
    t.merge_rows(delta, keys=["url", "bucket_s"])
    ch = t.read_changes(spark, s0)
    ins = {(r["url"], r["bucket_s"], r["v"]) for r in ch.where("_change='insert'").collect()}
    dels = {(r["url"], r["bucket_s"], r["v"]) for r in ch.where("_change='delete'").collect()}
    assert ins == {("u0", 0, 42.0)}
    assert dels == {("u0", 0, 0.0)}


def test_drop_parts_older_than_metadata_only(spark, tmp_path):
    """Age-based retention: dropping old partitions touches ZERO data
    files (drop_chunks idiom) — the old snapshot still time-travels to
    them, and expire_snapshots reclaims the bytes afterwards."""
    import os

    t = IcebergLayoutTable(str(tmp_path / "t"))
    t.write_tier(_mk(spark))
    s0 = t.current_snapshot()["snapshot_id"]
    data_dirs = sorted(
        os.path.join(r, d)
        for r, ds, _ in os.walk(t.root) for d in ds if d.startswith("snapv=")
    )
    mtimes = {d: os.path.getmtime(d) for d in data_dirs}
    snap = t.drop_parts_older_than(1209600)
    assert snap["dropped_parts"] == ["0", "604800"]
    assert sorted(t.part_versions()) == ["1209600"]
    # metadata-only: every data dir still on disk, untouched
    assert {d: os.path.getmtime(d) for d in data_dirs} == mtimes
    assert t.read_tier(spark).count() == 30
    # time travel still reads the dropped data
    assert t.read_tier(spark, snapshot_id=s0).count() == 90
    # no-op below all buckets: same snapshot back, no commit
    assert t.drop_parts_older_than(0)["snapshot_id"] == snap["snapshot_id"]
    # GC after expiry reclaims the dropped partitions' bytes
    t.expire_snapshots(keep_last=1)
    assert t.read_tier(spark).count() == 30
    live = {
        d for d in data_dirs if os.path.isdir(d)
    }
    assert all("part=1209600" in d for d in live)


def test_concurrent_mor_deletes_on_one_part_both_land(spark, tmp_path):
    """A MOR delete pins partition versions only: another MOR delete
    landing in its read->commit window on the same partition does not
    conflict, and both deletes apply."""
    t = IcebergLayoutTable(str(tmp_path / "t"))
    base = _mk(spark, parts=(0,))
    t.write_tier(base)
    other = IcebergLayoutTable(t.root)
    _race(t, lambda: other.delete_where(spark, "url = 'u1'", mode="merge-on-read"))
    t.delete_where(spark, "url = 'u0'", mode="merge-on-read")
    assert len(t.current_snapshot()["deletes"]["0"]) == 2
    back = t.read_tier(spark)
    assert back.where("url in ('u0', 'u1')").count() == 0
    assert back.count() == base.where("url not in ('u0', 'u1')").count()


def test_read_parts_returns_current_rows(spark, tmp_path):
    """read_parts serves the same rows as read_tier after MOR deletes,
    merges and updates (adds and deletes applied), for any subset of
    partitions."""
    t = IcebergLayoutTable(str(tmp_path / "t"))
    t.write_tier(_mk(spark))
    t.delete_where(spark, "url = 'u0'", mode="merge-on-read")
    t.merge_rows(spark.createDataFrame(
        [("u1", 60, 9.0, 0), ("u9", 604860, 1.0, 604800)],
        "url string, bucket_s bigint, v double, part bigint",
    ), keys=["url", "bucket_s"], mode="merge-on-read")
    t.update_where(spark, "v > 20", {"v": "-v"}, mode="merge-on-read")

    def rows(df):
        return sorted(tuple(r) for r in df.select("url", "bucket_s", "v", "part").collect())

    for ps in (["0"], ["0", "604800"], ["604800", "1209600", "999"]):
        want = rows(t.read_tier(spark).where(F.col("part").cast("string").isin(ps)))
        assert rows(t.read_parts(spark, ps)) == want, ps
    assert t.read_parts(spark, ["999"]) is None


def test_update_where_refuses_unknown_set_columns(spark, tmp_path):
    """A SET naming a column the table lacks raises before any Spark
    job runs, in both modes, and commits nothing."""
    import pytest

    t = IcebergLayoutTable(str(tmp_path / "t"))
    t.write_tier(_mk(spark))
    t.delete_where(spark, "url = 'u0'", mode="merge-on-read")
    s0 = t.current_snapshot()["snapshot_id"]
    sc = spark.sparkContext
    group = "update_unknown_set"
    sc.setJobGroup(group, "refused update")
    try:
        for mode in ("copy-on-write", "merge-on-read"):
            with pytest.raises(ValueError, match=r"unknown SET columns \['nope'\]"):
                t.update_where(spark, "v > 1", {"v": "0.0", "nope": "1"}, mode=mode)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    assert t.current_snapshot()["snapshot_id"] == s0


def test_dml_refuses_an_unknown_mode(spark, tmp_path):
    """A misspelt mode raises instead of silently running copy-on-write
    — in every verb, also where a merge returns early (a table with no
    snapshot yet, a replayed idempotency tag)."""
    import pytest

    delta = _mk(spark, parts=(0,), n=2)
    empty = IcebergLayoutTable(str(tmp_path / "empty"))
    with pytest.raises(ValueError, match="'mor'"):
        empty.merge_rows(delta, keys=["url", "bucket_s"], mode="mor")
    assert empty.current_snapshot() is None

    t = IcebergLayoutTable(str(tmp_path / "t"))
    t.write_tier(_mk(spark, parts=(0,)))
    t.merge_rows(delta, keys=["url", "bucket_s"], idempotency_tag="d1")
    s0 = t.current_snapshot()["snapshot_id"]
    calls = [
        lambda: t.delete_where(spark, "url = 'u0'", mode="mor"),
        lambda: t.update_where(spark, "url = 'u0'", {"v": "0.0"}, mode="mor"),
        lambda: t.merge_rows(delta, keys=["url", "bucket_s"], mode="mor"),
        lambda: t.merge_rows(
            delta, keys=["url", "bucket_s"], mode="mor", idempotency_tag="d1"
        ),
    ]
    for call in calls:
        with pytest.raises(ValueError, match="'mor'"):
            call()
    assert t.current_snapshot()["snapshot_id"] == s0


def test_mor_merge_refused_by_schema_writes_nothing(spark, tmp_path):
    """A merge-on-read delta with an incompatible column type raises
    before a version is claimed or a delete file is written."""
    import pytest

    t = IcebergLayoutTable(str(tmp_path / "t"))
    t.write_tier(_mk(spark, parts=(0,)))
    s0 = t.current_snapshot()["snapshot_id"]
    bad = spark.createDataFrame(
        [("u0", 0, "x", 0)], "url string, bucket_s bigint, v string, part bigint"
    )
    with pytest.raises(TypeError, match="incompatible write for column 'v'"):
        t.merge_rows(bad, keys=["url", "bucket_s"], mode="merge-on-read")
    assert t.current_snapshot()["snapshot_id"] == s0
    assert not (tmp_path / "t" / "deletes").exists()


def test_empty_merge_reads_no_data_file(spark, tmp_path):
    """Merging an empty delta reads only the delta — here an empty
    local relation, which needs no job at all — and no data file:
    untagged it returns the current snapshot, tagged it makes one
    metadata-only commit recording the tag."""
    sc = spark.sparkContext
    empty = _mk(spark).limit(0)
    for mode in ("copy-on-write", "merge-on-read"):
        t = IcebergLayoutTable(str(tmp_path / mode))
        t.write_tier(_mk(spark))
        before = t.current_snapshot()
        group = f"empty_merge_{mode}"
        sc.setJobGroup(group, "empty merge")
        try:
            untagged = t.merge_rows(empty, keys=["url", "bucket_s"], mode=mode)
            tagged = t.merge_rows(empty, keys=["url", "bucket_s"], mode=mode,
                                  idempotency_tag="b1")
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == [], mode
        assert untagged == before
        assert tagged["snapshot_id"] == before["snapshot_id"] + 1
        assert tagged["parts"] == before["parts"]
        assert tagged["applied_upserts"] == ["b1"]
        assert t.merge_rows(empty, keys=["url", "bucket_s"], mode=mode,
                            idempotency_tag="b1") == tagged
        assert t.read_tier(spark).count() == 90
