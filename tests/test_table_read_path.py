"""The one table read path: every read plans the manifests' exact file
lists and scans them under the registered schema with the partition
column as bigint; layouts that path does not serve, and partition
columns that are not integers, are refused loudly."""

import json
import os

import pytest

from lambdo_spark.plans.compiler import Workflow
from lambdo_spark.rollup.realtime import _table_watermark
from lambdo_spark.sources.iceberg_layout import IcebergLayoutTable

DDL = "part long, url string, bucket_s long, v long"


def _table(spark, root, **kw):
    # every partition value is below 2^31, where Spark's partition
    # discovery would type `part` as int
    t = IcebergLayoutTable(root, **kw)
    rows = [(p, f"u{k}", p + k, k) for p in (0, 604800) for k in range(5)]
    t.write_tier(spark.createDataFrame(rows, DDL))
    return t


def _jobs_of(spark, fn):
    """``fn()`` and the ids of the Spark jobs it ran."""
    sc = spark.sparkContext
    group = "table_read_path_jobs"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def _part_type(df):
    return dict(df.dtypes)["part"]


def test_part_reads_bigint_on_every_path(spark, tmp_path):
    t = _table(spark, str(tmp_path / "t"))
    s0 = t.current_snapshot()["snapshot_id"]
    s1 = t.overwrite_parts(
        spark.createDataFrame([(0, "u9", 9, 9)], DDL), ["0"]
    )["snapshot_id"]
    s2 = t.overwrite_parts(
        spark.createDataFrame([(1209600, "u1", 1209601, 1)], DDL), ["1209600"]
    )["snapshot_id"]

    reads = {
        "read_tier": t.read_tier(spark),
        "read_tier prune": t.read_tier(spark, prune={"bucket_s": (0, 604802)}),
        "read_tier with_pos": t.read_tier(spark, with_pos=True),
        "read_tier time travel": t.read_tier(spark, snapshot_id=s0),
        "read_parts": t.read_parts(spark, ["0", "604800"]),
        "read_changes, both sides": t.read_changes(spark, s0, s1),
        "read_changes, added part": t.read_changes(spark, s1, s2),
        "empty pruned read": t.read_tier(spark, prune={"bucket_s": (10**12, None)}),
    }
    s3 = t.drop_parts_older_than(1)["snapshot_id"]
    reads["read_changes, removed part"] = t.read_changes(spark, s2, s3)
    assert {k: _part_type(df) for k, df in reads.items()} == {
        k: "bigint" for k in reads
    }
    # and the rows are the snapshot's rows
    assert reads["read_tier time travel"].count() == 10
    assert reads["read_tier prune"].count() == 4
    assert reads["empty pruned read"].count() == 0
    assert sorted(
        (r["_change"], r["part"]) for r in reads["read_changes, removed part"].collect()
    ) == [("delete", 0)]


def test_read_of_a_table_without_data_runs_no_job(spark, tmp_path):
    # a snapshot, no registered schema: the partition column only
    t = IcebergLayoutTable(str(tmp_path / "spec_only"))
    t.evolve_partitioning(86400)
    (dtypes, rows), jobs = _jobs_of(
        spark, lambda: (lambda df: (df.dtypes, df.collect()))(t.read_tier(spark))
    )
    assert (dtypes, rows, jobs) == ([("part", "bigint")], [], [])

    # a registered schema whose every partition was dropped
    t = _table(spark, str(tmp_path / "dropped"))
    t.drop_parts_older_than(10**12)
    (dtypes, rows), jobs = _jobs_of(
        spark, lambda: (lambda df: (df.dtypes, df.collect()))(t.read_tier(spark))
    )
    assert dtypes == [
        ("part", "bigint"), ("url", "string"), ("bucket_s", "bigint"), ("v", "bigint"),
    ]
    assert (rows, jobs) == ([], [])


def test_writers_refuse_a_non_integer_partition_column(spark, tmp_path):
    root = str(tmp_path / "wf_tier")
    data = {"src": spark.createDataFrame(
        [("u1", "a", 3), ("u2", "b", 4)], "url string, part string, n long"
    )}
    spec = {"tables": [
        {"id": "src", "operation": "data"},
        {"id": "out", "operation": "sink", "source": "src",
         "format": "tier", "path": root},
    ]}
    with pytest.raises(TypeError, match="partition column 'part'"):
        Workflow(spec, spark, data).execute()
    data_dir = os.path.join(root, "data")
    assert not os.path.isdir(data_dir) or os.listdir(data_dir) == []

    # the keyed merge (the streaming upsert sink's writer), into an
    # empty table and as a merge-on-read append
    delta = spark.createDataFrame(
        [("0", "u1", 1, 7)], "part string, url string, bucket_s long, v long"
    )
    with pytest.raises(TypeError, match="partition column 'part'"):
        IcebergLayoutTable(str(tmp_path / "empty")).merge_rows(delta, keys=["url"])
    t = _table(spark, str(tmp_path / "t"))
    with pytest.raises(TypeError, match="partition column 'part'"):
        t.merge_rows(delta, keys=["url", "bucket_s"], mode="merge-on-read")
    assert t.current_snapshot()["snapshot_id"] == 0


def test_string_partitioned_table_is_not_read(spark, tmp_path):
    """The shape a writer without the integer check could land: string
    partition values fail the bigint partition column at scan."""
    t = IcebergLayoutTable(str(tmp_path / "t"))
    sid = t._claim("schema", {
        "fields": [{"id": 1, "name": "url", "type": "string"},
                   {"id": 2, "name": "n", "type": "bigint"}],
        "last_field_id": 2,
    })
    v = t._claim("version", floor=t._next_id("snapshot"))
    t._write_parts(
        spark.createDataFrame([("u1", "a", 3)], "url string, part string, n long"),
        ["a"], v, "part", "hand-built", sid,
    )
    t._commit(
        {"input_snapshot": "hand-built", "new_parts": ["a"], "part_col": "part",
             "schema_id": sid},
        update={"a": v},
    )
    with pytest.raises(Exception, match="INVALID_PARTITION_VALUE"):
        t.read_tier(spark).collect()


def _rewrite_json(path, edit):
    with open(path) as f:
        obj = json.load(f)
    edit(obj)
    with open(path, "w") as f:
        json.dump(obj, f)


def test_old_layouts_are_refused(spark, tmp_path):
    # list-form snapshot parts: loose pre-MVCC files under part=<p>
    t = IcebergLayoutTable(str(tmp_path / "pre_mvcc"))
    with open(os.path.join(t.meta_dir, "snapshot-0.json"), "w") as f:
        json.dump({"snapshot_id": 0, "parts": ["1"], "part_col": "part"}, f)
    with open(os.path.join(t.meta_dir, "CURRENT"), "w") as f:
        json.dump({"snapshot": "snapshot-0.json"}, f)
    with pytest.raises(ValueError, match="snapshot-0.json lists its parts without versions — the pre-MVCC"):
        t.read_tier(spark)

    # a manifest without its file list
    t = _table(spark, str(tmp_path / "stat_less"))
    m = os.path.join(t.meta_dir, "manifest-0-v0.json")
    _rewrite_json(m, lambda obj: obj.pop("files"))
    with pytest.raises(ValueError, match="manifest-0-v0.json has no file list — the stat-less manifest"):
        t.read_tier(spark)

    # a snapshot with parts but no schema id
    t = _table(spark, str(tmp_path / "schema_less"))
    _rewrite_json(
        os.path.join(t.meta_dir, "snapshot-0.json"), lambda obj: obj.pop("schema_id")
    )
    with pytest.raises(ValueError, match="snapshot-0.json has parts but no schema_id — the schema-less"):
        t.read_tier(spark)


def test_watermark_refuses_a_file_without_the_stat(spark, tmp_path):
    # a sort order without bucket_s: the files carry no bucket_s stats
    t = _table(spark, str(tmp_path / "t"), sort_order=("url",))
    with pytest.raises(ValueError, match=r"data file part=0/snapv=0/\S+ records no max bucket_s stat"):
        _table_watermark(t, "bucket_s")


def test_pruned_read_skips_the_deletes_of_pruned_parts(spark, tmp_path):
    """A MOR position delete in part 0 does not reach a read pruned to
    part 604800: no delete file of part 0 is scanned."""
    t = _table(spark, str(tmp_path / "t"))
    t.delete_where(spark, "part = 0 AND v = 1", mode="merge-on-read")
    full = t.read_tier(spark)
    assert any("/deletes/" in f for f in full.inputFiles())
    pruned = t.read_tier(spark, prune={"part": 604800})
    files = pruned.inputFiles()
    assert not [f for f in files if "/deletes/" in f and "part=0" in f]
    assert sorted(map(tuple, pruned.drop("part").collect())) == [
        (f"u{k}", 604800 + k, k) for k in range(5)
    ]


def test_pruned_read_with_equality_deletes_equals_filtered_read(spark, tmp_path):
    """A MOR merge writes equality deletes; the pruned read equals the
    unpruned read filtered to the same range."""
    t = _table(spark, str(tmp_path / "t"))
    delta = spark.createDataFrame(
        [(0, "u1", 1, 10), (604800, "u2", 604802, 20), (604800, "u7", 604807, 7)], DDL
    )
    t.merge_rows(delta, ["url", "bucket_s"], mode="merge-on-read")
    assert any(d.get("kind") == "eq" for ds in t.current_snapshot()["deletes"].values()
               for d in ds)
    for prune in ({"part": 604800}, {"part": 0}, {"bucket_s": (604801, 604900)}):
        (c, bound), = prune.items()
        lo, hi = bound if isinstance(bound, tuple) else (bound, bound)
        want = t.read_tier(spark).where(f"{c} BETWEEN {lo} AND {hi}")
        got = t.read_tier(spark, prune=prune)
        assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
        assert got.count() > 0
