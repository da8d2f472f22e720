"""The metadata-only CLI commands (``schema``, ``branch``, ``plan``)
driven through ``main([...])``. Commands that start a Spark session are
not run in-process: their ``spark.stop()`` would stop the shared test
session."""

import json

import pytest

from lambdo_spark.__main__ import main
from lambdo_spark.sources.iceberg_layout import (
    ConcurrentWriteConflict,
    IcebergLayoutTable,
)


def _table(spark, root):
    t = IcebergLayoutTable(root)
    t.write_tier(spark.createDataFrame(
        [(f"u{i % 3}", p + i * 60, float(i), p) for p in (0, 604800) for i in range(6)],
        "url string, bucket_s bigint, v double, part bigint",
    ))
    return t


def _run(capsys, *argv):
    assert main(list(argv)) == 0
    return json.loads(capsys.readouterr().out)


def _fields(schema):
    return [(f["id"], f["name"], f["type"]) for f in schema["fields"]]


def test_schema_rename_and_add(spark, tmp_path, capsys):
    root = str(tmp_path / "t")
    t = _table(spark, root)
    out = _run(capsys, "schema", "--table", root)
    assert out["table"] == root
    assert out["schema"]["schema_id"] == 0
    assert _fields(out["schema"]) == [
        (1, "url", "string"), (2, "bucket_s", "bigint"), (3, "v", "double"),
    ]
    out = _run(capsys, "schema", "--table", root,
               "--rename", "v:value", "--add", "note:string")
    # one commit per change: the rename, then the add
    assert out["schema"]["schema_id"] == 2
    assert out["schema"]["last_field_id"] == 4
    assert _fields(out["schema"]) == [
        (1, "url", "string"), (2, "bucket_s", "bigint"),
        (3, "value", "double"), (4, "note", "string"),
    ]
    assert t.current_snapshot()["snapshot_id"] == 2
    assert sorted(t.part_versions()) == ["0", "604800"]
    old = _run(capsys, "schema", "--table", root, "--schema-id", "1")
    assert _fields(old["schema"])[2] == (3, "value", "double")
    assert len(old["schema"]["fields"]) == 3
    back = t.read_tier(spark)
    assert back.where("note IS NULL").count() == back.count() == 12
    with pytest.raises(ValueError, match="already exists"):
        main(["schema", "--table", root, "--add", "url:string"])


def test_branch_create_publish_drop(spark, tmp_path, capsys):
    root = str(tmp_path / "t")
    _table(spark, root)
    out = _run(capsys, "branch", "--table", root, "--create", "audit")
    assert out == {
        "table": root,
        "created": {"branch": "audit", "snapshot_id": 0},
        "branches": {"audit": 0, "main": 0},
    }
    IcebergLayoutTable(root, branch="audit").drop_parts_older_than(604800)
    out = _run(capsys, "branch", "--table", root, "--publish", "audit")
    assert out == {
        "table": root,
        "published": {"branch": "audit", "published_snapshot_id": 1},
        "branches": {"audit": 1, "main": 1},
    }
    assert sorted(IcebergLayoutTable(root).part_versions()) == ["604800"]
    out = _run(capsys, "branch", "--table", root, "--create", "old", "--at", "0",
               "--drop", "audit")
    assert out == {
        "table": root,
        "created": {"branch": "old", "snapshot_id": 0},
        "dropped": "audit",
        "branches": {"main": 1, "old": 0},
    }
    # main is not an ancestor of the branch cut from snapshot 0
    IcebergLayoutTable(root, branch="old").drop_parts_older_than(1)
    with pytest.raises(ConcurrentWriteConflict, match="main advanced"):
        main(["branch", "--table", root, "--publish", "old"])


def test_plan_where_and_diff(spark, tmp_path, capsys):
    root = str(tmp_path / "t")
    t = _table(spark, root)
    out = _run(capsys, "plan", "--table", root, "--where", "bucket_s=0..300")
    assert out == {
        "table": root, "prune": {"bucket_s": [0, 300]},
        "matched_files": 1, "total_files": 2,
        "skipped_files": 1, "skipped_parts": 1,
    }
    out = _run(capsys, "plan", "--table", root,
               "--where", "bucket_s=604800..", "--where", "v=2.5")
    assert out == {
        "table": root, "prune": {"bucket_s": [604800, None], "v": 2.5},
        "matched_files": 1, "total_files": 2,
        "skipped_files": 1, "skipped_parts": 1,
    }
    out = _run(capsys, "plan", "--table", root, "--where", "part=604800",
               "--where", "url=u1")
    assert out == {
        "table": root, "prune": {"part": 604800, "url": "u1"},
        "matched_files": 1, "total_files": 1,
        "skipped_files": 0, "skipped_parts": 1,
    }
    t.overwrite_parts(
        spark.createDataFrame([("u9", 604800, 1.0, 604800)],
                              "url string, bucket_s bigint, v double, part bigint"),
        ["604800"],
    )
    t.drop_parts_older_than(604800)
    diff = {"added": [], "rewritten": ["604800"], "removed": ["0"], "part_col": "part"}
    assert _run(capsys, "plan", "--table", root, "--diff", "0..") == diff
    assert _run(capsys, "plan", "--table", root, "--diff", "0..2") == diff
    assert _run(capsys, "plan", "--table", root, "--diff", "1..2") == {
        "added": [], "rewritten": [], "removed": ["0"], "part_col": "part",
    }
    out = _run(capsys, "plan", "--table", root, "--snapshot", "0")
    assert (out["matched_files"], out["total_files"]) == (2, 2)
