"""Field-id schema evolution for the Iceberg-layout table.

The reference engine (asavinov/lambdo) rebuilds whole pandas frames, so
"evolution" is free there; at 100 TB a rename must NOT rewrite data.
This pins the Iceberg model: schemas are immutable metadata files,
manifests record the written schema id, reads map columns by field id
(rename = metadata-only, add = NULL back-fill, widen = read-time cast,
drop = projection), and concurrent evolutions CAS-conflict instead of
clobbering each other.
"""

import glob
import os

import pytest
from pyspark.sql import functions as F

from lambdo_spark.sources.iceberg_layout import (
    ConcurrentWriteConflict,
    IcebergLayoutTable,
)


def _mk(spark, parts=(0, 604800), n=40):
    rows = []
    for p in parts:
        for i in range(n):
            rows.append((f"u{i % 7}", p + i * 60, float(i), p))
    return spark.createDataFrame(
        rows, "url string, bucket_s bigint, v double, part bigint"
    )


def _data_files(root):
    return sorted(glob.glob(os.path.join(root, "data", "**", "*.parquet"),
                            recursive=True))


def test_first_write_registers_schema(spark, tmp_path):
    t = IcebergLayoutTable(str(tmp_path / "t"))
    t.write_tier(_mk(spark))
    s = t.schema()
    assert s["schema_id"] == 0
    names = [f["name"] for f in s["fields"]]
    assert names == ["url", "bucket_s", "v"]  # part/snapv are layout, not schema
    assert all(isinstance(f["id"], int) for f in s["fields"])
    # manifests record the written schema
    assert all(m["schema_id"] == 0 for m in t.lineage())


def test_rename_is_metadata_only(spark, tmp_path):
    root = str(tmp_path / "t")
    t = IcebergLayoutTable(root)
    df = _mk(spark)
    t.write_tier(df)
    files_before = _data_files(root)
    mtimes = {f: os.path.getmtime(f) for f in files_before}
    old_snap = t.current_snapshot()["snapshot_id"]

    t.rename_column("v", "value")

    # zero data files touched
    assert _data_files(root) == files_before
    assert {f: os.path.getmtime(f) for f in files_before} == mtimes
    # reads serve the NEW name from the OLD files
    back = t.read_tier(spark)
    assert "value" in back.columns and "v" not in back.columns
    assert back.agg(F.sum("value")).first()[0] == df.agg(F.sum("v")).first()[0]
    # time travel to the pre-rename snapshot sees the old name
    assert "v" in t.read_tier(spark, snapshot_id=old_snap).columns


def test_rename_then_write_then_read_both_generations(spark, tmp_path):
    """Old files written as `v`, new files written as `value` after the
    rename — one read normalizes both to the current name."""
    t = IcebergLayoutTable(str(tmp_path / "t"))
    old = _mk(spark, parts=(0,))
    t.write_tier(old)
    t.rename_column("v", "value")
    new = _mk(spark, parts=(604800,)).withColumnRenamed("v", "value")
    t.write_tier(new)
    back = t.read_tier(spark)
    assert back.columns.count("value") == 1 and "v" not in back.columns
    assert back.count() == old.count() + new.count()
    got = back.agg(F.sum("value")).first()[0]
    want = old.agg(F.sum("v")).first()[0] + new.agg(F.sum("value")).first()[0]
    assert got == want


def test_add_column_backfills_null(spark, tmp_path):
    t = IcebergLayoutTable(str(tmp_path / "t"))
    t.write_tier(_mk(spark, parts=(0,)))
    t.add_column("lang", "string")
    back = t.read_tier(spark)
    assert dict(back.dtypes)["lang"] == "string"
    assert back.where(F.col("lang").isNotNull()).count() == 0
    # a later write fills it for new partitions only
    new = _mk(spark, parts=(604800,)).withColumn("lang", F.lit("en"))
    t.write_tier(new)
    back = t.read_tier(spark)
    assert back.where(F.col("lang") == "en").count() == new.count()
    assert back.where(F.col("lang").isNull()).count() == back.count() - new.count()


def test_drop_and_readd_does_not_resurrect(spark, tmp_path):
    t = IcebergLayoutTable(str(tmp_path / "t"))
    t.write_tier(_mk(spark, parts=(0,)))
    t.drop_column("v")
    assert "v" not in t.read_tier(spark).columns
    # re-adding the same name mints a NEW field id: old data stays dead
    t.add_column("v", "double")
    back = t.read_tier(spark)
    assert back.where(F.col("v").isNotNull()).count() == 0


def test_widen_column_casts_at_read(spark, tmp_path):
    t = IcebergLayoutTable(str(tmp_path / "t"))
    df = spark.createDataFrame(
        [("a", 1, 5, 0), ("b", 2, 7, 0)], "url string, bucket_s bigint, n int, part bigint"
    )
    t.write_tier(df)
    t.widen_column("n", "bigint")
    back = t.read_tier(spark)
    assert dict(back.dtypes)["n"] == "bigint"
    assert back.agg(F.sum("n")).first()[0] == 12
    with pytest.raises(TypeError):
        t.widen_column("url", "bigint")  # not a legal promotion


def test_auto_merge_new_column_on_write(spark, tmp_path):
    """A write carrying a brand-new column evolves the schema
    automatically (mergeSchema behavior); incompatible types refuse."""
    t = IcebergLayoutTable(str(tmp_path / "t"))
    t.write_tier(_mk(spark, parts=(0,)))
    new = _mk(spark, parts=(604800,)).withColumn("extra", F.lit(1).cast("int"))
    t.write_tier(new)
    s = t.schema()
    assert {f["name"] for f in s["fields"]} == {"url", "bucket_s", "v", "extra"}
    assert s["schema_id"] == 1
    back = t.read_tier(spark)
    assert back.where(F.col("extra").isNull()).count() == _mk(spark, parts=(0,)).count()
    # incompatible type change is refused
    bad = _mk(spark, parts=(1209600,)).withColumn("v", F.lit("oops"))
    with pytest.raises(TypeError, match="incompatible"):
        t.write_tier(bad)


def test_concurrent_evolution_conflicts(spark, tmp_path):
    """Two evolvers racing from the same base: the second commit must
    CAS-fail instead of silently clobbering the first rename."""
    root = str(tmp_path / "t")
    a, b = IcebergLayoutTable(root), IcebergLayoutTable(root)
    a.write_tier(_mk(spark, parts=(0,)))
    base = a.schema()

    # simulate the race: b derives its evolution from `base`, but a
    # commits a different one first
    a.rename_column("v", "value")
    fields = [dict(f) for f in base["fields"]]
    for f in fields:
        if f["name"] == "v":
            f["name"] = "val2"
    sid = b._claim("schema", {"fields": fields, "last_field_id": base["last_field_id"]})
    with pytest.raises(ConcurrentWriteConflict, match="schema evolved"):
        b._commit(
            {"schema_id": sid, "new_parts": [], "part_col": "part",
             "input_snapshot": "schema-evolution:race"},
            expect_schema=base["schema_id"],
        )
    # the winner's rename survives
    assert [f["name"] for f in a.schema()["fields"]] == ["url", "bucket_s", "value"]


def test_scan_pruning_survives_rename(spark, tmp_path):
    """Manifest file stats are keyed by WRITTEN names; pruning with the
    post-rename name must still skip old files via the field-id map."""
    t = IcebergLayoutTable(str(tmp_path / "t"), sort_order=("url", "bucket_s"))
    t.write_tier(_mk(spark))
    t.rename_column("bucket_s", "ts")
    plan = t.plan_files(prune={"ts": (0, 300)})
    assert plan["skipped_files"] > 0  # week-2 files pruned by stats
    back = t.read_tier(spark, prune={"ts": (0, 300)})
    assert "ts" in back.columns
    assert back.count() == _mk(spark).where("bucket_s <= 300").count()


def test_compaction_materializes_current_schema(spark, tmp_path):
    t = IcebergLayoutTable(str(tmp_path / "t"))
    t.write_tier(_mk(spark, parts=(0,)))
    t.rename_column("v", "value")
    t.compact_parts(spark)
    # the rewritten files physically carry the new name
    import pandas as pd
    versions = t.part_versions()
    d = t._version_dir("0", versions["0"])
    pdf = pd.read_parquet(glob.glob(os.path.join(d, "*.parquet"))[0])
    assert "value" in pdf.columns and "v" not in pdf.columns
    # and the manifest records the current schema id
    assert t.lineage()[0]["schema_id"] == t.schema()["schema_id"]
    assert t.read_tier(spark).agg(F.sum("value")).first()[0] == \
        _mk(spark, parts=(0,)).agg(F.sum("v")).first()[0]


def test_read_changes_across_rename_is_quiet(spark, tmp_path):
    """A metadata-only rename between two snapshots produces ZERO row
    changes — both sides normalize to the to-snapshot's schema."""
    t = IcebergLayoutTable(str(tmp_path / "t"))
    t.write_tier(_mk(spark, parts=(0,)))
    s0 = t.current_snapshot()["snapshot_id"]
    t.rename_column("v", "value")
    assert t.read_changes(spark, s0).count() == 0
    # a real rewrite after the rename still diffs correctly
    df2 = _mk(spark, parts=(0,)).withColumnRenamed("v", "value") \
        .withColumn("value", F.col("value") + 1)
    t.overwrite_parts(df2, ["0"])
    ch = t.read_changes(spark, s0)
    assert ch.where("_change = 'insert'").count() == df2.count()
    assert ch.where("_change = 'delete'").count() == df2.count()
