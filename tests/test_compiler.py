"""Workflow compiler: spec → stages parity with the reference's
Workflow/Topology behavior (SURVEY.md §3)."""

import inspect

import pytest

from lambdo_spark.plans.compiler import (
    Workflow,
    compile_workflow,
    expand_extensions,
    stratify,
    strip_comments,
)


def test_extensions_desugar():
    """reference utils.py:13-36 + tests/test_roll.py:84: auto ids."""
    base = {"id": "m", "operation": "roll", "kernel": "mean", "window": 10,
            "inputs": ["A"], "extensions": [{"window": 5}, {"window": 2, "id": "m2"}]}
    out = expand_extensions(base)
    assert [(c["id"], c["window"]) for c in out] == [("m_0", 5), ("m2", 2)]
    assert all("extensions" not in c for c in out)


def test_strip_comments():
    """reference main.py:23 accepts // comments in workflow json."""
    import json
    s = '{\n// a comment\n"tables": []\n}'
    assert json.loads(strip_comments(s)) == {"tables": []}


def test_stratify_layers():
    """reference tests/test_topology.py:140-155 plan-shape style:
    aggregate chain stratifies into dependency layers."""
    spec = {"tables": [
        {"id": "groups", "operation": "data",
         "columns": [{"id": "tot", "operation": "aggregate",
                      "fact_table": "facts", "keys": ["A"],
                      "fact_keys": ["A"], "kernel": "sum", "measure": "M"}]},
        {"id": "facts", "operation": "data"},
        {"id": "report", "operation": "aggregate", "source": "groups",
         "keys": ["A"], "aggregations": [{"id": "n"}]},
    ]}
    assert stratify(spec) == [["facts"], ["groups"], ["report"]]


def test_stratify_cycle_raises():
    spec = {"tables": [
        {"id": "a", "operation": "extend", "source": "b"},
        {"id": "b", "operation": "extend", "source": "a"},
    ]}
    with pytest.raises(ValueError, match="cycle"):
        stratify(spec)


def test_end_to_end_workflow(spark):
    """A full reference-style workflow: data injection (entry point 2,
    tests/test_calculate.py:32-48), calculate, roll family, shift,
    link+aggregate, filter."""
    facts = spark.createDataFrame(
        [(0, "a", 1), (1, "a", 2), (2, "b", 3), (3, "b", 4)],
        "idx long, A string, M long",
    )
    groups = spark.createDataFrame([("a",), ("b",), ("c",)], "A string")
    spec = {"tables": [
        {"id": "facts", "operation": "data", "order_by": ["idx"],
         "columns": [
             {"id": "Mf", "operation": "calculate", "kernel": "float",
              "inputs": ["M"]},
             {"id": "rsum", "operation": "roll", "kernel": "sum",
              "inputs": ["Mf"], "window": 2,
              "extensions": [{"window": 2}, {"window": 3, "id": "rsum3"}]},
             {"id": "nxt", "operation": "shift", "inputs": ["Mf"],
              "periods": -1},
         ]},
        {"id": "groups", "operation": "data",
         "columns": [
             {"id": "tot", "operation": "aggregate", "fact_table": "facts",
              "keys": ["A"], "fact_keys": ["A"], "kernel": "sum",
              "measure": "Mf", "fillna_value": 0.0},
         ],
         "row_filter": {"predicate": []}},
    ]}
    out = compile_workflow(spec, spark, data={"facts": facts, "groups": groups})
    f = out["facts"].orderBy("idx").collect()
    assert [r["rsum_0"] for r in f] == [None, 3.0, 5.0, 7.0]
    assert [r["rsum3"] for r in f] == [None, None, 6.0, 9.0]
    assert [r["nxt"] for r in f] == [2.0, 3.0, 4.0, None]
    g = {r["A"]: r["tot"] for r in out["groups"].collect()}
    assert g == {"a": 3.0, "b": 7.0, "c": 0.0}


def test_workflow_json_string_with_comments(spark):
    spec = """
    {
      // project then aggregate
      "tables": [
        {"id": "src", "operation": "data"},
        {"id": "dims", "operation": "project", "source": "src",
         "inputs": ["A"], "outputs": ["key"]}
      ]
    }
    """
    src = spark.createDataFrame([("a", 1), ("a", 2), ("b", 3)], "A string, M long")
    out = Workflow(spec, spark, data={"src": src}).execute()
    assert sorted(r["key"] for r in out["dims"].collect()) == ["a", "b"]


def test_workflow_source_and_column_filter(spark, tmp_path):
    p = str(tmp_path / "t.parquet")
    spark.createDataFrame([(1, 2, 3)], "A long, B long, C long").write.parquet(p)
    spec = {"tables": [
        {"id": "t", "operation": "source", "format": "parquet", "path": p,
         "column_filter": {"exclude": ["B"]}},
        {"id": "ext", "operation": "extend", "source": "t",
         "columns": [{"id": "D", "operation": "calculate", "kernel": "add",
                      "inputs": ["A"], "model": {"value": 10}}]},
    ]}
    out = compile_workflow(spec, spark)
    assert out["t"].columns == ["A", "C"]
    assert out["ext"].collect()[0]["D"] == 11


def test_map_table_via_named_kernel(spark):
    """T3 map table: 'module:attr' kernel ref (reference
    resolve.py:14-49 semantics) over mapInPandas."""
    from lambdo_spark.plans.compiler import compile_workflow, resolve_callable

    assert resolve_callable("tests.map_helpers:double_b")
    data = {"src": spark.createDataFrame([(1, 10.0), (2, 20.0)], "a long, b double")}
    spec = {
        "tables": [
            {"id": "src", "operation": "data"},
            {"id": "mapped", "operation": "map", "source": "src",
             "function": "tests.map_helpers:double_b",
             "schema": "a long, b2 double"},
        ]
    }
    out = compile_workflow(spec, spark, data)["mapped"].toPandas().sort_values("a")
    assert out["b2"].tolist() == [20.0, 40.0]


def test_workflow_timeseries_column_ops(spark):
    """sessionize/delta/rate/locf as declarative column ops sharing
    the table-level (partition_by, order_by) defaults."""
    import datetime as dt

    rows = [
        ("u", dt.datetime(2024, 1, 1, 0, 0, 0), 100),
        ("u", dt.datetime(2024, 1, 1, 0, 0, 10), 150),
        ("u", dt.datetime(2024, 1, 1, 2, 0, 0), 130),
    ]
    data = {"ev": spark.createDataFrame(rows, "k string, ts timestamp, v long")}
    spec = {"tables": [
        {"id": "ev", "operation": "data"},
        {"id": "t", "operation": "extend", "source": "ev",
         "order_by": ["ts"], "partition_by": ["k"],
         "columns": [
             {"id": "sid", "operation": "sessionize", "ts": "ts",
              "gap_seconds": 1800},
             {"id": "d", "operation": "delta", "inputs": ["v"]},
             {"id": "r", "operation": "rate", "inputs": ["v"], "ts": "ts",
              "scale": 100},
         ]},
    ]}
    out = compile_workflow(spec, spark, data)["t"].toPandas().sort_values("ts")
    assert out["sid"].tolist() == [1, 1, 2]
    assert out["d"].fillna(-1).tolist() == [-1, 50, -20]
    # rate row 3: floor(-20*100 / 7190s) == -1 (floor of negative)
    assert out["r"].fillna(-999).tolist() == [-999, 500, -1]


def test_workflow_timeseries_table_ops(spark):
    """sessions/order_stat/distinct/heavy_hitters/grouping_sets as
    declarative population ops."""
    import datetime as dt

    rows = [
        ("u", "a", dt.datetime(2024, 1, 1, 0, 0, 0), 5),
        ("u", "a", dt.datetime(2024, 1, 1, 0, 0, 10), 1),
        ("u", "b", dt.datetime(2024, 1, 1, 2, 0, 0), 9),
        ("v", "a", dt.datetime(2024, 1, 1, 0, 0, 0), 3),
    ]
    data = {"ev": spark.createDataFrame(
        rows, "k string, cat string, ts timestamp, v long")}
    spec = {"tables": [
        {"id": "ev", "operation": "data"},
        {"id": "sess", "operation": "sessions", "source": "ev",
         "keys": ["k"], "ts": "ts", "gap_seconds": 1800},
        {"id": "p50", "operation": "order_stat", "source": "ev",
         "keys": ["k"], "value": "v", "q": 0.5, "output": "med"},
        {"id": "nd", "operation": "distinct", "source": "ev",
         "keys": ["k"], "item": "cat", "output": "n_cats"},
        {"id": "hh", "operation": "heavy_hitters", "source": "ev",
         "keys": ["k"], "item": "cat", "k": 1},
        {"id": "gs", "operation": "grouping_sets", "source": "ev",
         "keys": ["k", "cat"],
         "aggregations": [{"id": "s", "kernel": "sum", "inputs": ["v"]}]},
        {"id": "m4", "operation": "m4", "source": "ev",
         "keys": ["k"], "value": "v", "ts": "ts", "tier_seconds": 86400},
        {"id": "tw", "operation": "time_weighted", "source": "ev",
         "keys": ["k"], "value": "v", "ts": "ts", "tier_seconds": 86400},
        {"id": "cnt", "operation": "counter", "source": "ev",
         "keys": ["k"], "value": "v", "ts": "ts", "tier_seconds": 3600,
         "merge_to": 86400},
        {"id": "vh", "operation": "value_hist", "source": "ev",
         "keys": ["k"], "value": "v", "ts": "ts", "tier_seconds": 3600,
         "bin_width": 4, "merge_to": 86400, "q": 0.5},
    ]}
    out = compile_workflow(spec, spark, data)
    sess = out["sess"].toPandas()
    assert sorted(sess["n_events"].tolist()) == [1, 1, 2]
    med = out["p50"].toPandas().sort_values("k")
    assert med["med"].tolist() == [5, 3]
    nd = out["nd"].toPandas().sort_values("k")
    assert nd["n_cats"].tolist() == [2, 1]
    hh = out["hh"].toPandas().sort_values("k")
    assert hh["cat"].tolist() == ["a", "a"]
    gs = out["gs"].toPandas()
    assert gs[gs["grouping_id"] == 3]["s"].tolist() == [18]
    m4 = out["m4"].toPandas().sort_values("k")
    # u's day bucket: min 1, max 9, first 5 (t=0), last 9 (t=7200)
    assert m4[m4["k"] == "u"][["v_min", "v_max", "v_first", "v_last"]].iloc[
        0].tolist() == [1, 9, 5, 9]
    tw = out["tw"].toPandas().sort_values("k")
    # u: 5 holds 10s, 1 holds 7190s, 9 holds to day end (79200s)
    assert tw[tw["k"] == "u"]["wsum"].iloc[0] == 5 * 10 + 1 * 7190 + 9 * 79200
    cnt = out["cnt"].toPandas().sort_values("k")
    # u via the 1h→1d chain: 5→1 reset contributes 1, 1→9 rises 8
    assert cnt[cnt["k"] == "u"]["increase"].iloc[0] == 1 + 8
    vh = out["vh"].toPandas().sort_values("k")
    # u's values 5,1,9 → median 5 → bin floor(5/4)*4 = 4
    assert vh[vh["k"] == "u"]["q_est"].iloc[0] == 4


def test_reference_style_spec_with_lambdas(spark):
    """The reference's own spec shape runs unmodified (reference
    tests/test_table_populate.py:49-50): noop first table, implicit
    extend second table, inline-lambda 'function' columns — gated
    behind allow_lambda."""
    from lambdo_spark.plans.compiler import Workflow

    wf_json = {
        "id": "My workflow",
        "tables": [
            {
                "id": "Base Table",
                "operation": "noop",
                "columns": [
                    {"id": "B", "operation": "calculate",
                     "function": "lambda x: x + 1", "inputs": ["A"]},
                ],
            },
            {
                "id": "Extended Table",
                # "operation": "extend" — by default (Table.py:177-190)
                "columns": [
                    {"id": "C", "operation": "calculate",
                     "function": "lambda x: x + 1", "inputs": ["B"]},
                ],
            },
        ],
    }
    data = {"Base Table": spark.createDataFrame([(1.0,), (2.0,)], "A double")}
    out = Workflow(wf_json, spark, data, allow_lambda=True).execute()
    got = out["Extended Table"].toPandas().sort_values("A")
    assert got["B"].tolist() == [2.0, 3.0]
    assert got["C"].tolist() == [3.0, 4.0]

    # lambda eval is OFF by default — workflow-supplied code never runs
    with pytest.raises(ValueError, match="allow_lambda"):
        Workflow(wf_json, spark, data).execute()["Extended Table"].collect()


def test_workflow_imports_and_module_attr_kernel(spark, tmp_path):
    """Workflow-level imports (reference Workflow.py:40-41,
    resolve.py:98-130): a user module loaded from a source path whose
    functions resolve as module:attr kernels."""
    mod = tmp_path / "userkernels_t1.py"
    mod.write_text(
        "def double_it(s):\n    return s * 2\n"
        "def span(s):\n    return s.max() - s.min()\n"
    )
    spec = {
        "imports": [str(mod)],
        "tables": [
            {"id": "t", "operation": "data",
             "order_by": ["i"],
             "columns": [
                 {"id": "d", "operation": "calculate",
                  "function": "userkernels_t1:double_it", "inputs": ["v"]},
                 {"id": "sp", "operation": "roll",
                  "function": "userkernels_t1:span", "inputs": ["v"],
                  "window": 2},
             ]},
        ],
    }
    import sys

    sys.path.insert(0, str(tmp_path))
    try:
        from lambdo_spark.plans.compiler import Workflow

        data = {"t": spark.createDataFrame(
            [(0, 3.0), (1, 7.0), (2, 4.0)], "i long, v double")}
        got = (
            Workflow(spec, spark, data).execute()["t"]
            .toPandas().sort_values("i")
        )
        assert got["d"].tolist() == [6.0, 14.0, 8.0]
        assert got["sp"].fillna(-1).tolist() == [-1.0, 4.0, 3.0]
    finally:
        sys.path.remove(str(tmp_path))


def test_holistic_kernels_and_fillna(spark):
    """median/mad/quantile run via the pandas GROUPED_AGG escape hatch;
    C9 fillna_value applies to ANY column op post-attach."""
    from lambdo_spark.plans.compiler import compile_workflow as cw

    data = {"t": spark.createDataFrame(
        [("a", 0, 1.0), ("a", 1, 5.0), ("a", 2, 2.0), ("b", 0, 4.0)],
        "g string, i long, v double")}
    spec = {"tables": [
        {"id": "t", "operation": "data",
         "order_by": ["i"], "partition_by": ["g"],
         "columns": [
             {"id": "med", "operation": "roll", "kernel": "median",
              "inputs": ["v"], "window": 3, "fillna_value": -1.0},
             {"id": "q75", "operation": "all", "kernel": "quantile",
              "inputs": ["v"], "model": {"q": 0.75}},
         ]},
    ]}
    got = cw(spec, spark, data)["t"].toPandas().sort_values(["g", "i"])
    assert got["med"].tolist() == [-1.0, -1.0, 2.0, -1.0]
    assert got["q75"].tolist() == [3.5, 3.5, 3.5, 4.0]


def test_tier_source_reads_pipeline_output(spark, tmp_path):
    """format:"tier" source — workflows consume retention-pipeline
    outputs with snapshot isolation, optional prune + gapfill."""
    from lambdo_spark.plans.compiler import Workflow
    from lambdo_spark.rollup.incremental import read_finalized_tier
    from lambdo_spark.rollup.pipeline import run_retention_pipeline
    from lambdo_spark.sources.pages import generate_pages

    root = str(tmp_path / "tiers")
    run_retention_pipeline(spark, generate_pages(spark, 1500, seed=9), root)
    direct = read_finalized_tier(spark, root, "1h")
    lo = direct.agg({"bucket_s": "min"}).first()[0]
    hi = lo + 14 * 86400

    spec = {"tables": [
        {"id": "t1h", "operation": "source", "format": "tier",
         "path": root, "tier": "1h",
         "prune": {"bucket_s": [lo, hi]}},
        {"id": "daily", "operation": "aggregate", "source": "t1h",
         "keys": ["url"],
         "aggregations": [
             {"id": "n_total", "kernel": "sum", "inputs": ["n_points"]}
         ]},
    ]}
    got = Workflow(spec, spark).execute()
    want = (
        direct.where((direct.bucket_s >= lo) & (direct.bucket_s <= hi))
        .groupBy("url").agg({"n_points": "sum"})
    )
    assert got["t1h"].count() == direct.where(
        (direct.bucket_s >= lo) & (direct.bucket_s <= hi)
    ).count()
    assert got["daily"].count() == want.count()


def test_tier_sink_checkpointed_write(spark, tmp_path):
    """sink with format:"tier" — resumable Iceberg-layout write from
    the workflow language; second execution skips committed parts."""
    from lambdo_spark.plans.compiler import Workflow
    from lambdo_spark.sources.iceberg_layout import IcebergLayoutTable

    root = str(tmp_path / "wf_tier")
    data = {"src": spark.createDataFrame(
        [("u1", 0, 3), ("u1", 604800, 4), ("u2", 0, 5)],
        "url string, part long, n long")}
    spec = {"tables": [
        {"id": "src", "operation": "data"},
        {"id": "out", "operation": "sink", "source": "src",
         "format": "tier", "path": root},
    ]}
    Workflow(spec, spark, data).execute()
    t = IcebergLayoutTable(root)
    assert t.read_tier(spark).count() == 3
    assert sorted(t.part_versions()) == ["0", "604800"]
    snap2 = Workflow(spec, spark, data).execute() and t.current_snapshot()
    assert snap2["new_parts"] == []  # resumed, nothing rewritten


def test_sql_operation(spark):
    """operation:"sql" — the Spark-SQL escape hatch (the reference has
    no SQL surface; SURVEY §3): inputs register as temp views named by
    their workflow ids, results feed downstream stages like any table."""
    facts = spark.createDataFrame(
        [(1, "a", 10), (2, "a", 20), (3, "b", 5)], "idx long, k string, v long"
    )
    dims = spark.createDataFrame([("a", "X"), ("b", "Y")], "k string, grp string")
    spec = {"tables": [
        {"id": "facts", "operation": "data"},
        {"id": "dims", "operation": "data"},
        {"id": "by_grp", "operation": "sql", "inputs": ["facts", "dims"],
         "query": """
            SELECT grp, count(*) AS n, sum(v) AS total
            FROM facts JOIN dims ON facts.k = dims.k
            GROUP BY grp
         """},
        {"id": "top", "operation": "sql", "inputs": ["by_grp"],
         "query": "SELECT grp FROM by_grp WHERE total >= 30"},
    ]}
    out = compile_workflow(spec, spark, data={"facts": facts, "dims": dims})
    got = {r["grp"]: (r["n"], r["total"]) for r in out["by_grp"].collect()}
    assert got == {"X": (2, 30), "Y": (1, 5)}
    assert [r["grp"] for r in out["top"].collect()] == ["X"]


def test_tier_source_realtime(spark, tmp_path):
    """format:"tier" + realtime: the workflow-language form of the
    real-time continuous aggregate — materialized head ∪ raw tail must
    equal a full recompute over the raw table."""
    from pyspark.sql import functions as F

    from lambdo_spark.rollup.pipeline import run_retention_pipeline
    from lambdo_spark.rollup.tiers import rollup_all_tiers
    from lambdo_spark.sources.pages import generate_pages

    pages = generate_pages(spark, 2000, seed=11).persist()
    lo, hi = pages.agg(
        F.min(F.unix_timestamp("warc_ts")), F.max(F.unix_timestamp("warc_ts"))
    ).first()
    cut = lo + (hi - lo) // 2  # deliberately not bucket-aligned
    root = str(tmp_path / "tiers")
    run_retention_pipeline(
        spark, pages.where(F.unix_timestamp("warc_ts") < cut), root
    )

    spec = {"tables": [
        {"id": "raw", "operation": "data"},
        {"id": "rt", "operation": "source", "format": "tier",
         "path": root, "tier": "1h",
         "realtime": {"raw": "raw", "key": "url", "ts": "warc_ts",
                      "text": "text", "lang": "lang"}},
    ]}
    got = compile_workflow(spec, spark, data={"raw": pages})["rt"]
    exp = rollup_all_tiers(pages)["1h"]
    g = got.select("url", "bucket_s", "n_points").toPandas().sort_values(
        ["url", "bucket_s"]).reset_index(drop=True)
    e = exp.select("url", "bucket_s", "n_points").toPandas().sort_values(
        ["url", "bucket_s"]).reset_index(drop=True)
    assert g.equals(e)

    # hierarchical form: cascade=true serves the 1d edge from the 1h
    # partials store (retention roots persist it) — same full-recompute
    # equality at the coarse tier
    spec_c = {"tables": [
        {"id": "raw", "operation": "data"},
        {"id": "rt1d", "operation": "source", "format": "tier",
         "path": root, "tier": "1d",
         "realtime": {"raw": "raw", "cascade": True}},
    ]}
    got_c = compile_workflow(spec_c, spark, data={"raw": pages})["rt1d"]
    exp_c = rollup_all_tiers(pages)["1d"]
    gc = got_c.select("url", "bucket_s", "n_points").toPandas().sort_values(
        ["url", "bucket_s"]).reset_index(drop=True)
    ec = exp_c.select("url", "bucket_s", "n_points").toPandas().sort_values(
        ["url", "bucket_s"]).reset_index(drop=True)
    assert gc.equals(ec)
    pages.unpersist()


def test_quality_filter_op(spark):
    """operation:"quality_filter" — Gopher rules from the workflow
    language, filter and flag modes."""
    good = "the quick brown foxes jumped over packs of lazy sleeping hounds " * 6
    df = spark.createDataFrame(
        [(1, good), (2, "the cat"), (3, "zz " * 80)], "doc_id long, text string"
    )
    spec = {"tables": [
        {"id": "docs", "operation": "data"},
        {"id": "kept", "operation": "quality_filter", "source": "docs",
         "rules": {"min_words": 20, "max_repetition": 0.95}},
        {"id": "flagged", "operation": "quality_filter", "source": "docs",
         "flag": "keep", "rules": {"min_words": 20, "max_repetition": 0.95}},
    ]}
    out = compile_workflow(spec, spark, data={"docs": df})
    assert [r["doc_id"] for r in out["kept"].collect()] == [1]
    flags = {r["doc_id"]: r["keep"] for r in out["flagged"].collect()}
    assert flags == {1: True, 2: False, 3: False}


def test_keep_latest_op(spark):
    """operation:"keep_latest" — newest row per key from the workflow
    language (struct-max plan, no window)."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [("u1", t0, 1), ("u1", t0 + dt.timedelta(hours=1), 2), ("u2", t0, 3)],
        "url string, ts timestamp, doc_id long",
    )
    spec = {"tables": [
        {"id": "docs", "operation": "data"},
        {"id": "latest", "operation": "keep_latest", "source": "docs",
         "keys": ["url"], "ts": "ts", "tiebreak": ["doc_id"]},
    ]}
    got = compile_workflow(spec, spark, data={"docs": df})["latest"]
    assert sorted(r["doc_id"] for r in got.collect()) == [2, 3]


def test_dedup_clusters_and_sample_stratified_ops(spark):
    """operation:"dedup_clusters" / "sample_stratified" — cluster
    labeling and data-mixing quotas from the workflow language."""
    base = "the quick brown fox jumps over the lazy dog again and again ok"
    docs = spark.createDataFrame(
        [(1, base + " a", "en"), (2, base + " b", "en"),
         (3, "totally different text about spark shuffles here now", "en"),
         (4, "nochmal ganz anderer deutscher beispieltext hier jetzt", "de"),
         (5, "weiterer deutscher text ohne jede aehnlichkeit dazu", "de")],
        "doc_id long, text string, lang string",
    )
    spec = {"tables": [
        {"id": "docs", "operation": "data"},
        {"id": "clusters", "operation": "dedup_clusters", "source": "docs",
         "threshold": 0.6},
        {"id": "mix", "operation": "sample_stratified", "source": "docs",
         "keys": ["lang"], "n": 1, "unique_keys": ["doc_id"]},
    ]}
    out = compile_workflow(spec, spark, data={"docs": docs})
    cl = {r["doc_id"]: r["cluster_id"] for r in out["clusters"].collect()}
    assert cl == {1: 1, 2: 1, 3: 3, 4: 4, 5: 5}
    mix = out["mix"].toPandas()
    assert mix.groupby("lang").size().to_dict() == {"en": 1, "de": 1}


def test_remove_boilerplate_op(spark):
    """operation:"remove_boilerplate" from the workflow language."""
    nav = "subscribe now"
    docs = spark.createDataFrame(
        [(1, "a", f"{nav}\none"), (2, "a", f"{nav}\ntwo"), (3, "a", nav)],
        "doc_id long, source string, text string",
    )
    spec = {"tables": [
        {"id": "docs", "operation": "data"},
        {"id": "clean", "operation": "remove_boilerplate", "source": "docs",
         "min_docs": 3},
    ]}
    got = {r["doc_id"]: r["text"]
           for r in compile_workflow(spec, spark, data={"docs": docs})["clean"].collect()}
    assert got == {1: "one", 2: "two", 3: ""}


def test_decontaminate_op(spark):
    """operation:"decontaminate" — two-table dep (source + bench)."""
    span = "what is the capital city of france in europe"
    train = spark.createDataFrame(
        [(1, f"quiz asked {span} twice"), (2, "unrelated words entirely here")],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame([(span,)], "text string")
    spec = {"tables": [
        {"id": "train", "operation": "data"},
        {"id": "bench", "operation": "data"},
        {"id": "flags", "operation": "decontaminate",
         "source": "train", "bench": "bench", "n": 8},
    ]}
    got = {r["doc_id"]: r["contaminated"]
           for r in compile_workflow(
               spec, spark, data={"train": train, "bench": bench}
           )["flags"].collect()}
    assert got == {1: 1, 2: 0}


def test_shuffle_op(spark):
    """operation:"shuffle" — deterministic epoch order from the
    workflow language."""
    docs = spark.createDataFrame([(i,) for i in range(20)], "doc_id long")
    spec = {"tables": [
        {"id": "docs", "operation": "data"},
        {"id": "epoch1", "operation": "shuffle", "source": "docs",
         "unique_keys": ["doc_id"], "seed": "ep1"},
    ]}
    got = compile_workflow(spec, spark, data={"docs": docs})["epoch1"].toPandas()
    assert sorted(got["shuffle_rank"]) == list(range(1, 21))


def test_components_op(spark):
    """operation:"components" — connected components over any edge
    table from the workflow language (composes with dedup_minhash:
    pairs table in, cluster labels out)."""
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 8)], "id_a long, id_b long"
    )
    spec = {"tables": [
        {"id": "edges", "operation": "data"},
        {"id": "cc", "operation": "components", "source": "edges",
         "src": "id_a", "dst": "id_b"},
    ]}
    got = {r["node"]: r["component"]
           for r in compile_workflow(spec, spark, data={"edges": edges})["cc"].collect()}
    assert got == {1: 1, 2: 1, 3: 1, 7: 7, 8: 7}


def test_dedup_spans_op(spark):
    """operation:"dedup_spans" from the workflow language."""
    span = "a b c d e f g h"
    docs = spark.createDataFrame(
        [(1, f"x {span}"), (2, f"y {span}")], "doc_id long, text string"
    )
    spec = {"tables": [
        {"id": "docs", "operation": "data"},
        {"id": "clean", "operation": "dedup_spans", "source": "docs"},
    ]}
    got = {r["doc_id"]: r["text"]
           for r in compile_workflow(spec, spark, data={"docs": docs})["clean"].collect()}
    assert got == {1: "x", 2: "y"}


def test_media_feature_ops(spark):
    """operation:"audio_features"/"video_features" — real decode from
    the workflow language."""
    import numpy as np

    from lambdo_spark.functions.multimodal import (
        encode_avi_rgb,
        encode_wav_pcm16,
    )

    s = ((np.arange(50) * 3) % 200 - 100).astype(np.int16)
    fr = (np.arange(2 * 4 * 6 * 3) % 256).astype(np.uint8).reshape(2, 4, 6, 3)
    media = spark.createDataFrame(
        [(1, bytearray(encode_wav_pcm16(s, 16000)),
          bytearray(encode_avi_rgb(fr)))],
        "doc_id long, audio binary, video binary",
    )
    spec = {"tables": [
        {"id": "media", "operation": "data"},
        {"id": "af", "operation": "audio_features", "source": "media"},
        {"id": "vf", "operation": "video_features", "source": "media"},
    ]}
    out = compile_workflow(spec, spark, data={"media": media})
    a = out["af"].collect()[0]
    assert (a["sample_rate"], a["n_samples"]) == (16000, 50)
    v = out["vf"].collect()[0]
    assert (v["n_frames"], v["height"], v["width"]) == (2, 4, 6)


def test_tier_source_time_travel_and_changes(spark, tmp_path):
    """format:"tier" direct reads take snapshot/as_of/changes — time
    travel and CDC from the workflow language."""
    from lambdo_spark.sources.iceberg_layout import IcebergLayoutTable

    root = str(tmp_path / "tt")
    t = IcebergLayoutTable(root)
    df0 = spark.createDataFrame([(0, 1, 10.0)], "part long, k long, v double")
    t.write_tier(df0, input_snapshot="s0")
    df1 = spark.createDataFrame([(1, 2, 20.0)], "part long, k long, v double")
    t.write_tier(df1, input_snapshot="s1")

    spec = {"tables": [
        {"id": "now", "operation": "source", "format": "tier",
         "tier": "", "path": root},
        {"id": "old", "operation": "source", "format": "tier",
         "tier": "", "path": root, "snapshot": 0},
        {"id": "delta", "operation": "source", "format": "tier",
         "tier": "", "path": root, "changes": [0, 1]},
    ]}
    out = compile_workflow(spec, spark)
    assert out["now"].count() == 2
    assert out["old"].count() == 1
    ch = out["delta"].toPandas()
    assert set(ch["_change"]) == {"insert"} and len(ch) == 1


def test_merge_sink(spark, tmp_path):
    """sink format:"merge" — batch keyed upsert into an Iceberg-layout
    table from the workflow language; `tag` makes re-runs exactly-once."""
    from lambdo_spark.sources.iceberg_layout import IcebergLayoutTable

    root = str(tmp_path / "m")
    t = IcebergLayoutTable(root)
    base = spark.createDataFrame(
        [(0, 1, 10.0), (0, 2, 20.0)], "part long, k long, v double"
    )
    t.write_tier(base, input_snapshot="base")

    spec = {"tables": [
        {"id": "delta", "operation": "data"},
        {"id": "out", "operation": "sink", "format": "merge",
         "source": "delta", "path": root, "keys": ["k"], "tag": "d1"},
    ]}
    delta = spark.createDataFrame(
        [(0, 2, 99.0), (0, 3, 30.0)], "part long, k long, v double"
    )
    compile_workflow(spec, spark, data={"delta": delta})
    got = {r["k"]: r["v"] for r in IcebergLayoutTable(root).read_tier(spark).collect()}
    assert got == {1: 10.0, 2: 99.0, 3: 30.0}
    snap = IcebergLayoutTable(root).current_snapshot()["snapshot_id"]
    # same tag replays as a no-op
    compile_workflow(spec, spark, data={"delta": delta})
    assert IcebergLayoutTable(root).current_snapshot()["snapshot_id"] == snap


def test_pack_op(spark):
    """operation:"pack" — sequence packing from the workflow language."""
    docs = spark.createDataFrame(
        [(i, 60) for i in range(10)], "doc_id long, n_tok long"
    )
    spec = {"tables": [
        {"id": "docs", "operation": "data"},
        {"id": "packed", "operation": "pack", "source": "docs",
         "tokens": "n_tok", "budget": 128, "order_by": ["doc_id"]},
    ]}
    got = compile_workflow(spec, spark, data={"docs": docs})["packed"].orderBy(
        "doc_id").collect()
    assert [r["pack_id"] for r in got] == [i * 60 // 128 for i in range(10)]


def test_lm_score_op(spark):
    """operation:"lm_score" from the workflow language — self-trained
    and reference-trained forms."""
    rows = [(1, "the cat sat on the mat"), (2, "the cat sat on the mat"),
            (3, "zz qq xx")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    wf = {
        "tables": [
            {"id": "docs", "operation": "data"},
            {"id": "scored", "operation": "lm_score", "source": "docs"},
            {"id": "xscored", "operation": "lm_score", "source": "docs",
             "ref": "docs", "alpha": 0.1},
        ]
    }
    out = compile_workflow(wf, spark, data={"docs": docs})
    got = {r["doc_id"]: r for r in out["scored"].collect()}
    assert got[1]["n_bigrams"] == 6 and got[1]["hits2"] >= 6
    assert got[3]["ppl"] > got[1]["ppl"]
    # ref= form agrees with counts-trained direct call at same alpha
    from lambdo_spark.functions.lm import lm_score
    direct = {r["doc_id"]: r["ppl"]
              for r in lm_score(docs, alpha=0.1).collect()}
    for r in out["xscored"].collect():
        assert abs(r["ppl"] - direct[r["doc_id"]]) < 1e-9


def test_decontaminate_prefilter_op(spark):
    """operation:"decontaminate" with prefilter:"hash64" compiles and
    matches the plain op's output."""
    docs = spark.createDataFrame(
        [(i, "alpha beta gamma delta epsilon zeta eta theta iota")
         for i in range(6)] + [(9, "nothing in common with anything else at all")],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(0, "alpha beta gamma delta epsilon zeta eta theta")],
        "doc_id long, text string",
    )
    wf = {
        "tables": [
            {"id": "docs", "operation": "data"},
            {"id": "bench", "operation": "data"},
            {"id": "plain", "operation": "decontaminate",
             "source": "docs", "bench": "bench"},
            {"id": "fast", "operation": "decontaminate",
             "source": "docs", "bench": "bench", "prefilter": "hash64"},
        ]
    }
    out = compile_workflow(wf, spark, data={"docs": docs, "bench": bench})
    assert sorted(map(tuple, out["plain"].collect())) == \
        sorted(map(tuple, out["fast"].collect()))
    flags = {r["doc_id"]: r["contaminated"] for r in out["fast"].collect()}
    assert flags[0] == 1 and flags[9] == 0


def test_to_datetime_coerce_and_unsupported_model_args(spark, tmp_path):
    """errors='coerce' maps to try_to_timestamp (NULL on bad input);
    any model arg the JVM rewrite would silently drop raises."""
    d = str(tmp_path / "src")
    spark.createDataFrame(
        [("2024-01-02",), ("garbage",), ("2024-02-03",)], "s string"
    ).write.parquet(d)

    def spec(model):
        return {"tables": [
            {"id": "t", "operation": "source", "format": "parquet",
             "path": d,
             "columns": [{"id": "ts", "function": "pandas:to_datetime",
                          "inputs": ["s"], "model": model}]}]}

    out = (
        Workflow(spec({"format": "%Y-%m-%d", "errors": "coerce"}), spark)
        .execute()["t"].orderBy("s").collect()
    )
    assert [r["ts"] is None for r in out] == [False, False, True]
    with pytest.raises(ValueError, match="unit"):
        Workflow(spec({"format": "%Y-%m-%d", "unit": "s"}), spark).execute()


def test_extend_first_table_without_source_raises(spark):
    with pytest.raises(ValueError, match="first table"):
        Workflow(
            {"tables": [{"id": "t0", "operation": "extend"}]}, spark
        ).execute()


def test_workflow_analytics_table_ops(spark):
    """ewma/anomaly/cusum/corr_pairs as declarative population ops —
    each compiled table must equal the direct function call."""
    rows = [
        ("a", i * 3600, (i * 7) % 23 + 1) for i in range(40)
    ] + [("b", i * 3600, (i * 5) % 17 + 2) for i in range(40)]
    data = {"h": spark.createDataFrame(rows, "k string, b long, v long")}
    spec = {"tables": [
        {"id": "h", "operation": "data"},
        {"id": "sm", "operation": "ewma", "source": "h",
         "keys": ["k"], "value": "v", "order": ["b"], "alpha": 0.4},
        {"id": "an", "operation": "anomaly", "source": "h",
         "keys": ["k"], "value": "v", "bucket": "b",
         "lookback": 5, "min_prior": 2, "threshold": 2.5},
        {"id": "cu", "operation": "cusum", "source": "h",
         "keys": ["k"], "value": "v", "order": ["b"], "slack": 3},
        {"id": "co", "operation": "corr_pairs", "source": "h",
         "series": "k", "value": "v", "bucket": "b"},
    ]}
    out = compile_workflow(spec, spark, data)
    from lambdo_spark.rollup.analytics import (
        anomaly_seasonal, corr_pairs, cusum, ewma,
    )

    src = data["h"]
    for tid, direct in [
        ("sm", ewma(src, "v", ["b"], ["k"], 0.4)),
        ("an", anomaly_seasonal(src, "v", "b", ["k"], lookback=5,
                                min_prior=2, threshold=2.5)),
        ("cu", cusum(src, "v", ["b"], ["k"], slack=3)),
        ("co", corr_pairs(src, "v", "k", "b")),
    ]:
        import pandas.testing as pdt

        cols = list(out[tid].columns)
        got = out[tid].toPandas().sort_values(cols).reset_index(drop=True)
        exp = direct.toPandas().sort_values(cols).reset_index(drop=True)
        pdt.assert_frame_equal(got, exp, check_like=True), tid


def test_workflow_retrieval_table_ops(spark):
    """bm25 (scores + top-k) / tfidf / semdedup as declarative ops."""
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "alpha alpha beta"), (3, "delta gamma")],
        ["doc_id", "text"],
    )
    emb = spark.createDataFrame(
        [(i, [float(i % 3 == j) + 0.01 * i for j in range(3)]) for i in range(9)],
        ["vec_id", "embedding"],
    )
    spec = {"tables": [
        {"id": "docs", "operation": "data"},
        {"id": "emb", "operation": "data"},
        {"id": "scored", "operation": "bm25", "source": "docs",
         "query": ["alpha", "gamma"]},
        {"id": "top1", "operation": "bm25", "source": "docs",
         "query": ["alpha", "gamma"], "k": 1},
        {"id": "w", "operation": "tfidf", "source": "docs",
         "vocab": ["alpha", "delta"]},
        {"id": "kept", "operation": "semdedup", "source": "emb",
         "tau": 0.95, "k": 3},
    ]}
    out = compile_workflow(spec, spark, {"docs": docs, "emb": emb})
    scored = {r["doc_id"]: r["n_terms"] for r in out["scored"].collect()}
    assert scored == {1: 2, 2: 1, 3: 1}
    assert out["top1"].count() == 1
    w = {(r["doc_id"], r["term"]): r["tf"] for r in out["w"].collect()}
    assert w[(2, "alpha")] == 2 and w[(3, "delta")] == 1
    kept = {r["vec_id"] for r in out["kept"].collect()}
    assert kept and kept.issubset(set(range(9)))
    from lambdo_spark.functions.semdedup import semdedup

    direct = {r["vec_id"] for r in semdedup(emb, tau=0.95, k=3).collect()}
    assert kept == direct


def test_workflow_bpe_op(spark):
    docs = spark.createDataFrame(
        [(1, "low low lower"), (2, "newer new lower low")], ["doc_id", "text"]
    )
    spec = {"tables": [
        {"id": "docs", "operation": "data"},
        {"id": "trained", "operation": "bpe", "source": "docs",
         "num_merges": 6},
        {"id": "fixed", "operation": "bpe", "source": "docs",
         "merges": [["l", "o"], ["lo", "w"]]},
    ]}
    out = compile_workflow(spec, spark, {"docs": docs})
    from lambdo_spark.functions.bpe import bpe_encode, train_bpe

    merges = train_bpe(docs, 6)
    exp = {r["doc_id"]: list(r["bpe_tokens"])
           for r in bpe_encode(docs, merges).collect()}
    got = {r["doc_id"]: list(r["bpe_tokens"])
           for r in out["trained"].collect()}
    assert got == exp
    fixed = {r["doc_id"]: list(r["bpe_tokens"])
             for r in out["fixed"].collect()}
    assert fixed[1] == ["low", "</w>", "low", "</w>", "low", "e", "r", "</w>"]


def test_workflow_rolling_corr_op(spark):
    rows = [("a", i, i, 2 * i + (i % 3)) for i in range(12)]
    data = {"h": spark.createDataFrame(rows, "k string, b long, x long, y long")}
    spec = {"tables": [
        {"id": "h", "operation": "data"},
        {"id": "rc", "operation": "rolling_corr", "source": "h",
         "keys": ["k"], "x": "x", "y": "y", "order": ["b"],
         "window": 4, "min_periods": 3},
    ]}
    out = compile_workflow(spec, spark, data)["rc"]
    from lambdo_spark.rollup.analytics import rolling_corr

    direct = rolling_corr(data["h"], "x", "y", ["b"], ["k"], 4, min_periods=3)
    import pandas.testing as pdt

    got = out.toPandas().sort_values("b").reset_index(drop=True)
    exp = direct.toPandas().sort_values("b").reset_index(drop=True)
    pdt.assert_frame_equal(got, exp, check_like=True)


def test_workflow_holt_winters_op(spark):
    rows = [("a", t, float(10 * (t % 3) + t)) for t in range(12)]
    data = {"h": spark.createDataFrame(rows, "k string, b long, v double")}
    spec = {"tables": [
        {"id": "h", "operation": "data"},
        {"id": "fc", "operation": "holt_winters", "source": "h",
         "keys": ["k"], "value": "v", "order": ["b"],
         "season_length": 3, "steps": 4},
    ]}
    out = compile_workflow(spec, spark, data)["fc"]
    from lambdo_spark.rollup.analytics import holt_winters

    direct = holt_winters(data["h"], "v", ["b"], ["k"], 3, steps=4)
    got = sorted((r["h"], r["hw_forecast"]) for r in out.collect())
    exp = sorted((r["h"], r["hw_forecast"]) for r in direct.collect())
    assert got == exp and len(got) == 4


# ------------------------------------------------------------ plumbing pin
# Every table op, compiled with its library callables replaced by
# recorders: the recorded calls pin which argument each JSON key
# reaches, with which value and type (compared by repr, so an int/float
# drift shows), and every default a spec leaves out.

_PIN_TARGETS = {
    "lambdo_spark.operators.table_ops": (
        "source extend project product join_tables aggregate_table "
        "map_table union_tables intersect_tables except_tables asof_join "
        "aggregate_grouping_sets window_aggregate dedup_rows"
    ),
    "lambdo_spark.rollup.timeseries": (
        "session_table order_stat m4_downsample lttb_downsample "
        "time_weighted time_weighted_partials time_weighted_downsample "
        "time_weighted_finalize counter_partials counter_downsample "
        "counter_finalize value_hist_partials value_hist_downsample "
        "quantile_from_hist distinct_per_bucket distinct_sketch_partials "
        "distinct_sketch_downsample distinct_sketch_finalize heavy_hitters "
        "sessionize delta rate locf interpolate_linear"
    ),
    "lambdo_spark.rollup.analytics": (
        "ewma anomaly_seasonal cusum corr_pairs holt_winters rolling_corr"
    ),
    "lambdo_spark.streaming.smoothing": "streaming_ewma",
    "lambdo_spark.streaming.detect": "streaming_anomaly streaming_cusum",
    "lambdo_spark.functions.ir": "bm25_scores bm25_topk tfidf_scores",
    "lambdo_spark.functions.bpe": "train_bpe bpe_encode",
    "lambdo_spark.functions.semdedup": "semdedup",
    "lambdo_spark.functions.text": (
        "analyze_documents gopher_filter remove_boilerplate_lines"
    ),
    "lambdo_spark.functions.dedup": (
        "dedup_exact dedup_keep_latest dedup_minhash_lsh"
    ),
    "lambdo_spark.functions.multimodal": (
        "extract_audio_features extract_video_features"
    ),
    "lambdo_spark.functions.exact_substr": "remove_duplicate_spans",
    "lambdo_spark.functions.cluster": "connected_components dedup_clusters",
    "lambdo_spark.functions.sampling": (
        "pack_sequences shuffle_deterministic sample_stratified"
    ),
    "lambdo_spark.functions.contamination": "decontaminate",
    "lambdo_spark.functions.lm": "lm_counts lm_score",
    "lambdo_spark.rollup.realtime": "read_realtime_tier",
    "lambdo_spark.rollup.incremental": "read_finalized_tier",
    "lambdo_spark.streaming.upsert_stream": "streaming_upsert_writer",
    "lambdo_spark.sources.iceberg_layout": "IcebergLayoutTable",
    "lambdo_spark.operators.column_ops": (
        "calculate roll roll_range shift window_all link compose aggregate_column"
    ),
    "lambdo_spark.functions.train": "resolve_model",
}


class _Probe:
    """Stands in for a SparkSession or DataFrame: every method call on
    it (and on what that call returns) is appended to the log."""

    def __init__(self, log, name, streaming=False):
        self._log, self._name = log, name
        self.isStreaming = streaming
        self.columns, self.dtypes = [], []

    def __getattr__(self, attr):
        if attr.startswith("__"):
            raise AttributeError(attr)
        return _Probe(self._log, f"{self._name}.{attr}", self.isStreaming)

    def __call__(self, *args, **kwargs):
        parts = [repr(a) for a in args]
        parts += [f"{k}={v!r}" for k, v in kwargs.items()]
        self._log.append(f"{self._name}({', '.join(parts)})")
        return _Probe(self._log, f"{self._name}()", self.isStreaming)

    def __repr__(self):
        return self._name


class _Recorder:
    """A library callable's stand-in: logs the call bound to the real
    signature with its defaults applied, returns a frame probe."""

    def __init__(self, log, name, real=None):
        self._log, self._name = log, name
        self._sig = None if real is None else inspect.signature(real)
        self.__signature__ = self._sig

    def __call__(self, *args, **kwargs):
        if self._sig is None:
            _Probe(self._log, self._name)(*args, **kwargs)
        else:
            bound = self._sig.bind(*args, **kwargs)
            bound.apply_defaults()
            parts = [f"{k}={v!r}" for k, v in bound.arguments.items()]
            self._log.append(f"{self._name}({', '.join(parts)})")
        streaming = any(getattr(a, "isStreaming", False) is True for a in args)
        return _Probe(self._log, f"{self._name}()", streaming)

    def __repr__(self):
        return self._name


@pytest.fixture
def plumbing_log(monkeypatch):
    import importlib
    import sys
    import types

    log: list[str] = []
    for mod_name, attrs in _PIN_TARGETS.items():
        mod = importlib.import_module(mod_name)
        for attr in attrs.split():
            short = f"{mod_name.rsplit('.', 1)[1]}.{attr}"
            monkeypatch.setattr(
                mod, attr, _Recorder(log, short, getattr(mod, attr))
            )
    kernels = types.ModuleType("pin_kernels")
    kernels.make = _Recorder(log, "pin_kernels.make")
    kernels.kernel = _Recorder(log, "pin_kernels.kernel")
    monkeypatch.setitem(sys.modules, "pin_kernels", kernels)
    return log


def _pin_run(log, tdef):
    tdef = {"id": "out", **tdef}
    data = {
        "src": _Probe(log, "src"),
        "other": _Probe(log, "other"),
        "raw": _Probe(log, "raw"),
        "events": _Probe(log, "events", streaming=True),
    }
    if tdef.get("operation") == "data":
        data[tdef["id"]] = _Probe(log, tdef["id"])
    wf = Workflow({"tables": [tdef]}, _Probe(log, "spark"), data)
    wf.execute()
    return list(log)


_S = {"source": "src"}
_EV = {"source": "events"}
_PIN_CASES = [
    # --- source / data / function_source / sql
    ("source", {"operation": "source", "format": "csv", "path": "p",
                "options": {"sep": ";"}, "limit": 5.0}),
    ("source/min", {"path": "p"}),
    ("source/stream", {"operation": "source", "stream": True, "format": "csv",
                       "path": "p", "options": {"sep": ";"},
                       "schema": "a INT", "watermark": {"ts": "t", "delay": "1 minute"}}),
    ("source/stream-min", {"operation": "source", "stream": True, "path": "p"}),
    ("source/tier", {"operation": "source", "format": "tier", "path": "p",
                     "tier": "1d", "gapfill": 1,
                     "prune": {"bucket_s": [0, 10], "url": "u"}}),
    ("source/tier-min", {"operation": "source", "format": "tier", "path": "p"}),
    ("source/realtime", {"operation": "source", "format": "tier", "path": "p",
                         "tier": "30d", "gapfill": 1, "prune": {"bucket_s": [0, 10]},
                         "realtime": {"raw": "raw", "key": "k", "ts": "t",
                                      "text": "x", "lang": "l", "cascade": 1}}),
    ("source/realtime-min", {"operation": "source", "format": "tier", "path": "p",
                             "realtime": {"raw": "raw"}}),
    ("source/direct", {"operation": "source", "format": "tier", "path": "p",
                       "tier": "", "branch": "dev", "snapshot": 3.0, "as_of": 7,
                       "prune": {"bucket_s": [0, 10]}}),
    ("source/direct-min", {"operation": "source", "format": "tier", "path": "p",
                           "tier": ""}),
    ("source/changes", {"operation": "source", "format": "tier", "path": "p",
                        "tier": "", "branch": "dev", "changes": [1.0, 2.0]}),
    ("source/changes-open", {"operation": "source", "format": "tier", "path": "p",
                             "tier": "", "changes": [1, None]}),
    ("data", {"operation": "data"}),
    ("function_source", {"function": "pin_kernels:make", "inputs": [],
                         "model": {"n": 2}}),
    ("function_source/min", {"operation": "function_source",
                             "function": "pin_kernels:make"}),
    ("sql", {"operation": "sql", "inputs": ["src", "other"],
             "query": "SELECT 1"}),
    ("sql/min", {"operation": "sql", "query": "SELECT 1"}),
    # --- T2-T7 and set ops
    ("extend", {"operation": "extend", **_S}),
    ("project", {"operation": "project", **_S, "inputs": ["a"], "outputs": ["b"]}),
    ("project/min", {"operation": "project", **_S, "inputs": ["a"]}),
    ("product", {"operation": "product", "inputs": ["src", "other"]}),
    ("join", {"operation": "join", "inputs": ["src", "other"], "keys": [["a"]],
              "suffixes": ["_r"], "left_suffix": "_l"}),
    ("join/min", {"operation": "join", "inputs": ["src", "other"]}),
    ("aggregate", {"operation": "aggregate", **_S, "keys": ["k"],
                   "aggregations": [{"id": "n"}]}),
    ("map", {"operation": "map", **_S, "function": "pin_kernels:kernel",
             "schema": "a INT"}),
    ("union", {"operation": "union", "inputs": ["src", "other"], "distinct": 1}),
    ("union/min", {"operation": "union", "inputs": ["src", "other"]}),
    ("intersect", {"operation": "intersect", "inputs": ["src", "other"]}),
    ("except", {"operation": "except", "inputs": ["src", "other"]}),
    ("asof_join", {"operation": "asof_join", "left": "src", "right": "other",
                   "on": ["k"], "left_ts": "lt", "right_ts": "rt",
                   "values": ["v"], "direction": "forward", "tolerance": 5}),
    ("asof_join/min", {"operation": "asof_join", "left": "src", "right": "other",
                       "on": ["k"], "left_ts": "lt", "right_ts": "rt",
                       "values": ["v"]}),
    ("grouping_sets", {"operation": "grouping_sets", **_S, "keys": ["k"],
                       "aggregations": [{"id": "n"}], "mode": "cube",
                       "gid_col": "g"}),
    ("grouping_sets/min", {"operation": "grouping_sets", **_S, "keys": ["k"],
                           "aggregations": [{"id": "n"}]}),
    # --- time series
    ("sessions", {"operation": "sessions", **_S, "keys": ["k"], "ts": "t",
                  "gap_seconds": 30.0, "tiebreak": ["x"]}),
    ("sessions/min", {"operation": "sessions", **_S, "keys": ["k"], "ts": "t",
                      "gap_seconds": 30}),
    ("order_stat", {"operation": "order_stat", **_S, "keys": ["k"], "value": "v",
                    "q": 1, "tiebreak": ["x"], "output": "o", "exact": False}),
    ("order_stat/min", {"operation": "order_stat", **_S, "keys": ["k"],
                        "value": "v", "q": 1}),
    ("m4", {"operation": "m4", **_S, "keys": ["k"], "value": "v", "ts": "t",
            "tier_seconds": 60.0, "bucket_col": "b"}),
    ("m4/min", {"operation": "m4", **_S, "keys": ["k"], "value": "v", "ts": "t",
                "tier_seconds": 60}),
    ("lttb", {"operation": "lttb", **_S, "keys": ["k"], "value": "v", "ts": "t",
              "tier_seconds": 60.0, "bucket_col": "b"}),
    ("lttb/min", {"operation": "lttb", **_S, "keys": ["k"], "value": "v",
                  "ts": "t", "tier_seconds": 60}),
    ("time_weighted", {"operation": "time_weighted", **_S, "keys": ["k"],
                       "value": "v", "ts": "t", "tier_seconds": 60.0,
                       "bucket_col": "b", "merge_to": 3600.0,
                       "finalize": False}),
    ("time_weighted/merge", {"operation": "time_weighted", **_S, "keys": ["k"],
                             "value": "v", "ts": "t", "tier_seconds": 60,
                             "merge_to": 3600}),
    ("time_weighted/min", {"operation": "time_weighted", **_S, "keys": ["k"],
                           "value": "v", "ts": "t", "tier_seconds": 60}),
    ("counter", {"operation": "counter", **_S, "keys": ["k"], "value": "v",
                 "ts": "t", "tier_seconds": 60.0, "merge_to": 3600.0,
                 "finalize": True, "output": "o", "bucket_col": "b"}),
    ("counter/partials", {"operation": "counter", **_S, "keys": ["k"],
                          "value": "v", "ts": "t", "tier_seconds": 60,
                          "finalize": False}),
    ("counter/min", {"operation": "counter", **_S, "keys": ["k"], "value": "v",
                     "ts": "t", "tier_seconds": 60}),
    ("value_hist", {"operation": "value_hist", **_S, "keys": ["k"], "value": "v",
                    "ts": "t", "tier_seconds": 60.0, "bin_width": 5.0,
                    "merge_to": 3600.0, "q": 1, "output": "o",
                    "bucket_col": "b"}),
    ("value_hist/min", {"operation": "value_hist", **_S, "keys": ["k"],
                        "value": "v", "ts": "t", "tier_seconds": 60,
                        "bin_width": 5}),
    ("distinct", {"operation": "distinct", **_S, "keys": ["k"], "item": "i",
                  "output": "o", "exact": False, "rsd": 1}),
    ("distinct/min", {"operation": "distinct", **_S, "keys": ["k"],
                      "item": "i"}),
    ("distinct_sketch", {"operation": "distinct_sketch", **_S, "keys": ["k"],
                         "item": "i", "ts": "t", "tier_seconds": 60.0,
                         "merge_to": 3600.0, "lgk": 10.0, "finalize": True,
                         "output": "o"}),
    ("distinct_sketch/partials", {"operation": "distinct_sketch", **_S,
                                  "keys": ["k"], "item": "i", "ts": "t",
                                  "tier_seconds": 60, "finalize": False}),
    ("distinct_sketch/min", {"operation": "distinct_sketch", **_S,
                             "keys": ["k"], "item": "i", "ts": "t",
                             "tier_seconds": 60}),
    ("heavy_hitters", {"operation": "heavy_hitters", **_S, "keys": ["k"],
                       "item": "i", "k": 3.0, "salt_buckets": 4.0}),
    ("heavy_hitters/min", {"operation": "heavy_hitters", **_S, "keys": ["k"],
                           "item": "i", "k": 3}),
    ("window_aggregate", {"operation": "window_aggregate", **_S, "ts": "t",
                          "duration": "1 hour", "keys": ["k"],
                          "aggregations": [{"id": "n"}], "bucket_col": "b",
                          "slide": "10 minutes"}),
    ("window_aggregate/min", {"operation": "window_aggregate", **_S, "ts": "t",
                              "duration": "1 hour",
                              "aggregations": [{"id": "n"}]}),
    ("window_aggregate/stream", {"operation": "window_aggregate", **_EV,
                                 "ts": "t", "duration": "1 hour",
                                 "aggregations": [{"id": "n"}]}),
    ("dedup", {"operation": "dedup", **_S, "keys": ["k"],
               "within_watermark": 1}),
    ("dedup/min", {"operation": "dedup", **_S}),
    ("dedup/stream-min", {"operation": "dedup", **_EV}),
    # --- corpus prep
    ("quality_filter", {"operation": "quality_filter", **_S, "text": "x",
                        "rules": {"min_words": 3}, "flag": "ok"}),
    ("quality_filter/min", {"operation": "quality_filter", **_S}),
    ("text_analysis", {"operation": "text_analysis", **_S, "text": "x"}),
    ("text_analysis/min", {"operation": "text_analysis", **_S}),
    ("dedup_exact", {"operation": "dedup_exact", **_S, "id_col": "d",
                     "text": "x"}),
    ("dedup_exact/min", {"operation": "dedup_exact", **_S}),
    ("keep_latest", {"operation": "keep_latest", **_S, "keys": ["k"],
                     "ts": "t", "tiebreak": ["x"], "n": 2.0}),
    ("keep_latest/min", {"operation": "keep_latest", **_S, "keys": ["k"],
                         "ts": "t"}),
    ("dedup_minhash", {"operation": "dedup_minhash", **_S, "id_col": "d",
                       "text": "x", "threshold": 1, "num_hashes": 8.0,
                       "bands": 4.0, "bucket_cap": 10.0,
                       "verify": "jaccard"}),
    ("dedup_minhash/min", {"operation": "dedup_minhash", **_S}),
    ("dedup_clusters", {"operation": "dedup_clusters", **_S, "id_col": "d",
                        "text": "x", "threshold": 1, "score": "s"}),
    ("dedup_clusters/min", {"operation": "dedup_clusters", **_S}),
    ("sample_stratified", {"operation": "sample_stratified", **_S,
                           "keys": ["k"], "n": 2.0, "fraction": 1,
                           "quotas": {"a": 1.0}, "unique_keys": ["u"],
                           "seed": 7, "salt_buckets": 4.0}),
    ("sample_stratified/n", {"operation": "sample_stratified", **_S,
                             "keys": ["k"], "n": 2.0, "unique_keys": ["u"]}),
    ("sample_stratified/min", {"operation": "sample_stratified", **_S,
                               "keys": ["k"], "unique_keys": ["u"]}),
    ("remove_boilerplate", {"operation": "remove_boilerplate", **_S,
                            "id_col": "d", "text": "x", "group_by": ["g"],
                            "min_docs": 2.0, "sep": "|"}),
    ("remove_boilerplate/min", {"operation": "remove_boilerplate", **_S}),
    ("decontaminate", {"operation": "decontaminate", **_S, "bench": "other",
                       "id_col": "d", "text": "x", "bench_text": "y",
                       "n": 4.0, "min_hits": 2.0, "broadcast_bench": 0,
                       "prefilter": "hash64"}),
    ("decontaminate/min", {"operation": "decontaminate", **_S,
                           "bench": "other"}),
    ("lm_score", {"operation": "lm_score", **_S, "ref": "other",
                  "id_col": "d", "text": "x", "alpha": 1}),
    ("lm_score/min", {"operation": "lm_score", **_S}),
    ("shuffle", {"operation": "shuffle", **_S, "unique_keys": ["u"],
                 "seed": 7, "out": "r"}),
    ("shuffle/min", {"operation": "shuffle", **_S, "unique_keys": ["u"]}),
    ("components", {"operation": "components", **_S, "src": "a", "dst": "b",
                    "max_iter": 3.0}),
    ("components/min", {"operation": "components", **_S}),
    ("dedup_spans", {"operation": "dedup_spans", **_S, "id_col": "d",
                     "text": "x", "span_tokens": 4.0, "min_count": 3.0,
                     "key": "text", "cache_grams": 0}),
    ("dedup_spans/min", {"operation": "dedup_spans", **_S}),
    ("audio_features", {"operation": "audio_features", **_S, "id_col": "d",
                        "binary": "b"}),
    ("audio_features/min", {"operation": "audio_features", **_S}),
    ("video_features", {"operation": "video_features", **_S, "id_col": "d",
                        "binary": "b"}),
    ("video_features/min", {"operation": "video_features", **_S}),
    ("pack", {"operation": "pack", **_S, "tokens": "n", "budget": 10.0,
              "order_by": ["o"]}),
    # --- analytics, batch and stream twins
    ("ewma", {"operation": "ewma", **_S, "keys": ["k"], "value": "v",
              "order": ["t"], "alpha": 1, "output": "e", "adjust": 0,
              "ts": "t", "state_ttl_s": 60}),
    ("ewma/min", {"operation": "ewma", **_S, "keys": ["k"], "value": "v",
                  "order": ["t"], "alpha": 1}),
    ("ewma/stream", {"operation": "ewma", **_EV, "keys": ["k"], "value": "v",
                     "order": ["o"], "alpha": 1, "output": "ewma",
                     "adjust": True, "ts": "t", "state_ttl_s": 60}),
    ("ewma/stream-min", {"operation": "ewma", **_EV, "keys": ["k"],
                         "value": "v", "order": ["o", "p"], "alpha": 1}),
    ("anomaly", {"operation": "anomaly", **_S, "keys": ["k"], "value": "v",
                 "bucket": "b", "period_seconds": 60.0, "lookback": 2.0,
                 "min_prior": 1.0, "threshold": 2, "state_ttl_s": 60}),
    ("anomaly/min", {"operation": "anomaly", **_S, "keys": ["k"],
                     "value": "v", "bucket": "b"}),
    ("anomaly/stream", {"operation": "anomaly", **_EV, "keys": ["k"],
                        "value": "v", "bucket": "b", "period_seconds": 60.0,
                        "lookback": 2.0, "min_prior": 1.0, "threshold": 2,
                        "state_ttl_s": 60}),
    ("anomaly/stream-min", {"operation": "anomaly", **_EV, "keys": ["k"],
                            "value": "v", "bucket": "b"}),
    ("cusum", {"operation": "cusum", **_S, "keys": ["k"], "value": "v",
               "order": ["t"], "target": "tg", "slack": 2, "ts": "t",
               "state_ttl_s": 60}),
    ("cusum/min", {"operation": "cusum", **_S, "keys": ["k"], "value": "v",
                   "order": ["t"]}),
    ("cusum/stream", {"operation": "cusum", **_EV, "keys": ["k"],
                      "value": "v", "order": ["o"], "target": 5.0,
                      "slack": 2.0, "ts": "t", "state_ttl_s": 60}),
    ("cusum/stream-min", {"operation": "cusum", **_EV, "keys": ["k"],
                          "value": "v", "order": ["o"]}),
    ("corr_pairs", {"operation": "corr_pairs", **_S, "series": "s",
                    "value": "v", "bucket": "b", "min_buckets": 3.0,
                    "max_series": 7.0}),
    ("corr_pairs/unbounded", {"operation": "corr_pairs", **_S, "series": "s",
                              "value": "v", "bucket": "b",
                              "max_series": None}),
    ("corr_pairs/min", {"operation": "corr_pairs", **_S, "series": "s",
                        "value": "v", "bucket": "b"}),
    ("holt_winters", {"operation": "holt_winters", **_S, "keys": ["k"],
                      "value": "v", "order": ["t"], "season_length": 4.0,
                      "alpha": 1, "beta": 1, "gamma": 1, "steps": 2.0,
                      "mode": "fitted"}),
    ("holt_winters/min", {"operation": "holt_winters", **_S, "keys": ["k"],
                          "value": "v", "order": ["t"],
                          "season_length": 4}),
    ("rolling_corr", {"operation": "rolling_corr", **_S, "keys": ["k"],
                      "x": "a", "y": "b", "order": ["t"], "window": 3.0,
                      "min_periods": 2.0, "output": "o"}),
    ("rolling_corr/min", {"operation": "rolling_corr", **_S, "keys": ["k"],
                          "x": "a", "y": "b", "order": ["t"], "window": 3}),
    # --- retrieval
    ("bm25", {"operation": "bm25", **_S, "query": ["q"], "k": 3.0,
              "id_col": "d", "text": "x", "k1": 1, "b": 1}),
    ("bm25/min", {"operation": "bm25", **_S, "query": ["q"]}),
    ("tfidf", {"operation": "tfidf", **_S, "vocab": ["w"], "id_col": "d",
               "text": "x"}),
    ("tfidf/min", {"operation": "tfidf", **_S, "vocab": ["w"]}),
    ("semdedup", {"operation": "semdedup", **_S, "tau": 1, "k": 4.0,
                  "iters": 2.0, "id_col": "d", "vector": "e"}),
    ("semdedup/min", {"operation": "semdedup", **_S, "tau": 1}),
    ("bpe", {"operation": "bpe", **_S, "num_merges": 5.0, "text": "x",
             "id_col": "d", "min_count": 2.0}),
    ("bpe/merges", {"operation": "bpe", **_S, "merges": [["a", "b"]],
                    "text": "x", "id_col": "d"}),
    ("bpe/min", {"operation": "bpe", **_S, "num_merges": 5}),
    # --- sinks
    ("sink", {"operation": "sink", **_S, "path": "p", "format": "csv",
              "mode": "append", "single_file": True}),
    ("sink/min", {"operation": "sink", **_S, "path": "p"}),
    ("sink/tier", {"operation": "sink", **_S, "format": "tier", "path": "p",
                   "part_col": "pc", "input_snapshot": "s1"}),
    ("sink/tier-min", {"operation": "sink", **_S, "format": "tier",
                       "path": "p"}),
    ("sink/merge", {"operation": "sink", **_S, "format": "merge", "path": "p",
                    "keys": ["k"], "mode": "copy-on-write", "tag": "t1",
                    "branch": "dev"}),
    ("sink/merge-min", {"operation": "sink", **_S, "format": "merge",
                        "path": "p", "keys": ["k"]}),
    ("stream_sink", {"operation": "stream_sink", **_EV, "path": "p",
                     "checkpoint": "c", "format": "json",
                     "output_mode": "update", "interval": "5 seconds"}),
    ("stream_sink/min", {"operation": "stream_sink", **_EV, "path": "p",
                         "checkpoint": "c"}),
    ("stream_sink/upsert", {"operation": "stream_sink", **_EV,
                            "format": "upsert", "path": "p",
                            "checkpoint": "c", "keys": ("k",),
                            "mode": "copy-on-write", "tag_prefix": "tp",
                            "part_col": "pc", "interval": "5 seconds"}),
    ("stream_sink/upsert-min", {"operation": "stream_sink", **_EV,
                                "format": "upsert", "path": "p",
                                "checkpoint": "c", "keys": ["k"]}),
]

_PINS = {
    'source': [
        "table_ops.source(spark=spark, fmt='csv', path='p', options={'sep': ';'})",
        'table_ops.source().limit(5)',
    ],
    'source/min': [
        "table_ops.source(spark=spark, fmt='parquet', path='p', options=None)",
    ],
    'source/stream': [
        "spark.readStream.schema('a INT')",
        "spark.readStream.schema().format('csv')",
        "spark.readStream.schema().format().option('sep', ';')",
        "spark.readStream.schema().format().option().load('p')",
        "spark.readStream.schema().format().option().load().withWatermark('t', '1 minute')",
    ],
    'source/stream-min': [
        "table_ops.source(spark=spark, fmt='parquet', path='p', options=None)",
        'spark.readStream.schema(table_ops.source().schema)',
        "spark.readStream.schema().format('parquet')",
        "spark.readStream.schema().format().load('p')",
    ],
    'source/tier': [
        "incremental.read_finalized_tier(spark=spark, root='p', tier_name='1d', gapfill=True, prune={'bucket_s': (0, 10), 'url': 'u'})",
    ],
    'source/tier-min': [
        "incremental.read_finalized_tier(spark=spark, root='p', tier_name='1h', gapfill=False, prune=None)",
    ],
    'source/realtime': [
        "realtime.read_realtime_tier(spark=spark, root='p', tier_name='30d', raw=raw, url_col='k', ts_col='t', text_col='x', lang_col='l', measure=None, gapfill=True, prune={'bucket_s': (0, 10)}, watermark=None, cascade=True)",
    ],
    'source/realtime-min': [
        "realtime.read_realtime_tier(spark=spark, root='p', tier_name='1h', raw=raw, url_col='url', ts_col='warc_ts', text_col='text', lang_col='lang', measure=None, gapfill=False, prune=None, watermark=None, cascade=False)",
    ],
    'source/direct': [
        "iceberg_layout.IcebergLayoutTable(root='p', sort_order=None, cluster_writes=True, branch='dev')",
        "iceberg_layout.IcebergLayoutTable().read_tier(spark, snapshot_id=3, as_of=7.0, prune={'bucket_s': (0, 10)})",
    ],
    'source/direct-min': [
        "iceberg_layout.IcebergLayoutTable(root='p', sort_order=None, cluster_writes=True, branch='main')",
        'iceberg_layout.IcebergLayoutTable().read_tier(spark, snapshot_id=None, as_of=None, prune=None)',
    ],
    'source/changes': [
        "iceberg_layout.IcebergLayoutTable(root='p', sort_order=None, cluster_writes=True, branch='dev')",
        'iceberg_layout.IcebergLayoutTable().read_changes(spark, 1, 2)',
    ],
    'source/changes-open': [
        "iceberg_layout.IcebergLayoutTable(root='p', sort_order=None, cluster_writes=True, branch='main')",
        'iceberg_layout.IcebergLayoutTable().read_changes(spark, 1, None)',
    ],
    'data': [
    ],
    'function_source': [
        'pin_kernels.make(n=2)',
        'spark.createDataFrame(pin_kernels.make())',
    ],
    'function_source/min': [
        'pin_kernels.make()',
        'spark.createDataFrame(pin_kernels.make())',
    ],
    'sql': [
        "src.createOrReplaceTempView('src')",
        "other.createOrReplaceTempView('other')",
        "spark.sql('SELECT 1')",
    ],
    'sql/min': [
        "spark.sql('SELECT 1')",
    ],
    'extend': [
        'table_ops.extend(prev=src)',
    ],
    'project': [
        "table_ops.project(df=src, inputs=['a'], outputs=['b'])",
    ],
    'project/min': [
        "table_ops.project(df=src, inputs=['a'], outputs=None)",
    ],
    'product': [
        'table_ops.product(dfs=[src, other])',
    ],
    'join': [
        "table_ops.join_tables(dfs=[src, other], keys=[['a']], suffixes=['_r'], left_suffix='_l')",
    ],
    'join/min': [
        'table_ops.join_tables(dfs=[src, other], keys=[], suffixes=None, left_suffix=None)',
    ],
    'aggregate': [
        "table_ops.aggregate_table(df=src, keys=['k'], aggregations=[{'id': 'n'}])",
    ],
    'map': [
        "table_ops.map_table(df=src, fn=pin_kernels.kernel, schema='a INT')",
    ],
    'union': [
        'table_ops.union_tables(dfs=[src, other], distinct=1)',
    ],
    'union/min': [
        'table_ops.union_tables(dfs=[src, other], distinct=False)',
    ],
    'intersect': [
        'table_ops.intersect_tables(a=src, b=other)',
    ],
    'except': [
        'table_ops.except_tables(a=src, b=other)',
    ],
    'asof_join': [
        "table_ops.asof_join(left=src, right=other, on_key=['k'], left_ts='lt', right_ts='rt', value_cols=['v'], direction='forward', tolerance=5)",
    ],
    'asof_join/min': [
        "table_ops.asof_join(left=src, right=other, on_key=['k'], left_ts='lt', right_ts='rt', value_cols=['v'], direction='backward', tolerance=None)",
    ],
    'grouping_sets': [
        "table_ops.aggregate_grouping_sets(df=src, keys=['k'], aggregations=[{'id': 'n'}], mode='cube', gid_col='g')",
    ],
    'grouping_sets/min': [
        "table_ops.aggregate_grouping_sets(df=src, keys=['k'], aggregations=[{'id': 'n'}], mode='rollup', gid_col='grouping_id')",
    ],
    'sessions': [
        "timeseries.session_table(df=src, key=['k'], ts_col='t', gap_seconds=30, order_tiebreak=['x'])",
    ],
    'sessions/min': [
        "timeseries.session_table(df=src, key=['k'], ts_col='t', gap_seconds=30, order_tiebreak=())",
    ],
    'order_stat': [
        "timeseries.order_stat(df=src, keys=['k'], value_col='v', q=1.0, tiebreak=['x'], output='o', exact=False)",
    ],
    'order_stat/min': [
        "timeseries.order_stat(df=src, keys=['k'], value_col='v', q=1.0, tiebreak=(), output='order_stat', exact=True)",
    ],
    'm4': [
        "timeseries.m4_downsample(df=src, value_col='v', ts_col='t', width_s=60, partition_by=['k'], bucket_col='b')",
    ],
    'm4/min': [
        "timeseries.m4_downsample(df=src, value_col='v', ts_col='t', width_s=60, partition_by=['k'], bucket_col='bucket_s')",
    ],
    'lttb': [
        "timeseries.lttb_downsample(df=src, value_col='v', ts_col='t', width_s=60, partition_by=['k'], bucket_col='b')",
    ],
    'lttb/min': [
        "timeseries.lttb_downsample(df=src, value_col='v', ts_col='t', width_s=60, partition_by=['k'], bucket_col='bucket_s')",
    ],
    'time_weighted': [
        "timeseries.time_weighted_partials(df=src, value_col='v', ts_col='t', width_s=60, partition_by=['k'], bucket_col='b')",
        "timeseries.time_weighted_downsample(partials=timeseries.time_weighted_partials(), fine_width_s=60, coarse_width_s=3600, partition_by=['k'], bucket_col='b')",
    ],
    'time_weighted/merge': [
        "timeseries.time_weighted_partials(df=src, value_col='v', ts_col='t', width_s=60, partition_by=['k'], bucket_col='bucket_s')",
        "timeseries.time_weighted_downsample(partials=timeseries.time_weighted_partials(), fine_width_s=60, coarse_width_s=3600, partition_by=['k'], bucket_col='bucket_s')",
        "timeseries.time_weighted_finalize(partials=timeseries.time_weighted_downsample(), width_s=3600, bucket_col='bucket_s', output='twa')",
    ],
    'time_weighted/min': [
        "timeseries.time_weighted_partials(df=src, value_col='v', ts_col='t', width_s=60, partition_by=['k'], bucket_col='bucket_s')",
        "timeseries.time_weighted_finalize(partials=timeseries.time_weighted_partials(), width_s=60, bucket_col='bucket_s', output='twa')",
    ],
    'counter': [
        "timeseries.counter_partials(df=src, value_col='v', ts_col='t', width_s=60, partition_by=['k'], bucket_col='b')",
        "timeseries.counter_downsample(partials=timeseries.counter_partials(), width_s=3600, partition_by=['k'], bucket_col='b')",
        "timeseries.counter_finalize(partials=timeseries.counter_downsample(), output='o')",
    ],
    'counter/partials': [
        "timeseries.counter_partials(df=src, value_col='v', ts_col='t', width_s=60, partition_by=['k'], bucket_col='bucket_s')",
    ],
    'counter/min': [
        "timeseries.counter_partials(df=src, value_col='v', ts_col='t', width_s=60, partition_by=['k'], bucket_col='bucket_s')",
        "timeseries.counter_finalize(partials=timeseries.counter_partials(), output='increase')",
    ],
    'value_hist': [
        "timeseries.value_hist_partials(df=src, value_col='v', ts_col='t', width_s=60, partition_by=['k'], bin_width=5, bucket_col='b')",
        "timeseries.value_hist_downsample(partials=timeseries.value_hist_partials(), width_s=3600, partition_by=['k'], bucket_col='b')",
        "timeseries.quantile_from_hist(partials=timeseries.value_hist_downsample(), q=1.0, partition_by=['k'], bucket_col='b', output='o')",
    ],
    'value_hist/min': [
        "timeseries.value_hist_partials(df=src, value_col='v', ts_col='t', width_s=60, partition_by=['k'], bin_width=5, bucket_col='bucket_s')",
    ],
    'distinct': [
        "timeseries.distinct_per_bucket(df=src, keys=['k'], item_col='i', output='o', exact=False, rsd=1)",
    ],
    'distinct/min': [
        "timeseries.distinct_per_bucket(df=src, keys=['k'], item_col='i', output='n_distinct', exact=True, rsd=0.05)",
    ],
    'distinct_sketch': [
        "timeseries.distinct_sketch_partials(df=src, keys=['k'], item_col='i', ts_col='t', tier_seconds=60, lgk=10, sketch_col='distinct_sk')",
        "timeseries.distinct_sketch_downsample(partials=timeseries.distinct_sketch_partials(), keys=['k'], tier_seconds=3600, sketch_col='distinct_sk')",
        "timeseries.distinct_sketch_finalize(partials=timeseries.distinct_sketch_downsample(), sketch_col='distinct_sk', output='o')",
    ],
    'distinct_sketch/partials': [
        "timeseries.distinct_sketch_partials(df=src, keys=['k'], item_col='i', ts_col='t', tier_seconds=60, lgk=12, sketch_col='distinct_sk')",
    ],
    'distinct_sketch/min': [
        "timeseries.distinct_sketch_partials(df=src, keys=['k'], item_col='i', ts_col='t', tier_seconds=60, lgk=12, sketch_col='distinct_sk')",
        "timeseries.distinct_sketch_finalize(partials=timeseries.distinct_sketch_partials(), sketch_col='distinct_sk', output='n_distinct_est')",
    ],
    'heavy_hitters': [
        "timeseries.heavy_hitters(df=src, keys=['k'], item_col='i', k=3, count_col='n', rank_col='rank', salt_buckets=4)",
    ],
    'heavy_hitters/min': [
        "timeseries.heavy_hitters(df=src, keys=['k'], item_col='i', k=3, count_col='n', rank_col='rank', salt_buckets=0)",
    ],
    'window_aggregate': [
        "table_ops.window_aggregate(df=src, ts='t', duration='1 hour', keys=['k'], aggregations=[{'id': 'n'}], bucket_col='b', slide='10 minutes')",
    ],
    'window_aggregate/min': [
        "table_ops.window_aggregate(df=src, ts='t', duration='1 hour', keys=[], aggregations=[{'id': 'n'}], bucket_col='bucket_s', slide=None)",
    ],
    'window_aggregate/stream': [
        "table_ops.window_aggregate(df=events, ts='t', duration='1 hour', keys=[], aggregations=[{'id': 'n'}], bucket_col='bucket_s', slide=None)",
    ],
    'dedup': [
        "table_ops.dedup_rows(df=src, keys=['k'], within_watermark=1)",
    ],
    'dedup/min': [
        'table_ops.dedup_rows(df=src, keys=None, within_watermark=False)',
    ],
    'dedup/stream-min': [
        'table_ops.dedup_rows(df=events, keys=None, within_watermark=True)',
    ],
    'quality_filter': [
        "text.gopher_filter(col=Column<'x'>, min_words=3, max_words=100000, min_mean_word_len=3.0, max_mean_word_len=10.0, max_symbol_ratio=0.1, max_repetition=0.3, min_distinct_stopwords=2)",
        "src.withColumn('ok', text.gopher_filter())",
    ],
    'quality_filter/min': [
        "text.gopher_filter(col=Column<'text'>, min_words=50, max_words=100000, min_mean_word_len=3.0, max_mean_word_len=10.0, max_symbol_ratio=0.1, max_repetition=0.3, min_distinct_stopwords=2)",
        'src.where(text.gopher_filter())',
    ],
    'text_analysis': [
        "text.analyze_documents(docs=src, text_col='x')",
    ],
    'text_analysis/min': [
        "text.analyze_documents(docs=src, text_col='text')",
    ],
    'dedup_exact': [
        "dedup.dedup_exact(docs=src, id_col='d', text_col='x', keep_rows=True)",
    ],
    'dedup_exact/min': [
        "dedup.dedup_exact(docs=src, id_col='doc_id', text_col='text', keep_rows=True)",
    ],
    'keep_latest': [
        "dedup.dedup_keep_latest(df=src, key_cols=['k'], ts_col='t', tiebreak_cols=['x'], n=2)",
    ],
    'keep_latest/min': [
        "dedup.dedup_keep_latest(df=src, key_cols=['k'], ts_col='t', tiebreak_cols=[], n=1)",
    ],
    'dedup_minhash': [
        "dedup.dedup_minhash_lsh(docs=src, id_col='d', text_col='x', threshold=1.0, num_hashes=8, bands=4, bucket_cap=10, verify='jaccard', metrics=None)",
    ],
    'dedup_minhash/min': [
        "dedup.dedup_minhash_lsh(docs=src, id_col='doc_id', text_col='text', threshold=0.8, num_hashes=64, bands=16, bucket_cap=1000, verify='token', metrics=None)",
    ],
    'dedup_clusters': [
        "cluster.dedup_clusters(docs=src, id_col='d', text_col='x', threshold=1.0, score_col='s', pairs=None, lsh_kwargs={})",
    ],
    'dedup_clusters/min': [
        "cluster.dedup_clusters(docs=src, id_col='doc_id', text_col='text', threshold=0.8, score_col=None, pairs=None, lsh_kwargs={})",
    ],
    'sample_stratified': [
        "sampling.sample_stratified(df=src, group_cols=['k'], n_per_group={'a': 1}, key_cols=['u'], seed='7', salt_buckets=4, fraction=1.0)",
    ],
    'sample_stratified/n': [
        "sampling.sample_stratified(df=src, group_cols=['k'], n_per_group=2, key_cols=['u'], seed='42', salt_buckets=16, fraction=None)",
    ],
    'sample_stratified/min': [
        "sampling.sample_stratified(df=src, group_cols=['k'], n_per_group=None, key_cols=['u'], seed='42', salt_buckets=16, fraction=None)",
    ],
    'remove_boilerplate': [
        "text.remove_boilerplate_lines(docs=src, id_col='d', text_col='x', group_cols=('g',), min_docs=2, sep='|')",
    ],
    'remove_boilerplate/min': [
        "text.remove_boilerplate_lines(docs=src, id_col='doc_id', text_col='text', group_cols=('source',), min_docs=5, sep='\\n')",
    ],
    'decontaminate': [
        "contamination.decontaminate(train=src, bench=other, id_col='d', text_col='x', bench_text_col='y', n=4, min_hits=2, broadcast_bench=False, prefilter='hash64')",
    ],
    'decontaminate/min': [
        "contamination.decontaminate(train=src, bench=other, id_col='doc_id', text_col='text', bench_text_col=None, n=8, min_hits=1, broadcast_bench=True, prefilter=None)",
    ],
    'lm_score': [
        "lm.lm_counts(ref=other, id_col='d', text_col='x')",
        "lm.lm_score(docs=src, ref=None, id_col='d', text_col='x', alpha=1.0, counts=lm.lm_counts())",
    ],
    'lm_score/min': [
        "lm.lm_score(docs=src, ref=None, id_col='doc_id', text_col='text', alpha=0.5, counts=None)",
    ],
    'shuffle': [
        "sampling.shuffle_deterministic(df=src, key_cols=['u'], seed='7', out_col='r')",
    ],
    'shuffle/min': [
        "sampling.shuffle_deterministic(df=src, key_cols=['u'], seed='42', out_col='shuffle_rank')",
    ],
    'components': [
        "cluster.connected_components(edges=src, src='a', dst='b', max_iter=3)",
    ],
    'components/min': [
        "cluster.connected_components(edges=src, src='src', dst='dst', max_iter=50)",
    ],
    'dedup_spans': [
        "exact_substr.remove_duplicate_spans(docs=src, id_col='d', text_col='x', span_tokens=4, min_count=3, key='text', cache_grams=False)",
    ],
    'dedup_spans/min': [
        "exact_substr.remove_duplicate_spans(docs=src, id_col='doc_id', text_col='text', span_tokens=8, min_count=2, key='hash128', cache_grams=True)",
    ],
    'audio_features': [
        "multimodal.extract_audio_features(df=src, id_col='d', audio_col='b')",
    ],
    'audio_features/min': [
        "multimodal.extract_audio_features(df=src, id_col='doc_id', audio_col='audio')",
    ],
    'video_features': [
        "multimodal.extract_video_features(df=src, id_col='d', video_col='b')",
    ],
    'video_features/min': [
        "multimodal.extract_video_features(df=src, id_col='doc_id', video_col='video')",
    ],
    'pack': [
        "sampling.pack_sequences(df=src, token_col='n', budget=10, order_cols=['o'], pack_col='pack_id', offset_col='pack_offset')",
    ],
    'ewma': [
        "analytics.ewma(df=src, value_col='v', order_cols=['t'], keys=['k'], alpha=1.0, output='e', adjust=False)",
    ],
    'ewma/min': [
        "analytics.ewma(df=src, value_col='v', order_cols=['t'], keys=['k'], alpha=1.0, output='ewma', adjust=True)",
    ],
    'ewma/stream': [
        "smoothing.streaming_ewma(stream=events, alpha=1.0, key_col='k', ts_col='t', value_col='v', state_ttl_s=60)",
    ],
    'ewma/stream-min': [
        "smoothing.streaming_ewma(stream=events, alpha=1.0, key_col='k', ts_col='o', value_col='v', state_ttl_s=None)",
    ],
    'anomaly': [
        "analytics.anomaly_seasonal(df=src, value_col='v', bucket_col='b', keys=['k'], period_s=60, lookback=2, min_prior=1, threshold=2.0)",
    ],
    'anomaly/min': [
        "analytics.anomaly_seasonal(df=src, value_col='v', bucket_col='b', keys=['k'], period_s=86400, lookback=7, min_prior=3, threshold=3.0)",
    ],
    'anomaly/stream': [
        "detect.streaming_anomaly(stream=events, period_s=60, lookback=2, min_prior=1, threshold=2.0, key_col='k', bucket_col='b', value_col='v', state_ttl_s=60)",
    ],
    'anomaly/stream-min': [
        "detect.streaming_anomaly(stream=events, period_s=86400, lookback=7, min_prior=3, threshold=3.0, key_col='k', bucket_col='b', value_col='v', state_ttl_s=None)",
    ],
    'cusum': [
        "analytics.cusum(df=src, value_col='v', order_cols=['t'], keys=['k'], target='tg', slack=2, pos_col='cusum_pos', neg_col='cusum_neg')",
    ],
    'cusum/min': [
        "analytics.cusum(df=src, value_col='v', order_cols=['t'], keys=['k'], target=None, slack=0, pos_col='cusum_pos', neg_col='cusum_neg')",
    ],
    'cusum/stream': [
        "detect.streaming_cusum(stream=events, target=5, slack=2, key_col='k', ts_col='t', value_col='v', state_ttl_s=60)",
    ],
    'cusum/stream-min': [
        "detect.streaming_cusum(stream=events, target=0, slack=0, key_col='k', ts_col='o', value_col='v', state_ttl_s=None)",
    ],
    'corr_pairs': [
        "analytics.corr_pairs(df=src, value_col='v', series_col='s', bucket_col='b', min_buckets=3, max_series=7.0)",
    ],
    'corr_pairs/unbounded': [
        "analytics.corr_pairs(df=src, value_col='v', series_col='s', bucket_col='b', min_buckets=2, max_series=None)",
    ],
    'corr_pairs/min': [
        "analytics.corr_pairs(df=src, value_col='v', series_col='s', bucket_col='b', min_buckets=2, max_series=1000)",
    ],
    'holt_winters': [
        "analytics.holt_winters(df=src, value_col='v', order_cols=['t'], keys=['k'], season_length=4, alpha=1.0, beta=1.0, gamma=1.0, steps=2, mode='fitted')",
    ],
    'holt_winters/min': [
        "analytics.holt_winters(df=src, value_col='v', order_cols=['t'], keys=['k'], season_length=4, alpha=0.3, beta=0.1, gamma=0.2, steps=1, mode='forecast')",
    ],
    'rolling_corr': [
        "analytics.rolling_corr(df=src, x_col='a', y_col='b', order_cols=['t'], keys=['k'], window=3, min_periods=2, output='o')",
    ],
    'rolling_corr/min': [
        "analytics.rolling_corr(df=src, x_col='a', y_col='b', order_cols=['t'], keys=['k'], window=3, min_periods=None, output='rolling_corr')",
    ],
    'bm25': [
        "ir.bm25_topk(docs=src, query_terms=['q'], k=3, id_col='d', text_col='x', k1=1.0, b=1.0)",
    ],
    'bm25/min': [
        "ir.bm25_scores(docs=src, query_terms=['q'], id_col='doc_id', text_col='text', k1=1.2, b=0.75)",
    ],
    'tfidf': [
        "ir.tfidf_scores(docs=src, vocab=['w'], id_col='d', text_col='x')",
    ],
    'tfidf/min': [
        "ir.tfidf_scores(docs=src, vocab=['w'], id_col='doc_id', text_col='text')",
    ],
    'semdedup': [
        "semdedup.semdedup(emb=src, tau=1.0, k=4, iters=2, id_col='d', vec_col='e', method='matmul', n_super=None, probes=1)",
    ],
    'semdedup/min': [
        "semdedup.semdedup(emb=src, tau=1.0, k=16, iters=0, id_col='vec_id', vec_col='embedding', method='matmul', n_super=None, probes=1)",
    ],
    'bpe': [
        "bpe.train_bpe(docs=src, num_merges=5, text_col='x', min_count=2)",
        "bpe.bpe_encode(docs=src, merges=bpe.train_bpe(), id_col='d', text_col='x', output='bpe_tokens', word_re='[a-z0-9]+')",
    ],
    'bpe/merges': [
        "bpe.bpe_encode(docs=src, merges=[('a', 'b')], id_col='d', text_col='x', output='bpe_tokens', word_re='[a-z0-9]+')",
    ],
    'bpe/min': [
        "bpe.train_bpe(docs=src, num_merges=5, text_col='text', min_count=1)",
        "bpe.bpe_encode(docs=src, merges=bpe.train_bpe(), id_col='doc_id', text_col='text', output='bpe_tokens', word_re='[a-z0-9]+')",
    ],
    'sink': [
        'src.coalesce(1)',
        "src.coalesce().write.mode('append')",
        "src.coalesce().write.mode().option('header', True)",
        "src.coalesce().write.mode().option().format('csv')",
        "src.coalesce().write.mode().option().format().save('p')",
    ],
    'sink/min': [
        "src.write.mode('overwrite')",
        "src.write.mode().format('parquet')",
        "src.write.mode().format().save('p')",
    ],
    'sink/tier': [
        "iceberg_layout.IcebergLayoutTable(root='p', sort_order=None, cluster_writes=True, branch='main')",
        "iceberg_layout.IcebergLayoutTable().write_tier(src, part_col='pc', input_snapshot='s1')",
    ],
    'sink/tier-min': [
        "iceberg_layout.IcebergLayoutTable(root='p', sort_order=None, cluster_writes=True, branch='main')",
        "iceberg_layout.IcebergLayoutTable().write_tier(src, part_col='part', input_snapshot='workflow:src')",
    ],
    'sink/merge': [
        "iceberg_layout.IcebergLayoutTable(root='p', sort_order=None, cluster_writes=True, branch='dev')",
        "iceberg_layout.IcebergLayoutTable().merge_rows(src, keys=['k'], mode='copy-on-write', idempotency_tag='t1')",
    ],
    'sink/merge-min': [
        "iceberg_layout.IcebergLayoutTable(root='p', sort_order=None, cluster_writes=True, branch='main')",
        "iceberg_layout.IcebergLayoutTable().merge_rows(src, keys=['k'], mode='merge-on-read', idempotency_tag=None)",
    ],
    'stream_sink': [
        "events.writeStream.format('json')",
        "events.writeStream.format().option('path', 'p')",
        "events.writeStream.format().option().option('checkpointLocation', 'c')",
        "events.writeStream.format().option().option().outputMode('update')",
        "events.writeStream.format().option().option().outputMode().trigger(processingTime='5 seconds')",
        'events.writeStream.format().option().option().outputMode().trigger().start()',
    ],
    'stream_sink/min': [
        "events.writeStream.format('parquet')",
        "events.writeStream.format().option('path', 'p')",
        "events.writeStream.format().option().option('checkpointLocation', 'c')",
        "events.writeStream.format().option().option().outputMode('append')",
        'events.writeStream.format().option().option().outputMode().trigger(availableNow=True)',
        'events.writeStream.format().option().option().outputMode().trigger().start()',
    ],
    'stream_sink/upsert': [
        "upsert_stream.streaming_upsert_writer(delta_stream=events, root='p', keys=['k'], checkpoint_dir='c', mode='copy-on-write', tag_prefix='tp', part_col='pc')",
        "upsert_stream.streaming_upsert_writer().trigger(processingTime='5 seconds')",
        'upsert_stream.streaming_upsert_writer().trigger().start()',
    ],
    'stream_sink/upsert-min': [
        "upsert_stream.streaming_upsert_writer(delta_stream=events, root='p', keys=['k'], checkpoint_dir='c', mode='merge-on-read', tag_prefix='upsert:out', part_col='part')",
        'upsert_stream.streaming_upsert_writer().trigger(availableNow=True)',
        'upsert_stream.streaming_upsert_writer().trigger().start()',
    ],
}


@pytest.mark.parametrize("case", [c for c, _ in _PIN_CASES])
def test_table_op_plumbing_pin(case, plumbing_log, request):
    """Each table op hands the library callable exactly today's
    arguments: every documented key set (the full case), and only the
    required keys (the ``/min`` cases pin the defaults)."""
    tdef = dict(_PIN_CASES)[case]
    if tdef.get("operation") == "quality_filter":
        request.getfixturevalue("spark")  # F.col needs an active session
    assert _pin_run(plumbing_log, tdef) == _PINS[case]


# ------------------------------------------------------- column plumbing pin
# Every column op, compiled inside an ``extend`` table with the library
# callables replaced by recorders. A case is the table's extra keys
# plus its ``columns``; ``/compat`` cases build under reference_compat.
_T = {"order_by": ["to"], "partition_by": ["tp"]}
_COL_PIN_CASES = [
    ("noop", {"columns": [{"id": "a"}]}),
    # C1 calculate, with C10 models and the reference's function refs
    ("calculate", {**_T, "columns": [
        {"id": "c", "operation": "calculate", "kernel": "round", "inputs": "a",
         "model": {"ndigits": 2}, "returns": "long", "fillna_value": 0,
         "exclude": True, "outputs": "c", "data_type": "float"}]}),
    ("calculate/min", {"columns": [
        {"id": "c", "operation": "calculate", "kernel": "abs", "inputs": ["a"]}]}),
    ("calculate/train", {"columns": [
        {"id": "c", "operation": "calculate", "kernel": "linear_predict",
         "inputs": ["a", "b"], "model": "$file:m.json",
         "train": {"function": "ols", "inputs": ["a"], "outputs": ["y"]}}]}),
    ("calculate/file", {"columns": [
        {"id": "c", "operation": "calculate", "kernel": "linear_predict",
         "inputs": ["a"], "model": "$file:m.json"}]}),
    ("calculate/user", {"columns": [
        {"id": "c", "operation": "calculate", "function": "pin_kernels:kernel",
         "inputs": ["a", "b"], "returns": "long", "model": {"n": 1}}]}),
    ("calculate/user-compat", {"columns": [
        {"id": "c", "function": "pin_kernels:kernel", "inputs": ["a"]}]}),
    ("calculate/infer", {"columns": [
        {"id": "c", "function": "builtins:float", "inputs": "a", "window": 1}]}),
    ("calculate/to_datetime", {"columns": [
        {"id": "c", "function": "pandas:to_datetime", "inputs": ["a"],
         "model": {"format": "%Y-%m-%d %H:%M", "errors": "coerce"}}]}),
    ("calculate/all-scalar", {"columns": [
        {"id": "c", "kernel": "abs", "window": "all", "inputs": ["a"]}]}),
    # C2 roll / roll_range
    ("roll", {**_T, "columns": [
        {"id": "r", "operation": "roll", "kernel": "quantile", "inputs": ["v"],
         "window": 3.0, "min_periods": 1, "model": {"q": 0.5},
         "order_by": ["o"], "partition_by": ["k"], "fillna_value": 0.0}]}),
    ("roll/min", {"order_by": ["to"], "columns": [
        {"id": "r", "operation": "roll", "kernel": "mean", "inputs": ["v"],
         "window": 3}]}),
    ("roll/infer", {**_T, "columns": [
        {"id": "r", "function": "numpy:mean", "inputs": ["v"], "window": "4"}]}),
    ("roll/extensions", {**_T, "columns": [
        {"id": "r", "operation": "roll", "kernel": "sum", "inputs": ["v"],
         "window": 3, "extensions": [{"window": 2}, {"window": 5, "id": "r5"}]}]}),
    ("roll/compat", {"columns": [
        {"id": "r", "operation": "roll", "kernel": "mean", "inputs": ["v"],
         "window": 2},
        {"id": "s", "operation": "shift", "inputs": ["v"]}]}),
    ("roll_range", {**_T, "columns": [
        {"id": "rr", "operation": "roll_range", "kernel": "sum", "inputs": ["v"],
         "range_seconds": 60.0, "ts": "t", "partition_by": ["k"],
         "model": {}}]}),
    ("roll_range/min", {"columns": [
        {"id": "rr", "operation": "roll_range", "kernel": "sum", "inputs": ["v"],
         "range_seconds": 60, "ts": "t"}]}),
    # C3 shift / all
    ("shift", {**_T, "columns": [
        {"id": "s", "operation": "shift", "inputs": ["v"], "periods": -2.0,
         "order_by": ["o"], "partition_by": ["k"]}]}),
    ("shift/min", {"order_by": ["to"], "columns": [
        {"id": "s", "operation": "shift", "inputs": ["v"]}]}),
    ("shift/series", {"order_by": ["to"], "columns": [
        {"id": "s", "function": "pandas:Series.shift", "inputs": "v",
         "model": {"periods": 3}}]}),
    ("all", {**_T, "columns": [
        {"id": "a", "operation": "all", "kernel": "mean", "inputs": ["v"],
         "partition_by": ["k"], "order_by": ["o"], "model": {}}]}),
    ("all/min", {"columns": [
        {"id": "a", "operation": "all", "kernel": "mean", "inputs": ["v"]}]}),
    ("all/infer", {**_T, "columns": [
        {"id": "a", "kernel": "mean", "window": "all", "inputs": ["v"]}]}),
    # C4-C6 link / compose / aggregate
    ("link", {**_T, "columns": [
        {"id": "l", "operation": "link", "keys": ["k"], "linked_table": "other",
         "linked_keys": ["k2"], "exclude": True}]}),
    ("link/min", {"columns": [
        {"id": "l", "operation": "link", "keys": ["k"], "linked_table": "other",
         "linked_keys": ["k2"]}]}),
    ("compose", {**_T, "columns": [
        {"id": "cp", "operation": "compose", "link": "l", "linked_table": "other",
         "linked_keys": ["k2"], "target": "x", "fillna_value": "-"}]}),
    ("compose/min", {"columns": [
        {"id": "cp", "operation": "compose", "link": "l", "linked_table": "other",
         "linked_keys": ["k2"], "target": "x"}]}),
    ("aggregate", {**_T, "columns": [
        {"id": "g", "operation": "aggregate", "fact_table": "other", "keys": ["k"],
         "fact_keys": ["fk"], "kernel": "sum", "measure": "v", "fillna_value": 0,
         "model": {}}]}),
    ("aggregate/min", {"columns": [
        {"id": "g", "operation": "aggregate", "fact_table": "other", "keys": ["k"],
         "fact_keys": ["fk"], "kernel": "count"}]}),
    # time-series columns
    ("sessionize", {**_T, "columns": [
        {"id": "sid", "operation": "sessionize", "ts": "t", "gap_seconds": 30.0,
         "tiebreak": ["x"], "partition_by": ["k"]}]}),
    ("sessionize/min", {"columns": [
        {"id": "sid", "operation": "sessionize", "ts": "t", "gap_seconds": 30}]}),
    ("delta", {**_T, "columns": [
        {"id": "d", "operation": "delta", "inputs": ["v"], "order_by": ["o"],
         "partition_by": ["k"]}]}),
    ("delta/min", {"order_by": ["to"], "columns": [
        {"id": "d", "operation": "delta", "inputs": ["v"]}]}),
    ("rate", {**_T, "columns": [
        {"id": "rt", "operation": "rate", "inputs": ["v"], "ts": "t",
         "counter_reset": True, "scale": 1000.0, "order_by": ["o"],
         "partition_by": ["k"]}]}),
    ("rate/min", {"order_by": ["to"], "columns": [
        {"id": "rt", "operation": "rate", "inputs": ["v"], "ts": "t"}]}),
    ("locf", {**_T, "columns": [
        {"id": "f", "operation": "locf", "inputs": ["v", "w"], "order_by": ["o"],
         "partition_by": ["k"]}]}),
    ("locf/min", {"order_by": ["to"], "columns": [
        {"id": "f", "operation": "locf", "inputs": ["v"]}]}),
    ("interpolate", {**_T, "columns": [
        {"id": "i", "operation": "interpolate", "inputs": ["v"], "bucket": "b",
         "ndigits": 3.0, "partition_by": ["k"]}]}),
    ("interpolate/min", {"columns": [
        {"id": "i", "operation": "interpolate", "inputs": ["v"], "bucket": "b"}]}),
]


def _col_pin_run(log, case):
    """The calls one ``_COL_PIN_CASES`` table makes, with function
    addresses stripped from the reprs of wrapped user kernels."""
    import re

    tdef = {"id": "out", "operation": "extend", "source": "src",
            **dict(_COL_PIN_CASES)[case]}
    data = {"src": _Probe(log, "src"), "other": _Probe(log, "other")}
    Workflow({"tables": [tdef]}, _Probe(log, "spark"), data,
             reference_compat=case.endswith("compat")).execute()
    return [re.sub(r"<function \S*?(<lambda>|\w+) at 0x\w+>", r"<\1>", line)
            for line in log]


@pytest.mark.parametrize("case", [c for c, _ in _COL_PIN_CASES])
def test_column_op_plumbing_pin(case, plumbing_log, request):
    """Each column op hands the library callable exactly today's
    arguments — the table-level ``order_by``/``partition_by`` defaults,
    the reference's operation inference and function rewrites, the
    post-attach ``fillna_value`` and the reference_compat row order
    included."""
    tdef = dict(_COL_PIN_CASES)[case]
    if case.endswith("compat") or "fillna_value" in repr(tdef):
        request.getfixturevalue("spark")  # F.col needs an active session
    assert _col_pin_run(plumbing_log, case) == _COL_PINS[case]


_COL_PINS = {
    'noop': [
        'table_ops.extend(prev=src)',
    ],
    'calculate': [
        'table_ops.extend(prev=src)',
        "column_ops.calculate(df=table_ops.extend(), output='c', kernel='round', inputs=['a'], model={'ndigits': 2})",
        "column_ops.calculate().withColumn('c', Column<'coalesce(c, 0)'>)",
        "column_ops.calculate().withColumn().drop('c')",
    ],
    'calculate/min': [
        'table_ops.extend(prev=src)',
        "column_ops.calculate(df=table_ops.extend(), output='c', kernel='abs', inputs=['a'], model=None)",
    ],
    'calculate/train': [
        'table_ops.extend(prev=src)',
        "train.resolve_model(model='$file:m.json', df=table_ops.extend(), train={'function': 'ols', 'inputs': ['a'], 'outputs': ['y']})",
        "column_ops.calculate(df=table_ops.extend(), output='c', kernel='linear_predict', inputs=['a', 'b'], model=train.resolve_model())",
    ],
    'calculate/file': [
        'table_ops.extend(prev=src)',
        "train.resolve_model(model='$file:m.json', df=table_ops.extend(), train=None)",
        "column_ops.calculate(df=table_ops.extend(), output='c', kernel='linear_predict', inputs=['a'], model=train.resolve_model())",
    ],
    'calculate/user': [
        'table_ops.extend(prev=src)',
        "column_ops.calculate(df=table_ops.extend(), output='c', kernel=Kernel(name='c', expr=None, agg=None, pandas_fn=<<lambda>>, returns='long', doc=''), inputs=['a', 'b'], model={'n': 1})",
    ],
    'calculate/user-compat': [
        'table_ops.extend(prev=src)',
        "column_ops.calculate(df=table_ops.extend(), output='c', kernel=Kernel(name='c', expr=None, agg=None, pandas_fn=<_row_at_a_time>, returns='double', doc=''), inputs=['a'], model=None)",
    ],
    'calculate/infer': [
        'table_ops.extend(prev=src)',
        "column_ops.calculate(df=table_ops.extend(), output='c', kernel='float', inputs=['a'], model=None)",
    ],
    'calculate/to_datetime': [
        'table_ops.extend(prev=src)',
        "column_ops.calculate(df=table_ops.extend(), output='c', kernel='to_timestamp', inputs=['a'], model={'fmt': 'yyyy-MM-dd HH:mm', 'coerce': True})",
    ],
    'calculate/all-scalar': [
        'table_ops.extend(prev=src)',
        "column_ops.calculate(df=table_ops.extend(), output='c', kernel='abs', inputs=['a'], model=None)",
    ],
    'roll': [
        'table_ops.extend(prev=src)',
        "column_ops.roll(df=table_ops.extend(), output='r', kernel='quantile', inputs=['v'], window=3, order_by=['o'], partition_by=['k'], model={'q': 0.5}, min_periods=1)",
        "column_ops.roll().withColumn('r', Column<'coalesce(r, 0.0)'>)",
    ],
    'roll/min': [
        'table_ops.extend(prev=src)',
        "column_ops.roll(df=table_ops.extend(), output='r', kernel='mean', inputs=['v'], window=3, order_by=['to'], partition_by=None, model=None, min_periods=None)",
    ],
    'roll/infer': [
        'table_ops.extend(prev=src)',
        "column_ops.roll(df=table_ops.extend(), output='r', kernel='mean', inputs=['v'], window=4, order_by=['to'], partition_by=['tp'], model=None, min_periods=None)",
    ],
    'roll/extensions': [
        'table_ops.extend(prev=src)',
        "column_ops.roll(df=table_ops.extend(), output='r_0', kernel='sum', inputs=['v'], window=2, order_by=['to'], partition_by=['tp'], model=None, min_periods=None)",
        "column_ops.roll(df=column_ops.roll(), output='r5', kernel='sum', inputs=['v'], window=5, order_by=['to'], partition_by=['tp'], model=None, min_periods=None)",
    ],
    'roll/compat': [
        'table_ops.extend(prev=src)',
        "table_ops.extend().withColumn('__row_order__', Column<'monotonically_increasing_id()'>)",
        "column_ops.roll(df=table_ops.extend().withColumn(), output='r', kernel='mean', inputs=['v'], window=2, order_by=['__row_order__'], partition_by=None, model=None, min_periods=None)",
        "column_ops.roll().withColumn('__row_order__', Column<'monotonically_increasing_id()'>)",
        "column_ops.shift(df=column_ops.roll().withColumn(), output='s', input_col='v', periods=1, order_by=['__row_order__'], partition_by=None)",
    ],
    'roll_range': [
        'table_ops.extend(prev=src)',
        "column_ops.roll_range(df=table_ops.extend(), output='rr', kernel='sum', inputs=['v'], range_seconds=60, ts_col='t', partition_by=['k'], model={})",
    ],
    'roll_range/min': [
        'table_ops.extend(prev=src)',
        "column_ops.roll_range(df=table_ops.extend(), output='rr', kernel='sum', inputs=['v'], range_seconds=60, ts_col='t', partition_by=None, model=None)",
    ],
    'shift': [
        'table_ops.extend(prev=src)',
        "column_ops.shift(df=table_ops.extend(), output='s', input_col='v', periods=-2, order_by=['o'], partition_by=['k'])",
    ],
    'shift/min': [
        'table_ops.extend(prev=src)',
        "column_ops.shift(df=table_ops.extend(), output='s', input_col='v', periods=1, order_by=['to'], partition_by=None)",
    ],
    'shift/series': [
        'table_ops.extend(prev=src)',
        "column_ops.shift(df=table_ops.extend(), output='s', input_col='v', periods=3, order_by=['to'], partition_by=None)",
    ],
    'all': [
        'table_ops.extend(prev=src)',
        "column_ops.window_all(df=table_ops.extend(), output='a', kernel='mean', inputs=['v'], partition_by=['k'], order_by=['o'], model={})",
    ],
    'all/min': [
        'table_ops.extend(prev=src)',
        "column_ops.window_all(df=table_ops.extend(), output='a', kernel='mean', inputs=['v'], partition_by=None, order_by=None, model=None)",
    ],
    'all/infer': [
        'table_ops.extend(prev=src)',
        "column_ops.window_all(df=table_ops.extend(), output='a', kernel='mean', inputs=['v'], partition_by=['tp'], order_by=['to'], model=None)",
    ],
    'link': [
        'table_ops.extend(prev=src)',
        "column_ops.link(df=table_ops.extend(), output='l', keys=['k'], linked_table=other, linked_keys=['k2'])",
        "column_ops.link().drop('l')",
    ],
    'link/min': [
        'table_ops.extend(prev=src)',
        "column_ops.link(df=table_ops.extend(), output='l', keys=['k'], linked_table=other, linked_keys=['k2'])",
    ],
    'compose': [
        'table_ops.extend(prev=src)',
        "column_ops.compose(df=table_ops.extend(), output='cp', link_col='l', linked_table=other, linked_keys=['k2'], target_col='x')",
        "column_ops.compose().withColumn('cp', Column<'coalesce(cp, '-')'>)",
    ],
    'compose/min': [
        'table_ops.extend(prev=src)',
        "column_ops.compose(df=table_ops.extend(), output='cp', link_col='l', linked_table=other, linked_keys=['k2'], target_col='x')",
    ],
    'aggregate': [
        'table_ops.extend(prev=src)',
        "column_ops.aggregate_column(group_df=table_ops.extend(), output='g', fact_df=other, group_keys=['k'], fact_keys=['fk'], kernel='sum', measure='v', fillna_value=0, model={})",
    ],
    'aggregate/min': [
        'table_ops.extend(prev=src)',
        "column_ops.aggregate_column(group_df=table_ops.extend(), output='g', fact_df=other, group_keys=['k'], fact_keys=['fk'], kernel='count', measure=None, fillna_value=None, model=None)",
    ],
    'sessionize': [
        'table_ops.extend(prev=src)',
        "timeseries.sessionize(df=table_ops.extend(), key=['k'], ts_col='t', gap_seconds=30, order_tiebreak=['x'], out_col='sid')",
    ],
    'sessionize/min': [
        'table_ops.extend(prev=src)',
        "timeseries.sessionize(df=table_ops.extend(), key=[], ts_col='t', gap_seconds=30, order_tiebreak=(), out_col='sid')",
    ],
    'delta': [
        'table_ops.extend(prev=src)',
        "timeseries.delta(df=table_ops.extend(), output='d', value_col='v', order_by=['o'], partition_by=['k'])",
    ],
    'delta/min': [
        'table_ops.extend(prev=src)',
        "timeseries.delta(df=table_ops.extend(), output='d', value_col='v', order_by=['to'], partition_by=[])",
    ],
    'rate': [
        'table_ops.extend(prev=src)',
        "timeseries.rate(df=table_ops.extend(), output='rt', value_col='v', ts_col='t', order_by=['o'], partition_by=['k'], counter_reset=True, scale=1000)",
    ],
    'rate/min': [
        'table_ops.extend(prev=src)',
        "timeseries.rate(df=table_ops.extend(), output='rt', value_col='v', ts_col='t', order_by=['to'], partition_by=[], counter_reset=False, scale=1000000)",
    ],
    'locf': [
        'table_ops.extend(prev=src)',
        "timeseries.locf(df=table_ops.extend(), cols=['v', 'w'], order_by=['o'], partition_by=['k'])",
    ],
    'locf/min': [
        'table_ops.extend(prev=src)',
        "timeseries.locf(df=table_ops.extend(), cols=['v'], order_by=['to'], partition_by=[])",
    ],
    'interpolate': [
        'table_ops.extend(prev=src)',
        "timeseries.interpolate_linear(df=table_ops.extend(), value_col='v', bucket_col='b', partition_by=['k'], output='i', ndigits=3)",
    ],
    'interpolate/min': [
        'table_ops.extend(prev=src)',
        "timeseries.interpolate_linear(df=table_ops.extend(), value_col='v', bucket_col='b', partition_by=[], output='i', ndigits=6)",
    ],
}


# ------------------------------------------------------- op-table refusals
_TWIN_BASE = {"id": "out", "source": "events", "value": "v", "ts": "t"}


@pytest.mark.parametrize("tdef, key", [
    ({"operation": "ewma", "keys": ["k"], "alpha": 0.5, "adjust": False}, "adjust"),
    ({"operation": "ewma", "keys": ["k"], "alpha": 0.5, "output": "sm"}, "output"),
    ({"operation": "cusum", "keys": ["k"], "target": "baseline"}, "target"),
    ({"operation": "ewma", "keys": ["k", "j"], "alpha": 0.5}, "keys"),
    ({"operation": "anomaly", "keys": ["k", "j"], "bucket": "b"}, "keys"),
    ({"operation": "cusum", "keys": ["k", "j"]}, "keys"),
])
def test_stream_twin_refuses_what_it_cannot_compute(tdef, key, plumbing_log):
    """On a streaming source a spec value the stream twin cannot honor
    is refused, naming the table, the op and the key — never dropped or
    garbled into a different result than the same spec in batch."""
    with pytest.raises(ValueError) as err:
        _pin_run(plumbing_log, {**_TWIN_BASE, **tdef})
    msg = str(err.value)
    assert "'out'" in msg and tdef["operation"] in msg and repr(key) in msg


@pytest.mark.parametrize("tdef, key", [
    ({"operation": "ewma", "keys": ["k"], "alpha": 0.5, "value": None}, "value"),
    ({"operation": "ewma", "keys": ["k"], "alpha": 0.5, "ts": None}, "order"),
    ({"operation": "anomaly", "bucket": "b", "ts": None}, "keys"),
])
def test_stream_twin_keeps_batch_required_keys(tdef, key):
    """A key the batch op requires stays required on a stream (``ts``
    stands in for ``order``): the twin's own column-name defaults never
    apply to a workflow spec."""
    tdef = {k: v for k, v in {**_TWIN_BASE, **tdef}.items() if v is not None}
    log: list[str] = []
    wf = Workflow(
        {"tables": [tdef]}, _Probe(log, "spark"),
        {"events": _Probe(log, "events", streaming=True)},
    )
    with pytest.raises(ValueError, match=f"^table 'out' .* needs '{key}'$"):
        wf.execute()


_ORDERED = {
    "roll": {"kernel": "sum", "inputs": ["v"], "window": 2},
    "shift": {"inputs": ["v"]},
    "delta": {"inputs": ["v"]},
    "rate": {"inputs": ["v"], "ts": "t"},
    "locf": {"inputs": ["v"]},
}


@pytest.mark.parametrize("op", list(_ORDERED))
def test_ordered_column_op_needs_order_by(op):
    """A column op whose callable takes ``order_by`` without a default
    needs a row order — refused when the Workflow is constructed."""
    col = {"id": "c", "operation": op, **_ORDERED[op]}
    with pytest.raises(ValueError, match=f"^table 't' column 'c' \\({op}\\) needs 'order_by'$"):
        Workflow(
            {"tables": [{"id": "t", "operation": "data", "columns": [col]}]},
            _Probe([], "spark"), {"t": _Probe([], "t")},
        )


@pytest.mark.parametrize("col, match", [
    # a misspelt key is refused, not silently dropped
    ({"id": "r", "operation": "roll", "kernel": "mean", "inputs": ["v"],
      "window": 2, "min_period": 1},
     r"^table 'data' column 'r' \(roll\): unknown key\(s\) \['min_period'\]; "
     r"'roll' accepts .*'min_periods'"),
    # a missing required key names the key
    ({"id": "r", "operation": "roll", "kernel": "mean", "inputs": ["v"]},
     r"^table 'data' column 'r' \(roll\) needs 'window'$"),
    ({"id": "s", "operation": "shift"},
     r"^table 'data' column 's' \(shift\) needs 'inputs'$"),
    ({"id": "r", "operation": "roll", "inputs": ["v"], "window": 2},
     r"^table 'data' column 'r' \(roll\) needs 'kernel'$"),
    ({"id": "l", "operation": "link", "keys": ["k"], "linked_keys": ["k"]},
     r"^table 'data' column 'l' \(link\) needs 'linked_table'$"),
    ({"operation": "delta", "inputs": ["v"]},
     r"^table 'data' column None \(delta\) needs 'id'$"),
    # an unknown op, and a key no column takes on a noop column
    ({"id": "r", "operation": "rol", "kernel": "mean", "inputs": ["v"], "window": 2},
     r"^table 'data' column 'r' \(rol\): unknown column operation 'rol'$"),
    ({"id": "a", "window_size": 3},
     r"^table 'data' column 'a' \(noop\): unknown key\(s\) \['window_size'\]"),
    # inference: no operation plus a window is a roll, checked as one
    ({"id": "r", "kernel": "mean", "inputs": ["v"], "window": 3, "periods": 1},
     r"^table 'data' column 'r' \(roll\): unknown key\(s\) \['periods'\]"),
])
def test_column_spec_is_refused_at_construction(col, match):
    """Column defs are checked like table defs: an unknown op or key, or
    a missing required key, raises at ``Workflow(...)`` naming the
    table, the column and the key — not at ``execute()``."""
    spec = {"tables": [{"id": "data", "operation": "data", "order_by": ["i"],
                        "columns": [col]}]}
    with pytest.raises(ValueError, match=match):
        Workflow(spec, _Probe([], "spark"), {"data": _Probe([], "data")})


def test_column_keys_in_extensions_are_checked():
    base = {"id": "m", "operation": "roll", "kernel": "mean", "inputs": ["v"],
            "window": 3, "extensions": [{"window": 2}, {"min_period": 1}]}
    spec = {"tables": [{"id": "data", "operation": "data", "order_by": ["i"],
                        "columns": [base]}]}
    with pytest.raises(ValueError, match=r"column 'm_1' \(roll\): unknown key"):
        Workflow(spec, _Probe([], "spark"), {"data": _Probe([], "data")})


def test_column_table_dependencies_come_from_the_op_table():
    """A column reading another table orders the build like a table
    input does."""
    from lambdo_spark.plans.compiler import _table_deps

    tdef = {"id": "g", "operation": "extend", "source": "src", "columns": [
        {"id": "l", "operation": "link", "keys": ["k"], "linked_table": "dim",
         "linked_keys": ["k"]},
        {"id": "n", "operation": "aggregate", "fact_table": "facts", "keys": ["k"],
         "fact_keys": ["k"], "kernel": "count"},
        {"id": "c", "operation": "compose", "link": "l", "linked_table": "dim2",
         "linked_keys": ["k"], "target": "x"}]}
    assert _table_deps(tdef) == {"src", "dim", "facts", "dim2"}


def test_misspelt_key_is_refused_at_construction():
    spec = {"tables": [{"id": "an", "operation": "anomaly", "source": "h",
                        "keys": ["k"], "value": "v", "bucket": "b",
                        "treshold": 2.0}]}
    with pytest.raises(ValueError) as err:
        Workflow(spec, _Probe([], "spark"))
    msg = str(err.value)
    assert "'treshold'" in msg and "anomaly" in msg and "'threshold'" in msg


def test_unknown_op_is_refused_at_construction():
    with pytest.raises(ValueError, match="unknown table operation 'pivot'"):
        Workflow({"tables": [{"id": "x", "operation": "pivot"}]}, _Probe([], "spark"))


def test_stream_keys_and_reference_keys_compile_on_batch(plumbing_log):
    """``ts``/``state_ttl_s`` on a batch ewma compile (the same spec runs
    batch or stream), and a reference T3 function table may carry its
    ``outputs``/``attributes`` keys."""
    _pin_run(plumbing_log, {"operation": "ewma", "source": "src", "keys": ["k"],
                            "value": "v", "order": ["t"], "alpha": 0.5,
                            "ts": "t", "state_ttl_s": 60})
    assert plumbing_log[-1].startswith("analytics.ewma(df=src")
    _pin_run(plumbing_log, {"function": "pin_kernels:make", "inputs": [],
                            "model": {"n": 1}, "outputs": ["a"],
                            "attributes": {"x": 1}})
    assert plumbing_log[-1] == "spark.createDataFrame(pin_kernels.make())"


def _documented_table_fields(section="Table definitions") -> dict[str, set[str]]:
    """op → the keys a section of docs/workflow_spec.md lists for it
    (union of its rows; parenthesized remarks are not keys)."""
    import os
    import re

    path = os.path.join(os.path.dirname(__file__), "..", "docs", "workflow_spec.md")
    with open(path) as f:
        section = f.read().split(f"## {section}")[1].split("\n## ")[0]
    fields: dict[str, set[str]] = {}
    for line in section.splitlines():
        if not line.startswith("| `"):
            continue
        op_cell, field_cell = line.split(" | ")[:2]
        keys = set(re.findall(r"`(\w+)`", re.sub(r"\([^)]*\)", "", field_cell)))
        for op in re.findall(r"`(\w+)`", op_cell.split(" with ")[0]):
            fields.setdefault(op, set()).update(keys)
    return fields


def test_docs_list_exactly_the_accepted_keys():
    from lambdo_spark.plans.compiler import _COMMON_KEYS, _OPS

    documented = _documented_table_fields()
    assert sorted(documented) == sorted(_OPS)
    for op, entry in _OPS.items():
        assert documented[op] - _COMMON_KEYS == entry.accepted - _COMMON_KEYS, op


def test_docs_list_exactly_the_column_keys():
    """Each column op's row lists exactly the keys its ``_COLUMN_OPS``
    entry reads (``id``, which every op takes, is stated once above
    the table)."""
    from lambdo_spark.plans.compiler import _COLUMN_OPS

    documented = _documented_table_fields("Column definitions")
    assert sorted(documented) == sorted(_COLUMN_OPS)
    for op, entry in _COLUMN_OPS.items():
        own = {key for key, _, _ in entry.keys + entry.tables}
        assert documented[op] == own - {"id"}, op
