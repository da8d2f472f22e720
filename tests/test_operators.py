"""Golden parity with the reference test suite (FIXTURES.md F2–F6).

Every expected value below is taken from /root/reference/tests/
(cited per test); ordering is explicit via an ``idx`` column since
Spark has no physical row order (SURVEY.md §7.3).
"""

import math

import pytest
from pyspark.sql import functions as F

from lambdo_spark.operators import column_ops as C
from lambdo_spark.operators import table_ops as T


def seq_df(spark, values, name="A"):
    return spark.createDataFrame(
        [(i, v) for i, v in enumerate(values)], f"idx long, {name} double"
    )


# ----------------------------------------------------------------- C1

def test_calculate_float(spark):
    """reference tests/test_calculate.py:42-52: float(A) per row."""
    df = spark.createDataFrame([(1,), (2,), (3,)], "A long")
    out = C.calculate(df, "F", "float", ["A"])
    assert [r["F"] for r in out.orderBy("A").collect()] == [1.0, 2.0, 3.0]


def test_calculate_add_model(spark):
    """reference tests/test_table_populate.py:94-97: C = A + 2."""
    df = spark.createDataFrame([(1,), (2,)], "A long")
    out = C.calculate(df, "C", "add", ["A"], {"value": 2})
    assert [r["C"] for r in out.orderBy("A").collect()] == [3, 4]


# ----------------------------------------------------------------- C2

def test_roll_sum_window2(spark):
    """reference tests/test_roll.py:46-48: win=2 sum of [1,2,3] →
    [NaN, 3, 5] (min_periods = window)."""
    df = seq_df(spark, [1.0, 2.0, 3.0])
    out = C.roll(df, "S", "sum", ["A"], 2, order_by=["idx"])
    assert [r["S"] for r in out.orderBy("idx").collect()] == [None, 3.0, 5.0]


def test_roll_extension_windows(spark):
    """reference tests/test_roll.py:84-91: same mean kernel at windows
    2 and 3 (extensions family) over [1,2,3,4]."""
    df = seq_df(spark, [1.0, 2.0, 3.0, 4.0])
    out = C.roll(df, "S2", "sum", ["A"], 2, order_by=["idx"])
    out = C.roll(out, "S3", "sum", ["A"], 3, order_by=["idx"])
    rows = out.orderBy("idx").collect()
    assert [r["S2"] for r in rows] == [None, 3.0, 5.0, 7.0]
    assert [r["S3"] for r in rows] == [None, None, 6.0, 9.0]


def test_roll_mean_weighted(spark):
    """reference tests/test_roll.py:171-173 (kernel std.py:136-152):
    weighted mean win=2, A=[1,2,3], W=[3,2,1] → [NaN, 1.4, 2.3333]."""
    df = spark.createDataFrame(
        [(0, 1.0, 3.0), (1, 2.0, 2.0), (2, 3.0, 1.0)],
        "idx long, A double, W double",
    )
    out = C.roll(df, "MW", "mean_weighted", ["A", "W"], 2, order_by=["idx"])
    got = [r["MW"] for r in out.orderBy("idx").collect()]
    assert got[0] is None
    assert got[1] == pytest.approx(1.4)
    assert got[2] == pytest.approx(7.0 / 3.0)


def test_roll_partitioned(spark):
    """windows never leak across partition keys."""
    df = spark.createDataFrame(
        [("u", 0, 1.0), ("u", 1, 2.0), ("v", 0, 10.0), ("v", 1, 20.0)],
        "k string, idx long, A double",
    )
    out = C.roll(df, "S", "sum", ["A"], 2, order_by=["idx"], partition_by=["k"])
    got = {(r["k"], r["idx"]): r["S"] for r in out.collect()}
    assert got == {("u", 0): None, ("u", 1): 3.0, ("v", 0): None, ("v", 1): 30.0}


# ----------------------------------------------------------------- C3

def test_shift_forward_and_back(spark):
    """reference tests/test_calculate.py:54-89: shift(-1) → next row
    value, trailing NULL; shift(1) → previous, leading NULL."""
    df = seq_df(spark, [1.0, 2.0, 3.0])
    out = C.shift(df, "NEXT", "A", -1, order_by=["idx"])
    out = C.shift(out, "PREV", "A", 1, order_by=["idx"])
    rows = out.orderBy("idx").collect()
    assert [r["NEXT"] for r in rows] == [2.0, 3.0, None]
    assert [r["PREV"] for r in rows] == [None, 1.0, 2.0]


def test_window_all_mean(spark):
    """C3 window=all: whole-column aggregate broadcast to every row
    (reference Column.py:498-522, e.g. scaling uses global mean)."""
    df = seq_df(spark, [1.0, 2.0, 3.0])
    out = C.window_all(df, "M", "mean", ["A"])
    assert [r["M"] for r in out.collect()] == [2.0, 2.0, 2.0]


# ------------------------------------------------------------- C4/C5/C6

FACTS = [("a", 1.0), ("a", 2.0), ("b", 3.0), ("b", 4.0)]
GROUPS = [("a", 1), ("b", 2), ("c", 3)]


def _facts(spark):
    return spark.createDataFrame(FACTS, "A string, M double")


def _groups(spark):
    return spark.createDataFrame(GROUPS, "A string, B long")


def test_link_matched_and_unmatched(spark):
    """reference tests/test_link.py:59-62,112-116: every fact links to
    its group; a fact with no matching group gets NULL."""
    facts = spark.createDataFrame(
        FACTS + [("z", 9.0)], "A string, M double"
    )
    out = C.link(facts, "L", ["A"], _groups(spark), ["A"])
    rows = {(r["A"], r["M"]): r["L"] for r in out.collect()}
    assert rows[("a", 1.0)] == rows[("a", 2.0)]
    assert rows[("a", 1.0)] is not None and rows[("b", 3.0)] is not None
    assert rows[("z", 9.0)] is None


def test_compose_values(spark):
    """reference tests/test_compose.py:76-80: Link::B → [1,1,2,2]."""
    facts = C.link(_facts(spark), "L", ["A"], _groups(spark), ["A"])
    out = C.compose(facts, "B", "L", _groups(spark), ["A"], "B")
    assert sorted(r["B"] for r in out.collect()) == [1, 1, 2, 2]


def test_aggregate_column_with_empty_group(spark):
    """reference tests/test_aggregate.py:77-79: grouped sum(M) →
    [3.0, 7.0] and fillna 0.0 for the factless group 'c'."""
    out = C.aggregate_column(
        _groups(spark), "TOT", _facts(spark), ["A"], ["A"],
        "sum", "M", fillna_value=0.0,
    )
    got = {r["A"]: r["TOT"] for r in out.collect()}
    assert got == {"a": 3.0, "b": 7.0, "c": 0.0}


# -------------------------------------------------------------- tables

def test_project_distinct_rename(spark):
    """reference tests/test_table_project.py:48-53."""
    df = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("b", 3.0), ("b", 4.0)], "A string, M double"
    )
    out = T.project(df, ["A"], ["B"])
    assert out.columns == ["B"]
    assert sorted(r["B"] for r in out.collect()) == ["a", "b"]


def test_product(spark):
    """T5 — unimplemented in the reference (Table.py:370-371)."""
    a = spark.createDataFrame([(1,), (2,)], "x long")
    b = spark.createDataFrame([("p",), ("q",), ("r",)], "y string")
    assert T.product([a, b]).count() == 6


def test_join_by_key(spark):
    """reference tests/test_table_join.py:105-106."""
    t1 = spark.createDataFrame([("a", 1), ("b", 2)], "k string, x long")
    t2 = spark.createDataFrame([("a", 10), ("c", 30)], "k string, y long")
    out = T.join_tables([t1, t2], [["k"]])
    got = {r["k"]: r["y"] for r in out.collect()}
    assert got == {"a": 10, "b": None}  # left join


def test_join_by_row_number(spark):
    """reference std.py:27-28 index join → zip by row position."""
    t1 = spark.createDataFrame([(i,) for i in [10, 20, 30]], "x long")
    t2 = spark.createDataFrame([(i,) for i in [1, 2, 3]], "y long")
    out = T.join_tables([t1, t2], [None])
    assert out.count() == 3
    assert {(r["x"], r["y"]) for r in out.collect()} == {(10, 1), (20, 2), (30, 3)}


def test_join_suffix_collision(spark):
    t1 = spark.createDataFrame([("a", 1)], "k string, v long")
    t2 = spark.createDataFrame([("a", 9)], "k string, v long")
    out = T.join_tables([t1, t2], [["k"]], suffixes=["_r"])
    assert set(out.columns) == {"k", "v", "v_r"}


def test_aggregate_table(spark):
    """reference tests/test_table_aggregate.py:94-101: 2 groups,
    size=2 each, sum(B)=[4.0, 6.0]."""
    df = spark.createDataFrame(
        [(0, 1.0), (1, 2.0), (0, 3.0), (1, 4.0)], "A long, B double"
    )
    out = T.aggregate_table(
        df, ["A"],
        [{"id": "n"}, {"id": "sum_b", "kernel": "sum", "inputs": ["B"]}],
    )
    got = {r["A"]: (r["n"], r["sum_b"]) for r in out.collect()}
    assert got == {0: (2, 4.0), 1: (2, 6.0)}


def test_row_filter_dropna_predicate(spark):
    """reference tests/test_table_filter.py:32-33 (dropna) and
    :56-57 (predicate columns consumed & dropped)."""
    df = spark.createDataFrame(
        [(None, None), (2.0, 5.0), (3.0, None)], "A double, B double"
    )
    assert T.row_filter(df, dropna=True).count() == 1

    df2 = spark.createDataFrame(
        [(1, True, True), (2, True, False), (3, False, False)],
        "A long, P1 boolean, P2 boolean",
    )
    out = T.row_filter(df2, predicate=["P1", "P2"])
    assert out.columns == ["A"]
    assert [r["A"] for r in out.collect()] == [1]


def test_row_filter_slice(spark):
    """reference tests/test_table_filter.py:105-108: slice(1,4,2) on
    A=[1..6] keeps rows with values [2, 4]."""
    df = spark.createDataFrame([(i,) for i in range(1, 7)], "A long")
    out = T.row_filter(df, slice_spec={"start": 1, "end": 4, "step": 2}, order_by=["A"])
    assert sorted(r["A"] for r in out.collect()) == [2, 4]


def test_column_filter(spark):
    """reference tests/test_table_filter.py:135,158,180."""
    df = spark.createDataFrame([(1, 2, 3)], "A long, B long, C long")
    assert T.column_filter(df, keep=["A", "C"]).columns == ["A", "C"]
    assert T.column_filter(df, exclude=["B"]).columns == ["A", "C"]


def test_join_right_key_rename_collision(spark):
    """ADVICE fix: left_on/right_on join where the RIGHT table already
    has a non-key column named like the LEFT key — the pre-existing
    column must be suffix-renamed (pd.merge suffixes behavior), not
    collide with the renamed key."""
    from lambdo_spark.operators.table_ops import join_tables

    left = spark.createDataFrame([(1, "a"), (2, "b")], "k long, lv string")
    # right joins on rk, but ALSO carries an unrelated column named k
    right = spark.createDataFrame(
        [(1, 100, "x"), (2, 200, "y")], "rk long, k long, rv string"
    )
    out = join_tables(
        [left, right], keys=[{"left": ["k"], "right": ["rk"]}],
        suffixes=["_r"],
    )
    got = {tuple(r) for r in out.select("k", "lv", "k_r", "rv").collect()}
    assert got == {(1, "a", 100, "x"), (2, "b", 200, "y")}


def test_roll_min_periods_counts_observations_not_rows(spark):
    """pandas parity: min_periods counts non-null OBSERVATIONS — a
    3-row window holding [1, NULL, 2] has 2 observations and must
    yield NULL at min_periods=3 (pandas rolling(3, min_periods=3))."""
    import math

    from lambdo_spark.operators.column_ops import roll

    df = spark.createDataFrame(
        [(1, 1.0), (2, None), (3, 2.0), (4, 4.0), (5, 8.0)],
        "i long, v double",
    )
    out = {
        r["i"]: r["s"]
        for r in roll(df, "s", "sum", ["v"], 3, ["i"]).collect()
    }
    assert out[3] is None          # rows 1-3: only 2 observations
    assert out[4] is None          # rows 2-4: only 2 observations
    assert out[5] == 14.0          # rows 3-5: all present
    # pandas cross-check
    import pandas as pd

    exp = pd.Series([1.0, None, 2.0, 4.0, 8.0]).rolling(3, min_periods=3).sum()
    for i in range(1, 6):
        e = exp[i - 1]
        assert (out[i] is None) == math.isnan(e) or out[i] == e


@pytest.mark.parametrize("kernel", ["median", "sum"])
def test_roll_min_periods_does_not_count_nan(spark, kernel):
    """pandas treats NaN as missing: [1.0, NaN, 2.0] at window 3 holds 2
    observations, so min_periods=3 leaves every row NULL."""
    import pandas as pd

    df = spark.createDataFrame([(1, 1.0), (2, float("nan")), (3, 2.0)],
                               "i long, v double")
    out = C.roll(df, "s", kernel, ["v"], 3, ["i"], min_periods=3)
    assert [r["s"] for r in out.orderBy("i").collect()] == [None, None, None]
    exp = getattr(pd.Series([1.0, float("nan"), 2.0]).rolling(3, min_periods=3), kernel)()
    assert exp.isna().all()


@pytest.mark.parametrize("kernel,last", [("sum", 3.0), ("mean", 1.5), ("max", 2.0)])
def test_roll_skips_nan_like_pandas(spark, kernel, last):
    """A NaN inside an otherwise valid float window is missing, as in
    pandas: it neither poisons ``sum``/``mean`` nor wins ``max``."""
    import pandas as pd

    df = spark.createDataFrame([(1, 1.0), (2, float("nan")), (3, 2.0)],
                               "i long, v double")
    out = C.roll(df, "s", kernel, ["v"], 3, ["i"], min_periods=2)
    assert [r["s"] for r in out.orderBy("i").collect()] == [None, None, last]
    exp = getattr(pd.Series([1.0, float("nan"), 2.0]).rolling(3, min_periods=2), kernel)()
    assert exp.isna().tolist() == [True, True, False] and exp.iloc[2] == last


def test_roll_range_skips_nan_like_pandas(spark):
    import pandas as pd

    df = spark.createDataFrame([(1, 1.0), (2, float("nan")), (3, 2.0)],
                               "i long, v double").withColumn("ts", F.col("i").cast("timestamp"))
    out = C.roll_range(df, "s", "sum", ["v"], 3, "ts")
    assert [r["s"] for r in out.orderBy("i").collect()] == [1.0, 1.0, 3.0]
    exp = pd.Series([1.0, float("nan"), 2.0], index=pd.to_datetime([1, 2, 3], unit="s"))
    assert exp.rolling("3s").sum().tolist() == [1.0, 1.0, 3.0]


def test_roll_gate_on_integers_plans_no_nan_test(spark):
    """The NaN test is only planned over float/double inputs: an integer
    column keeps the plain ``count`` gate."""
    df = spark.createDataFrame([(1, 1), (2, None), (3, 2)], "i long, v long")
    out = C.roll(df, "s", "sum", ["v"], 2, ["i"])
    assert "isnan" not in out._jdf.queryExecution().analyzed().toString()
    assert [r["s"] for r in out.orderBy("i").collect()] == [None, None, None]
    floats = C.roll(df.withColumn("v", F.col("v").cast("double")), "s", "sum", ["v"], 2,
                    ["i"])
    assert "isnan" in floats._jdf.queryExecution().analyzed().toString()
