"""Holistic registry kernels (median, MAD, quantile) as JVM aggregates.

Each result is checked against pandas evaluated frame by frame — the
definition the kernels restate — not against the package's own
kernels: rolling frames bit for bit, group aggregates at 1e-12.
"""

import numpy as np
import pandas as pd
import pytest

from pyspark.sql import functions as F

from lambdo_spark.operators.column_ops import roll, roll_range
from lambdo_spark.operators.table_ops import aggregate_table

QS = (0.1, 0.3, 0.5, 0.9)


def _mad(s: pd.Series) -> float:
    return (s - s.median()).abs().median()


KERNELS = {
    "median": pd.Series.median,
    "mad": _mad,
    **{f"quantile:{q}": (lambda s, q=q: s.quantile(q)) for q in QS},
}


def _kernel_args(name):
    kernel, _, q = name.partition(":")
    return kernel, ({"q": float(q)} if q else None)


@pytest.fixture(scope="module")
def series():
    """12 keys of uneven length, ~15 % nulls, one key all NULL and one
    with a single row; ``ts`` is irregular epoch seconds."""
    rng = np.random.default_rng(13)
    rows = []
    for k in range(12):
        n = 1 if k == 11 else int(rng.integers(5, 40))
        ts = np.cumsum(rng.integers(1, 90, size=n))
        for i in range(n):
            v = None if k == 10 or rng.random() < 0.15 else float(rng.normal(0, 50))
            rows.append((k, i, int(ts[i]), v))
    return pd.DataFrame(rows, columns=["k", "i", "ts", "v"])


def _sdf(spark, pdf):
    return spark.createDataFrame(pdf.astype(object).where(pdf.notna(), None),
                                 "k long, i long, ts long, v double")


def _rolling_ref(pdf, fn, window, min_periods):
    out = []
    for _, g in pdf.sort_values(["k", "i"]).groupby("k", sort=False):
        vals = g["v"].to_numpy(dtype=float)
        for j in range(len(vals)):
            frame = pd.Series(vals[max(0, j - window + 1): j + 1])
            ok = frame.notna().sum() >= min_periods
            out.append((g["i"].iloc[j], g["k"].iloc[j], fn(frame) if ok else np.nan))
    return pd.DataFrame(out, columns=["i", "k", "want"])


def _same(got, want):
    # bit-identical, NULL where pandas gives NaN
    np.testing.assert_array_equal(got.to_numpy(dtype=float), want.to_numpy(dtype=float))


@pytest.mark.parametrize("window,min_periods", [(7, 1), (7, 3), (7, 7), (8, 1), (8, 8)])
def test_roll_bit_identical_to_pandas(spark, series, window, min_periods):
    df = _sdf(spark, series)
    for j, name in enumerate(KERNELS):
        kernel, model = _kernel_args(name)
        df = roll(df, f"o{j}", kernel, ["v"], window, ["i"], ["k"],
                  model=model, min_periods=min_periods)
    got = df.toPandas().sort_values(["k", "i"]).reset_index(drop=True)
    for j, (name, fn) in enumerate(KERNELS.items()):
        want = _rolling_ref(series, fn, window, min_periods)
        _same(got[f"o{j}"], want["want"])
    # the all-NULL key yields NULL throughout
    assert got.loc[got["k"] == 10, [f"o{j}" for j in range(len(KERNELS))]].isna().all().all()


def test_roll_range_bit_identical_to_pandas(spark, series):
    rng_s = 120
    df = _sdf(spark, series).withColumn("t", F.timestamp_seconds("ts"))
    for j, name in enumerate(KERNELS):
        kernel, model = _kernel_args(name)
        df = roll_range(df, f"o{j}", kernel, ["v"], rng_s, "t", ["k"], model=model)
    got = df.toPandas().sort_values(["k", "i"]).reset_index(drop=True)
    ref = series.sort_values(["k", "i"]).reset_index(drop=True)
    for j, fn in enumerate(KERNELS.values()):
        want = []
        for _, r in ref.iterrows():
            g = ref[(ref["k"] == r["k"]) & (ref["ts"] > r["ts"] - rng_s) & (ref["ts"] <= r["ts"])]
            want.append(fn(g["v"].astype(float)))
        _same(got[f"o{j}"], pd.Series(want))


def test_group_aggregate_matches_pandas(spark, series):
    aggs = [{"id": f"o{j}", "kernel": kernel, "inputs": ["v"], "model": model or {}}
            for j, (kernel, model) in enumerate(map(_kernel_args, KERNELS))]
    got = aggregate_table(_sdf(spark, series), ["k"], aggs).toPandas().sort_values("k")
    want = series.groupby("k")["v"].agg(list(KERNELS.values()))
    for j in range(len(KERNELS)):
        np.testing.assert_allclose(
            got[f"o{j}"].to_numpy(dtype=float), want.iloc[:, j].to_numpy(dtype=float),
            rtol=1e-12, atol=1e-12,
        )


def test_quantile_rejects_q_outside_unit_interval(spark, series):
    with pytest.raises(ValueError, match="q must be in"):
        roll(_sdf(spark, series), "o", "quantile", ["v"], 3, ["i"], ["k"], model={"q": 1.5})


# ------------------------------------------------------------ plans

_PY_NODES = ("InPandas", "ArrowEvalPython", "ArrowWindowPython", "ArrowAggregatePython")


def _python_nodes(df):
    plan = df._jdf.queryExecution().executedPlan().toString()
    return [n for n in _PY_NODES if n in plan]


def test_registry_kernels_plan_without_python(spark, series):
    df = _sdf(spark, series)
    rolled = df
    for j, name in enumerate(KERNELS):
        kernel, model = _kernel_args(name)
        rolled = roll(rolled, f"o{j}", kernel, ["v"], 7, ["i"], ["k"], model=model)
    grouped = aggregate_table(df, ["k"], [{"id": "m", "kernel": "mad", "inputs": ["v"]}])
    assert _python_nodes(rolled) == []
    assert _python_nodes(grouped) == []


def test_user_callable_keeps_the_pandas_path(spark, series):
    from lambdo_spark.plans.compiler import compile_workflow

    pdf = series[series["v"].notna()]
    spec = {"tables": [
        {"id": "t", "operation": "data", "order_by": ["i"], "partition_by": ["k"],
         "columns": [{"id": "m", "operation": "roll", "kernel": "statistics:median",
                      "inputs": ["v"], "window": 5, "min_periods": 1}]},
    ]}
    out = compile_workflow(spec, spark, {"t": _sdf(spark, pdf)})["t"]
    assert _python_nodes(out)
    got = out.toPandas().sort_values(["k", "i"]).reset_index(drop=True)
    _same(got["m"], _rolling_ref(pdf, pd.Series.median, 5, 1)["want"])


def test_window_aggregate_holistic_on_a_stream_equals_batch(spark, tmp_path):
    """A holistic kernel is a JVM aggregate, so streaming
    ``window_aggregate`` takes it (a GROUPED_AGG pandas UDF is refused
    by streaming aggregation); over a 2-file ``availableNow`` stream
    whose files both feed every (window, key), the state-merged result
    equals the batch one."""
    from lambdo_spark.operators.table_ops import window_aggregate

    rows = [(i % 3, 3600 * (i // 10) + i, float((i * 37) % 101)) for i in range(60)]
    for j in range(2):
        (spark.createDataFrame(rows[j::2], "k long, t long, v double")
         .withColumn("t", F.timestamp_seconds("t"))
         .coalesce(1).write.parquet(str(tmp_path / "in" / f"f{j}")))
    path = str(tmp_path / "in" / "*")
    aggs = [{"id": "med", "kernel": "median", "inputs": ["v"]},
            {"id": "mad", "kernel": "mad", "inputs": ["v"]},
            {"id": "q", "kernel": "quantile", "inputs": ["v"], "model": {"q": 0.3}}]
    src = (spark.readStream.schema("k long, t timestamp, v double")
           .option("maxFilesPerTrigger", 1).parquet(path))
    q = (window_aggregate(src, "t", "1 hour", ["k"], aggs)
         .writeStream.format("memory").queryName("holistic_wagg").outputMode("complete")
         .option("checkpointLocation", str(tmp_path / "ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination()
    assert len([p for p in q.recentProgress if p["numInputRows"] > 0]) == 2
    got = spark.table("holistic_wagg").toPandas().sort_values(["bucket_s", "k"])
    want = window_aggregate(spark.read.parquet(path), "t", "1 hour", ["k"], aggs)
    want = want.toPandas().sort_values(["bucket_s", "k"])
    pd.testing.assert_frame_equal(got.reset_index(drop=True), want.reset_index(drop=True))
