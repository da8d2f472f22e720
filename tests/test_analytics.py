"""Series analytics: EWMA, seasonal anomaly, CUSUM, correlation.

Cross-checked against independent pandas/numpy computations (not the
module's own kernels) and golden hand-walks for the recursions.
"""

import numpy as np
import pandas as pd
import pytest

from pyspark.sql import functions as F

from lambdo_spark.rollup.analytics import (
    anomaly_seasonal,
    corr_pairs,
    cusum,
    ewma,
)


def _series_df(spark, rows, cols=("k", "ts", "v")):
    return spark.createDataFrame([tuple(r) for r in rows], list(cols))


# ------------------------------------------------------------- ewma


@pytest.mark.parametrize("adjust", [True, False])
def test_ewma_matches_pandas(spark, adjust):
    rng = np.random.default_rng(7)
    rows = []
    for k in ["a", "b", "c"]:
        vals = rng.integers(0, 1000, size=40)
        for i, v in enumerate(vals):
            rows.append((k, i, int(v)))
    df = _series_df(spark, rows)
    got = (
        ewma(df, "v", ["ts"], ["k"], alpha=0.3, adjust=adjust)
        .toPandas()
        .sort_values(["k", "ts"])
        .reset_index(drop=True)
    )
    exp = (
        pd.DataFrame(rows, columns=["k", "ts", "v"])
        .sort_values(["k", "ts"])
        .reset_index(drop=True)
    )
    exp["ewma"] = exp.groupby("k")["v"].transform(
        lambda s: s.astype(float).ewm(alpha=0.3, adjust=adjust).mean()
    )
    np.testing.assert_allclose(got["ewma"], exp["ewma"], rtol=1e-12)


def test_ewma_closed_form_single_series(spark):
    # adjust=True is the explicit weighted ratio — verify against a
    # from-scratch O(n^2) evaluation, independent of pandas.
    vals = [10, 0, 50, 20, 20, 80]
    df = _series_df(spark, [("s", i, v) for i, v in enumerate(vals)])
    got = (
        ewma(df, "v", ["ts"], ["k"], alpha=0.5)
        .toPandas()
        .sort_values("ts")["ewma"]
        .to_numpy()
    )
    a = 0.5
    exp = []
    for t in range(len(vals)):
        ws = [(1 - a) ** (t - i) for i in range(t + 1)]
        exp.append(sum(w * v for w, v in zip(ws, vals[: t + 1])) / sum(ws))
    np.testing.assert_allclose(got, exp, rtol=1e-12)


def test_ewma_null_passthrough(spark):
    df = spark.createDataFrame(
        [("s", 0, 10.0), ("s", 1, None), ("s", 2, 20.0)], ["k", "ts", "v"]
    )
    got = (
        ewma(df, "v", ["ts"], ["k"], alpha=0.5)
        .toPandas()
        .sort_values("ts")["ewma"]
        .to_numpy()
    )
    # pandas ignore_na=False: a NULL row re-emits the previous
    # smoothed value but still decays the old weight, so
    # y_2 = (0.25*10 + 20) / 1.25 = 18.
    exp = pd.Series([10.0, np.nan, 20.0]).ewm(alpha=0.5, adjust=True).mean()
    np.testing.assert_allclose(got, exp, rtol=1e-12)
    assert got[1] == pytest.approx(10.0)
    assert got[2] == pytest.approx(18.0)


def test_ewma_alpha_validation(spark):
    df = _series_df(spark, [("s", 0, 1)])
    with pytest.raises(ValueError):
        ewma(df, "v", ["ts"], ["k"], alpha=0.0)


@pytest.mark.parametrize("adjust", [True, False])
def test_ewma_series_straddle_arrow_batches(spark, adjust):
    """Batches of 7 rows cut every series (20–40 rows) several times:
    the held-back tail group must make each series one ewm pass,
    bit-identical to per-series pandas. Two key columns, one NULL."""
    rng = np.random.default_rng(11)
    rows = []
    for k1, k2 in [("a", 1), ("a", 2), ("b", 1), ("b", None), (None, 3)]:
        n = int(rng.integers(20, 40))
        for i, t in enumerate(rng.permutation(n)):
            v = None if rng.random() < 0.1 else float(rng.integers(0, 1000))
            rows.append((k1, k2, int(t), v))
    df = spark.createDataFrame(rows, "k1 string, k2 long, ts long, v double")
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(conf)
    spark.conf.set(conf, "7")
    try:
        got = ewma(df, "v", ["ts"], ["k1", "k2"], alpha=0.3, adjust=adjust).toPandas()
    finally:
        spark.conf.set(conf, old)
    ref = pd.DataFrame(rows, columns=["k1", "k2", "ts", "v"])
    for (k1, k2), g in ref.groupby(["k1", "k2"], dropna=False):
        g = g.sort_values("ts")
        want = g["v"].astype(float).ewm(alpha=0.3, adjust=adjust).mean().to_numpy()
        mine = got[(got["k1"].isna() if pd.isna(k1) else got["k1"] == k1)
                   & (got["k2"].isna() if pd.isna(k2) else got["k2"] == k2)]
        np.testing.assert_array_equal(mine.sort_values("ts")["ewma"].to_numpy(), want)
    assert len(got) == len(rows)


@pytest.mark.parametrize("adjust", [True, False])
def test_ewma_long_series_spans_many_arrow_batches(spark, adjust):
    """One 200-row series between two short ones, in batches of 7:
    the held group goes on through ~28 whole batches and must still
    come out as one ewm pass, bit-identical to pandas."""
    rng = np.random.default_rng(5)
    rows = []
    for k, n in [("a", 3), ("b", 200), ("c", 4)]:
        for t in rng.permutation(n):
            v = None if rng.random() < 0.1 else float(rng.integers(0, 1000))
            rows.append((k, int(t), v))
    df = _series_df(spark, rows)
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(conf)
    spark.conf.set(conf, "7")
    try:
        got = ewma(df, "v", ["ts"], ["k"], alpha=0.2, adjust=adjust).toPandas()
    finally:
        spark.conf.set(conf, old)
    ref = pd.DataFrame(rows, columns=["k", "ts", "v"])
    assert len(got) == len(rows)
    for k, g in ref.groupby("k"):
        want = g.sort_values("ts")["v"].astype(float).ewm(alpha=0.2, adjust=adjust).mean()
        mine = got[got["k"] == k].sort_values("ts")["ewma"].to_numpy()
        np.testing.assert_array_equal(mine, want.to_numpy())


def test_ewma_without_keys_is_one_series(spark):
    rows = [(k, t, float(v)) for t, (k, v) in enumerate(zip("abab", [4, 8, 2, 6]))]
    got = ewma(_series_df(spark, rows), "v", ["ts"], [], alpha=0.5).toPandas()
    want = pd.Series([4.0, 8.0, 2.0, 6.0]).ewm(alpha=0.5).mean().to_numpy()
    np.testing.assert_array_equal(got.sort_values("ts")["ewma"].to_numpy(), want)


def test_ewma_plans_one_exchange_and_a_batch_map(spark):
    df = _series_df(spark, [("a", i, i) for i in range(5)])
    plan = ewma(df, "v", ["ts"], ["k"], alpha=0.5)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange ") == 1
    assert "MapInPandas" in plan
    assert "FlatMapGroupsInPandas" not in plan


# ------------------------------------------------- seasonal anomaly


def test_anomaly_seasonal_flags_spike(spark):
    # 10 days of hourly data, flat value 100 at every hour, except a
    # 10x spike at day 9 hour 5. Baseline for that bucket = prior
    # same-hour values -> sd 0 -> but sd==0 means NULL z ... so add
    # mild jitter to make sd positive.
    rows = []
    for day in range(10):
        for hod in range(24):
            v = 100 + (day % 3)  # jitter 0/1/2 -> sd > 0
            if day == 9 and hod == 5:
                v = 1000
            rows.append(("u", day * 86400 + hod * 3600, v))
    df = _series_df(spark, rows, cols=("k", "bucket_s", "v"))
    out = anomaly_seasonal(
        df, "v", "bucket_s", ["k"], period_s=86400, lookback=7, min_prior=3
    ).toPandas()
    flagged = out[out["is_anomaly"]]
    assert list(flagged["bucket_s"]) == [9 * 86400 + 5 * 3600]
    # cold-start rows (first 3 days) never flag and have NULL z
    early = out[out["bucket_s"] < 3 * 86400]
    assert not early["is_anomaly"].any()
    assert early["zscore"].isna().all()


def test_anomaly_seasonal_matches_pandas(spark):
    rng = np.random.default_rng(3)
    rows = [
        ("u", d * 86400 + h * 3600, int(rng.integers(0, 500)))
        for d in range(8)
        for h in range(4)
    ]
    df = _series_df(spark, rows, cols=("k", "bucket_s", "v"))
    out = (
        anomaly_seasonal(df, "v", "bucket_s", ["k"], lookback=5, min_prior=2)
        .toPandas()
        .sort_values("bucket_s")
        .reset_index(drop=True)
    )
    pdf = (
        pd.DataFrame(rows, columns=["k", "bucket_s", "v"])
        .sort_values("bucket_s")
        .reset_index(drop=True)
    )
    pdf["phase"] = pdf["bucket_s"] % 86400
    g = pdf.groupby("phase")["v"]
    mean = g.transform(lambda s: s.shift(1).rolling(5, min_periods=1).mean())
    sd = g.transform(lambda s: s.shift(1).rolling(5, min_periods=2).std())
    n = g.transform(lambda s: s.shift(1).rolling(5, min_periods=1).count())
    z = (pdf["v"] - mean) / sd
    z[(n < 2) | ~(sd > 0)] = np.nan
    got = out.set_index("bucket_s")
    exp = pd.DataFrame({"bucket_s": pdf["bucket_s"], "z": z}).set_index("bucket_s")
    np.testing.assert_allclose(
        got["zscore"].astype(float), exp["z"], rtol=1e-10, equal_nan=True
    )


# ----------------------------------------------------------- cusum


def test_cusum_golden_recursion(spark):
    vals = [5, 7, 3, 9, 9, 9, 2, 1, 8]
    target, slack = 5, 1
    df = _series_df(spark, [("s", i, v) for i, v in enumerate(vals)])
    out = (
        cusum(df, "v", ["ts"], ["k"], target=target, slack=slack)
        .toPandas()
        .sort_values("ts")
        .reset_index(drop=True)
    )
    sp = sn = 0
    exp_p, exp_n = [], []
    for v in vals:
        sp = max(0, sp + (v - target - slack))
        sn = max(0, sn - (v - target + slack))
        exp_p.append(sp)
        exp_n.append(sn)
    assert list(out["cusum_pos"]) == exp_p
    assert list(out["cusum_neg"]) == exp_n


def test_cusum_column_target_and_keys(spark):
    rows = [("a", 0, 10, 8), ("a", 1, 4, 8), ("b", 0, 1, 0), ("b", 1, 5, 0)]
    df = _series_df(spark, rows, cols=("k", "ts", "v", "base"))
    out = (
        cusum(df, "v", ["ts"], ["k"], target="base")
        .toPandas()
        .sort_values(["k", "ts"])
        .reset_index(drop=True)
    )
    # a: devs +2,-4 -> pos 2,0 ; b: devs +1,+5 -> pos 1,6
    assert list(out["cusum_pos"]) == [2, 0, 1, 6]


def test_cusum_one_exchange_one_sort(spark):
    # chained Window nodes over the same (keys, order) spec must reuse
    # a single hash exchange and a single sort — the scale contract.
    df = _series_df(spark, [("s", i, i) for i in range(10)])
    plan = cusum(df, "v", ["ts"], ["k"])._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1
    assert plan.count("+- Sort ") == 1


# ------------------------------------------------------ correlation


def test_corr_pairs_matches_numpy(spark):
    rng = np.random.default_rng(11)
    base = rng.normal(size=50)
    series = {
        "x": base + rng.normal(scale=0.1, size=50),
        "y": -2 * base + rng.normal(scale=0.1, size=50),
        "z": rng.normal(size=50),
    }
    rows = [
        (name, i, float(v))
        for name, vals in series.items()
        for i, v in enumerate(vals)
    ]
    df = _series_df(spark, rows, cols=("series", "bucket", "v"))
    out = (
        corr_pairs(df, "v", "series", "bucket")
        .toPandas()
        .set_index(["series_a", "series_b"])
    )
    for a, b in [("x", "y"), ("x", "z"), ("y", "z")]:
        exp = np.corrcoef(series[a], series[b])[0, 1]
        assert out.loc[(a, b), "pearson_r"] == pytest.approx(exp, rel=1e-9)
        assert out.loc[(a, b), "n_buckets"] == 50
    assert out.loc[("x", "y"), "pearson_r"] < -0.9


def test_corr_pairs_partial_overlap(spark):
    rows = [("p", i, float(i)) for i in range(10)] + [
        ("q", i, float(2 * i)) for i in range(5, 15)
    ]
    df = _series_df(spark, rows, cols=("series", "bucket", "v"))
    out = corr_pairs(df, "v", "series", "bucket").toPandas()
    assert len(out) == 1
    assert out.iloc[0]["n_buckets"] == 5  # buckets 5..9 shared
    assert out.iloc[0]["pearson_r"] == pytest.approx(1.0)


# ---------------------------------------------- rolling correlation


def test_rolling_corr_matches_pandas(spark):
    from lambdo_spark.rollup.analytics import rolling_corr

    rng = np.random.default_rng(21)
    rows = []
    for k in ["a", "b"]:
        x = rng.integers(0, 1000, size=50)
        y = (x * 2 + rng.integers(-100, 100, size=50)).astype(int)
        rows += [(k, i, int(x[i]), int(y[i])) for i in range(50)]
    df = _series_df(spark, rows, cols=("k", "ts", "x", "y"))
    got = (
        rolling_corr(df, "x", "y", ["ts"], ["k"], window=8)
        .toPandas()
        .sort_values(["k", "ts"])
        .reset_index(drop=True)
    )
    pdf = (
        pd.DataFrame(rows, columns=["k", "ts", "x", "y"])
        .sort_values(["k", "ts"])
        .reset_index(drop=True)
    )
    exp = (
        pdf.groupby("k")
        .apply(
            lambda g: g["x"].rolling(8).corr(g["y"]),
            include_groups=False,
        )
        .reset_index(drop=True)
    )
    np.testing.assert_allclose(
        got["rolling_corr"].astype(float),
        exp.astype(float),
        rtol=1e-9,
        equal_nan=True,
    )


def test_rolling_corr_degenerate_and_min_periods(spark):
    from lambdo_spark.rollup.analytics import rolling_corr

    rows = [("s", i, 5, i) for i in range(6)]  # x constant -> var 0
    df = _series_df(spark, rows, cols=("k", "ts", "x", "y"))
    out = rolling_corr(df, "x", "y", ["ts"], ["k"], window=3).toPandas()
    assert out["rolling_corr"].isna().all()
    rows2 = [("s", i, i, 2 * i + 1) for i in range(6)]
    df2 = _series_df(spark, rows2, cols=("k", "ts", "x", "y"))
    out2 = (
        rolling_corr(df2, "x", "y", ["ts"], ["k"], window=3, min_periods=2)
        .toPandas()
        .sort_values("ts")
    )
    assert np.isnan(out2["rolling_corr"].iloc[0])  # 1 sample
    np.testing.assert_allclose(out2["rolling_corr"].iloc[1:], 1.0)


def test_rolling_corr_one_exchange(spark):
    from lambdo_spark.rollup.analytics import rolling_corr

    df = _series_df(spark, [("s", i, i, i) for i in range(10)],
                    cols=("k", "ts", "x", "y"))
    plan = (
        rolling_corr(df, "x", "y", ["ts"], ["k"], window=4)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Exchange") == 1
    assert plan.count("+- Sort ") == 1


# ------------------------------------------------------ Holt-Winters


def _py_holt_winters(x, m, a, b, g):
    """Independent reference for the pinned additive recursion."""
    lvl = sum(x[:m]) / m
    trend = (sum(x[m:2 * m]) / m - sum(x[:m]) / m) / m
    seas = [v - sum(x[:m]) / m for v in x[:m]]
    fitted = []
    for t in range(m, len(x)):
        sp = seas[t - m]
        fitted.append(lvl + trend + sp)
        ln = a * (x[t] - sp) + (1 - a) * (lvl + trend)
        trend = b * (ln - lvl) + (1 - b) * trend
        seas.append(g * (x[t] - ln) + (1 - g) * sp)
        lvl = ln
    return lvl, trend, seas, fitted


def test_holt_winters_fitted_matches_reference(spark):
    from lambdo_spark.rollup.analytics import holt_winters

    rng = np.random.default_rng(31)
    m = 6
    x = [
        100 + 2 * t + 10 * np.sin(2 * np.pi * (t % m) / m)
        + float(rng.normal(scale=1))
        for t in range(40)
    ]
    df = _series_df(spark, [("s", t, float(v)) for t, v in enumerate(x)])
    out = (
        holt_winters(df, "v", ["ts"], ["k"], m, 0.4, 0.2, 0.3, mode="fitted")
        .toPandas()
        .sort_values("ts")
        .reset_index(drop=True)
    )
    _, _, _, fitted = _py_holt_winters(x, m, 0.4, 0.2, 0.3)
    assert list(out["ts"]) == list(range(m, 40))
    np.testing.assert_allclose(out["hw_fitted"], fitted, rtol=1e-12)


def test_holt_winters_forecast_matches_reference(spark):
    from lambdo_spark.rollup.analytics import holt_winters

    m = 4
    x = [10, 20, 30, 40, 14, 26, 33, 47, 18, 28, 39, 49]
    df = _series_df(spark, [("s", t, float(v)) for t, v in enumerate(x)])
    out = (
        holt_winters(df, "v", ["ts"], ["k"], m, steps=6)
        .toPandas()
        .sort_values("h")
        .reset_index(drop=True)
    )
    lvl, trend, seas, _ = _py_holt_winters(x, m, 0.3, 0.1, 0.2)
    n = len(x)
    exp = [
        lvl + h * trend + seas[n - m + ((h - 1) % m)] for h in range(1, 7)
    ]
    np.testing.assert_allclose(out["hw_forecast"], exp, rtol=1e-12)
    # forecast tracks the trend+seasonality shape: h=5 repeats h=1's
    # seasonal offset one trend-period later
    assert out["hw_forecast"].iloc[4] > out["hw_forecast"].iloc[0]


def test_holt_winters_short_series_and_keys(spark):
    from lambdo_spark.rollup.analytics import holt_winters

    rows = [("long", t, float(t % 3 + t)) for t in range(12)] + [
        ("short", t, 1.0) for t in range(4)
    ]
    df = _series_df(spark, rows)
    out = holt_winters(df, "v", ["ts"], ["k"], 3, steps=2).toPandas()
    assert set(out["k"]) == {"long"}  # short series (< 2m) emits nothing
    assert sorted(out["h"]) == [1, 2]


def test_holt_winters_validation(spark):
    from lambdo_spark.rollup.analytics import holt_winters

    df = _series_df(spark, [("s", 0, 1.0)])
    with pytest.raises(ValueError):
        holt_winters(df, "v", ["ts"], ["k"], 0)
    with pytest.raises(ValueError):
        holt_winters(df, "v", ["ts"], ["k"], 2, mode="nope")


def test_rolling_corr_rejects_float_inputs(spark):
    from lambdo_spark.rollup.analytics import rolling_corr

    df = spark.createDataFrame([("s", 0, 1.5, 2)], ["k", "ts", "x", "y"])
    with pytest.raises(ValueError, match="integer inputs"):
        rolling_corr(df, "x", "y", ["ts"], ["k"], window=3)


# -------------------------------- composition with the tier read path


def test_analytics_over_finalized_tier(spark, tmp_path):
    """The monitoring chain the engine exists for: retention pipeline
    writes the 1h tier → pruned snapshot read → seasonal anomaly +
    CUSUM over n_points per url — the analytics ops must compose with
    the lakehouse read path, not just raw frames."""
    from lambdo_spark.rollup.analytics import anomaly_seasonal, cusum
    from lambdo_spark.rollup.incremental import read_finalized_tier
    from lambdo_spark.rollup.pipeline import run_retention_pipeline
    from lambdo_spark.sources.pages import generate_pages

    root = str(tmp_path / "tiers")
    run_retention_pipeline(
        spark, generate_pages(spark, 4000), root, enforce_audit=False
    )
    tier = read_finalized_tier(spark, root, "1h")
    assert {"url", "bucket_s", "n_points"} <= set(tier.columns)
    flagged = anomaly_seasonal(
        tier, "n_points", "bucket_s", ["url"], lookback=7, min_prior=2,
        threshold=2.0,
    )
    out = flagged.select("url", "bucket_s", "zscore", "is_anomaly").toPandas()
    assert len(out) == tier.count()  # one verdict per tier row
    assert out["is_anomaly"].isin([True, False]).all()
    scored = cusum(tier, "n_points", ["bucket_s"], ["url"])
    pdf = scored.select("cusum_pos", "cusum_neg").toPandas()
    assert (pdf["cusum_pos"] >= 0).all() and (pdf["cusum_neg"] >= 0).all()


def test_corr_pairs_max_series_guard(spark):
    """More distinct series than max_series must raise loudly when the
    query runs (the pair join is quadratic in series count), and the
    bound must be raisable / disablable deliberately."""
    import pytest as _pytest
    from pyspark.errors import SparkRuntimeException

    rows = [(f"s{i}", b, float(i + b)) for i in range(6) for b in range(3)]
    df = spark.createDataFrame(rows, ["series", "bucket", "v"])
    guarded = corr_pairs(df, "v", "series", "bucket", max_series=5)
    with _pytest.raises(SparkRuntimeException, match="6 distinct series exceeds max_series=5"):
        guarded.collect()
    # explicit higher bound (or None) proceeds
    assert corr_pairs(df, "v", "series", "bucket", max_series=6).count() == 15
    assert corr_pairs(df, "v", "series", "bucket", max_series=None).count() == 15


def test_corr_pairs_guard_builds_without_a_job(spark):
    """The max_series guard lives in the plan: building the frame runs
    no Spark job (the count used to run at construction time)."""
    rows = [(f"s{i}", b, float(i * b)) for i in range(4) for b in range(3)]
    df = spark.createDataFrame(rows, ["series", "bucket", "v"])
    sc = spark.sparkContext
    group = "corr_pairs_build"
    sc.setJobGroup(group, "plan build only")
    try:
        out = corr_pairs(df, "v", "series", "bucket", max_series=3)
        out.schema  # analysed, not run
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
