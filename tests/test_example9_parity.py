"""Reference examples 6/9 re-expressed through this engine's registry
fits — the last reference-example gap (1–5 run AS SHIPPED in
test_reference_examples_parity; 6–9 import sklearn, absent in this
sandbox, so the reference itself cannot execute them here).

What parity means without sklearn: example9's pipeline
(reference examples/example9.json) is rebuilt feature-for-feature
with this engine's operators — price_fn
as a null-guarded JVM expression, mean_weighted/mean rolls, the
linear_trend_fn slope (examples/example9.py:26-33) via the registry
``slope`` kernel (OLS slope is closed-form; sklearn's
LinearRegression.coef_ IS that closed form, so the kernel equals what
the reference would compute), join with ["", "_vix"] suffixes,
shift(-10) future max, the ge-threshold label, dropna — and the three
trained prediction columns (lr/gb/rf, example9.py:61-98) are
re-expressed as registry fits (fit_linear + two fit_ridge strengths)
trained on the same slice(end=6000) split. Each fit's coefficients
are then checked against an independent numpy normal-equations solve
of the same training frame (and against sklearn itself when sklearn
IS importable — skipif keeps that leg green either way).

Inputs are seeded synthetic daily OHLCV series in the layout of the
reference's ^GSPC.csv / ^VIX.csv (Date, Open, High, Low, Close,
Adj Close, Volume; "null" for missing), written per test module: every
expected value is computed in-test from the same frame, so the suite
needs no external data.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import Window, functions as F

from lambdo_spark.functions.train import (
    fit_linear,
    fit_ridge,
    predict_expr,
    resolve_model,
)
from lambdo_spark.operators import column_ops as C
from lambdo_spark.operators.table_ops import join_tables, row_filter

N_DAYS = 7200


def _ohlcv_csv(path, seed: int, start: float, drift: float, vol: float,
               volume: bool) -> str:
    """A seeded geometric random walk as a daily OHLCV CSV, with a few
    "null" rows like the reference files."""
    rng = np.random.default_rng(seed)
    close = start * np.exp(np.cumsum(rng.normal(drift, vol, N_DAYS)))
    open_ = np.concatenate(([start], close[:-1])) * np.exp(rng.normal(0, vol / 4, N_DAYS))
    high = np.maximum(open_, close) * np.exp(np.abs(rng.normal(0, vol / 2, N_DAYS)))
    low = np.minimum(open_, close) * np.exp(-np.abs(rng.normal(0, vol / 2, N_DAYS)))
    pdf = pd.DataFrame({
        "Date": pd.bdate_range("1990-01-02", periods=N_DAYS).strftime("%Y-%m-%d"),
        "Open": open_.round(4), "High": high.round(4), "Low": low.round(4),
        "Close": close.round(4), "Adj Close": close.round(4),
        "Volume": (rng.lognormal(20, 0.3, N_DAYS).round() if volume
                   else np.zeros(N_DAYS)),
    })
    pdf.loc[rng.choice(np.arange(2000, N_DAYS), 3, replace=False), ["Open", "Close"]] = None
    pdf.to_csv(path, index=False, na_rep="null")
    return str(path)


@pytest.fixture(scope="module")
def csvs(tmp_path_factory):
    d = tmp_path_factory.mktemp("ohlcv")
    return (
        _ohlcv_csv(d / "GSPC.csv", seed=9, start=330.0, drift=3e-4, vol=0.011, volume=True),
        _ohlcv_csv(d / "VIX.csv", seed=10, start=20.0, drift=0.0, vol=0.05, volume=False),
    )

try:
    import sklearn  # noqa: F401

    HAVE_SKLEARN = True
except ImportError:
    HAVE_SKLEARN = False


def _price(df):
    """price_fn (examples/example9.py:17-23): (O+H+L+C)/4, null if any
    component is null — plain SQL arithmetic has exactly that rule."""
    return df.withColumn(
        "Price",
        (F.col("Open") + F.col("High") + F.col("Low") + F.col("Close")) / 4.0,
    )


def _features(spark, path, nrows=6900, vwap=True):
    df = (
        spark.read.csv(path, header=True, inferSchema=True, nullValue="null")
        .withColumn("_rn", F.row_number().over(Window.orderBy(F.monotonically_increasing_id())))
        .where(F.col("_rn") <= nrows)
    )
    df = _price(df)
    if vwap:
        # VWAP re-definition of Price (example9.json GSPC table only:
        # mean_weighted over (Price, Volume), window 2 — VIX has no
        # volume, its Price stays the plain OHLC average)
        df = C.roll(df, "PriceW", "mean_weighted", ["Price", "Volume"], 2, ["_rn"])
        df = df.drop("Price").withColumnRenamed("PriceW", "Price")
    # x for the trend slope: consecutive ordinal. OLS slope is
    # translation-invariant in x, so a global ordinal within any
    # trailing window equals linear_trend_fn's range(len(window)) fit.
    df = df.withColumn("x", F.col("_rn").cast("double"))
    for w in (20, 10, 5):
        df = C.roll(df, f"mean_Price_{w}", "mean", ["Price"], w, ["_rn"])
        df = C.roll(df, f"trend_Price_{w}", "slope", ["x", "Price"], w, ["_rn"])
    return df.drop("Date", "Open", "Low", "Adj Close", "Volume", "x")


FEATS = [
    "Price", "mean_Price_20", "mean_Price_10", "mean_Price_5",
    "trend_Price_20", "trend_Price_10", "trend_Price_5",
    "Price_vix", "mean_Price_20_vix", "mean_Price_10_vix",
    "mean_Price_5_vix", "trend_Price_20_vix", "trend_Price_10_vix",
    "trend_Price_5_vix",
]


@pytest.fixture(scope="module")
def merged(spark, csvs):
    gspc, vix = csvs
    g = _features(spark, gspc)
    v = _features(spark, vix, vwap=False)
    # example9 "Merged Table": join by row number, suffixes ["", "_vix"]
    m = join_tables(
        [g.drop("High", "Close"), v.drop("High", "Close", "_rn")],
        keys=[None], suffixes=["_vix"],
    ).join(g.select("_rn", "High", "Close"), "_rn")
    m = C.roll(m, "max_Price", "max", ["High"], 10, ["_rn"])
    m = C.shift(m, "max_Price_future_abs", "max_Price", -10, ["_rn"])
    # rel_diff_fn + ge_fn (example9.py:35-48)
    m = m.withColumn(
        "max_Price_future",
        F.when(
            F.col("max_Price_future_abs").isNotNull() & F.col("Close").isNotNull(),
            100.0 * (F.col("max_Price_future_abs") - F.col("Close")) / F.col("Close"),
        ),
    ).withColumn(
        "high_growth",
        F.when(F.col("max_Price_future").isNotNull(),
               (F.col("max_Price_future") >= 2.5).cast("int")),
    )
    m = m.drop("High", "max_Price", "max_Price_future_abs")
    m = row_filter(m, dropna=True)
    return m.persist()


def _np_fit(pdf: pd.DataFrame, feats, label, alpha=0.0):
    x = np.column_stack([np.ones(len(pdf))] + [pdf[c].to_numpy(float) for c in feats])
    y = pdf[label].to_numpy(float)
    a = x.T @ x
    if alpha:
        reg = np.eye(x.shape[1]) * alpha
        reg[0, 0] = 0.0  # intercept unpenalized, fit_ridge convention
        a = a + reg
    coef = np.linalg.solve(a, x.T @ y)
    return coef[0], coef[1:]


def _train_slice(merged) -> pd.DataFrame:
    return (
        row_filter(merged, slice_spec={"end": 6000}, order_by=["_rn"])
        .select("_rn", *FEATS, "high_growth").toPandas()
    )


def test_example9_three_models_registry_fits(merged):
    """The three trained columns (high_growth_lr/gb/rf) as registry
    fits on slice(end=6000), coefficient-parity vs numpy normal
    equations on the same frame, predictions materialized for ALL
    rows (the reference's train-on-slice / apply-everywhere split)."""
    tr = _train_slice(merged)
    assert len(tr) == 6000
    specs = [
        ("high_growth_lr", "fit_linear", 0.0),
        ("high_growth_gb", "fit_ridge", 1.0),
        ("high_growth_rf", "fit_ridge", 100.0),
    ]
    out = merged
    for name, fn, alpha in specs:
        model = resolve_model(
            f"$file:/tmp/_none_{name}.pkl_absent",  # absent → trains
            merged,
            {
                "function": fn, "inputs": FEATS, "outputs": ["high_growth"],
                "alpha": alpha,
                "row_filter": {"slice": {"end": 6000}, "order_by": ["_rn"]},
            },
        )
        ib, wb = _np_fit(tr, FEATS, "high_growth", alpha)
        np.testing.assert_allclose(model["weights"], wb, rtol=1e-6, atol=1e-10)
        np.testing.assert_allclose(model["intercept"], ib, rtol=1e-6, atol=1e-10)
        out = out.withColumn(name, predict_expr(model))
    got = out.select("_rn", *[s[0] for s in specs]).toPandas()
    assert len(got) == merged.count()          # applied beyond the train slice
    assert got[[s[0] for s in specs]].notna().all().all()
    # the three stand-ins are genuinely distinct models
    assert got["high_growth_lr"].round(9).tolist() != got["high_growth_rf"].round(9).tolist()


@pytest.mark.skipif(not HAVE_SKLEARN, reason="sklearn not installed")
def test_example9_fits_match_sklearn(merged):
    """When sklearn IS present (full cluster), fit_linear == sklearn
    LinearRegression and fit_ridge == sklearn Ridge on the exact
    training slice — closing the loop to the reference's own library."""
    from sklearn.linear_model import LinearRegression, Ridge

    tr = _train_slice(merged)
    x, y = tr[FEATS].to_numpy(float), tr["high_growth"].to_numpy(float)
    trdf = row_filter(merged, slice_spec={"end": 6000}, order_by=["_rn"])
    m_lin = fit_linear(trdf, FEATS, "high_growth")
    sk = LinearRegression().fit(x, y)
    np.testing.assert_allclose(m_lin["weights"], sk.coef_, rtol=1e-5, atol=1e-8)
    m_r = fit_ridge(trdf, FEATS, "high_growth", alpha=1.0)
    skr = Ridge(alpha=1.0).fit(x, y)
    np.testing.assert_allclose(m_r["weights"], skr.coef_, rtol=1e-4, atol=1e-6)


def test_example6_shape_close_tomorrow(spark, csvs):
    """Example 6 (example6.json:55-76): predict Close_Tomorrow from
    the daily columns, trained on slice(end=900) — re-expressed with
    fit_linear; coefficient parity vs numpy on the same 900 rows and
    predictions for every row including the held-out tail."""
    df = (
        spark.read.csv(csvs[0], header=True, inferSchema=True, nullValue="null")
        .withColumn("_rn", F.row_number().over(
            Window.orderBy(F.monotonically_increasing_id())))
        .where(F.col("_rn") <= 1000)
    )
    df = C.shift(df, "Close_Tomorrow", "Close", -1, ["_rn"])
    df = row_filter(df, dropna=True)
    feats = ["Open", "High", "Low", "Close", "Volume"]
    model = resolve_model(
        "$file:/tmp/_ex6_absent.pkl", df,
        {"function": "fit_linear", "inputs": feats,
         "outputs": ["Close_Tomorrow"],
         "row_filter": {"slice": {"end": 900}, "order_by": ["_rn"]}},
    )
    tr = (
        row_filter(df, slice_spec={"end": 900}, order_by=["_rn"])
        .select(*feats, "Close_Tomorrow").toPandas()
    )
    ib, wb = _np_fit(tr, feats, "Close_Tomorrow")
    np.testing.assert_allclose(model["weights"], wb, rtol=1e-6)
    got = df.withColumn("pred", predict_expr(model)).select("_rn", "pred").toPandas()
    assert got["pred"].notna().all() and len(got) == df.count()
    # tomorrow's close ≈ today's close: the fit must have learned that
    assert abs(model["weights"][3] - 1.0) < 0.2


def test_example7_shape_moving_average_model(spark, tmp_path, csvs):
    """Example 7 (example7.json): diff_high_low, Close_Tomorrow shift,
    the mean_Volume 10/5/2 rolling family, dropna, then a model
    trained on slice(end=900) predicting Close_Tomorrow — the
    GradientBoosting fit swapped for the registry linear fit (sklearn
    absent; the *pipeline shape* is what parity pins here), checked
    against a numpy normal-equations solve of the same frame."""
    df = (
        spark.read.csv(csvs[0], header=True, inferSchema=True, nullValue="null")
        .withColumn("_rn", F.row_number().over(
            Window.orderBy(F.monotonically_increasing_id())))
        .where(F.col("_rn") <= 1000)
    )
    df = df.withColumn("diff_high_low", F.col("High") - F.col("Low"))
    df = C.shift(df, "Close_Tomorrow", "Close", -1, ["_rn"])
    for w in (10, 5, 2):  # the extensions family
        df = C.roll(df, f"mean_Volume_{w}", "mean", ["Volume"], w, ["_rn"])
    df = row_filter(df, dropna=True)
    # NB: High/Low are excluded — diff_high_low IS High-Low, and an
    # exactly collinear design matrix has no unique linear solution to
    # compare (the reference's GB model is indifferent to collinearity)
    feats = ["Open", "Close", "Volume", "diff_high_low",
             "mean_Volume_10", "mean_Volume_5", "mean_Volume_2"]
    model = resolve_model(
        f"$file:{tmp_path}/ex7.json", df,
        {"function": "fit_linear", "inputs": feats,
         "outputs": ["Close_Tomorrow"],
         "row_filter": {"slice": {"end": 900}, "order_by": ["_rn"]}},
    )
    tr = (
        row_filter(df, slice_spec={"end": 900}, order_by=["_rn"])
        .select(*feats, "Close_Tomorrow").toPandas()
    )
    ib, wb = _np_fit(tr, feats, "Close_Tomorrow")
    np.testing.assert_allclose(model["weights"], wb, rtol=1e-5, atol=1e-8)
    got = df.withColumn("pred", predict_expr(model))
    assert got.where(F.col("pred").isNull()).count() == 0


def test_example8_shape_two_source_join_model(spark, tmp_path, csvs):
    """Example 8 (example8.json): GSPC(Close,Volume) row-number-joined
    with VIX(Close) under ["", "_VIX"] suffixes, Close_Tomorrow shift,
    model on the merged frame — registry fit standing in for the
    GradientBoosting, numpy parity on the trained slice."""
    g = (
        spark.read.csv(csvs[0], header=True, inferSchema=True, nullValue="null")
        .limit(1000).select("Close", "Volume")
    )
    v = (
        spark.read.csv(csvs[1], header=True, inferSchema=True, nullValue="null")
        .limit(1000).select("Close")
    )
    # suffixes here are per-RIGHT-table (the compiler maps the
    # reference's pandas-style ["", "_VIX"] pair onto this)
    merged = join_tables([g, v], keys=[], suffixes=["_VIX"])
    merged = merged.withColumn("_rn", F.row_number().over(
        Window.orderBy(F.monotonically_increasing_id())))
    merged = C.shift(merged, "Close_Tomorrow", "Close", -1, ["_rn"])
    merged = row_filter(merged, dropna=True)
    feats = ["Close", "Volume", "Close_VIX"]
    model = resolve_model(
        f"$file:{tmp_path}/ex8.json", merged,
        {"function": "fit_linear", "inputs": feats,
         "outputs": ["Close_Tomorrow"],
         "row_filter": {"slice": {"end": 900}, "order_by": ["_rn"]}},
    )
    tr = (
        row_filter(merged, slice_spec={"end": 900}, order_by=["_rn"])
        .select(*feats, "Close_Tomorrow").toPandas()
    )
    ib, wb = _np_fit(tr, feats, "Close_Tomorrow")
    np.testing.assert_allclose(model["weights"], wb, rtol=1e-5, atol=1e-8)
    # today's close dominates tomorrow's close prediction
    assert abs(model["weights"][0] - 1.0) < 0.2
