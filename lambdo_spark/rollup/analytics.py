"""Series analytics on top of the tier toolkit: EWMA smoothing,
seasonal-baseline anomaly detection, CUSUM change detection, and
cross-series correlation.

The reference's analytic surface ends at trailing row-count windows
(/root/reference/lambdo/Column.py:561-611); these are the standard
monitoring-stack follow-ons (Prometheus/TimescaleDB-style) a rollup
engine is actually queried with, each expressed Spark-first:

* ``ewma`` — per-series exponential smoothing. The recurrence is
  inherently sequential per series, so the kernel is a vectorized
  pandas ``ewm`` inside ``applyInPandas`` (one Arrow batch per
  series); the shuffle is ONE hash exchange on the series key. A
  series never splits across tasks — the unit of work is bounded by
  per-key cardinality (hours-in-retention for tier input), not corpus
  size, so 10^12 rows fan out across keys. (For a pathological single
  series, the EWMA numerator/denominator are both linear recurrences
  y_t = (1-a)·y_{t-1} + c_t and admit the same two-phase partition
  prefix treatment as ``sampling.global_ordinal``; not needed for
  bucketed tier series.)
* ``anomaly_seasonal`` — z-score vs the same-phase trailing baseline
  (same hour-of-day over the previous N days). Pure JVM window
  expressions over ``partitionBy(keys, phase)``: one exchange, no
  Python, whole-stage codegen.
* ``cusum`` — two-sided CUSUM change statistic. The textbook
  recursion S⁺_t = max(0, S⁺_{t-1} + dev_t) is rewritten with the
  running-extremum identity  S⁺_t = P_t − min(0, min_{j≤t} P_j)
  where P is the plain cumulative sum of deviations — the window
  passes all share one (keys, order) spec, so the plan has ONE hash
  exchange (chained Window nodes reuse the sort); exact integer
  arithmetic end-to-end.
* ``corr_pairs`` — Pearson correlation between every pair of series
  over a shared bucket grid: aggregate first (map-side combined), so
  the pair join runs on |series|×|buckets| aggregated rows, never raw
  rows; the pair frame re-aggregates with Spark's algebraic
  ``corr`` (co-moment partials, one more exchange).
"""

from __future__ import annotations

from typing import Sequence

import pandas as pd

from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql.types import DoubleType, StructField, StructType


# ------------------------------------------------------------- ewma

def ewma(
    df: DataFrame,
    value_col: str,
    order_cols: Sequence[str],
    keys: Sequence[str],
    alpha: float,
    output: str = "ewma",
    adjust: bool = True,
) -> DataFrame:
    """Exponentially-weighted moving average per series.

    ``adjust=True`` (default) is the bias-corrected form
    ``y_t = Σ_{i≤t} (1-α)^(t-i)·x_i / Σ_{i≤t} (1-α)^(t-i)`` —
    exactly pandas ``Series.ewm(alpha, adjust=True).mean()``;
    ``adjust=False`` is the recursive ``y_t = α·x_t + (1-α)·y_{t-1}``.

    ``order_cols`` must totally order rows within a key (include a
    unique id when the timestamp alone can tie): the weights are
    row-position based, so an ambiguous order is an ambiguous result.
    NULL values add no weight but STILL decay the prior weights
    (pandas ``ignore_na=False``): a null row re-emits the prior
    smoothed value, and the gap discounts older observations against
    the next real one (test_ewma_null_passthrough pins y_2 = 18, not
    the gap-ignoring 15).
    """
    if not 0.0 < alpha <= 1.0:
        raise ValueError(f"alpha must be in (0, 1], got {alpha}")
    out_schema = StructType(
        list(df.schema.fields) + [StructField(output, DoubleType())]
    )
    order = list(order_cols)
    a = float(alpha)
    adj = bool(adjust)

    def _kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order, kind="mergesort").reset_index(drop=True)
        pdf[output] = (
            pdf[value_col].astype("float64").ewm(alpha=a, adjust=adj).mean()
        )
        return pdf

    return df.groupBy(*keys).applyInPandas(_kernel, schema=out_schema)


# ---------------------------------------------- seasonal anomaly flags

def anomaly_seasonal(
    df: DataFrame,
    value_col: str,
    bucket_col: str,
    keys: Sequence[str],
    period_s: int = 86400,
    lookback: int = 7,
    min_prior: int = 3,
    threshold: float = 3.0,
) -> DataFrame:
    """Flag buckets whose value deviates from the same-phase trailing
    baseline (e.g. "this 14:00 hour vs the previous 7 days' 14:00
    hours") by more than ``threshold`` sample standard deviations.

    Input is an already-bucketed series (one row per ``keys`` +
    ``bucket_col``). The baseline window partitions by (keys, phase)
    with phase = bucket % period and looks at the ``lookback`` PRIOR
    same-phase buckets only — the current row never contaminates its
    own baseline. Rows with fewer than ``min_prior`` prior samples or
    a zero/undefined deviation get a NULL z-score and a false flag
    (cold start is "no evidence", not "anomaly").

    Pure built-in window expressions: one hash exchange on
    (keys, phase), whole-stage codegen, no Python.
    """
    v = F.col(value_col)
    phase = (F.col(bucket_col) % F.lit(int(period_s))).alias("_phase")
    w = (
        Window.partitionBy(*keys, "_phase")
        .orderBy(bucket_col)
        .rowsBetween(-int(lookback), -1)
    )
    base = df.withColumn("_phase", phase)
    mean = F.avg(v).over(w)
    sd = F.stddev_samp(v).over(w)
    n = F.count(v).over(w)
    z = F.when(
        (n >= int(min_prior)) & sd.isNotNull() & (sd > 0),
        (v.cast("double") - mean) / sd,
    )
    return (
        base.withColumn("baseline_mean", mean)
        .withColumn("n_prior", n)
        .withColumn("zscore", z)
        .withColumn(
            "is_anomaly",
            F.coalesce(F.abs(z) > F.lit(float(threshold)), F.lit(False)),
        )
        .drop("_phase")
    )


# -------------------------------------------------- CUSUM change score

def cusum(
    df: DataFrame,
    value_col: str,
    order_cols: Sequence[str],
    keys: Sequence[str],
    target: str | int | float | None = None,
    slack: int | float = 0,
    pos_col: str = "cusum_pos",
    neg_col: str = "cusum_neg",
) -> DataFrame:
    """Two-sided CUSUM change statistic per series (Page 1954).

    dev_t = x_t − target − slack (upper) / x_t − target + slack
    (lower); the usual zero-floored recursion is computed without any
    sequential pass via the running-extremum identity::

        S⁺_t = max(0, S⁺_{t-1} + dev_t)  ==  P_t − min_{j≤t} P_j

    with P the plain cumulative sum of deviations (and symmetrically
    ``max`` for the lower side). Three windows share one
    ``partitionBy(keys).orderBy(order_cols)`` spec, so the plan has a
    single exchange and a single Window node. With integer values,
    target, and slack the arithmetic is exact end-to-end.

    ``target`` may be a column name (e.g. a per-key baseline joined in
    beforehand), a literal, or None (defaults to 0 — caller pre-centers).
    """
    x = F.col(value_col)
    if target is None:
        t = F.lit(0)
    elif isinstance(target, str):
        t = F.col(target)
    else:
        t = F.lit(target)
    w = (
        Window.partitionBy(*keys)
        .orderBy(*[F.col(c) for c in order_cols])
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    up = F.sum(x - t - F.lit(slack)).over(w)
    dn = F.sum(x - t + F.lit(slack)).over(w)
    # the running extremum must include the EMPTY prefix (P_0 = 0):
    # S+_t = P_t - min(0, min_{j<=t} P_j), symmetrically for the lower
    # side — otherwise the first row could never floor at zero.
    zero = F.lit(0)
    return df.withColumn(
        pos_col, up - F.least(zero, F.min(up).over(w))
    ).withColumn(neg_col, F.greatest(zero, F.max(dn).over(w)) - dn)


# --------------------------------------------- Holt-Winters forecast

def holt_winters(
    df: DataFrame,
    value_col: str,
    order_cols: Sequence[str],
    keys: Sequence[str],
    season_length: int,
    alpha: float = 0.3,
    beta: float = 0.1,
    gamma: float = 0.2,
    steps: int = 1,
    mode: str = "forecast",
) -> DataFrame:
    """Additive Holt-Winters (triple exponential smoothing) per series
    — the standard capacity-planning forecast over tier rollups.

    The recursion is pinned exactly (so results are reproducible by
    any implementation of the same equations): with m =
    ``season_length``, initialization from the first two seasons
    (level = mean of season 1; trend = per-step difference of season
    means; seasonals = season-1 deviations), then for t ≥ m::

        l_t = α(x_t − s_{t−m}) + (1−α)(l_{t−1} + b_{t−1})
        b_t = β(l_t − l_{t−1}) + (1−β)·b_{t−1}
        s_t = γ(x_t − l_t) + (1−γ)·s_{t−m}

    ``mode="forecast"`` returns ``steps`` rows per series:
    (keys, h, hw_forecast) with forecast(h) = l + h·b + s_{n−m+((h−1)
    mod m)}. ``mode="fitted"`` returns one row per input row from t=m
    on: (keys, order_cols…, value, hw_fitted) where fitted is the
    one-step-ahead prediction l_{t−1}+b_{t−1}+s_{t−m} (the residual
    stream anomaly detectors feed on).

    Sequential per series ⇒ same execution shape as :func:`ewma`: one
    hash exchange on the keys, a vectorized kernel per series. Series
    shorter than 2·m rows emit nothing (not enough data to initialize
    — documented, not silently extrapolated).
    """
    m = int(season_length)
    if m < 1:
        raise ValueError("season_length must be >= 1")
    if mode not in ("forecast", "fitted"):
        raise ValueError(f"unknown mode {mode!r}")
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    key_fields = [f for f in df.schema.fields if f.name in set(keys)]
    if mode == "forecast":
        out_schema = StructType(
            key_fields
            + [
                StructField("h", LongType()),
                StructField("hw_forecast", DoubleType()),
            ]
        )
    else:
        order_fields = [f for f in df.schema.fields if f.name in set(order_cols)]
        val_field = next(f for f in df.schema.fields if f.name == value_col)
        out_schema = StructType(
            key_fields
            + order_fields
            + [val_field, StructField("hw_fitted", DoubleType())]
        )
    order = list(order_cols)
    a, b_, g = float(alpha), float(beta), float(gamma)
    h_steps = int(steps)
    key_names = [f.name for f in key_fields]
    mode_ = mode

    def _kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order, kind="mergesort").reset_index(drop=True)
        x = pdf[value_col].astype("float64").to_numpy()
        n = len(x)
        if n < 2 * m:
            return pd.DataFrame(
                {f.name: pd.Series(dtype="object") for f in out_schema.fields}
            )
        lvl = float(x[:m].mean())
        trend = float((x[m : 2 * m].mean() - x[:m].mean()) / m)
        seas = list(x[:m] - x[:m].mean())
        fitted = []
        for t in range(m, n):
            s_prev = seas[t - m]
            fitted.append(lvl + trend + s_prev)
            l_new = a * (x[t] - s_prev) + (1 - a) * (lvl + trend)
            trend = b_ * (l_new - lvl) + (1 - b_) * trend
            seas.append(g * (x[t] - l_new) + (1 - g) * s_prev)
            lvl = l_new
        head = {k: pdf[k].iloc[0] for k in key_names}
        if mode_ == "forecast":
            rows = []
            for h in range(1, h_steps + 1):
                s = seas[n - m + ((h - 1) % m)]
                rows.append({**head, "h": h, "hw_forecast": lvl + h * trend + s})
            return pd.DataFrame(rows, columns=[f.name for f in out_schema.fields])
        out = pdf.iloc[m:][[*key_names, *order, value_col]].copy()
        out["hw_fitted"] = fitted
        return out[[f.name for f in out_schema.fields]]

    return df.groupBy(*keys).applyInPandas(_kernel, schema=out_schema)


# --------------------------------------------- rolling correlation

def rolling_corr(
    df: DataFrame,
    x_col: str,
    y_col: str,
    order_cols: Sequence[str],
    keys: Sequence[str],
    window: int,
    min_periods: int | None = None,
    output: str = "rolling_corr",
) -> DataFrame:
    """Trailing-window Pearson correlation between two columns of one
    series (the monitoring-stack "are these signals still coupled"
    probe).

    Derived from EXACT co-moment window sums — n, Σx, Σy, Σxy, Σx²,
    Σy² over a trailing ROWS frame — then one closed-form float
    division::

        corr = (n·Σxy − Σx·Σy) / sqrt((n·Σx²−(Σx)²)·(n·Σy²−(Σy)²))

    With integer inputs every sum is an exact long, so the result is
    bit-identical on any engine that aggregates exactly (the same
    moments-from-long-sums discipline as the tier means). All six
    sums share ONE window spec — one exchange, one sort, one Window
    node. Rows with fewer than ``min_periods`` (default: ``window``)
    trailing samples, or a degenerate variance, yield NULL. ANSI mode
    raises (loudly, never silently wrong) if n·Σx² overflows a long —
    pre-scale inputs beyond ~10⁶ magnitude at wide windows.
    """
    mp = int(window if min_periods is None else min_periods)
    dtypes = dict(df.dtypes)
    for c in (x_col, y_col):
        t = dtypes.get(c, "")
        if t.startswith(("double", "float", "decimal")):
            raise ValueError(
                f"rolling_corr: column {c!r} is {t} — the exact co-moment "
                "sums require integer inputs (scale to cents/fixed-point "
                "first); casting floats to long would silently truncate"
            )
    x = F.col(x_col).cast("long")
    y = F.col(y_col).cast("long")
    w = (
        Window.partitionBy(*keys)
        .orderBy(*[F.col(c) for c in order_cols])
        .rowsBetween(-(int(window) - 1), 0)
    )
    n = F.count(F.lit(1)).over(w)
    sx, sy = F.sum(x).over(w), F.sum(y).over(w)
    sxy = F.sum(x * y).over(w)
    sxx, syy = F.sum(x * x).over(w), F.sum(y * y).over(w)
    num = (n * sxy - sx * sy).cast("double")
    varx = (n * sxx - sx * sx).cast("double")
    vary = (n * syy - sy * sy).cast("double")
    corr = F.when(
        (n >= mp) & (varx > 0) & (vary > 0),
        num / F.sqrt(varx * vary),
    )
    return df.withColumn(output, corr)


# ------------------------------------------- cross-series correlation

def corr_pairs(
    df: DataFrame,
    value_col: str,
    series_col: str,
    bucket_col: str,
    min_buckets: int = 2,
    max_series: int | None = 1000,
) -> DataFrame:
    """Pearson correlation between every unordered pair of series over
    the buckets BOTH series observed.

    Input is an already-bucketed frame (one row per series + bucket —
    aggregate first, so the pair join sees |series|·|buckets| rows,
    not raw events). Self-join on the bucket grid with ``a < b`` to
    keep one row per unordered pair, then one algebraic ``corr``
    aggregate. Pairs sharing fewer than ``min_buckets`` buckets are
    dropped (corr is NULL/degenerate there).

    SCALE GUARD: the intermediate is |series|²·|buckets|/2 rows —
    right for monitoring-scale series counts (hundreds), quadratic
    ruin at thousands. ``max_series`` (default 1000) puts a distinct-
    series count in the plan (a scalar subquery, so building the plan
    runs no job) and the query raises ``USER_RAISED_EXCEPTION`` before
    the pair join when it is exceeded, rather than silently running an
    O(|series|²) shuffle; raise the bound deliberately, or pre-select
    series (top-k by variance, a metadata filter) before calling.
    """
    a = df.select(
        F.col(series_col).alias("series_a"),
        F.col(bucket_col).alias("_b"),
        F.col(value_col).alias("_va"),
    )
    if max_series is not None:
        n_series = df.select(F.count_distinct(series_col)).scalar()
        a = a.where(
            F.when(
                n_series > F.lit(int(max_series)),
                F.raise_error(F.concat(
                    F.lit("corr_pairs: "), n_series.cast("string"),
                    F.lit(
                        f" distinct series exceeds max_series={max_series}; "
                        "the pair join is O(|series|^2 · |buckets|). Pre-filter "
                        "the series (e.g. top-k by variance) or pass a higher "
                        "max_series explicitly."
                    ),
                )),
            ).otherwise(F.lit(True))
        )
    b = df.select(
        F.col(series_col).alias("series_b"),
        F.col(bucket_col).alias("_b"),
        F.col(value_col).alias("_vb"),
    )
    paired = a.join(b, on="_b").where(F.col("series_a") < F.col("series_b"))
    return (
        paired.groupBy("series_a", "series_b")
        .agg(
            F.corr(F.col("_va").cast("double"), F.col("_vb").cast("double")).alias(
                "pearson_r"
            ),
            F.count(F.lit(1)).alias("n_buckets"),
        )
        .where(F.col("n_buckets") >= int(min_buckets))
        .where(F.col("pearson_r").isNotNull())
    )
