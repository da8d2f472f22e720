"""Column operators C1–C9 (SURVEY.md §2.2) as DataFrame compositions.

lambdo evaluates columns against implicit frame row order
(/root/reference/README.md:109-121); Spark has no physical row order,
so every order-sensitive op here takes explicit ``partition_by`` /
``order_by`` — the "single biggest semantic translation" (SURVEY.md
§1.1 Time series row).

Row-order semantics parity:
- roll windows are trailing row-count frames with min_periods == N
  (first N-1 rows NULL), matching reference tests/test_roll.py:46-48.
- shift(k) == pandas Series.shift: positive k looks back (lag),
  negative looks forward (lead) — tests/test_calculate.py:54-89.
- link stores the *natural key* of the target row rather than a
  pandas index position (Column.py:717-718 has no distributed
  analog); compose dereferences by joining on that key. Golden tests
  compare values, not surrogate ids (SURVEY.md §7.3).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window, WindowSpec, functions as F

from lambdo_spark.functions.registry import Kernel, get_kernel


def _window(partition_by: Sequence[str] | None, order_by: Sequence[str]) -> WindowSpec:
    w = Window.partitionBy(*(partition_by or []))
    return w.orderBy(*[F.col(c) for c in order_by])


def _resolve_kernel(kernel: "str | Kernel") -> Kernel:
    """Registry name, or an ad-hoc Kernel (user callables wrapped by
    registry.user_kernel / the workflow compiler)."""
    return kernel if isinstance(kernel, Kernel) else get_kernel(kernel)


def _pandas_scalar_udf(k: Kernel, model: dict | None):
    """Arrow-vectorized scalar fallback (SCALAR pandas_udf): the
    reference's arbitrary-callable calculate (Column.py:552-554),
    batch-vectorized instead of row-at-a-time."""
    fn, kw = k.pandas_fn, dict(model or {})
    return F.pandas_udf(lambda *cols: fn(list(cols), **kw), k.returns)


def _pandas_agg_udf(k: Kernel, model: dict | None):
    """Arrow-vectorized aggregate fallback (GROUPED_AGG pandas_udf):
    works over groupBy AND over bounded/unbounded window frames
    (SPARK-24561) — the escape hatch for user callables, which have no
    JVM expression. The frame crosses into Python once per row, so
    this is O(n·w) per partition plus the Arrow round trip; every
    registry kernel has an ``agg`` form and never comes here."""
    fn, kw = k.pandas_fn, dict(model or {})
    return F.pandas_udf(
        lambda *cols: fn(list(cols), **kw), k.returns, F.PandasUDFType.GROUPED_AGG
    )


def _nan_as_null(df: DataFrame, inputs: Sequence[str]) -> list[Column]:
    """The input columns with a float/double NaN read as NULL — pandas'
    missing value — so a window kernel skips it (Spark's ``sum``/``avg``
    propagate NaN and ``max`` orders it above every number). Other
    types pass through unchanged."""
    floats = {name for name, t in df.dtypes if t in ("float", "double")}
    return [
        F.when(~F.isnan(c), F.col(c)) if c in floats else F.col(c) for c in inputs
    ]


def _aggregate(
    k: Kernel, cols: list[Column], model: dict | None, over: WindowSpec | None = None
) -> Column:
    """The kernel as an aggregate, over the window frame ``over`` when
    given: its JVM ``agg`` form, else the pandas fallback for user
    callables."""
    if k.agg is not None:
        return k.agg(cols, over=over, **(model or {}))
    if k.pandas_fn is None or not cols:
        raise ValueError(f"kernel '{k.name}' has no aggregate form")
    value = _pandas_agg_udf(k, model)(*cols)
    return value if over is None else value.over(over)


def calculate(
    df: DataFrame,
    output: str,
    kernel: "str | Kernel",
    inputs: Sequence[str],
    model: dict | None = None,
) -> DataFrame:
    """C1 — per-row scalar (reference Column.py:524-559), compiled to a
    built-in JVM expression; user kernels fall back to an
    Arrow-vectorized pandas_udf (never row-at-a-time)."""
    k = _resolve_kernel(kernel)
    cols = [F.col(c) for c in inputs]
    if k.expr is not None:
        return df.withColumn(output, k.expr(cols, **(model or {})))
    if k.pandas_fn is None:
        raise ValueError(f"kernel '{k.name}' has no scalar form")
    return df.withColumn(output, _pandas_scalar_udf(k, model)(*cols))


def roll(
    df: DataFrame,
    output: str,
    kernel: str,
    inputs: Sequence[str],
    window: int,
    order_by: Sequence[str],
    partition_by: Sequence[str] | None = None,
    model: dict | None = None,
    min_periods: int | None = None,
) -> DataFrame:
    """C2 — trailing row-count window (reference Column.py:561-611).

    min_periods defaults to the window size (reference semantics:
    first N-1 rows NULL, tests/test_roll.py:46-48).

    Registry kernels, the holistic median/MAD/quantile included, are
    JVM window expressions over the frame. User callables run through
    the GROUPED_AGG pandas fallback over the same bounded frame — the
    reference's rolling-apply generality (Column.py:584-590),
    Arrow-vectorized.
    """
    k = _resolve_kernel(kernel)
    mp = window if min_periods is None else min_periods
    w = _window(partition_by, order_by).rowsBetween(-(window - 1), 0)
    cols = _nan_as_null(df, inputs)
    value = _aggregate(k, cols, model, w)
    if mp > 1:
        # pandas min_periods counts OBSERVATIONS, not frame rows: values
        # neither NULL nor NaN (NULL here) — a window of 3 rows holding
        # [1.0, NULL, 2.0] or [1.0, NaN, 2.0] has 2 and must yield NULL
        # at min_periods=3
        if len(cols) == 1:
            have = F.count(cols[0]).over(w)
        else:
            seen = None
            for c in cols:
                seen = c.isNotNull() if seen is None else seen & c.isNotNull()
            have = F.count(F.when(seen, F.lit(1))).over(w)
        value = F.when(have >= F.lit(mp), value)
    return df.withColumn(output, value)


def roll_range(
    df: DataFrame,
    output: str,
    kernel: str,
    inputs: Sequence[str],
    range_seconds: int,
    ts_col: str,
    partition_by: Sequence[str] | None = None,
    model: dict | None = None,
) -> DataFrame:
    """C2 time-range variant — trailing window over TIME, not rows:
    the aggregate covers every row with ts in (current - range,
    current], inclusive of the current instant. The reference only has
    row-count windows (Column.py:561-611); for a timeseries engine the
    range form is the one that survives irregular sampling — a
    10-minute gap doesn't silently widen the window's time span.

    Implemented as ``rangeBetween`` over epoch seconds — pure JVM,
    one sort per partition, no per-row Python.
    """
    k = _resolve_kernel(kernel)
    sec = F.unix_timestamp(F.col(ts_col))
    w = (
        Window.partitionBy(*(partition_by or []))
        .orderBy(sec)
        .rangeBetween(-(int(range_seconds) - 1), 0)
    )
    return df.withColumn(output, _aggregate(k, _nan_as_null(df, inputs), model, w))


def shift(
    df: DataFrame,
    output: str,
    input_col: str,
    periods: int,
    order_by: Sequence[str],
    partition_by: Sequence[str] | None = None,
) -> DataFrame:
    """C3 (window='all') shift — pandas Series.shift semantics
    (reference tests/test_calculate.py:54-89): positive periods pull
    values from earlier rows (lag), negative from later (lead)."""
    w = _window(partition_by, order_by)
    fn = F.lag(input_col, periods) if periods >= 0 else F.lead(input_col, -periods)
    return df.withColumn(output, fn.over(w))


def window_all(
    df: DataFrame,
    output: str,
    kernel: str,
    inputs: Sequence[str],
    partition_by: Sequence[str] | None = None,
    order_by: Sequence[str] | None = None,
    model: dict | None = None,
) -> DataFrame:
    """C3 — whole-table function (reference Column.py:498-522), here a
    whole-*group* aggregate broadcast back onto every row via an
    unbounded window (e.g. zscore scaling uses mean/std over all)."""
    k = _resolve_kernel(kernel)
    w = Window.partitionBy(*(partition_by or []))
    if order_by:
        w = w.orderBy(*order_by).rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing
        )
    return df.withColumn(output, _aggregate(k, [F.col(c) for c in inputs], model, w))


def link(
    df: DataFrame,
    output: str,
    keys: Sequence[str],
    linked_table: DataFrame,
    linked_keys: Sequence[str],
) -> DataFrame:
    """C4 — foreign-key resolution (reference Column.py:670-754).

    The reference stores the matched row's pandas index; distributed
    Spark has no row ids, so the link column is a STRUCT of the
    target's key values (NULL when unmatched — tests/test_link.py:116).
    Catalyst broadcasts the (typically small) dimension side.
    """
    probe = linked_table.select(
        *[F.col(k) for k in linked_keys],
        F.struct(*[F.col(k) for k in linked_keys]).alias(output),
    ).dropDuplicates(list(linked_keys))
    cond = [df[a] == probe[b] for a, b in zip(keys, linked_keys)]
    joined = df.join(probe, cond, "left")
    return joined.drop(*[probe[k] for k in linked_keys])


def compose(
    df: DataFrame,
    output: str,
    link_col: str,
    linked_table: DataFrame,
    linked_keys: Sequence[str],
    target_col: str,
) -> DataFrame:
    """C5 — dereference a link path Link::Col (reference
    Column.py:756-814): join back to the target on the link struct's
    key fields and project one target column."""
    dim = linked_table.select(
        F.struct(*[F.col(k) for k in linked_keys]).alias("__lk__"),
        F.col(target_col).alias(output),
    ).dropDuplicates(["__lk__"])
    return df.join(dim, df[link_col] == dim["__lk__"], "left").drop("__lk__")


def aggregate_column(
    group_df: DataFrame,
    output: str,
    fact_df: DataFrame,
    group_keys: Sequence[str],
    fact_keys: Sequence[str],
    kernel: str,
    measure: str | None = None,
    fillna_value=None,
    model: dict | None = None,
) -> DataFrame:
    """C6 — grouped aggregate attached to the group table (reference
    Column.py:613-668): aggregate facts per key, LEFT-join back onto
    the group table so empty groups survive, fillna for them
    (tests/test_aggregate.py:77-79)."""
    k = _resolve_kernel(kernel)
    agg_col = _aggregate(k, [F.col(measure)] if measure else [], model)
    agg = (
        fact_df.groupBy(*[F.col(c) for c in fact_keys])
        .agg(agg_col.alias(output))
        .select(*[F.col(c).alias(f"__fk{i}__") for i, c in enumerate(fact_keys)], output)
    )
    cond = [group_df[g] == agg[f"__fk{i}__"] for i, g in enumerate(group_keys)]
    out = group_df.join(agg, cond, "left").drop(
        *[f"__fk{i}__" for i in range(len(fact_keys))]
    )
    if fillna_value is not None:
        out = out.withColumn(output, F.coalesce(F.col(output), F.lit(fillna_value)))
    return out
