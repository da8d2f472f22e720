"""Vectorized kernel registry — the engine's function surface.

The reference lets a workflow name *any* Python callable
(/root/reference/lambdo/resolve.py:14-49: "module:attr" import-walk,
inline lambda strings) and applies it row-at-a-time
(Column.py:552-554) or per rolling window (Column.py:584-590). That
is unshippable at 10^12 rows, so this engine inverts the contract
(SURVEY.md §2.3): a fixed registry of kernels that compile to
*built-in JVM expressions* wherever possible, with an explicit
escape hatch for user pandas_udfs (Arrow-vectorized, never per-row).

A kernel has up to three compilation strategies, best first:
- ``expr(cols, **model)``       -> Column  (scalar, whole-stage codegen)
- ``agg(cols, over=None, **model)`` -> Column (aggregate expression;
  ``over`` is a WindowSpec — composite kernels like mean_weighted =
  sum(v*w)/sum(w) must window each primitive aggregate separately,
  which is why the kernel receives the window instead of the caller
  wrapping the result)
- ``pandas_fn``                 -> Series kernel for roll/all fallback;
  only user callables (:func:`user_kernel`) have one — every
  registered kernel has an ``expr`` or ``agg`` form
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any, Callable

from pyspark.sql import Column, functions as F


@dataclass
class Kernel:
    name: str
    expr: Callable[..., Column] | None = None  # scalar expression builder
    agg: Callable[..., Column] | None = None  # aggregate expression builder
    # escape hatch: Arrow-vectorized fallback used when expr/agg is
    # missing — signature pandas_fn(cols: list[pd.Series], **model).
    # Scalar use (calculate) must return a pd.Series; aggregate use
    # (roll / all / aggregate column) must return a scalar.
    pandas_fn: Callable | None = None
    returns: str = "double"  # Spark SQL type of the pandas_fn result
    doc: str = ""


def user_kernel(
    fn: Callable, name: str = "user", returns: str = "double"
) -> Kernel:
    """Wrap an arbitrary user callable as an ad-hoc (unregistered)
    kernel — the reference's any-Python-callable contract
    (/root/reference/lambdo/resolve.py:14-49) kept alive, but
    Arrow-vectorized instead of row-at-a-time
    (Column.py:552-554, :584-590)."""
    return Kernel(name=name, pandas_fn=fn, returns=returns)


_REGISTRY: dict[str, Kernel] = {}


def register(kernel: Kernel) -> Kernel:
    _REGISTRY[kernel.name] = kernel
    return kernel


def get_kernel(name: str) -> Kernel:
    if name not in _REGISTRY:
        raise KeyError(
            f"unknown kernel '{name}' — registered: {sorted(_REGISTRY)}"
        )
    return _REGISTRY[name]


def kernels() -> dict[str, Kernel]:
    return dict(_REGISTRY)


# --------------------------------------------------------------- scalars
# lambdo analog: calculate with builtins:float etc.
# (/root/reference/tests/test_calculate.py:23-26)

register(Kernel("float", expr=lambda c: c[0].cast("double")))
register(Kernel("int", expr=lambda c: c[0].cast("long")))
register(Kernel("str", expr=lambda c: c[0].cast("string")))
register(Kernel("length", expr=lambda c: F.length(c[0])))
register(Kernel("lower", expr=lambda c: F.lower(c[0])))
register(Kernel("upper", expr=lambda c: F.upper(c[0])))
register(Kernel("abs", expr=lambda c: F.abs(c[0])))
register(Kernel("add", expr=lambda c, value=0: c[0] + F.lit(value)))
register(Kernel("mul", expr=lambda c, value=1: c[0] * F.lit(value)))
register(Kernel("sub_cols", expr=lambda c: c[0] - c[1]))
register(Kernel("add_cols", expr=lambda c: c[0] + c[1]))
register(Kernel("div_cols", expr=lambda c: c[0] / c[1]))
register(Kernel("mul_cols", expr=lambda c: c[0] * c[1]))
register(
    Kernel(
        "gte",
        expr=lambda c, value=0: (c[0] >= F.lit(value)),
        doc="threshold compare (lambdo examples/example9.py:44-49)",
    )
)
# coerce=True -> try_to_timestamp (NULL on parse failure, pandas
# errors='coerce'); default raises under ANSI, matching pandas' raise
register(Kernel("to_timestamp", expr=lambda c, fmt=None, coerce=False: (
    # try_to_timestamp needs the format as a Column, to_timestamp a str
    (F.try_to_timestamp(c[0], F.lit(fmt)) if fmt else F.try_to_timestamp(c[0]))
    if coerce
    else (F.to_timestamp(c[0], fmt) if fmt else F.to_timestamp(c[0]))
)))
register(Kernel("round", expr=lambda c, digits=0: F.round(c[0], digits)))


def _web_expr(which):
    def _build(c):
        from lambdo_spark.functions import web

        return getattr(web, which)(c[0])

    return _build


# crawl-url normalization (functions/web.py) — scalar JVM regex
# chains, usable from workflow `calculate` ops as dedup-key builders
def _text_expr(which):
    def _build(c):
        from lambdo_spark.functions import text

        return getattr(text, which)(c[0])

    return _build


register(Kernel("scrub_pii", expr=_text_expr("scrub_pii"), doc="redact emails/IPs/phones to typed placeholders"))
register(Kernel("canonical_url", expr=_web_expr("canonical_url"), doc="fold crawl-url variants to one content key"))
register(Kernel("url_host", expr=_web_expr("url_host"), doc="lowercased host, port/www. stripped"))
register(Kernel("registered_domain", expr=_web_expr("registered_domain"), doc="last two host labels — skew partitioning unit"))
register(
    Kernel(
        "time_bucket",
        expr=lambda c, seconds=3600: (
            F.floor(F.unix_timestamp(c[0]) / F.lit(int(seconds))) * F.lit(int(seconds))
        ).cast("long"),
        doc="epoch-aligned tier bucket (rollup/tiers.py bucket_expr); "
        "makes the retention rollup expressible in workflow JSON",
    )
)
register(
    Kernel(
        "bucket_align",
        expr=lambda c, seconds=7 * 86400: (
            F.floor(c[0] / F.lit(int(seconds))) * F.lit(int(seconds))
        ).cast("long"),
        doc="align an epoch-seconds LONG to a coarser bucket — the "
        "with_part partition derivation (iceberg_layout.with_part) "
        "for workflow specs writing tier sinks",
    )
)

# ------------------------------------------------------------ aggregates
# usable by roll (over a window frame), table aggregate, column aggregate

def _ov(col: Column, over) -> Column:
    return col.over(over) if over is not None else col


def _simple(fn):
    return lambda c, over=None: _ov(fn(c), over)


register(Kernel("sum", agg=_simple(lambda c: F.sum(c[0]))))
register(Kernel("mean", agg=_simple(lambda c: F.avg(c[0]))))
register(Kernel("min", agg=_simple(lambda c: F.min(c[0]))))
register(Kernel("max", agg=_simple(lambda c: F.max(c[0]))))
register(Kernel("count", agg=_simple(lambda c: F.count(c[0] if c else F.lit(1)))))
register(Kernel("size", agg=_simple(lambda c: F.count(F.lit(1)))))
register(Kernel("stddev", agg=_simple(lambda c: F.stddev_samp(c[0]))))
register(Kernel("first", agg=_simple(lambda c: F.first(c[0]))))
register(Kernel("last", agg=_simple(lambda c: F.last(c[0]))))


def _edge(c: list[Column]) -> Column:
    # lexicographic (order, value) struct: deterministic pick at ties,
    # algebraic (min/max merge), streaming-state safe — unlike
    # first/last, which depend on physical row order
    return F.struct(c[1].alias("o"), c[0].alias("v"))


register(
    Kernel(
        "first_by",
        agg=_simple(lambda c: F.min(_edge(c)).getField("v")),
        doc="value at the smallest (order, value) — M4 'first'; "
        "inputs [value, order_col]",
    )
)
register(
    Kernel(
        "last_by",
        agg=_simple(lambda c: F.max(_edge(c)).getField("v")),
        doc="value at the largest (order, value) — M4 'last'; "
        "inputs [value, order_col]",
    )
)
register(
    Kernel(
        "count_distinct",
        agg=lambda c, over=None: F.size(_ov(F.collect_set(c[0]), over))
        if over is not None
        else F.count_distinct(c[0]),
    )
)


def _mean_weighted_expr(c: list[Column], over=None) -> Column:
    # lambdo std.py:136-152 (mean_weighted over value+weight columns):
    # sum(v*w)/sum(w) — algebraic, so it survives windows AND groups
    return _ov(F.sum(c[0] * c[1]), over) / _ov(F.sum(c[1]), over)


register(
    Kernel(
        "mean_weighted",
        agg=_mean_weighted_expr,
        doc="weighted mean (reference lambdo/std.py:136-152)",
    )
)


# ------------------------------------------------------------- holistic
# order-statistic aggregates: no partial-agg form, so each builds on
# the frame's (or group's) sorted values — one JVM collect + sort per
# frame, O(w log w), the same O(n·w) shape as pandas' per-frame call
# but without the Arrow round trip. The formulas restate numpy's, so
# the results equal pandas' nan-skipping median/quantile bit for bit.


def _let(value: Column, fn) -> Column:
    # ``fn`` of ``value`` bound to a lambda variable: a formula naming
    # the sorted array four times would otherwise make Catalyst plan
    # four copies of the window aggregate behind it
    return F.get(F.transform(F.array(value), fn), 0)


def _sorted_values(c: Column, over) -> Column:
    # NaN is pandas' missing value as well as NULL (collect_list
    # already drops NULLs)
    vals = _ov(F.collect_list(c.cast("double")), over)
    return F.array_sort(F.filter(vals, lambda x: ~F.isnan(x)))


def _median_of(arr: Column) -> Column:
    # numpy: the middle element, or the mean of the two middle ones;
    # an empty array indexes out of range → NULL
    n = F.size(arr)
    mid = F.get(arr, F.floor(n / F.lit(2)))
    return F.when(n % 2 == 1, mid).otherwise(
        (F.get(arr, F.floor((n - 1) / F.lit(2))) + mid) / F.lit(2.0)
    )


def _quantile_of(arr: Column, q: float) -> Column:
    # numpy's 'linear' method: virtual index (n-1)·q between neighbours
    # lo and hi, interpolated by numpy's _lerp (which switches form at
    # gamma 0.5); pandas hands numpy q as a percentage, hence q·100/100
    q = float(q) * 100.0 / 100.0
    n = F.size(arr)
    v = (n - 1).cast("double") * F.lit(q)
    i = F.floor(v)
    lo = F.get(arr, i)
    hi = F.get(arr, F.least(i + 1, n - 1))
    g = v - i
    d = hi - lo
    return F.when(g >= 0.5, hi - d * (F.lit(1.0) - g)).otherwise(lo + d * g)


def _mad_of(arr: Column) -> Column:
    return _let(_median_of(arr), lambda m: _let(
        F.array_sort(F.transform(arr, lambda x: F.abs(x - m))), _median_of
    ))


def _quantile_agg(c: list[Column], over=None, q: float = 0.5) -> Column:
    if not 0.0 <= q <= 1.0:
        raise ValueError(f"quantile q must be in [0, 1], got {q}")
    return _let(_sorted_values(c[0], over), lambda a: _quantile_of(a, q))


register(
    Kernel(
        "median",
        agg=lambda c, over=None: _let(_sorted_values(c[0], over), _median_of),
        doc="exact median of the non-null values",
    )
)
register(
    Kernel(
        "mad",
        agg=lambda c, over=None: _let(_sorted_values(c[0], over), _mad_of),
        doc="median absolute deviation — no Spark built-in; "
        "DuckDB mad() is the oracle",
    )
)
register(
    Kernel(
        "quantile",
        agg=_quantile_agg,
        doc="exact linear-interpolation quantile (pandas default)",
    )
)


def _slope_expr(c: list[Column], over=None) -> Column:
    # least-squares slope of y over x (reference examples/example9.py:26-33
    # fits y over 0..n-1): cov(x,y)/var(x) via algebraic sums
    x, y = c[0].cast("double"), c[1].cast("double")
    n = _ov(F.count(F.lit(1)), over)
    sx, sy = _ov(F.sum(x), over), _ov(F.sum(y), over)
    sxx, sxy = _ov(F.sum(x * x), over), _ov(F.sum(x * y), over)
    return (n * sxy - sx * sy) / (n * sxx - sx * sx)


register(
    Kernel(
        "slope",
        agg=_slope_expr,
        doc="linear-trend slope over (x, y) (reference examples/example9.py:26-33)",
    )
)
