"""Streaming EWMA (``applyInPandasWithState``): the stateful twin of
``rollup.analytics.ewma``.

The batch form weights every prior row of the series — a stream
cannot re-read its history, but the adjust=True EWMA is exactly a
pair of linear recurrences, so TWO doubles of state per key replay it
incrementally::

    num_t = x_t + (1-α)·num_{t-1}        (weighted value sum)
    den_t = 1  + (1-α)·den_{t-1}         (weight normalizer)
    ewma_t = num_t / den_t

Each emitted row therefore equals the batch ``ewma`` over the rows
processed so far IN PROCESSING ORDER: within a micro-batch rows fold
in (ts, value) order; across micro-batches in arrival order. A late
row (event time older than the key's newest processed event) still
folds — smoothing is about recency of PROCESSING for monitoring
streams — but is flagged ``late=true`` so downstream consumers can
discount or audit it.

NULL values follow the batch twin's pandas ``ignore_na=False``
semantics exactly: a null row adds no weight but still decays the
prior weights (num and den both scale by 1-α — their ratio, the
emitted ewma, is unchanged), so it re-emits the prior smoothed value
(null if nothing has been observed yet) without poisoning the state.

``ewma_fold`` is the per-key fold and takes no Spark;
``streaming/_fold.py`` runs it, including the optional
``state_ttl_s`` idle eviction (an evicted key re-seeds as a cold
start: the recursion and the ``late`` baseline restart from empty).
"""

from __future__ import annotations

from itertools import accumulate

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.types import BooleanType, DoubleType, LongType, StringType

from lambdo_spark.streaming._fold import epoch_s, late_flags, run_keyed_fold, struct

EWMA_SCHEMA = struct(key=StringType(), ts_s=LongType(), value=DoubleType(),
                     ewma=DoubleType(), late=BooleanType())

# (num, den, last_ts_s, n_seen)
EWMA_STATE = struct(num=DoubleType(), den=DoubleType(), last_ts_s=LongType(),
                    n=LongType())


def _decay_sum(x: np.ndarray, q: float, start: float) -> np.ndarray:
    """y_i = x_i + q·y_{i-1} from y_{-1} = ``start``."""
    ys = accumulate(x.tolist(), lambda y, xi: xi + q * y, initial=start)
    return np.fromiter(ys, np.float64, len(x) + 1)[1:]


def ewma_fold(alpha: float, ts_col: str = "ts", value_col: str = "value"):
    """The per-key fold ``(state | None, rows) -> (state', out)``."""
    q = 1.0 - float(alpha)

    def fold(state, rows):
        t = epoch_s(rows[ts_col])
        v = rows[value_col].to_numpy(np.float64, na_value=np.nan)
        order = np.lexsort((v, t))
        t, v = t[order], v[order]
        num, den, last, n = state or (0.0, 0.0, None, 0)
        null = np.isnan(v)
        nums = _decay_sum(np.where(null, 0.0, v), q, num)
        dens = _decay_sum(np.where(null, 0.0, 1.0), q, den)
        late, last = late_flags(t, last)
        with np.errstate(invalid="ignore"):
            smoothed = np.where(dens > 0.0, nums / dens, np.nan)
        out = pd.DataFrame({"key": rows["key"].to_numpy()[order], "ts_s": t,
                            "value": v, "ewma": smoothed, "late": late})
        return (float(nums[-1]), float(dens[-1]), last, n + len(v)), out

    return fold


def streaming_ewma(
    stream: DataFrame,
    alpha: float,
    key_col: str = "key",
    ts_col: str = "ts",
    value_col: str = "value",
    state_ttl_s: int | None = None,
) -> DataFrame:
    """One smoothed row per input row; see module doc for semantics.

    ``state_ttl_s``: optional idle-key eviction (processing-time TTL).
    None (default) keeps every key's state forever.
    """
    if not 0.0 < alpha <= 1.0:
        raise ValueError(f"alpha must be in (0, 1], got {alpha}")
    return run_keyed_fold(
        stream.withColumnRenamed(key_col, "key").groupBy("key"),
        ewma_fold(alpha, ts_col, value_col), EWMA_SCHEMA, EWMA_STATE,
        state_ttl_s,
    )
