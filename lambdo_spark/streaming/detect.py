"""Streaming CUSUM change detection and seasonal anomaly flags
(``applyInPandasWithState``): the stateful twins of
``rollup.analytics.cusum`` / ``anomaly_seasonal``.

The batch CUSUM's running-extremum identity is already incremental —
S⁺ = P − min(0, min P) and S⁻ = max(0, max Q) − Q need only the
cumulative sums and their extrema — so state is a handful of exact
values per key and every emitted row equals the batch CUSUM over the
rows processed so far (same processing-order contract and per-row
``late`` flag as ``streaming/smoothing.py``).

With integer values/target/slack the arithmetic is exact end-to-end:
a sum past the int64 range fails the query instead of wrapping.
Alerts are immediate: each row's scores emit in the same micro-batch
that folded it.

Values cross the Arrow boundary as a null-free column plus a null
flag (``_value_null``): Arrow hands a bigint column that holds a null
to pandas as float64, which rounds longs beyond 2^53, so the twins
would silently lose precision on exactly the values they promise to
keep exact.

NULL values mirror the batch twins: a null row is emitted but never
folds into state (batch ``F.sum``/``F.avg``/``F.count`` skip nulls).
Its CUSUM scores are the running scores as of the previous fold —
null while the key has folded nothing yet, matching the batch NULL
propagation over an all-null prefix. A null-valued bucket in the
seasonal detector gets a null z-score and a false flag and does not
enter the baseline ring buffer.

The seasonal detector's state holds the phase's newest bucket next to
its ring buffer, so a null bucket's advance of the ``late`` baseline
survives the micro-batch boundary. Checkpoints written before that
field existed hold a two-field state; Spark refuses to restart from
them (``STATE_STORE_VALUE_SCHEMA_NOT_COMPATIBLE``), so such a query
needs a new checkpoint location.

``cusum_fold`` and ``anomaly_fold`` are the per-group folds and take
no Spark; ``streaming/_fold.py`` runs them, including the optional
``state_ttl_s`` idle eviction (an evicted key re-seeds as a cold
start: recursion and ``late`` baseline restart from empty).
"""

from __future__ import annotations

from bisect import bisect_left, bisect_right

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, BooleanType, DoubleType, LongType, StringType

from lambdo_spark.streaming._fold import epoch_s, late_flags, run_keyed_fold, struct

CUSUM_SCHEMA = struct(key=StringType(), ts_s=LongType(), value=LongType(),
                      cusum_pos=LongType(), cusum_neg=LongType(),
                      late=BooleanType())

# (p_sum, p_min, q_sum, q_max, last_ts_s, n_folded) — P/Q cumulative
# sums of the upper/lower deviations and their running extrema (empty
# prefix = 0 is folded in by clamping the extrema at 0); n_folded
# counts non-null folds so an all-null prefix can emit NULL scores
# exactly like the batch window sum does
CUSUM_STATE = struct(p_sum=LongType(), p_min=LongType(), q_sum=LongType(),
                     q_max=LongType(), last_ts_s=LongType(), n=LongType())

NULL_FLAG = "_value_null"


def _exact_value(value_col: str) -> dict[str, Column]:
    """The value with nulls replaced by 0, and its null flag: both
    reach pandas without a float64 round trip."""
    v = F.col(value_col)
    return {value_col: F.coalesce(v, F.lit(0)), NULL_FLAG: v.isNull()}


def cusum_fold(target: int, slack: int, ts_col: str = "ts",
               value_col: str = "value"):
    """The per-key fold ``(state | None, rows) -> (state', out)``."""
    up, down = int(target) + int(slack), int(target) - int(slack)

    def fold(state, rows):
        t, null = epoch_s(rows[ts_col]), rows[NULL_FLAG].to_numpy(bool)
        v = rows[value_col].to_numpy(np.int64)
        order = np.lexsort((v, null, t))
        t, null, v = t[order], null[order], v[order]
        p_sum, p_min, q_sum, q_max, last, n = state or (0, 0, 0, 0, None, 0)
        # object arrays of Python ints: the sums are exact past int64,
        # and the int64 conversions raise OverflowError rather than wrap
        x = v.astype(object)
        p = p_sum + np.where(null, 0, x - up).cumsum()
        q = q_sum + np.where(null, 0, x - down).cumsum()
        p_low = np.minimum(p_min, np.minimum.accumulate(p))
        q_high = np.maximum(q_max, np.maximum.accumulate(q))
        # a null row folds nothing; scores stay NULL until the first fold
        unscored = n + np.cumsum(~null) == 0
        late, last = late_flags(t, last)
        out = pd.DataFrame({
            "key": rows["key"].to_numpy()[order], "ts_s": t,
            "value": pd.arrays.IntegerArray(v, null),
            "cusum_pos": pd.arrays.IntegerArray(np.int64(p - p_low), unscored),
            "cusum_neg": pd.arrays.IntegerArray(np.int64(q_high - q), unscored),
            "late": late,
        })
        sums = np.int64([p[-1], p_low[-1], q[-1], q_high[-1]]).tolist()
        return (*sums, last, n + int((~null).sum())), out

    return fold


ANOMALY_SCHEMA = struct(key=StringType(), bucket_s=LongType(),
                        value=LongType(), baseline_mean=DoubleType(),
                        n_prior=LongType(), zscore=DoubleType(),
                        is_anomaly=BooleanType(), late=BooleanType())

# ring buffer of the last `lookback` same-phase points, bucket-sorted,
# and the newest bucket seen (null-valued buckets advance it too)
ANOMALY_STATE = struct(buckets=ArrayType(LongType()),
                       values=ArrayType(LongType()), newest=LongType())


def anomaly_fold(lookback: int, min_prior: int, threshold: float,
                 bucket_col: str = "bucket_s", value_col: str = "value"):
    """The per-(key, phase) fold ``(state | None, rows) -> (state', out)``:
    rows fold in (bucket, null, value) order; each reads the ring's
    points before its own bucket, then enters the ring if non-null."""

    def fold(state, rows):
        b = rows[bucket_col].to_numpy(np.int64)
        null = rows[NULL_FLAG].to_numpy(bool)
        v = rows[value_col].to_numpy(np.int64)
        order = np.lexsort((v, null, b))
        b, null, v = b[order], null[order], v[order]
        ring_b, ring_v, newest = state or ([], [], None)
        ring_b, ring_v = list(ring_b), list(ring_v)
        mean, z = np.full(len(b), np.nan), np.full(len(b), np.nan)
        n_prior = np.zeros(len(b), np.int64)
        for i, bi in enumerate(b.tolist()):
            lo = bisect_left(ring_b, bi)
            prior = np.asarray(ring_v[:lo][-lookback:], np.float64)
            n_prior[i] = len(prior)
            if len(prior):
                mean[i] = prior.mean()
            sd = prior.std(ddof=1) if len(prior) >= 2 else 0.0
            if len(prior) >= min_prior and sd > 0 and not null[i]:
                z[i] = (v[i] - mean[i]) / sd
            if not null[i]:
                # after equal buckets, then keep the newest `lookback`
                at = bisect_right(ring_b, bi)
                ring_b.insert(at, bi)
                ring_v.insert(at, int(v[i]))
                del ring_b[:-lookback], ring_v[:-lookback]
        # null rows advance the late-flag baseline too
        late, newest = late_flags(b, newest)
        out = pd.DataFrame({
            "key": rows["key"].to_numpy()[order], "bucket_s": b,
            "value": pd.arrays.IntegerArray(v, null), "baseline_mean": mean,
            "n_prior": n_prior, "zscore": z,
            "is_anomaly": np.abs(z) > threshold, "late": late,
        })
        return (ring_b, ring_v, newest), out

    return fold


def streaming_anomaly(
    stream: DataFrame,
    period_s: int = 86400,
    lookback: int = 7,
    min_prior: int = 3,
    threshold: float = 3.0,
    key_col: str = "key",
    bucket_col: str = "bucket_s",
    value_col: str = "value",
    state_ttl_s: int | None = None,
) -> DataFrame:
    """Streaming twin of ``analytics.anomaly_seasonal``: flags each
    bucketed point against the trailing same-phase baseline.

    The group key is (key, phase) — phase = bucket % period — so the
    state store holds one ``lookback``-deep ring buffer per
    (series, hour-of-day): exactly the window the batch op reads, and
    identical verdicts when points arrive in bucket order (pinned) —
    for null-free series: a null bucket takes a slot of the batch
    window (``lookback`` rows) but never enters the ring.
    A point whose bucket regresses the phase's newest is flagged
    ``late``; its baseline uses whatever older same-phase points the
    buffer still holds (the batch op re-reads history a stream cannot).
    """
    keyed = stream.select(
        F.concat_ws(
            "␟",
            F.col(key_col).cast("string"),
            (F.col(bucket_col) % F.lit(int(period_s))).cast("string"),
        ).alias("_gk"),
        F.col(key_col).cast("string").alias("key"),
        F.col(bucket_col),
        *[c.alias(n) for n, c in _exact_value(value_col).items()],
    )
    return run_keyed_fold(
        keyed.groupBy("_gk"),
        anomaly_fold(int(lookback), int(min_prior), float(threshold),
                     bucket_col, value_col),
        ANOMALY_SCHEMA, ANOMALY_STATE, state_ttl_s,
    )


def streaming_cusum(
    stream: DataFrame,
    target: int = 0,
    slack: int = 0,
    key_col: str = "key",
    ts_col: str = "ts",
    value_col: str = "value",
    state_ttl_s: int | None = None,
) -> DataFrame:
    """One scored row per input row; see module doc for semantics."""
    renamed = stream.withColumnRenamed(key_col, "key").withColumns(
        _exact_value(value_col)
    )
    return run_keyed_fold(
        renamed.groupBy("key"), cusum_fold(target, slack, ts_col, value_col),
        CUSUM_SCHEMA, CUSUM_STATE, state_ttl_s,
    )
