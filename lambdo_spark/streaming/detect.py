"""Streaming CUSUM change detection and seasonal anomaly flags
(``applyInPandasWithState``): the stateful twins of
``rollup.analytics.cusum`` / ``anomaly_seasonal``.

The batch CUSUM's running-extremum identity is already incremental —
S⁺ = P − min(0, min P) and S⁻ = max(0, max Q) − Q need only the
cumulative sums and their extrema — so state is a handful of exact
values per key and every emitted row equals the batch CUSUM over the
rows processed so far (same processing-order contract and per-row
``late`` flag as ``streaming/smoothing.py``).

With integer values/target/slack the arithmetic is exact end-to-end
(the state carries longs); alerts are immediate: each row's scores
emit in the same micro-batch that folded it.

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

``state_ttl_s`` (all three constructors): optional processing-time
idle eviction — a key silent for that long is dropped from the state
store and re-seeds as a cold start on its next arrival (recursion and
``late`` baseline restart from empty). Default None = state forever.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

CUSUM_SCHEMA = StructType(
    [
        StructField("key", StringType()),
        StructField("ts_s", LongType()),
        StructField("value", LongType()),
        StructField("cusum_pos", LongType()),
        StructField("cusum_neg", LongType()),
        StructField("late", BooleanType()),
    ]
)

# (p_sum, p_min, q_sum, q_max, last_ts_s, n_folded) — P/Q cumulative
# sums of the upper/lower deviations and their running extrema (empty
# prefix = 0 is folded in by clamping the extrema at 0); n_folded
# counts non-null folds so an all-null prefix can emit NULL scores
# exactly like the batch window sum does
CUSUM_STATE = StructType(
    [
        StructField("p_sum", LongType()),
        StructField("p_min", LongType()),
        StructField("q_sum", LongType()),
        StructField("q_max", LongType()),
        StructField("last_ts_s", LongType()),
        StructField("n", LongType()),
    ]
)


NULL_FLAG = "_value_null"


def _exact_value(value_col: str) -> dict[str, Column]:
    """The value with nulls replaced by 0, and its null flag: both
    reach pandas without a float64 round trip."""
    v = F.col(value_col)
    return {value_col: F.coalesce(v, F.lit(0)), NULL_FLAG: v.isNull()}


def _make_detector(target: int, slack: int, ts_col: str, value_col: str,
                   ttl_ms: int | None):
    t, s = int(target), int(slack)

    def fn(key, pdfs, state: GroupState):
        (k,) = key
        if state.hasTimedOut:
            state.remove()
            return
        frames = [pdf for pdf in pdfs]
        if not frames:
            return
        pdf = pd.concat(frames, ignore_index=True)
        if len(pdf) == 0:
            return
        ts = (
            pdf[ts_col].astype("datetime64[ns]").astype("int64") // 10**9
        ).to_numpy()
        order = pd.DataFrame(
            {"t": ts, "null": pdf[NULL_FLAG].to_numpy(), "v": pdf[value_col].to_numpy()}
        ).sort_values(["t", "null", "v"], kind="mergesort")
        if state.exists:
            p_sum, p_min, q_sum, q_max, last, n = state.get
        else:
            p_sum, p_min, q_sum, q_max, last, n = 0, 0, 0, 0, None, 0
        out = {c: [] for c in ("key", "ts_s", "value", "cusum_pos",
                               "cusum_neg", "late")}
        for tt, null, v in zip(
            order["t"].to_numpy(), order["null"].to_numpy(), order["v"].to_numpy()
        ):
            if null:
                iv = None
            else:
                iv = int(v)
                p_sum += iv - t - s
                q_sum += iv - t + s
                p_min = min(p_min, p_sum)
                q_max = max(q_max, q_sum)
                n += 1
            out["key"].append(k)
            out["ts_s"].append(int(tt))
            out["value"].append(iv)
            if n == 0:
                out["cusum_pos"].append(None)
                out["cusum_neg"].append(None)
            else:
                out["cusum_pos"].append(p_sum - min(0, p_min))
                out["cusum_neg"].append(max(0, q_max) - q_sum)
            out["late"].append(last is not None and int(tt) < last)
            last = int(tt) if last is None else max(last, int(tt))
        state.update(
            (int(p_sum), int(p_min), int(q_sum), int(q_max), int(last),
             int(n))
        )
        if ttl_ms is not None:
            state.setTimeoutDuration(ttl_ms)
        # Int64 straight from the Python ints: a DataFrame built from a
        # list holding None would go through float64 first
        for c in ("value", "cusum_pos", "cusum_neg"):
            out[c] = pd.array(out[c], dtype="Int64")
        yield pd.DataFrame(out)

    return fn


ANOMALY_SCHEMA = StructType(
    [
        StructField("key", StringType()),
        StructField("bucket_s", LongType()),
        StructField("value", LongType()),
        StructField("baseline_mean", DoubleType()),
        StructField("n_prior", LongType()),
        StructField("zscore", DoubleType()),
        StructField("is_anomaly", BooleanType()),
        StructField("late", BooleanType()),
    ]
)

# ring buffer of the last `lookback` same-phase points, bucket-sorted,
# and the newest bucket seen (null-valued buckets advance it too)
ANOMALY_STATE = StructType(
    [
        StructField("buckets", ArrayType(LongType())),
        StructField("values", ArrayType(LongType())),
        StructField("newest", LongType()),
    ]
)


def _make_seasonal(lookback: int, min_prior: int, threshold: float,
                   bucket_col: str, value_col: str, ttl_ms: int | None):
    import numpy as np

    def fn(key, pdfs, state: GroupState):
        k = key[0]
        if state.hasTimedOut:
            state.remove()
            return
        frames = [pdf for pdf in pdfs]
        if not frames:
            return
        pdf = pd.concat(frames, ignore_index=True)
        if len(pdf) == 0:
            return
        order = pdf[[bucket_col, NULL_FLAG, value_col]].sort_values(
            [bucket_col, NULL_FLAG, value_col], kind="mergesort"
        )
        if state.exists:
            bufb, bufv, newest = state.get
            bufb, bufv = list(bufb), list(bufv)
        else:
            bufb, bufv, newest = [], [], None
        out = {c: [] for c in ("key", "bucket_s", "value", "baseline_mean",
                               "n_prior", "zscore", "is_anomaly", "late")}
        for b, is_null, v in zip(
            order[bucket_col].astype("int64").to_numpy(),
            order[NULL_FLAG].to_numpy(),
            order[value_col].to_numpy(),
        ):
            b = int(b)
            prior = [x for bb, x in zip(bufb, bufv) if bb < b][-lookback:]
            n = len(prior)
            if n >= min_prior:
                arr = np.asarray(prior, dtype=np.float64)
                mean = float(arr.mean())
                sd = float(arr.std(ddof=1)) if n >= 2 else 0.0
                z = (v - mean) / sd if sd > 0 and not is_null else None
            else:
                mean = float(np.mean(prior)) if prior else None
                z = None
            out["key"].append(k)
            out["bucket_s"].append(b)
            out["value"].append(None if is_null else int(v))
            out["baseline_mean"].append(mean)
            out["n_prior"].append(n)
            out["zscore"].append(z)
            out["is_anomaly"].append(z is not None and abs(z) > threshold)
            out["late"].append(newest is not None and b < newest)
            if not is_null:
                # insert in bucket order, trim to the lookback window
                i = len(bufb)
                while i > 0 and bufb[i - 1] > b:
                    i -= 1
                bufb.insert(i, b)
                bufv.insert(i, int(v))
                if len(bufb) > lookback:
                    bufb, bufv = bufb[-lookback:], bufv[-lookback:]
            if newest is None or b > newest:
                # null rows advance the late-flag baseline too
                newest = b
        state.update((bufb, bufv, newest))
        if ttl_ms is not None:
            state.setTimeoutDuration(ttl_ms)
        out["value"] = pd.array(out["value"], dtype="Int64")
        yield pd.DataFrame(out)

    return fn


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
    identical verdicts when points arrive in bucket order (pinned).
    A point whose bucket regresses the phase's newest is flagged
    ``late``; its baseline uses whatever older same-phase points the
    buffer still holds (the batch op re-reads history a stream cannot).
    """
    ttl_ms = None if state_ttl_s is None else int(state_ttl_s) * 1000
    if ttl_ms is not None and ttl_ms <= 0:
        raise ValueError(f"state_ttl_s must be positive, got {state_ttl_s}")

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

    fn = _make_seasonal(
        int(lookback), int(min_prior), float(threshold), bucket_col,
        value_col, ttl_ms,
    )

    def fn_keyed(key, pdfs, state):
        if state.hasTimedOut:
            state.remove()
            return
        frames = [pdf for pdf in pdfs]
        if not frames:
            return
        # real series key rides in the rows; the group key is (key, phase)
        first = next((f for f in frames if len(f)), None)
        if first is None:
            return
        real_key = first["key"].iloc[0]
        yield from fn((real_key,), iter(frames), state)

    return keyed.groupBy("_gk").applyInPandasWithState(
        fn_keyed,
        outputStructType=ANOMALY_SCHEMA,
        stateStructType=ANOMALY_STATE,
        outputMode="append",
        timeoutConf=(
            GroupStateTimeout.NoTimeout
            if ttl_ms is None
            else GroupStateTimeout.ProcessingTimeTimeout
        ),
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
    ttl_ms = None if state_ttl_s is None else int(state_ttl_s) * 1000
    if ttl_ms is not None and ttl_ms <= 0:
        raise ValueError(f"state_ttl_s must be positive, got {state_ttl_s}")
    renamed = stream.withColumnRenamed(key_col, "key").withColumns(
        _exact_value(value_col)
    )
    return renamed.groupBy("key").applyInPandasWithState(
        _make_detector(target, slack, ts_col, value_col, ttl_ms),
        outputStructType=CUSUM_SCHEMA,
        stateStructType=CUSUM_STATE,
        outputMode="append",
        timeoutConf=(
            GroupStateTimeout.NoTimeout
            if ttl_ms is None
            else GroupStateTimeout.ProcessingTimeTimeout
        ),
    )
