"""One runner for the keyed stream twins (EWMA, CUSUM, seasonal
anomaly): ``applyInPandasWithState`` with a pure fold per group.

A fold is ``fold(state | None, rows) -> (state', out)``: it takes the
group's decoded state (``None`` on a cold start) and the group's rows
of one micro-batch as one pandas frame, and returns the new state
tuple and the output frame. It sees no ``GroupState`` and no Spark, so
a test can call it directly. The runner owns the protocol around it,
once for every twin: a timed-out key is evicted, an empty batch
returns with no output and no state change, the returned state is
written back and the processing-time TTL is re-armed.
"""

from __future__ import annotations

from typing import Callable

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.group import GroupedData
from pyspark.sql.streaming.state import GroupStateTimeout
from pyspark.sql.types import DataType, StructField, StructType

Fold = Callable[[tuple | None, pd.DataFrame], tuple[tuple, pd.DataFrame]]


def run_keyed_fold(grouped: GroupedData, fold: Fold, output: StructType,
                   state: StructType, state_ttl_s: int | None) -> DataFrame:
    """Fold every group of ``grouped`` with ``fold``, appending its
    output frames. ``state_ttl_s``: optional processing-time idle
    eviction; None keeps every key's state forever."""
    ttl_ms = None if state_ttl_s is None else int(state_ttl_s) * 1000
    if ttl_ms is not None and ttl_ms <= 0:
        raise ValueError(f"state_ttl_s must be positive, got {state_ttl_s}")

    def fn(key, pdfs, group_state):
        if group_state.hasTimedOut:
            group_state.remove()
            return
        frames = [pdf for pdf in pdfs if len(pdf)]
        if not frames:
            return
        new, out = fold(group_state.get if group_state.exists else None,
                        pd.concat(frames, ignore_index=True))
        group_state.update(new)
        if ttl_ms is not None:
            group_state.setTimeoutDuration(ttl_ms)
        yield out

    return grouped.applyInPandasWithState(
        fn,
        outputStructType=output,
        stateStructType=state,
        outputMode="append",
        timeoutConf=(
            GroupStateTimeout.NoTimeout
            if ttl_ms is None
            else GroupStateTimeout.ProcessingTimeTimeout
        ),
    )


def struct(**fields: DataType) -> StructType:
    """A StructType of nullable fields, in argument order."""
    return StructType([StructField(n, t) for n, t in fields.items()])


def epoch_s(ts: pd.Series) -> np.ndarray:
    """A timestamp column as int64 epoch seconds."""
    return ts.astype("datetime64[ns]").to_numpy().astype("int64") // 10**9


def late_flags(t: np.ndarray, last: int | None) -> tuple[np.ndarray, int]:
    """Per row of a key's time-sorted batch: is it older than the
    newest event processed before it? Sorted rows never regress within
    the batch, so a row is late exactly when it is older than the
    stored ``last`` (none is on a cold start). Returns the flags and
    the new ``last``."""
    seed = t[0] if last is None else last
    return t < seed, int(max(seed, t[-1]))
