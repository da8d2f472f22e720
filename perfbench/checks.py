"""Independent oracles (DuckDB, pandas) and the helpers that compare
the program's outputs with them. Each helper returns a list of failure
messages; an empty list means the output is correct.
"""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd

MAX_REPORTED = 3


def compare(
    expected: pd.DataFrame,
    actual: pd.DataFrame,
    keys: list[str],
    exact: tuple[str, ...] = (),
    approx: tuple[str, ...] = (),
    rtol: float = 1e-9,
    label: str = "",
) -> list[str]:
    """Row-by-row comparison on ``keys``: the same key set, ``exact``
    columns equal, ``approx`` columns equal within ``rtol`` (NaN equals
    NaN in both kinds)."""
    failures = []
    e = expected.set_index(keys).sort_index()
    a = actual.set_index(keys).sort_index()
    for side, frame in (("expected", e), ("actual", a)):
        if frame.index.has_duplicates:
            failures.append(f"{label}: duplicate keys in {side}")
    if failures:
        return failures
    missing, extra = e.index.difference(a.index), a.index.difference(e.index)
    if len(missing):
        failures.append(f"{label}: {len(missing)} rows missing, e.g. {list(missing[:MAX_REPORTED])}")
    if len(extra):
        failures.append(f"{label}: {len(extra)} unexpected rows, e.g. {list(extra[:MAX_REPORTED])}")
    common = e.index.intersection(a.index)
    for col in exact + approx:
        x = e.loc[common, col].to_numpy()
        y = a.loc[common, col].to_numpy()
        if col in approx:
            same = np.isclose(x.astype(float), y.astype(float), rtol=rtol, atol=0.0, equal_nan=True)
        else:
            same = (x == y) | (pd.isna(x) & pd.isna(y))
        bad = np.flatnonzero(~same)
        if len(bad):
            shown = [(common[i], x[i], y[i]) for i in bad[:MAX_REPORTED]]
            failures.append(f"{label}: column {col} differs in {len(bad)} rows, e.g. {shown}")
    return failures


def equal(label: str, expected, actual, rtol: float = 0.0) -> list[str]:
    """Scalar check; ``rtol`` > 0 allows float rounding."""
    if actual is None:
        ok = False
    elif rtol:
        ok = bool(np.isclose(float(expected), float(actual), rtol=rtol, atol=0.0))
    else:
        ok = expected == actual
    return [] if ok else [f"{label}: expected {expected!r}, got {actual!r}"]


# ------------------------------------------------------------- tiers

def tier_oracle(files: list[str], tier_s: int) -> pd.DataFrame:
    """DuckDB rollup of pages parquet into one tier: per (url, bucket)
    n_points, mean_len, min/max epoch seconds and a sorted
    ``lang:count`` list."""
    con = duckdb.connect()
    try:
        return con.execute(
            f"""
            WITH p AS (
              SELECT url, lang, length(text) AS len,
                     CAST(epoch(warc_ts) AS BIGINT) AS ts_s,
                     CAST(floor(epoch(warc_ts) / {tier_s}) AS BIGINT) * {tier_s} AS bucket_s
              FROM read_parquet(?)
            ), by_lang AS (
              SELECT url, bucket_s, lang || ':' || CAST(count(*) AS VARCHAR) AS entry
              FROM p GROUP BY url, bucket_s, lang
            ), hist AS (
              SELECT url, bucket_s, string_agg(entry, ',' ORDER BY entry) AS lang_hist
              FROM by_lang GROUP BY url, bucket_s
            )
            SELECT url, bucket_s,
                   CAST(count(*) AS BIGINT) AS n_points,
                   CAST(sum(len) AS DOUBLE) / count(*) AS mean_len,
                   min(ts_s) AS min_ts, max(ts_s) AS max_ts,
                   any_value(h.lang_hist) AS lang_hist
            FROM p JOIN hist h USING (url, bucket_s)
            GROUP BY url, bucket_s
            """,
            [files],
        ).df()
    finally:
        con.close()


def tier_frame(tier_df) -> pd.DataFrame:
    """A tier table's rows in ``tier_oracle``'s shape (Spark side)."""
    from pyspark.sql import functions as F

    hist = F.array_join(
        F.array_sort(
            F.transform(
                F.map_entries("lang_hist"),
                lambda e: F.concat(e["key"], F.lit(":"), e["value"].cast("string")),
            )
        ),
        ",",
    )
    return tier_df.select(
        "url",
        "bucket_s",
        F.col("n_points").cast("long").alias("n_points"),
        "mean_len",
        F.unix_timestamp("min_ts").alias("min_ts"),
        F.unix_timestamp("max_ts").alias("max_ts"),
        hist.alias("lang_hist"),
    ).toPandas()


# ------------------------------------------------------------ series

def rolling_oracle(events: pd.DataFrame, window: int, alpha: float) -> pd.DataFrame:
    """pandas ``rolling(window).mean()/.median()`` and ``ewm(alpha)``
    per user in (ts, event_id) order."""
    parts = []
    for _, g in events.sort_values(["ts", "event_id"], kind="mergesort").groupby("user_id", sort=False):
        v = g["value"].astype("float64")
        parts.append(
            pd.DataFrame(
                {
                    "event_id": g["event_id"].to_numpy(),
                    "mean_7": v.rolling(window).mean().to_numpy(),
                    "median_7": v.rolling(window).median().to_numpy(),
                    "ewma": v.ewm(alpha=alpha, adjust=True).mean().to_numpy(),
                }
            )
        )
    return pd.concat(parts, ignore_index=True)


def cusum_columns(v: np.ndarray, target: int, slack: int) -> tuple[np.ndarray, np.ndarray]:
    """Two-sided CUSUM by the textbook recursion
    S+ = max(0, S+ + x - target - slack), S- = max(0, S- - (x - target + slack))."""
    pos, neg = np.zeros(len(v), dtype=np.int64), np.zeros(len(v), dtype=np.int64)
    sp = sn = 0
    for i, x in enumerate(v.tolist()):
        sp = max(0, sp + x - target - slack)
        sn = max(0, sn - (x - target + slack))
        pos[i], neg[i] = sp, sn
    return pos, neg


def hourly_cusum_oracle(events: pd.DataFrame, slack: int) -> pd.DataFrame:
    """Hourly integer-cent sums per event type, then CUSUM (target 0)."""
    ts_s = (events["ts"] - pd.Timestamp(0, tz="UTC")) // pd.Timedelta(seconds=1)
    hourly = (
        events.assign(
            bucket_s=(ts_s // 3600) * 3600,
            v=np.round(events["value"].to_numpy() * 100).astype(np.int64),
        )
        .groupby(["event_type", "bucket_s"], as_index=False)["v"]
        .sum()
        .sort_values(["event_type", "bucket_s"])
    )
    cols = [cusum_columns(g["v"].to_numpy(), 0, slack) for _, g in hourly.groupby("event_type")]
    hourly["cusum_pos"] = np.concatenate([c[0] for c in cols])
    hourly["cusum_neg"] = np.concatenate([c[1] for c in cols])
    return hourly


# ------------------------------------------------------------ stream

def stream_oracle(backlog: pd.DataFrame, alpha: float, target: int, slack: int) -> dict:
    """Per-twin checksums of the batch answer on the stream's rows:
    pandas ``ewm`` and the CUSUM recursion per key in time order."""
    ewma_parts, pos_parts, neg_parts = [], [], []
    for _, g in backlog.sort_values("ts", kind="mergesort").groupby("key", sort=False):
        v = g["value"].to_numpy()
        ewma_parts.append(pd.Series(v.astype("float64")).ewm(alpha=alpha, adjust=True).mean().to_numpy())
        pos, neg = cusum_columns(v.astype(np.int64), target, slack)
        pos_parts.append(pos)
        neg_parts.append(neg)
    ewma = np.concatenate(ewma_parts)
    pos, neg = np.concatenate(pos_parts), np.concatenate(neg_parts)
    return {
        "ewma": {"rows": len(backlog), "sum_ewma": float(ewma.sum()), "sum_ewma_sq": float((ewma**2).sum())},
        "cusum": {
            "rows": len(backlog),
            "sum_pos": int(pos.sum()),
            "sum_neg": int(neg.sum()),
            "max_pos": int(pos.max()),
        },
    }
