"""Seeded random inputs through the three stream twins (EWMA, CUSUM,
seasonal anomaly): every emitted row must equal a plain-Python per-row
reference fold over the processing order, across restarts.

Each seed draws 3-6 keys with 20-40 rows per key, ~15% NULL values
and (except the in-order seed) ~10% late rows — an event time older
than the key's newest landed row. Rows land as 3 files with one
``availableNow`` run per file on the same checkpoint, so every file is
a restart from the state store. Within a micro-batch the twins fold a
key's rows in event-time order (event times are distinct per key, so
no tie-break enters); across micro-batches in landing order. For the
seed that lands rows in order, the stream output also equals the batch
``ewma`` / ``cusum`` / ``anomaly_seasonal``.
"""

import datetime as dt
import glob
import math
import os
import shutil
import statistics

import numpy as np
import pandas as pd
import pytest

from lambdo_spark.rollup.analytics import anomaly_seasonal, cusum, ewma
from lambdo_spark.streaming.detect import streaming_anomaly, streaming_cusum
from lambdo_spark.streaming.smoothing import streaming_ewma

ALPHA, TARGET, SLACK = 0.3, 2, 3
HOUR = 3600
PERIOD = 4 * HOUR           # 4 phases per key
THRESHOLD, MIN_PRIOR = 1.5, 2
T0 = dt.datetime(2024, 1, 1)
T0_S = 1704067200           # T0 in epoch seconds (sessions run in UTC)
SCHEMA = "k string, ts timestamp, bucket_s long, v long"


def _draw(seed: int, in_order: bool):
    """Rows as (key, minute, value-or-None) and the file (0..2) each
    lands in."""
    rng = np.random.default_rng(seed)
    rows, files = [], []
    for j in range(int(rng.integers(3, 7))):
        n = int(rng.integers(20, 41))
        minutes = np.sort(rng.choice(200, size=n, replace=False))
        vals = rng.integers(-20, 21, size=n) + np.where(
            rng.random(n) < 0.1, rng.integers(-200, 201, size=n), 0
        )
        cut = np.sort(rng.choice(np.arange(1, n), size=2, replace=False))
        f = np.searchsorted(cut, np.arange(n), side="right")
        if not in_order:
            # move ~10% of the rows to a later file: they land after a
            # newer row of their key, i.e. late
            move = (rng.random(n) < 0.15) & (f < 2)
            f = np.where(move, f + rng.integers(1, 3, size=n), f).clip(0, 2)
        for m, v, fi in zip(minutes, vals, f):
            null = rng.random() < 0.15
            rows.append((f"k{j}", int(m), None if null else int(v)))
            files.append(int(fi))
    return rows, files


def _spark_rows(rows):
    return [(k, T0 + dt.timedelta(minutes=m), m * HOUR, v) for k, m, v in rows]


def _processing_order(rows, files):
    """Per group: the rows in the order the twin folds them (landing
    file, then event time)."""
    order = sorted(range(len(rows)), key=lambda i: (files[i], rows[i][1]))
    return [rows[i] for i in order]


def _ref_ewma(seq):
    """Textbook adjust=True EWMA over each processed prefix: weights
    (1-α)^(age in rows), NULL rows add no weight but still age."""
    q, out, late, newest = 1.0 - ALPHA, [], [], {}
    hist = {}
    for k, m, v in seq:
        h = hist.setdefault(k, [])
        h.append(v)
        w = [(q ** (len(h) - 1 - i), x) for i, x in enumerate(h) if x is not None]
        den = sum(a for a, _ in w)
        ewm = sum(a * x for a, x in w) / den if w else math.nan
        late.append(k in newest and m < newest[k])
        newest[k] = max(newest.get(k, m), m)
        out.append((k, T0_S + m * 60, ewm))
    return out, late


def _ref_cusum(seq):
    """Zero-floored textbook recursion; NULL scores until the key's
    first non-null value."""
    st, newest, out = {}, {}, []
    for k, m, v in seq:
        sp, sn = st.get(k, (None, None))
        if v is not None:
            sp = max(0, (sp or 0) + v - TARGET - SLACK)
            sn = max(0, (sn or 0) - (v - TARGET + SLACK))
            st[k] = (sp, sn)
        out.append((k, T0_S + m * 60, v, sp, sn, k in newest and m < newest[k]))
        newest[k] = max(newest.get(k, m), m)
    return out


def _ref_anomaly(seq, lookback):
    """Per (key, phase): a ring of the newest ``lookback`` non-null
    (bucket, value) points; each row reads the ring's points before
    its own bucket."""
    ring, newest, out = {}, {}, []
    for k, m, v in seq:
        b = m * HOUR
        g = (k, b % PERIOD)
        r = ring.setdefault(g, [])
        prior = [x for bb, x in r if bb < b][-lookback:]
        n = len(prior)
        mean = statistics.fmean(prior) if prior else None
        sd = statistics.stdev(prior) if n >= 2 else 0.0
        z = (v - mean) / sd if n >= MIN_PRIOR and sd > 0 and v is not None else None
        out.append((k, b, v, mean, n, z, z is not None and abs(z) > THRESHOLD,
                    g in newest and b < newest[g]))
        if v is not None:
            ring[g] = sorted(r + [(b, v)])[-lookback:]
        newest[g] = max(newest.get(g, b), b)
    return out


def _twins(lookback):
    return {
        "ewma": lambda s: streaming_ewma(s, ALPHA, key_col="k", ts_col="ts",
                                         value_col="v"),
        "cusum": lambda s: streaming_cusum(s, TARGET, SLACK, key_col="k",
                                           ts_col="ts", value_col="v"),
        "anomaly": lambda s: streaming_anomaly(
            s, period_s=PERIOD, lookback=lookback, min_prior=MIN_PRIOR,
            threshold=THRESHOLD, key_col="k", bucket_col="bucket_s",
            value_col="v"),
    }


def _run_stream(spark, tmp_path, rows, files, lookback):
    """Land the three files one at a time; after each, one
    availableNow run of every twin on its own checkpoint."""
    src = str(tmp_path / "src")
    os.makedirs(src)
    twins = _twins(lookback)
    for fi in range(3):
        part = [r for r, f in zip(_spark_rows(rows), files) if f == fi]
        staged = str(tmp_path / f"staged{fi}")
        spark.createDataFrame(part, SCHEMA).coalesce(1).write.parquet(staged)
        for i, p in enumerate(sorted(glob.glob(os.path.join(staged, "part-*.parquet")))):
            shutil.copy(p, os.path.join(src, f"f{fi}-{i}.parquet"))
        stream = spark.readStream.schema(SCHEMA).format("parquet").load(src)
        queries = [
            build(stream).writeStream.format("parquet")
            .option("path", str(tmp_path / name / "out"))
            .option("checkpointLocation", str(tmp_path / name / "ckpt"))
            .outputMode("append").trigger(availableNow=True).start()
            for name, build in twins.items()
        ]
        for q in queries:
            q.awaitTermination(180)
            q.stop()
            assert q.exception() is None
    return {
        name: spark.read.parquet(str(tmp_path / name / "out")).toPandas()
        for name in twins
    }


def _sorted(pdf, cols):
    return pdf.sort_values(cols).reset_index(drop=True)


def _close(a, b):
    a = pd.to_numeric(pd.Series(a), errors="coerce").to_numpy(dtype=float)
    b = pd.to_numeric(pd.Series(b), errors="coerce").to_numpy(dtype=float)
    return np.allclose(a, b, rtol=1e-9, atol=1e-9, equal_nan=True)


def _exact(col):
    return [None if pd.isna(x) else int(x) for x in col]


@pytest.mark.parametrize("seed,in_order", [(11, True), (12, False), (13, False)])
def test_stream_twins_equal_reference_folds(spark, tmp_path, seed, in_order):
    rows, files = _draw(seed, in_order)
    assert any(v is None for _, _, v in rows)
    seq = _processing_order(rows, files)
    ref, late = _ref_ewma(seq)
    assert in_order or sum(late) >= 0.05 * len(rows)
    # the in-order seed reads every prior same-phase point (lookback
    # above the rows per phase), the batch window's reach
    lookback = 64 if in_order else 3
    got = _run_stream(spark, tmp_path, rows, files, lookback)

    ref = _sorted(pd.DataFrame(ref, columns=["key", "ts_s", "ewma"]).assign(late=late),
                  ["key", "ts_s"])
    e = _sorted(got["ewma"], ["key", "ts_s"])
    assert list(e["key"]) == list(ref["key"]) and list(e["ts_s"]) == list(ref["ts_s"])
    assert _close(e["ewma"], ref["ewma"])
    assert list(e["late"]) == list(ref["late"])

    cols = ["key", "ts_s", "value", "cusum_pos", "cusum_neg", "late"]
    ref = _sorted(pd.DataFrame(_ref_cusum(seq), columns=cols), ["key", "ts_s"])
    c = _sorted(got["cusum"], ["key", "ts_s"])
    assert list(c["key"]) == list(ref["key"]) and list(c["ts_s"]) == list(ref["ts_s"])
    for col in ("value", "cusum_pos", "cusum_neg"):
        assert _exact(c[col]) == _exact(ref[col]), col
    assert list(c["late"]) == list(ref["late"])

    cols = ["key", "bucket_s", "value", "baseline_mean", "n_prior", "zscore",
            "is_anomaly", "late"]
    ref = _sorted(pd.DataFrame(_ref_anomaly(seq, lookback), columns=cols),
                  ["key", "bucket_s"])
    a = _sorted(got["anomaly"], ["key", "bucket_s"])
    assert list(a["key"]) == list(ref["key"])
    assert list(a["bucket_s"]) == list(ref["bucket_s"])
    assert _exact(a["value"]) == _exact(ref["value"])
    assert list(a["n_prior"]) == list(ref["n_prior"])
    assert _close(a["baseline_mean"], ref["baseline_mean"])
    assert _close(a["zscore"], ref["zscore"])
    assert list(a["is_anomaly"]) == list(ref["is_anomaly"])
    assert list(a["late"]) == list(ref["late"])
    assert any(ref["is_anomaly"]) and any(ref["zscore"].notna())

    if not in_order:
        return
    batch = spark.createDataFrame(_spark_rows(rows), SCHEMA)
    be = _sorted(ewma(batch, "v", ["ts"], ["k"], ALPHA).toPandas(), ["k", "ts"])
    assert _close(be["ewma"], e["ewma"])
    bc = _sorted(cusum(batch, "v", ["ts"], ["k"], TARGET, SLACK).toPandas(), ["k", "ts"])
    for col in ("cusum_pos", "cusum_neg"):
        assert _exact(bc[col]) == _exact(c[col]), col
    ba = _sorted(
        anomaly_seasonal(batch, "v", "bucket_s", ["k"], period_s=PERIOD,
                         lookback=lookback, min_prior=MIN_PRIOR,
                         threshold=THRESHOLD).toPandas(),
        ["k", "bucket_s"],
    )
    assert list(ba["n_prior"]) == list(a["n_prior"])
    assert _close(ba["baseline_mean"], a["baseline_mean"])
    assert _close(ba["zscore"], a["zscore"])
    assert list(ba["is_anomaly"]) == list(a["is_anomaly"])
