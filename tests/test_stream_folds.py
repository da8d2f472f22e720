"""The stream twins' folds without Spark: folding a sequence in pieces,
carrying the state across each split, must equal one fold over the
whole sequence — the property a checkpointed restart relies on. Plus
one Spark case: a CUSUM stream whose sums leave the int64 range must
fail its query rather than wrap."""

import datetime as dt
import glob
import os
import shutil

import numpy as np
import pandas as pd
import pytest
from pyspark.errors import StreamingQueryException

from lambdo_spark.streaming.detect import (
    NULL_FLAG,
    anomaly_fold,
    cusum_fold,
    streaming_cusum,
)
from lambdo_spark.streaming.smoothing import ewma_fold

FOLDS = {
    "ewma": ewma_fold(0.3, "ts", "v"),
    "cusum": cusum_fold(4, 2, "ts", "v"),
    "anomaly": anomaly_fold(5, 2, 1.5, "bucket_s", "v"),
}


def _rows(rng, n):
    """A key's rows in processing order — (time, null, value), event
    times a few repeated — with ~15% NULL values."""
    m, v = rng.integers(0, 3 * n, size=n), rng.integers(-50, 51, size=n)
    null = rng.random(n) < 0.15
    order = np.lexsort((v, null, m))
    m, v, null = m[order], v[order], null[order]
    return pd.DataFrame({
        "key": "u",
        "ts": pd.Timestamp("2024-01-01") + pd.to_timedelta(m, unit="min"),
        "bucket_s": m * 86400,
        # the twins' null encoding: value 0 plus the flag; EWMA reads
        # the float column with NaN
        "v": np.where(null, 0, v),
        NULL_FLAG: null,
    })


def _ewma_rows(rows):
    return rows.assign(v=rows["v"].where(~rows[NULL_FLAG]).astype("float64"))


@pytest.mark.parametrize("name", sorted(FOLDS))
@pytest.mark.parametrize("seed", range(5))
def test_fold_in_pieces_equals_one_fold(name, seed):
    rng = np.random.default_rng(seed)
    rows = _rows(rng, int(rng.integers(30, 80)))
    if name == "ewma":
        rows = _ewma_rows(rows)
    fold = FOLDS[name]
    whole_state, whole = fold(None, rows)

    cuts = np.sort(rng.choice(np.arange(1, len(rows)), size=4, replace=False))
    state, outs = None, []
    for piece in np.split(rows, cuts):
        state, out = fold(state, piece.reset_index(drop=True))
        outs.append(out)
    pieces = pd.concat(outs, ignore_index=True)

    pd.testing.assert_frame_equal(pieces, whole)
    assert state == whole_state


def test_cusum_fold_scores_match_the_textbook_recursion():
    rng = np.random.default_rng(7)
    rows = _rows(rng, 60)
    _, out = FOLDS["cusum"](None, rows)
    sp = sn = None
    for (v, null), pos, neg in zip(rows[["v", NULL_FLAG]].itertuples(index=False),
                                   out["cusum_pos"], out["cusum_neg"]):
        if not null:
            sp = max(0, (sp or 0) + int(v) - 4 - 2)
            sn = max(0, (sn or 0) - (int(v) - 4 + 2))
        assert (None if pd.isna(pos) else int(pos)) == sp
        assert (None if pd.isna(neg) else int(neg)) == sn


def test_cusum_stream_past_int64_fails_its_query(spark, tmp_path):
    src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))
    staged = str(tmp_path / "staged")
    t0 = dt.datetime(2024, 1, 1)
    rows = [("u", t0 + dt.timedelta(minutes=i), 2**62) for i in range(3)]
    spark.createDataFrame(rows, "k string, ts timestamp, v long") \
        .coalesce(1).write.parquet(staged)
    os.makedirs(src)
    for p in glob.glob(os.path.join(staged, "part-*.parquet")):
        shutil.copy(p, src)
    stream = spark.readStream.schema("k string, ts timestamp, v long") \
        .format("parquet").load(src)
    q = (
        streaming_cusum(stream, key_col="k", ts_col="ts", value_col="v")
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    try:
        with pytest.raises(StreamingQueryException):
            q.awaitTermination(180)
    finally:
        q.stop()
