import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from perfbench import checks, inputs


@pytest.fixture
def frame():
    return pd.DataFrame(
        {"k": [1, 2, 3], "n": [10, 20, 30], "x": [0.5, np.nan, 1.5], "s": ["a", "b", None]}
    )


def _cmp(expected, actual):
    return checks.compare(expected, actual, ["k"], exact=("n", "s"), approx=("x",), label="t")


def test_compare_accepts_equal_frames_in_any_order(frame):
    assert _cmp(frame, frame.iloc[::-1].reset_index(drop=True)) == []


def test_compare_flags_a_tampered_exact_value(frame):
    bad = frame.copy()
    bad.loc[1, "n"] = 21
    (msg,) = _cmp(frame, bad)
    assert "column n differs in 1 rows" in msg


def test_compare_flags_a_float_beyond_tolerance_only(frame):
    close, far = frame.copy(), frame.copy()
    close.loc[0, "x"] = 0.5 * (1 + 1e-12)
    far.loc[0, "x"] = 0.5001
    assert _cmp(frame, close) == []
    assert "column x differs" in _cmp(frame, far)[0]


def test_compare_flags_missing_extra_and_duplicate_rows(frame):
    assert "1 rows missing" in _cmp(frame, frame.iloc[:2])[0]
    extra = pd.concat([frame, frame.iloc[:1].assign(k=9)])
    assert "1 unexpected rows" in _cmp(frame, extra)[0]
    assert "duplicate keys in actual" in _cmp(frame, pd.concat([frame, frame.iloc[:1]]))[0]


def test_equal():
    assert checks.equal("n", 3, 3) == []
    assert checks.equal("n", 3, 4) == ["n: expected 3, got 4"]
    assert checks.equal("n", 3, None) != []
    assert checks.equal("f", 1.0, 1.0 + 1e-12, rtol=1e-9) == []


def test_tier_oracle_on_hand_computed_pages(tmp_path):
    ts = [0, 10, 3600, 3700, 90000]
    table = pa.table({
        "url": ["u1", "u1", "u1", "u2", "u1"],
        "warc_ts": pa.array([(inputs.EPOCH_S + t) * 1_000_000 for t in ts], inputs.UTC_US),
        "text": ["ab", "abcd", "a", "abc", "ab"],
        "lang": ["en", "de", "en", "en", "en"],
    })
    path = str(tmp_path / "p.parquet")
    pq.write_table(table, path)
    hour = checks.tier_oracle([path], 3600).sort_values(["url", "bucket_s"])
    e = inputs.EPOCH_S
    assert hour["bucket_s"].tolist() == [e, e + 3600, e + 90000, e + 3600]
    assert hour["n_points"].tolist() == [2, 1, 1, 1]
    assert hour["mean_len"].tolist() == [3.0, 1.0, 2.0, 3.0]
    assert hour["lang_hist"].tolist() == ["de:1,en:1", "en:1", "en:1", "en:1"]
    assert hour["min_ts"].tolist()[0] == e and hour["max_ts"].tolist()[0] == e + 10
    day = checks.tier_oracle([path], 86400)
    assert sorted(day["n_points"].tolist()) == [1, 1, 3]
    # a tier that lost a point is caught
    tampered = hour.copy()
    tampered.loc[tampered.index[0], "n_points"] = 1
    assert checks.compare(hour, tampered, ["url", "bucket_s"], exact=("n_points",)) != []


def test_cusum_recursion_matches_running_extremum_identity():
    rng = np.random.default_rng(0)
    v = rng.integers(0, 100, 200)
    pos, neg = checks.cusum_columns(v, 50, 5)
    p = np.cumsum(v - 50 - 5)
    q = np.cumsum(v - 50 + 5)
    assert (pos == p - np.minimum(0, np.minimum.accumulate(p))).all()
    assert (neg == np.maximum(0, np.maximum.accumulate(q)) - q).all()


def test_stream_oracle_orders_each_key_by_time():
    backlog = pd.DataFrame({
        "key": ["a", "b", "a"],
        "ts": pd.to_datetime([2, 1, 1], unit="s", utc=True),
        "value": [10, 7, 4],
    })
    got = checks.stream_oracle(backlog, alpha=0.5, target=0, slack=0)
    # key a folds 4 then 10: ewma 4, (10 + 0.5*4) / 1.5 = 8
    assert got["ewma"]["rows"] == 3
    assert got["ewma"]["sum_ewma"] == pytest.approx(4 + 8 + 7)
    assert got["cusum"] == {"rows": 3, "sum_pos": 4 + 14 + 7, "sum_neg": 0, "max_pos": 14}


def test_rolling_oracle_matches_hand_values():
    events = pd.DataFrame({
        "event_id": range(4), "user_id": [1, 1, 1, 2],
        "ts": pd.to_datetime([3, 1, 2, 1], unit="s", utc=True), "value": [3.0, 1.0, 2.0, 5.0],
    })
    got = checks.rolling_oracle(events, window=2, alpha=1.0).set_index("event_id")
    assert got.loc[2, "mean_7"] == 1.5 and got.loc[0, "median_7"] == 2.5
    assert np.isnan(got.loc[1, "mean_7"]) and np.isnan(got.loc[3, "mean_7"])
    assert got.sort_index()["ewma"].tolist() == [3.0, 1.0, 2.0, 5.0]
