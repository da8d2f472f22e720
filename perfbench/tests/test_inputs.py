import os

import numpy as np
import pytest

from perfbench import inputs


def test_same_seed_same_bytes_other_seed_other_bytes():
    a = inputs.digest({"p": inputs.pages(720, 1)})
    assert a == inputs.digest({"p": inputs.pages(720, 1)})
    assert a != inputs.digest({"p": inputs.pages(720, 2)})


def test_pages_windows_hold_equal_rows_and_html_wraps_text():
    t = inputs.pages(720, 3)
    per = 720 // inputs.PAGE_WINDOWS
    for w in (0, 100, inputs.PAGE_WINDOWS - 1):
        ts = inputs.page_window(t, w)["warc_ts"].cast("int64").to_numpy() // 1_000_000
        assert len(ts) == per
        lo = inputs.EPOCH_S + w * inputs.WINDOW_S
        assert ((ts >= lo) & (ts < lo + inputs.WINDOW_S)).all()
    html, text = t["html"].to_pylist(), t["text"].to_pylist()
    assert all(h == f"<html><body>{s}</body></html>".encode() for h, s in zip(html, text))
    with pytest.raises(ValueError):
        inputs.pages(721, 3)


def test_backlog_is_in_time_order():
    t = inputs.backlog(100, 7, 1)
    assert (np.diff(t["ts"].cast("int64").to_numpy()) > 0).all()
    assert len(set(t["key"].to_pylist())) <= 7


def test_cache_writes_once_and_rewrites_a_stale_copy(tmp_path):
    cache = inputs.InputCache(str(tmp_path))
    calls = []

    def make(seed=1):
        calls.append(seed)
        return {"e/part-0.parquet": inputs.events(50, 5, seed)}

    path, seconds = cache.prepare("ev", make)
    assert seconds > 0 and len(calls) == 3
    target = os.path.join(path, "e", "part-0.parquet")
    first = os.path.getmtime(target)
    cache.prepare("ev", make)
    assert os.path.getmtime(target) == first
    cache.prepare("ev", lambda: make(2))
    with open(os.path.join(path, "_DIGEST")) as f:
        assert f.read() == inputs.digest(make(2))
