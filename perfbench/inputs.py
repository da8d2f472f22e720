"""Seeded benchmark inputs, generated here and handed to the program as
parquet files.

Every generator is a pure function of its size arguments and the seed,
so the same seed gives byte-identical tables. ``InputCache`` keeps them
on disk keyed by (kind, size, seed) and regenerates them on every use
to prove that the cached copy still matches the generator.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import statistics
import time
from collections.abc import Callable

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH_S = 1704067200  # 2024-01-01T00:00:00Z
WINDOW_S = 6 * 3600
PAGE_WINDOWS = 360  # 90 days of 6 h windows
BASE_WINDOWS = 324  # the first 90 % of the range forms the base root
EVENT_SPAN_S = 30 * 86400

LANGS = np.array(["en", "de", "fr", "es", "ru", "zh", "ja", "pt"])
LANG_P = np.array([0.45, 0.12, 0.10, 0.10, 0.08, 0.07, 0.05, 0.03])
WORDS = np.array(
    "the quick brown fox jumps over lazy dog stream table rollup tier "
    "window bucket shard crawl parse index fetch render".split()
)
# generation passes per use: repeating the cheap part of set-up gives a
# median, and comparing the passes proves the generator deterministic
PASSES = 3

EVENT_TYPES = np.array(["view", "click", "signup", "purchase", "error"])

UTC_US = pa.timestamp("us", tz="UTC")


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, stream])


def pages(rows: int, seed: int) -> pa.Table:
    """Pages table ``(url, warc_ts, html, text, lang)`` sorted by time.

    Exactly ``rows // PAGE_WINDOWS`` rows fall in each 6 h window, so
    every refresh delta has the same size. Url ranks follow a harmonic
    (zipf-like) law; ``html`` wraps ``text`` the way the hash audit
    expects.
    """
    if rows % PAGE_WINDOWS:
        raise ValueError(f"pages rows must be a multiple of {PAGE_WINDOWS}")
    rng = _rng(seed, 1)
    n_urls = max(16, rows // 64)
    rank = np.minimum(
        (np.exp(rng.random(rows) * np.log(n_urls + 1.0)) - 1.0).astype(np.int64),
        n_urls - 1,
    )
    window = np.repeat(np.arange(PAGE_WINDOWS, dtype=np.int64), rows // PAGE_WINDOWS)
    ts = EPOCH_S + window * WINDOW_S + rng.integers(0, WINDOW_S, rows)
    order = np.argsort(ts, kind="stable")
    rank, ts = rank[order], ts[order]
    url_lang = rng.choice(len(LANGS), size=n_urls, p=LANG_P)
    word = WORDS[rng.integers(0, len(WORDS), rows)]
    text = [
        f"page {r} at {t} " + (w + " ") * (3 + r % 7)
        for r, t, w in zip(rank.tolist(), ts.tolist(), word.tolist())
    ]
    return pa.table(
        {
            "url": [f"https://site{r % 97}.example.com/page/{r}" for r in rank.tolist()],
            "warc_ts": pa.array(ts * 1_000_000, UTC_US),
            "html": [f"<html><body>{s}</body></html>".encode() for s in text],
            "text": text,
            "lang": LANGS[url_lang[rank]],
        }
    )


def page_window(table: pa.Table, window: int) -> pa.Table:
    """Rows of one 6 h window (``table`` is sorted by time)."""
    per = table.num_rows // PAGE_WINDOWS
    return table.slice(window * per, per)


def events(rows: int, users: int, seed: int) -> pa.Table:
    """Events-shaped table ``(event_id, ts, user_id, event_type, value)``
    over 30 days, in time order."""
    rng = _rng(seed, 2)
    ts = np.sort(rng.integers(0, EVENT_SPAN_S * 1_000_000, rows)) + EPOCH_S * 1_000_000
    return pa.table(
        {
            "event_id": np.arange(rows, dtype=np.int64),
            "ts": pa.array(ts, UTC_US),
            "user_id": rng.integers(0, users, rows),
            "event_type": EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), rows)],
            "value": np.round(rng.gamma(2.0, 30.0, rows), 2),
        }
    )


def backlog(rows: int, keys: int, seed: int) -> pa.Table:
    """Keyed stream backlog ``(key, ts, value)``: one row per second, so
    time order is total and equals file order."""
    rng = _rng(seed, 3)
    key = rng.integers(0, keys, rows)
    return pa.table(
        {
            "key": [f"k{k:05d}" for k in key.tolist()],
            "ts": pa.array((EPOCH_S + np.arange(rows, dtype=np.int64)) * 1_000_000, UTC_US),
            "value": rng.integers(0, 1000, rows),
        }
    )


def digest(files: dict[str, pa.Table]) -> str:
    """Content hash of named tables (Arrow IPC bytes)."""
    h = hashlib.sha256()
    for name in sorted(files):
        sink = pa.BufferOutputStream()
        with pa.ipc.new_stream(sink, files[name].schema) as w:
            w.write_table(files[name])
        h.update(name.encode())
        h.update(sink.getvalue())
    return h.hexdigest()


def _read(path: str) -> str | None:
    try:
        with open(path) as f:
            return f.read()
    except FileNotFoundError:
        return None


class InputCache:
    """Parquet inputs under ``root``, one directory per key."""

    def __init__(self, root: str):
        self.root = root

    def prepare(
        self, key: str, make: Callable[[], dict[str, pa.Table]]
    ) -> tuple[str, float]:
        """Generate ``PASSES`` times, check that every pass gives the
        same bytes, and (re)write the cached copy unless it already
        holds them. Returns the directory and the median pass time
        plus the write time."""
        times, digests = [], set()
        files: dict[str, pa.Table] = {}
        for _ in range(PASSES):
            t0 = time.perf_counter()
            files = make()
            digests.add(digest(files))
            times.append(time.perf_counter() - t0)
        if len(digests) != 1:
            raise RuntimeError(f"input {key}: the same seed gave different tables")
        want = digests.pop()
        path = os.path.join(self.root, key)
        marker = os.path.join(path, "_DIGEST")
        t0 = time.perf_counter()
        if _read(marker) != want:
            shutil.rmtree(path, ignore_errors=True)
            for name, table in files.items():
                out = os.path.join(path, name)
                os.makedirs(os.path.dirname(out), exist_ok=True)
                pq.write_table(table, out, row_group_size=16384)
            with open(marker, "w") as f:
                f.write(want)
        return path, statistics.median(times) + time.perf_counter() - t0
