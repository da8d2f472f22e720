"""Copy-on-write vs merge-on-read on seeded random DML sequences.

Each seed builds a random base (3-4 weekly partitions, NULLs in the
predicate column ``v``) and runs a random sequence of MERGE (existing
keys, new keys, sometimes a brand-new partition), DELETE, UPDATE of
one or two columns, ``compact_parts`` and ``rewrite_deletes``. The
same sequence goes to a copy-on-write table, a merge-on-read table and
a table whose mode alternates step by step; after every step each
table's ``read_tier`` must equal a pandas model of the sequence."""

import random

import pandas as pd
import pytest

from lambdo_spark.sources.iceberg_layout import IcebergLayoutTable

WEEK = 604800
SCHEMA = "url string, bucket_s bigint, v double, w bigint, part bigint"
COLS = ["url", "bucket_s", "v", "w", "part"]
KEYS = ["url", "bucket_s"]
N_STEPS = 8
KINDS = ("merge", "delete", "update", "compact", "rewrite")
MODES = {
    "cow": lambda i: "copy-on-write",
    "mor": lambda i: "merge-on-read",
    "alt": lambda i: ("copy-on-write", "merge-on-read")[i % 2],
}


def _v(rng):
    return None if rng.random() < 0.25 else float(rng.randrange(11))


def _row(rng, url, bucket_s):
    return (url, bucket_s, _v(rng), rng.randrange(21), bucket_s // WEEK * WEEK)


def _frame(rows):
    return pd.DataFrame(rows, columns=COLS).astype({"v": "float64"})


def _rows(df: pd.DataFrame) -> list[tuple]:
    return sorted(
        tuple(None if pd.isna(x) else x for x in r)
        for r in df[COLS].itertuples(index=False, name=None)
    )


class _Seq:
    """Draws the random steps and keeps the pandas model."""

    def __init__(self, seed):
        self.rng = random.Random(seed)
        self.next_bucket = 0
        # every kind at least once, the rest drawn at random
        self.kinds = list(KINDS) + self.rng.choices(
            KINDS[:3], k=N_STEPS - len(KINDS)
        )
        self.rng.shuffle(self.kinds)
        self.new_part_merged = False
        weeks = self.rng.sample(range(6), self.rng.randint(3, 4))
        rows = []
        for wk in weeks:
            for _ in range(self.rng.randint(4, 8)):
                rows.append(self._new_row(wk))
        self.model = _frame(rows)

    def _new_row(self, week):
        self.next_bucket += 1
        return _row(
            self.rng, f"u{self.rng.randrange(6)}",
            week * WEEK + self.next_bucket * 3600,
        )

    def _weeks(self):
        return sorted({int(p) // WEEK for p in self.model.part})

    def _predicate(self):
        """(SQL predicate, pandas mask, prune) — NULL ``v`` never matches."""
        rng, kind = self.rng, self.rng.randrange(4)
        if kind == 0:
            t = float(rng.randrange(2, 9))
            return f"v > {t}", lambda m: m.v > t, None
        if kind == 1:
            u = f"u{rng.randrange(6)}"
            return f"url = '{u}'", lambda m: m.url == u, None
        if kind == 2:
            p, t = rng.choice(self._weeks()) * WEEK, float(rng.randrange(3, 9))
            return (
                f"part = {p} AND v < {t}",
                lambda m: (m.part == p) & (m.v < t),
                None,
            )
        b = int(rng.choice(list(self.model.bucket_s)))
        return (
            f"bucket_s <= {b} AND w % 3 = 1",
            lambda m: (m.bucket_s <= b) & (m.w % 3 == 1),
            {"bucket_s": (None, b)},
        )

    def step(self):
        """One random step: (name, kwargs, apply-to-model)."""
        rng, kind = self.rng, self.kinds.pop()
        if kind == "merge":
            old = self.model.sample(
                min(len(self.model), rng.randint(1, 3)),
                random_state=rng.randrange(1 << 30),
            )
            rows = [_row(rng, r.url, int(r.bucket_s)) for r in old.itertuples()]
            weeks = self._weeks()
            rows += [self._new_row(rng.choice(weeks)) for _ in range(rng.randint(1, 2))]
            if not self.new_part_merged or rng.random() < 0.4:
                self.new_part_merged = True
                fresh = [w for w in range(8) if w not in weeks]
                rows.append(self._new_row(rng.choice(fresh)))
            delta = _frame(rows)

            def apply(m):
                key = pd.MultiIndex.from_frame(m[KEYS])
                gone = key.isin(pd.MultiIndex.from_frame(delta[KEYS]))
                return pd.concat([m[~gone], delta], ignore_index=True)
            return "merge", {"rows": rows}, apply
        if kind in ("delete", "update"):
            pred, mask, prune = self._predicate()
            if kind == "delete":
                return (
                    "delete", {"predicate": pred, "prune": prune},
                    lambda m: m[~mask(m).fillna(False).astype(bool)],
                )
            sets = rng.choice([
                ({"v": "v + 1.5"}, {"v": lambda m: m.v + 1.5}),
                ({"w": "w * 2"}, {"w": lambda m: m.w * 2}),
                ({"v": "w / 2", "w": "w + 7"},
                 {"v": lambda m: m.w / 2, "w": lambda m: m.w + 7}),
            ])

            def apply(m):
                hit = mask(m).fillna(False).astype(bool)
                old = m[hit]
                new = m.copy()
                for c, f in sets[1].items():  # every SET sees the old row
                    new.loc[hit, c] = f(old)
                return new
            return (
                "update", {"predicate": pred, "set": sets[0], "prune": prune},
                apply,
            )
        if kind == "compact":
            weeks = self._weeks()
            parts = (
                None if rng.random() < 0.5
                else [str(w * WEEK) for w in rng.sample(weeks, rng.randint(1, len(weeks)))]
            )
            return "compact", {"parts": parts}, lambda m: m
        return "rewrite", {"min_files": rng.choice([1, 2])}, lambda m: m


def _run(spark, t, name, kw, mode):
    if name == "merge":
        delta = spark.createDataFrame(kw["rows"], SCHEMA)
        t.merge_rows(delta, keys=KEYS, mode=mode)
    elif name == "delete":
        t.delete_where(spark, kw["predicate"], prune=kw["prune"], mode=mode)
    elif name == "update":
        t.update_where(spark, kw["predicate"], kw["set"], prune=kw["prune"], mode=mode)
    elif name == "compact":
        t.compact_parts(spark, parts=kw["parts"])
    else:
        t.rewrite_deletes(spark, min_files=kw["min_files"])


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_random_dml_sequence_cow_mor_alternating(spark, tmp_path, seed):
    seq = _Seq(seed)
    base = spark.createDataFrame(_rows(seq.model), SCHEMA)
    tables = {}
    for name in MODES:
        tables[name] = IcebergLayoutTable(str(tmp_path / name))
        tables[name].write_tier(base)
    for i in range(N_STEPS):
        name, kw, apply = seq.step()
        seq.model = apply(seq.model)
        want = _rows(seq.model)
        for tname, t in tables.items():
            _run(spark, t, name, kw, MODES[tname](i))
            got = _rows(t.read_tier(spark).select(*COLS).toPandas())
            assert got == want, (seed, i, name, kw, tname)
