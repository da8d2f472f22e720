"""Span recorder and the wrappers that put spans around calls into the
package's layers, installed from the benchmark's side.

A span is a dict ``{id, name, parent, start, end, attrs}`` with epoch
seconds, the clock Spark's event log uses. The layer is the part of the
name before the first dot. Given a SparkContext, the recorder makes the
innermost open span the job group of every Spark job started on this
thread, so the event-log fold can charge each job to one span.
"""

from __future__ import annotations

import contextlib
import os
import time

Interval = tuple[float, float]


class Recorder:
    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[dict] = []
        self._open: list[dict] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "id": f"span-{len(self.spans)}",
            "name": name,
            "parent": self._open[-1]["id"] if self._open else None,
            "start": time.time(),
            "end": None,
            "attrs": attrs,
        }
        self.spans.append(rec)
        self._open.append(rec)
        self._job_group(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._open.pop()
            self._job_group(self._open[-1] if self._open else None)

    def _job_group(self, rec: dict | None) -> None:
        if self.sc is None:
            return
        if rec is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(rec["id"], rec["name"])


def union(intervals: list[Interval]) -> list[Interval]:
    """Sorted, disjoint cover of ``intervals``."""
    out: list[list[float]] = []
    for a, b in sorted(intervals):
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return [(a, b) for a, b in out]


def length(intervals: list[Interval]) -> float:
    return sum(b - a for a, b in union(intervals))


def minus(whole: Interval, holes: list[Interval]) -> list[Interval]:
    """``whole`` with the union of ``holes`` cut out."""
    out, lo = [], whole[0]
    for a, b in union(holes):
        a, b = max(a, whole[0]), min(b, whole[1])
        if a >= b:
            continue
        if a > lo:
            out.append((lo, a))
        lo = max(lo, b)
    if lo < whole[1]:
        out.append((lo, whole[1]))
    return out


def intersect(xs: list[Interval], ys: list[Interval]) -> float:
    """Length of the overlap of two interval sets."""
    total = 0.0
    for a, b in union(xs):
        for c, d in union(ys):
            total += max(0.0, min(b, d) - max(a, c))
    return total


def self_intervals(span: dict, spans: list[dict]) -> list[Interval]:
    """The part of ``span`` that none of its child spans covers."""
    kids = [(s["start"], s["end"]) for s in spans if s["parent"] == span["id"]]
    return minus((span["start"], span["end"]), kids)


class _Collected:
    """A lazy DataFrame whose ``collect()`` runs inside a span; every
    other attribute is the DataFrame's own."""

    def __init__(self, df, rec: Recorder, name: str):
        self._df, self._rec, self._name = df, rec, name

    def collect(self):
        with self._rec.span(self._name):
            return self._df.collect()

    def __getattr__(self, attr):
        return getattr(self._df, attr)


def instrument(rec: Recorder) -> None:
    """Wrap the layer functions the retention and refresh paths call.

    - ``IcebergLayoutTable.write_tier`` / ``overwrite_parts`` /
      ``commit_metadata``: one span per commit, tagged with the table.
    - ``audit_summary``: its result's ``collect()`` (the audit job).
    - ``compress_tier``: plan construction; its executor work runs in
      the ``compressed_*`` table writes.

    ``pipeline`` imports the last two by name, so both bindings are
    wrapped.
    """
    from lambdo_spark.rollup import audit, compress_stage, pipeline
    from lambdo_spark.sources.iceberg_layout import IcebergLayoutTable

    def table_call(name, orig):
        def call(self, *a, **kw):
            with rec.span(name, table=os.path.basename(os.path.normpath(self.root))):
                return orig(self, *a, **kw)
        return call

    def audited(orig):
        def call(*a, **kw):
            return _Collected(orig(*a, **kw), rec, "audit.audit_summary")
        return call

    def compressed(orig):
        def call(*a, **kw):
            with rec.span("compress_stage.compress_tier"):
                return orig(*a, **kw)
        return call

    for method in ("write_tier", "overwrite_parts", "commit_metadata"):
        orig = getattr(IcebergLayoutTable, method)
        setattr(IcebergLayoutTable, method, table_call(f"iceberg_layout.{method}", orig))
    for owner in (audit, pipeline):
        owner.audit_summary = audited(owner.audit_summary)
    for owner in (compress_stage, pipeline):
        owner.compress_tier = compressed(owner.compress_tier)
