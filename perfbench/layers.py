"""Per-layer metrics from the recorded spans and the folded event log.

A job belongs to the span whose id is its job group (a streaming
query's jobs carry the query's run id, which its span records as
``attrs["run_id"]``). A job is "under" a layer when its span or one of
that span's ancestors has a name starting with the layer. Additive
metrics are totals over the window divided by the number of workload
operations in it, so runs that fit a different number of operations
into their time stay comparable.
"""

from __future__ import annotations

from collections import Counter

from perfbench.eventlog import EventLog, Job
from perfbench.spans import intersect, length, self_intervals

MB = 1e6

# (name, unit) of every per-layer metric, in report order
METRICS = [
    ("exec.busy_ratio", "ratio"),
    ("exec.jobs", "count"),
    ("exec.tasks", "count"),
    ("exec.gc_s", "s"),
    ("exec.driver_s", "s"),
    ("tiers.agg_build_s", "s"),
    ("tiers.shuffle_write_mb", "MB"),
    ("tiers.fetch_wait_s", "s"),
    ("tiers.spill_mb", "MB"),
    ("audit.s", "s"),
    ("compress_stage.python_s", "s"),
    ("compress_stage.arrow_in_mb", "MB"),
    ("compress_stage.arrow_out_mb", "MB"),
    ("iceberg_layout.write_s", "s"),
    ("iceberg_layout.driver_s", "s"),
    ("iceberg_layout.commits", "count"),
    ("iceberg_layout.files_written", "count"),
    ("iceberg_layout.mb_written", "MB"),
    ("iceberg_layout.scan_mb", "MB"),
    ("iceberg_layout.prune_ratio", "ratio"),
    ("realtime.plan_ms", "ms"),
    ("realtime.tail_scan_mb", "MB"),
    ("realtime.shuffle_mb", "MB"),
    ("incremental.parts_rewritten", "count"),
    ("incremental.rows_written_per_delta_row", "ratio"),
    ("incremental.jobs_per_refresh", "count"),
    ("compiler.build_ms", "ms"),
    ("compiler.eager_jobs", "count"),
    ("column_ops.python_s", "s"),
    ("column_ops.arrow_in_mb", "MB"),
    ("analytics.python_s", "s"),
    ("analytics.arrow_in_mb", "MB"),
    ("streaming.batches", "count"),
    ("streaming.state_rows", "count"),
    ("streaming.state_mb", "MB"),
    ("streaming.state_commit_ms", "ms"),
    ("streaming.python_s", "s"),
]


class Attribution:
    """Jobs and spans of one traced run, joined."""

    def __init__(self, log: EventLog, spans: list[dict]):
        self.log = log
        self.spans = spans
        self.by_id = {s["id"]: s for s in spans}
        self.group_span = {s["id"]: s for s in spans}
        for s in spans:
            if "run_id" in s["attrs"]:
                self.group_span[s["attrs"]["run_id"]] = s

    def span_of(self, job: Job) -> dict | None:
        return self.group_span.get(job.group)

    def lineage(self, span: dict | None):
        while span is not None:
            yield span
            span = self.by_id.get(span["parent"])

    def jobs(self, window: tuple[float, float]) -> list[Job]:
        lo, hi = window
        return [j for j in self.log.jobs.values() if lo <= j.start <= hi]

    def under(self, jobs: list[Job], test) -> list[Job]:
        """Jobs whose span, or an ancestor of it, passes ``test``."""
        return [j for j in jobs if any(test(s) for s in self.lineage(self.span_of(j)))]

    def spans_in(self, window: tuple[float, float], prefix: str) -> list[dict]:
        lo, hi = window
        return [
            s for s in self.spans
            if s["name"].startswith(prefix) and lo <= s["start"] <= hi
        ]

    def accounted_share(self, window: tuple[float, float]) -> float:
        """(Spark-job time inside each span's self time, summed over
        spans, plus the window's time outside every job) / window. It
        is 1 when every job ran inside the span it is charged to."""
        lo, hi = window
        wall = hi - lo
        jobs = self.jobs(window)
        by_span: dict[str, list] = {}
        for j in jobs:
            s = self.span_of(j)
            if s is not None:
                by_span.setdefault(s["id"], []).append(_interval(j))
        in_spans = sum(
            intersect(self_intervals(self.by_id[sid], self.spans), ivs)
            for sid, ivs in by_span.items()
        )
        outside_jobs = wall - length([_clip(_interval(j), window) for j in jobs])
        return (in_spans + outside_jobs) / wall


def _interval(job: Job) -> tuple[float, float]:
    return (job.start, job.end if job.end is not None else job.start)


def _clip(iv, window):
    return (max(iv[0], window[0]), min(iv[1], window[1]))


def _sum(jobs: list[Job]) -> Counter:
    c: Counter = Counter()
    for j in jobs:
        c.update(j.counters)
    return c


def compute(
    att: Attribution,
    window: tuple[float, float],
    n_ops: int,
    nproc: int,
    layout_root: str | None = None,
) -> dict[str, float]:
    """Every metric of ``METRICS`` over ``window``."""
    n = max(n_ops, 1)
    lo, hi = window
    jobs = att.jobs(window)
    total = _sum(jobs)
    out: dict[str, float] = {
        "exec.busy_ratio": total["run_ms"] / 1000 / ((hi - lo) * nproc),
        "exec.jobs": len(jobs) / n,
        "exec.tasks": total["tasks"] / n,
        "exec.gc_s": total["gc_ms"] / 1000 / n,
        "exec.driver_s": (
            (hi - lo) - length([_clip(_interval(j), window) for j in jobs])
        ) / n,
    }

    def named(prefix):
        return lambda s: s["name"].startswith(prefix)

    def compressed_write(s):
        return s["name"].startswith("iceberg_layout.") and s["attrs"].get(
            "table", ""
        ).startswith("compressed_")

    rollup = att.under(jobs, lambda s: s["name"].startswith(("pipeline.", "incremental.")))
    side = {j.id for j in att.under(rollup, lambda s: compressed_write(s) or named("audit.")(s))}
    tiers = _sum([j for j in rollup if j.id not in side])
    out.update({
        "tiers.agg_build_s": tiers["agg_build_ms"] / 1000 / n,
        "tiers.shuffle_write_mb": tiers["shuffle_write_b"] / MB / n,
        "tiers.fetch_wait_s": tiers["fetch_wait_ms"] / 1000 / n,
        "tiers.spill_mb": tiers["spill_b"] / MB / n,
        "audit.s": _span_s(att.spans_in(window, "audit.")) / n,
    })

    comp = _sum(att.under(jobs, compressed_write))
    out.update({
        "compress_stage.python_s": comp["py_ms"] / 1000 / n,
        "compress_stage.arrow_in_mb": comp["py_in_b"] / MB / n,
        "compress_stage.arrow_out_mb": comp["py_out_b"] / MB / n,
    })

    writes = att.spans_in(window, "iceberg_layout.")
    write_jobs = att.under(jobs, named("iceberg_layout."))
    write_driver = 0.0
    for s in writes:
        mine = att.under(write_jobs, lambda x, sid=s["id"]: x["id"] == sid)
        covered = length([_clip(_interval(j), (s["start"], s["end"])) for j in mine])
        write_driver += (s["end"] - s["start"]) - covered
    written = _sum(write_jobs)
    files_written = sum(
        e.counters["files_written"]
        for e in att.log.executions_in({j.group for j in write_jobs})
    )
    out.update({
        "iceberg_layout.write_s": _span_s(writes) / n,
        "iceberg_layout.driver_s": write_driver / n,
        "iceberg_layout.commits": len(writes) / n,
        "iceberg_layout.files_written": files_written / n,
        "iceberg_layout.mb_written": written["output_b"] / MB / n,
    })

    reads = att.spans_in(window, "realtime.read")
    read_jobs = att.under(jobs, named("realtime.read"))
    layout_files = layout_b = tail_b = 0
    for e in att.log.executions_in({j.group for j in read_jobs}):
        for scan in e.scans.values():
            if layout_root and layout_root in scan.location:
                layout_files += scan.files
                layout_b += scan.bytes
            else:
                tail_b += scan.bytes
    snapshot_files = sum(s["attrs"].get("snapshot_files", 0) for s in reads)
    out.update({
        "iceberg_layout.scan_mb": layout_b / MB / n,
        "iceberg_layout.prune_ratio": layout_files / snapshot_files if snapshot_files else 0.0,
        "realtime.plan_ms": _span_s(att.spans_in(window, "realtime.plan")) * 1000 / n,
        "realtime.tail_scan_mb": tail_b / MB / n,
        "realtime.shuffle_mb": _sum(read_jobs)["shuffle_write_b"] / MB / n,
    })

    refreshes = att.spans_in(window, "incremental.refresh_from_pages")
    refresh_jobs = att.under(jobs, named("incremental."))
    delta_rows = sum(s["attrs"].get("delta_rows", 0) for s in refreshes)
    out.update({
        "incremental.parts_rewritten": sum(s["attrs"].get("parts", 0) for s in refreshes) / n,
        "incremental.rows_written_per_delta_row": (
            _sum(refresh_jobs)["output_rows"] / delta_rows if delta_rows else 0.0
        ),
        "incremental.jobs_per_refresh": len(refresh_jobs) / len(refreshes) if refreshes else 0.0,
    })

    column = _sum(att.under(jobs, named("column_ops.")))
    analytic = _sum(att.under(jobs, named("analytics.")))
    out.update({
        "compiler.build_ms": _span_s(att.spans_in(window, "compiler.")) * 1000 / n,
        "compiler.eager_jobs": len(att.under(jobs, named("compiler."))) / n,
        "column_ops.python_s": column["py_ms"] / 1000 / n,
        "column_ops.arrow_in_mb": column["py_in_b"] / MB / n,
        "analytics.python_s": analytic["py_ms"] / 1000 / n,
        "analytics.arrow_in_mb": analytic["py_in_b"] / MB / n,
    })

    streams = att.spans_in(window, "streaming.")
    batches = sum(s["attrs"].get("batches", 0) for s in streams)
    out.update({
        "streaming.batches": batches / n,
        "streaming.state_rows": max((s["attrs"].get("state_rows", 0) for s in streams), default=0),
        "streaming.state_mb": max((s["attrs"].get("state_bytes", 0) for s in streams), default=0) / MB,
        "streaming.state_commit_ms": (
            sum(s["attrs"].get("commit_ms", 0) for s in streams) / batches if batches else 0.0
        ),
        "streaming.python_s": _sum(att.under(jobs, named("streaming.")))["py_ms"] / 1000 / n,
    })
    return out


def _span_s(spans: list[dict]) -> float:
    return sum(s["end"] - s["start"] for s in spans)
