import os

import pytest

from perfbench import eventlog, layers

FRAGMENT = os.path.join(os.path.dirname(__file__), "data", "eventlog_fragment.jsonl")


def _span(sid, name, parent, start, end, **attrs):
    return {"id": sid, "name": name, "parent": parent, "start": start, "end": end, "attrs": attrs}


SPANS = [
    _span("span-0", "op", None, 999.5, 1005.0),
    _span("span-1", "iceberg_layout.write_tier", "span-0", 999.8, 1002.5, table="compressed_1h"),
    _span("span-2", "realtime.read", "span-0", 1002.8, 1004.2, snapshot_files=4),
]


@pytest.fixture(scope="module")
def log():
    return eventlog.read(FRAGMENT)


def test_fold_charges_tasks_to_the_job_that_ran_the_stage(log):
    assert sorted(log.jobs) == [0, 1, 2]
    first, second = log.jobs[0], log.jobs[1]
    assert (first.group, first.execution, first.start, first.end) == ("span-1", 0, 1000.0, 1002.0)
    # stage 1 is listed by both jobs; its task belongs to job 0, which ran it
    assert first.counters["tasks"] == 2
    assert first.counters["run_ms"] == 1000
    assert first.counters["output_rows"] == 100
    assert second.counters["tasks"] == 1
    assert log.jobs[2].group is None


def test_fold_reads_task_accumulables(log):
    c = log.jobs[0].counters
    assert c["py_ms"] == 300
    assert c["py_in_b"] == 1_500_000
    assert c["py_out_b"] == 500_000
    assert c["agg_build_ms"] == 50
    assert c["fetch_wait_ms"] == 20


def test_fold_reads_driver_sql_metrics_per_scan(log):
    write, read = log.executions[0], log.executions[1]
    assert write.counters["files_written"] == 4
    (scan,) = write.scans.values()
    assert (scan.files, scan.bytes) == (2, 3_000_000)
    assert "tier_1d" in scan.location
    # the adaptive re-plan keeps the scan's accumulators: still one scan
    (scan,) = read.scans.values()
    assert (scan.files, scan.bytes) == (8, 5_000_000)


def test_layers_from_fragment(log):
    att = layers.Attribution(log, SPANS)
    m = layers.compute(att, (999.5, 1006.0), n_ops=1, nproc=4, layout_root="/data/root")
    assert set(m) == {name for name, _ in layers.METRICS}
    assert m["exec.jobs"] == 3
    assert m["exec.busy_ratio"] == pytest.approx(2.2 / (6.5 * 4))
    assert m["exec.driver_s"] == pytest.approx(6.5 - 3.5)
    assert m["compress_stage.python_s"] == pytest.approx(0.3)
    assert m["compress_stage.arrow_in_mb"] == pytest.approx(1.5)
    assert m["iceberg_layout.commits"] == 1
    assert m["iceberg_layout.files_written"] == 4
    assert m["iceberg_layout.mb_written"] == pytest.approx(1.0)
    # the write span lasted 2.7 s, of which its job covered 2 s
    assert m["iceberg_layout.driver_s"] == pytest.approx(0.7)
    assert m["realtime.tail_scan_mb"] == pytest.approx(5.0)
    assert m["realtime.shuffle_mb"] == pytest.approx(1.0)
    assert m["iceberg_layout.scan_mb"] == 0
    assert m["streaming.batches"] == 0


def test_per_op_normalisation(log):
    att = layers.Attribution(log, SPANS)
    one = layers.compute(att, (999.5, 1006.0), n_ops=1, nproc=4)
    two = layers.compute(att, (999.5, 1006.0), n_ops=2, nproc=4)
    assert two["exec.tasks"] == one["exec.tasks"] / 2
    assert two["exec.busy_ratio"] == one["exec.busy_ratio"]


def test_accounted_share_flags_a_job_outside_every_span(log):
    att = layers.Attribution(log, SPANS)
    # jobs 0 and 1 ran inside their spans (3 s), 3 s ran no job at all,
    # and job 2 (0.5 s) has no span
    assert att.accounted_share((999.5, 1006.0)) == pytest.approx(6.0 / 6.5)
    spans = SPANS + [_span("span-3", "bench.check", None, 1004.8, 1006.0)]
    log.jobs[2].group = "span-3"
    try:
        assert layers.Attribution(log, spans).accounted_share((999.5, 1006.0)) == pytest.approx(1.0)
    finally:
        log.jobs[2].group = None


def test_find_log_skips_unfinished(tmp_path):
    (tmp_path / "app-1.inprogress").write_text("")
    with pytest.raises(FileNotFoundError):
        eventlog.find_log(str(tmp_path))
    (tmp_path / "app-1").write_text("")
    assert eventlog.find_log(str(tmp_path)).endswith("app-1")
