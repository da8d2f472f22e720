import pytest

from perfbench import spans


def test_union_and_length_merge_overlaps():
    assert spans.union([(5, 6), (0, 2), (1, 3)]) == [(0, 3), (5, 6)]
    assert spans.length([(0, 2), (1, 3), (5, 6)]) == 4


def test_minus_cuts_holes_and_clips_them():
    assert spans.minus((0, 10), [(1, 3), (2, 5), (8, 12)]) == [(0, 1), (5, 8)]
    assert spans.minus((0, 10), []) == [(0, 10)]
    assert spans.minus((0, 10), [(-1, 11)]) == []


def test_intersect():
    assert spans.intersect([(0, 4), (6, 10)], [(3, 7)]) == 2
    assert spans.intersect([(0, 1)], [(2, 3)]) == 0


def test_self_time_is_parent_minus_covered_children():
    parent = {"id": "p", "parent": None, "start": 0.0, "end": 10.0}
    kids = [
        {"id": "a", "parent": "p", "start": 1.0, "end": 3.0},
        {"id": "b", "parent": "p", "start": 2.0, "end": 5.0},
        {"id": "c", "parent": "p", "start": 8.0, "end": 12.0},
        # a grandchild does not count against the parent
        {"id": "d", "parent": "a", "start": 6.0, "end": 7.0},
    ]
    own = spans.self_intervals(parent, [parent] + kids)
    assert own == [(0.0, 1.0), (5.0, 8.0)]
    assert spans.length(own) == 4.0


def test_recorder_nests_and_times_spans():
    rec = spans.Recorder()
    with rec.span("op", round=0):
        with rec.span("realtime.read") as inner:
            pass
    outer, inner = rec.spans
    assert inner["parent"] == outer["id"]
    assert outer["parent"] is None
    assert outer["start"] <= inner["start"] <= inner["end"] <= outer["end"]
    assert outer["attrs"] == {"round": 0}


def test_recorder_closes_a_span_on_error():
    rec = spans.Recorder()
    with pytest.raises(ValueError):
        with rec.span("op"):
            raise ValueError
    assert rec.spans[0]["end"] is not None
    with rec.span("next"):
        pass
    assert rec.spans[1]["parent"] is None


class _Context:
    def __init__(self):
        self.calls = []

    def setJobGroup(self, gid, desc):
        self.calls.append(gid)

    def setLocalProperty(self, key, value):
        if key == "spark.jobGroup.id":
            self.calls.append(value)


def test_recorder_sets_the_innermost_span_as_job_group():
    sc = _Context()
    rec = spans.Recorder(sc)
    with rec.span("a"):
        with rec.span("b"):
            pass
    assert sc.calls == ["span-0", "span-1", "span-0", None]


def test_collected_proxy_runs_collect_in_a_span():
    class Frame:
        columns = ["x"]

        def collect(self):
            return [1]

    rec = spans.Recorder()
    proxy = spans._Collected(Frame(), rec, "audit.audit_summary")
    assert proxy.columns == ["x"]
    assert proxy.collect() == [1]
    assert [s["name"] for s in rec.spans] == ["audit.audit_summary"]
