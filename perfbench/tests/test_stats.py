"""Percentiles, the tail rule, span self time and the event-log reader."""

import json

import pytest

import common
from common import Span


def test_percentile_is_nearest_rank():
    xs = list(range(1, 101))
    assert common.percentile(xs, 50) == 50
    assert common.percentile(xs, 99) == 99
    assert common.percentile(xs, 100) == 100
    assert common.percentile([7.0], 99) == 7.0
    with pytest.raises(ValueError):
        common.percentile([], 50)


@pytest.mark.parametrize(
    "n, want",
    [
        (19, None),  # even the median has only 9 beyond it
        (20, 50.0),
        (99, 50.0),
        (100, 90.0),
        (199, 90.0),
        (200, 95.0),
        (1000, 99.0),
        (9999, 99.0),
        (10000, 99.9),
    ],
)
def test_tail_is_highest_percentile_with_ten_beyond(n, want):
    got = common.tail_percentile([float(i) for i in range(n)])
    if want is None:
        assert got is None
    else:
        p, value = got
        assert p == want
        assert n - round(p / 100 * n) >= 10
        assert value == common.percentile(range(n), p)


def test_self_time_without_children_is_duration():
    assert common.self_time(Span("b", 0.0, 2.0, None), []) == 2.0


def test_self_time_subtracts_disjoint_children():
    kids = [Span("a", 0.5, 1.0, 0), Span("b", 1.5, 1.75, 0)]
    assert common.self_time(Span("b", 0.0, 2.0, None), kids) == pytest.approx(1.25)


def test_self_time_counts_overlapping_children_once():
    kids = [Span("a", 0.5, 1.5, 0), Span("b", 1.0, 1.8, 0), Span("c", 1.2, 1.3, 0)]
    assert common.self_time(Span("b", 0.0, 2.0, None), kids) == pytest.approx(0.7)


def test_self_time_clips_children_to_the_parent():
    kids = [Span("a", -1.0, 0.5, 0), Span("b", 1.5, 3.0, 0)]
    assert common.self_time(Span("b", 0.0, 2.0, None), kids) == pytest.approx(1.0)


def test_recorder_links_children_and_dumps(tmp_path):
    rec = common.SpanRecorder()
    parent = rec.start("batch", key="0")
    child = common.timed_call(rec, "pipeline.run", lambda x: x + 1, lambda: parent)
    assert child(1) == 2
    rec.finish(parent)
    assert [s.name for s in rec.children(parent)] == ["pipeline.run"]
    assert 0.0 <= rec.self_time(parent) <= rec.spans[parent].end - rec.spans[parent].start
    rec.dump(tmp_path / "spans.jsonl")
    lines = [json.loads(x) for x in (tmp_path / "spans.jsonl").read_text().splitlines()]
    assert [(x["name"], x["parent"]) for x in lines] == [("batch", None), ("pipeline.run", 0)]


def test_event_log_totals_follow_the_submitting_job(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "q#0"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2],
         "Properties": {}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": {
            "Executor Run Time": 5, "JVM GC Time": 1, "Memory Bytes Spilled": 2,
            "Disk Bytes Spilled": 3, "Shuffle Write Metrics": {"Shuffle Bytes Written": 7}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Metrics": {
            "Executor Run Time": 4, "Shuffle Write Metrics": {}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2, "Task Metrics": {
            "Executor Run Time": 100}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 0, "Completion Time": 1}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 1, "Completion Time": 2}},
    ]
    path = tmp_path / "log"
    path.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    totals = common.read_event_log(str(path), lambda p: p.get("spark.jobGroup.id"))
    assert list(totals) == ["q#0"]
    t = totals["q#0"]
    assert (t.jobs, t.stages, t.tasks) == (1, 2, 2)
    assert (t.executor_run_ms, t.gc_ms, t.spill_bytes, t.shuffle_write_bytes) == (9, 1, 5, 7)
    assert common.spark_layers([t], 2)["spark.tasks"] == 1.0
