"""Self-tests of the span tree, the event-log parser and the per-layer
roll-up (stdlib only, no Spark)."""

from __future__ import annotations

import json
import os

import pytest

from perfbench import trace as tr


class FakeClock:
    def __init__(self):
        self.t = 0.0

    def __call__(self):
        return self.t


def _tracer():
    tags, clock = [], FakeClock()
    return tr.Tracer(tags.append, clock), tags, clock


def test_spans_nest_and_publish_the_innermost_tag():
    t, tags, clock = _tracer()
    root = t.open("op", "op0")
    with t.span("cluster", "cc") as cc:
        clock.t = 2.0
    inner = t.open("lineage", "tail")
    clock.t = 3.0
    t.close(root)  # closes the still-open tail too
    assert (cc.parent, inner.parent) == (root.id, root.id)
    assert (cc.duration, inner.duration, root.duration) == (2.0, 1.0, 3.0)
    assert tags == ["0", "1", "0", "2", None]
    assert not t.active


def test_within_stage_sees_any_enclosing_stage():
    t, _, _ = _tracer()
    t.open("op", "op0")
    t.open("cluster", "clusters", stage="clusters")
    t.open("cluster", "connected_components")
    assert t.within_stage()


def _event(kind, **kw):
    return json.dumps({"Event": kind, **kw})


def _task(stage, run_ms, shuffle=0, spill=0, rows=0, nbytes=0, attempt=0):
    return _event(
        "SparkListenerTaskEnd",
        **{
            "Stage ID": stage,
            "Stage Attempt ID": attempt,
            "Task Metrics": {
                "Executor Run Time": run_ms,
                "Disk Bytes Spilled": spill,
                "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
                "Output Metrics": {"Records Written": rows, "Bytes Written": nbytes},
            },
        },
    )


def _stage(stage, tag, attempt=0):
    props = {tr.SPAN_PROPERTY: tag} if tag is not None else {}
    return _event(
        "SparkListenerStageSubmitted",
        **{"Stage Info": {"Stage ID": stage, "Stage Attempt ID": attempt}, "Properties": props},
    )


def _job(job, tag):
    props = {tr.SPAN_PROPERTY: tag} if tag is not None else {}
    return _event("SparkListenerJobStart", **{"Job ID": job, "Properties": props})


def test_parse_event_log_attributes_tasks_through_their_stage():
    lines = [
        _job(0, "3"), _stage(0, "3"), _task(0, 100, shuffle=10), _task(0, 50, spill=7),
        _job(1, "4"), _stage(1, "4"), _stage(1, "5", attempt=1),
        _task(1, 20, rows=5, nbytes=99), _task(1, 30, attempt=1),
        _job(2, None), _stage(2, None), _task(2, 1000),
        "",
        _event("SparkListenerTaskEnd", **{"Stage ID": 0, "Stage Attempt ID": 0}),
    ]
    stats = tr.parse_event_log(lines)
    assert stats["3"] == tr.SpanStats(jobs=1, task_ms=150, shuffle_write_bytes=10, spill_bytes=7)
    assert stats["4"] == tr.SpanStats(jobs=1, task_ms=20, records_written=5, bytes_written=99)
    assert stats["5"] == tr.SpanStats(task_ms=30)
    assert stats[None] == tr.SpanStats(jobs=1, task_ms=1000)


def test_op_metrics_wall_self_task_and_uncovered_share():
    t, _, clock = _tracer()
    root = t.open("op", "op0")                      # 0 .. 10
    clock.t = 1.0
    stage = t.open("cluster", "clusters", stage="clusters")   # 1 .. 7
    clock.t = 2.0
    cc = t.open("cluster", "connected_components")  # 2 .. 6
    clock.t = 3.0
    with t.span("probe", "edges_in") as probe:      # 3 .. 4
        probe.attrs["edges_in"] = 42
        clock.t = 4.0
    clock.t = 6.0
    t.close(cc)
    clock.t = 7.0
    t.close(stage)
    clock.t = 8.0
    with t.span("catalog", "append_committed") as cat:  # 8 .. 9
        clock.t = 9.0
    clock.t = 10.0
    t.close(root)
    stats = {
        str(cc.id): tr.SpanStats(jobs=3, task_ms=4000, shuffle_write_bytes=2_000_000),
        str(stage.id): tr.SpanStats(jobs=1, task_ms=2000, records_written=11),
        str(cat.id): tr.SpanStats(jobs=1, task_ms=500, bytes_written=3_000_000),
        str(probe.id): tr.SpanStats(jobs=1, task_ms=9999),
    }
    m = tr.op_metrics(t, root, stats, cores=2)
    # nested cluster spans count their wall once; the probe is not cluster time
    assert m["cluster.wall_s"] == 6.0
    assert m["cluster.self_s"] == 5.0
    assert m["cluster.task_s"] == 6.0
    assert m["cluster.busy"] == pytest.approx(6.0 / (6.0 * 2))
    assert (m["cluster.jobs"], m["cluster.rows_out"]) == (4, 11)
    assert m["cluster.shuffle_write_mb"] == 2.0
    assert m["cluster.edges_in"] == 42
    assert (m["catalog.write_s"], m["catalog.read_s"], m["catalog.write_mb"]) == (1.0, 0, 3.0)
    assert m["extract.wall_s"] == 0 and m["extract.busy"] == 0.0
    assert m["trace.op_wall_s"] == 10.0
    assert m["trace.uncovered_share"] == pytest.approx(3.0 / 10.0)


def test_op_metrics_keeps_operations_apart():
    t, _, clock = _tracer()
    first = t.open("op", "op0")
    with t.span("dedup", "dedup_decisions"):
        clock.t = 1.0
    t.close(first)
    second = t.open("op", "op1")
    with t.span("dedup", "dedup_decisions"):
        clock.t = 3.0
    t.close(second)
    assert tr.op_metrics(t, first, {}, 1)["dedup.wall_s"] == 1.0
    assert tr.op_metrics(t, second, {}, 1)["dedup.wall_s"] == 2.0


def test_every_reported_metric_is_declared_in_benchmark_json():
    path = os.path.join(os.path.dirname(__file__), "..", "..", "BENCHMARK.json")
    with open(path) as f:
        declared = json.load(f)["per_layer"]
    assert [(d["name"], d["unit"], d["better"]) for d in declared] == tr.per_layer_metrics()
    t, _, _ = _tracer()
    root = t.open("op", "op0")
    t.close(root)
    computed = set(tr.op_metrics(t, root, {}, 1))
    # the rest are derived in run.py from the output counts and the op walls
    derived = {"pairs.candidates", "scoring.pairs_per_s", "scoring.match_ratio", "trace.overhead_s"}
    assert computed | derived == {d["name"] for d in declared}
