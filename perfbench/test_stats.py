"""Unit tests for the benchmark's own arithmetic, on synthetic inputs and
without Spark:

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from stats import (  # noqa: E402
    Tracer,
    aggregate_progress,
    backlog_growing,
    beyond,
    max_ok_rate,
    percentile,
    rung_summary,
    self_times,
    supported,
    tail,
)


# -- the ten-beyond rule ----------------------------------------------------

def test_nearest_rank_percentile():
    values = list(range(1, 101))
    assert percentile(values, 50) == 50
    assert percentile(values, 90) == 90
    assert percentile(values, 99) == 99
    assert percentile([7.0], 99) == 7.0
    assert percentile([], 50) is None


def test_percentile_needs_ten_samples_beyond_it():
    assert beyond(100, 90) == 10 and supported(100, 90)
    assert beyond(99, 90) == 9 and not supported(99, 90)
    assert supported(1000, 99) and not supported(999, 99)
    assert supported(40, 75) and not supported(39, 75)
    # query_mix: 8 queries x 3 passes is the smallest sample behind p50
    assert supported(24, 50) and supported(20, 50)
    assert not supported(19, 50)
    assert not supported(0, 50)


def test_tail_is_the_highest_supported_percentile():
    assert tail([float(i) for i in range(1000)]) == {
        "q": 99, "n": 1000, "value": 989.0}
    assert tail([float(i) for i in range(120)])["q"] == 90
    assert tail([float(i) for i in range(40)])["q"] == 75
    assert tail([float(i) for i in range(24)]) == {
        "q": None, "n": 24, "value": None}


# -- spans ------------------------------------------------------------------

def _span(sid, name, start, end, parent=None):
    return {"id": sid, "name": name, "start": start, "end": end,
            "parent": parent, "qid": "q"}


def test_self_time_subtracts_the_union_of_children():
    spans = [
        _span(0, "query", 0.0, 10.0),
        _span(1, "build", 1.0, 3.0, 0),
        _span(2, "build", 2.0, 5.0, 0),   # overlaps its sibling
        _span(3, "exec", 8.0, 12.0, 0),   # runs past its parent's end
        _span(4, "stream.batch", 1.5, 2.5, 1),
    ]
    got = self_times(spans)
    assert math.isclose(got["query"], 10.0 - 4.0 - 2.0)
    assert math.isclose(got["build"], (2.0 - 1.0) + 3.0)
    assert math.isclose(got["exec"], 4.0)
    assert math.isclose(got["stream.batch"], 1.0)


def test_self_time_of_a_leaf_is_its_duration():
    assert self_times([_span(0, "setup", 5.0, 7.5)]) == {"setup": 2.5}


def test_tracer_nests_spans_and_records_nothing_when_off():
    tr = Tracer(True)
    with tr.span("pass", qid="p0"):
        with tr.span("query", qid="q0"):
            pass
    assert [(s["name"], s["parent"]) for s in tr.spans] == [
        ("pass", None), ("query", 0)]
    assert all(s["end"] >= s["start"] for s in tr.spans)
    off = Tracer(False)
    with off.span("pass"):
        off.add("stream.batch", 0.0, 1.0)
    assert off.spans == []


# -- streaming progress -----------------------------------------------------

def _progress(rows, add, plan, wal, commit, latest, trig, ops=()):
    return {"numInputRows": rows, "stateOperators": list(ops),
            "durationMs": {"addBatch": add, "queryPlanning": plan,
                           "walCommit": wal, "commitOffsets": commit,
                           "latestOffset": latest, "triggerExecution": trig}}


def test_progress_aggregates_into_stream_metrics():
    op = {"numRowsTotal": 40, "memoryUsedBytes": 1000, "commitTimeMs": 6}
    big = {"numRowsTotal": 90, "memoryUsedBytes": 3000, "commitTimeMs": 10}
    got = aggregate_progress([
        _progress(500, 300, 10, 20, 30, 3, 400, [op, op]),
        _progress(0, 101, 7, 21, 28, 4, 180, [big]),
    ])
    assert got["batches"] == 2 and got["empty_batches"] == 1
    assert got["add_batch_ms"] == 200.5
    assert got["query_planning_ms"] == 8.5
    assert got["wal_commit_ms"] == 20.5
    assert got["commit_offsets_ms"] == 29.0
    assert got["latest_offset_ms"] == 3.5
    assert got["trigger_ms"] == 290.0
    assert got["state_commit_ms"] == 11.0  # (6 + 6 + 10) / 2
    assert got["state_rows"] == 90 and got["state_bytes"] == 3000


def test_progress_without_batches_is_zero():
    got = aggregate_progress([])
    assert got["batches"] == 0 and got["add_batch_ms"] == 0.0
    assert got["state_rows"] == 0


# -- the rung rule behind egress_max_ok_eps ---------------------------------

def _records(n, rate, wait_ms):
    """n records due 1/rate apart, each delivered ``wait_ms(i)`` later."""
    return [(i / rate, i / rate + wait_ms(i) / 1000.0) for i in range(n)]


def test_steady_rung_passes():
    r = rung_summary(1000, _records(3000, 1000, lambda i: 1500 + i % 7))
    assert r["ok"] and not r["backlog_growing"]
    assert r["delivered"] == 3000 and r["p99_supported"]
    assert 1500 <= r["p50_ms"] <= r["p99_ms"] < 1506.001


def test_growing_backlog_fails_the_rung():
    waits = _records(3000, 1000, lambda i: 500 + i)  # 0.5 s -> 3.5 s
    assert backlog_growing([(a - d) * 1000 for d, a in waits])
    assert not rung_summary(1000, waits)["ok"]


def test_growth_within_one_trigger_is_not_a_backlog():
    assert not backlog_growing([1000.0] * 10 + [1900.0] * 10 + [1999.0] * 10)


def test_p99_over_the_limit_fails_the_rung():
    r = rung_summary(100, _records(2000, 100, lambda i: 6000 if i % 50 == 0
                                   else 1000))
    assert r["p99_ms"] == 6000 and not r["ok"]


def test_undelivered_record_fails_the_rung():
    recs = _records(2000, 100, lambda i: 1000)
    recs[5] = (recs[5][0], None)
    r = rung_summary(100, recs)
    assert r["delivered"] == 1999 and not r["ok"]


def test_max_ok_rate_is_the_highest_passing_rung():
    rungs = [{"rate": 2000, "ok": True}, {"rate": 6000, "ok": True},
             {"rate": 24000, "ok": False}]
    assert max_ok_rate(rungs) == 6000
    assert max_ok_rate([{"rate": 2000, "ok": False}]) == 0.0
