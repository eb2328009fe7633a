"""Pure arithmetic behind the benchmark's metrics: percentiles with the
ten-samples-beyond rule, span self time, streaming-progress aggregation
and the rung rule of the egress workload.

Nothing here imports Spark, so ``perfbench/test_stats.py`` covers it on
synthetic inputs.
"""

from __future__ import annotations

import math
import statistics
import time
from contextlib import contextmanager

MIN_BEYOND = 10  # samples that must lie beyond a reported percentile


def median(values):
    return statistics.median(values) if values else None


def percentile(values, q: float):
    """Nearest-rank percentile: the smallest sample with at least ``q``
    percent of the samples at or below it."""
    if not values:
        return None
    ordered = sorted(values)
    rank = max(1, math.ceil(q / 100.0 * len(ordered)))
    return ordered[rank - 1]


def beyond(n: int, q: float) -> int:
    """How many of ``n`` samples lie beyond the nearest-rank ``q``th
    percentile."""
    return n - max(1, math.ceil(q / 100.0 * n)) if n else 0


def supported(n: int, q: float) -> bool:
    """A percentile is reported only with ``MIN_BEYOND`` samples beyond."""
    return beyond(n, q) >= MIN_BEYOND


def tail(values, ladder=(99, 90, 75)) -> dict:
    """The highest ``ladder`` percentile with ten samples beyond it,
    with the sample count behind it (``q`` is None when none has)."""
    for q in ladder:
        if supported(len(values), q):
            return {"q": q, "n": len(values), "value": percentile(values, q)}
    return {"q": None, "n": len(values), "value": None}


# -- spans ---------------------------------------------------------------

class Tracer:
    """In-memory span recorder. Each span is a dict with ``id``,
    ``name``, ``start``, ``end`` (epoch seconds), ``parent`` and
    ``qid`` (the query or rung it belongs to). A disabled tracer
    records nothing, so the timed runs pay no span bookkeeping."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def add(self, name, start, end, parent=None, qid=None, **attrs):
        if not self.enabled:
            return None
        span = {"id": len(self.spans), "name": name, "start": start,
                "end": end, "parent": parent, "qid": qid}
        span.update(attrs)
        self.spans.append(span)
        return span["id"]

    @property
    def current(self):
        return self._stack[-1] if self._stack else None

    @contextmanager
    def span(self, name, qid=None):
        if not self.enabled:
            yield None
            return
        sid = self.add(name, time.time(), None, self.current, qid)
        self._stack.append(sid)
        try:
            yield sid
        finally:
            self._stack.pop()
            self.spans[sid]["end"] = time.time()


def _covered(interval, children) -> float:
    """Length of the part of ``interval`` covered by the union of the
    ``children`` intervals."""
    lo, hi = interval
    clipped = sorted(
        (max(lo, s), min(hi, e)) for s, e in children if e > lo and s < hi
    )
    total, cur_s, cur_e = 0.0, None, None
    for s, e in clipped:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans) -> dict:
    """Self time per span name: each span's duration minus the part of
    its interval that its child spans cover, summed by name."""
    children: dict = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out: dict = {}
    for s in spans:
        dur = s["end"] - s["start"]
        own = dur - _covered((s["start"], s["end"]), children.get(s["id"], []))
        out[s["name"]] = out.get(s["name"], 0.0) + own
    return out


# -- streaming progress ----------------------------------------------------

PHASES = {
    "add_batch_ms": "addBatch",
    "query_planning_ms": "queryPlanning",
    "wal_commit_ms": "walCommit",
    "commit_offsets_ms": "commitOffsets",
    "latest_offset_ms": "latestOffset",
    "trigger_ms": "triggerExecution",
}


def aggregate_progress(progresses) -> dict:
    """Fold ``StreamingQueryProgress`` dicts into ``stream.*`` metrics.

    Phase times are means per micro-batch (the listener reports whole
    milliseconds, so a mean keeps the digits a median would drop).
    State rows and bytes are the largest total any batch reported;
    state commit time is the mean over batches of the summed
    per-operator commit time."""
    n = len(progresses)
    out = {"batches": n,
           "empty_batches": sum(1 for p in progresses
                                if not p.get("numInputRows"))}
    for key, phase in PHASES.items():
        vals = [p.get("durationMs", {}).get(phase, 0) for p in progresses]
        out[key] = sum(vals) / n if n else 0.0
    commits, rows, mem = [], [0], [0]
    for p in progresses:
        ops = p.get("stateOperators") or []
        commits.append(sum(o.get("commitTimeMs", 0) for o in ops))
        rows.append(sum(o.get("numRowsTotal", 0) for o in ops))
        mem.append(sum(o.get("memoryUsedBytes", 0) for o in ops))
    out["state_commit_ms"] = sum(commits) / n if n else 0.0
    out["state_rows"] = max(rows)
    out["state_bytes"] = max(mem)
    return out


# -- egress rungs ----------------------------------------------------------

P99_LIMIT_MS = 5000.0
# A 1 s trigger makes waits differ by up to one interval between records
# of the same rung, so a rung's backlog counts as growing only when its
# last third waits longer than its first third by more than that.
BACKLOG_SLACK_MS = 1000.0


def backlog_growing(latencies_ms) -> bool:
    """``latencies_ms`` in creation order: the median wait of the last
    third against that of the first third."""
    n = len(latencies_ms)
    if n < 3:
        return False
    third = n // 3
    first = median(latencies_ms[:third])
    last = median(latencies_ms[n - third:])
    return last > first + BACKLOG_SLACK_MS


def rung_summary(rate, records) -> dict:
    """``records`` is a list of ``(due_s, arrival_s or None)`` in
    creation order. A record never delivered counts as missing the
    latency limit."""
    lat = [(a - d) * 1000.0 for d, a in records if a is not None]
    missed = len(records) - len(lat)
    arrivals = [a for _, a in records if a is not None]
    span = (max(arrivals) - min(arrivals)) if len(arrivals) > 1 else 0.0
    # Undelivered records sort last, as infinitely late.
    full = lat + [math.inf] * missed
    p99 = percentile(full, 99)
    growing = backlog_growing([
        (a - d) * 1000.0 if a is not None else math.inf for d, a in records
    ])
    return {
        "rate": rate,
        "n": len(records),
        "delivered": len(lat),
        "p50_ms": percentile(full, 50),
        "p99_ms": p99,
        "p99_supported": supported(len(full), 99),
        "backlog_growing": growing,
        "delivered_eps": (len(lat) / span) if span > 0 else 0.0,
        "makespan_s": ((max(arrivals) - records[0][0])
                       if arrivals else math.inf),
        "ok": (missed == 0 and p99 is not None and p99 <= P99_LIMIT_MS
               and not growing),
    }


def max_ok_rate(rungs) -> float:
    """The highest offered rate whose rung met the limit (0 if none)."""
    return max((r["rate"] for r in rungs if r["ok"]), default=0.0)
