"""Spark side of one benchmark run. ``perfbench/run.py`` starts it as
its own process with the environment pinned, and reads the JSON it
writes; it is not meant to be run by hand.

It times the benchmark's own calls into the program's public entry
points (``session.get_spark``, ``catalog.table``,
``registry.queries()[name](spark, dir)``, the ``noop`` write,
``caches.clear_derived_caches``, ``sinks.kinesis.stream_to_kinesis``)
and reads Spark's public monitoring APIs (a ``StreamingQueryListener``
and, in traced runs, ``sc.statusTracker()``). It patches nothing.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import threading
import time
from datetime import datetime

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import proctree  # noqa: E402
import workloads as W  # noqa: E402
from stats import Tracer, median  # noqa: E402

N_SETUPS = 3


class ProgressLog:
    """Keeps every streaming progress event as a dict; the listener
    class itself is built lazily because it needs pyspark."""

    def __init__(self):
        self.lock = threading.Lock()
        self.events: list[dict] = []

    def listener(self):
        from pyspark.sql.streaming import StreamingQueryListener

        log = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = json.loads(event.progress.json)
                p["_start"] = datetime.fromisoformat(
                    p["timestamp"].replace("Z", "+00:00")).timestamp()
                with log.lock:
                    log.events.append(p)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        return _Listener()

    def between(self, t0, t1):
        with self.lock:
            return [p for p in self.events if t0 <= p["_start"] < t1]

    def settle(self, quiet_s=0.3, limit_s=3.0):
        """Listener events arrive asynchronously: wait until none has
        arrived for ``quiet_s``."""
        deadline = time.time() + limit_s
        seen = -1
        while time.time() < deadline:
            with self.lock:
                n = len(self.events)
            if n == seen:
                return
            seen = n
            time.sleep(quiet_s)


class JobCounter:
    """Jobs, stages and tasks per job group, from ``statusTracker``.
    Read right after each call: the tracker keeps a bounded history."""

    def __init__(self, sc):
        self.tracker = sc.statusTracker()

    def counts(self, groups, exclude=frozenset()) -> dict:
        """Totals over the jobs of ``groups`` (``None`` is the jobs with
        no group), leaving out the job ids in ``exclude``."""
        jobs, stages, tasks, failed = 0, 0, 0, 0
        for g in groups:
            for jid in self.tracker.getJobIdsForGroup(g):
                if jid in exclude:
                    continue
                info = self.tracker.getJobInfo(jid)
                if info is None:
                    continue
                jobs += 1
                for sid in info.stageIds:
                    st = self.tracker.getStageInfo(sid)
                    if st is None or st.numCompletedTasks == 0:
                        continue
                    stages += 1
                    tasks += st.numCompletedTasks
                    failed += st.numFailedTasks
        return {"jobs": jobs, "stages": stages, "tasks": tasks,
                "failed_tasks": failed}


def setup(spark, sf_dir, tables, tracer, i):
    """One set-up: session start and the first touch of the workload's
    tables. Set-ups after the first stop the session and build a new
    one in the same JVM."""
    from frinesis_spark import catalog
    from frinesis_spark.session import get_spark

    t0 = time.perf_counter()
    with tracer.span("setup", qid=f"setup{i}"):
        with tracer.span("session.start", qid=f"setup{i}"):
            if spark is not None:
                spark.stop()
            spark = get_spark("perfbench")
        t1 = time.perf_counter()
        with tracer.span("catalog.first_touch", qid=f"setup{i}"):
            for name in tables:
                catalog.table(spark, sf_dir, name).count()
    t2 = time.perf_counter()
    return spark, {"session_s": t1 - t0, "catalog_s": t2 - t1,
                   "total_s": t2 - t0}


def run_query_mix(spark, args, tracer, progress, out):
    from frinesis_spark import registry
    from frinesis_spark.caches import clear_derived_caches

    from canon import canon

    sf_dir = args.fixtures
    queries = registry.queries()
    missing = [q for q in W.QUERY_MIX if q not in queries]
    if missing:
        raise SystemExit(f"workload names missing from the registry: {missing}")
    sc = spark.sparkContext
    counter = JobCounter(sc) if args.trace else None

    # Check pass: untimed warm-up that also collects every output.
    t_check = time.perf_counter()
    check = {}
    for q in W.QUERY_MIX:
        try:
            pdf = queries[q](spark, sf_dir).toPandas()
            check[q] = canon(pdf)
        except Exception as exc:  # a failed query is a counted failure
            check[q] = {"error": f"{type(exc).__name__}: {exc}"[:500]}
    out["check"] = check
    out["phases_s"]["check"] = time.perf_counter() - t_check

    # Warm passes: untimed, so the timed passes start once the JIT has
    # settled (a JVM's first passes after the check run 10-40% slower).
    t_warm = time.perf_counter()
    errors = 0
    tracer.enabled = False
    for p in range(W.WARM_PASSES):
        for q in W.QUERY_MIX:
            rec = _timed_query(spark, queries, q, sf_dir, p, False, tracer,
                               counter)
            errors += "error" in rec
    out["n_warm"] = W.WARM_PASSES * len(W.QUERY_MIX)
    out["phases_s"]["warm"] = time.perf_counter() - t_warm

    # Timed passes: closed loop, one client, noop sink. The traced run
    # mixes untraced and traced passes to measure tracing cost.
    samples = {q: [] for q in W.QUERY_MIX}
    passes = []
    layer = []
    t_start = time.perf_counter()
    wall0 = time.time()
    p = 0
    min_passes = W.MIN_PASSES + 1 if args.trace else W.MIN_PASSES
    # Stop before a pass that would end past --seconds, once the
    # minimum is done.
    while p < min_passes or (time.perf_counter() - t_start) * (p + 1) / p \
            <= args.seconds:
        # ABBA order, so drift over the run cancels in the overhead.
        traced = bool(args.trace) and p % 4 in (1, 2)
        tracer.enabled = traced
        pass_rec = {"traced": traced, "queries": {}}
        cpu0 = proctree.cpu_seconds(os.getpid())
        t_pass = time.perf_counter()
        with tracer.span("pass", qid=f"pass{p}"):
            for q in W.QUERY_MIX:
                rec = _timed_query(spark, queries, q, sf_dir, p, traced,
                                   tracer, counter)
                if "error" in rec:
                    errors += 1
                    continue
                pass_rec["queries"][q] = rec
                if not traced:
                    samples[q].append(rec["build_s"] + rec["exec_s"])
        pass_rec["wall_s"] = time.perf_counter() - t_pass
        pass_rec["cpu_s"] = proctree.cpu_seconds(os.getpid()) - cpu0
        if traced:
            _add_stream_jobs(pass_rec, progress, counter)
        passes.append(pass_rec)
        if traced:
            layer.append(pass_rec)
        p += 1
    tracer.enabled = bool(args.trace)
    wall1 = time.time()
    progress.settle()
    out["timed_progress"] = progress.between(wall0, wall1)
    out["samples"] = samples
    out["passes"] = [{k: v for k, v in pr.items() if k != "queries"}
                     | {"totals": {q: r["build_s"] + r["exec_s"]
                                   for q, r in pr["queries"].items()}}
                     for pr in passes]
    out["pass_cpu_s"] = median([pr["cpu_s"] for pr in passes
                                if not pr["traced"]])
    out["n_timed"] = len(passes) * len(W.QUERY_MIX)
    out["build_s"] = median([sum(r["build_s"] for r in pr["queries"].values())
                             for pr in passes])
    out["exec_s"] = median([sum(r["exec_s"] for r in pr["queries"].values())
                            for pr in passes])
    if layer:
        out["layer_counts"] = _median_counts(layer)

    # Cold half of the derived-cache queries: caches cleared right
    # before each, after the timed passes.
    cold = {}
    for q in W.CACHE_BACKED:
        clear_derived_caches()
        with tracer.span("cold", qid=q):
            t0 = time.perf_counter()
            try:
                queries[q](spark, sf_dir).write.format("noop").mode(
                    "overwrite").save()
            except Exception:  # counted as a failed operation
                errors += 1
                continue
            cold[q] = time.perf_counter() - t0
    out["cold"] = cold
    out["timed_errors"] = errors
    out["cache_entries"] = clear_derived_caches()

    if args.trace:
        _attach_batches(tracer, progress)


def _timed_query(spark, queries, q, sf_dir, p, traced, tracer, counter):
    sc = spark.sparkContext
    qid = f"{q}#{p}"
    rec = {}
    with tracer.span("query", qid=qid):
        try:
            if traced:
                sc.setJobGroup(f"{qid}:build", "perfbench build")
            t0 = time.perf_counter()
            w0 = time.time()
            with tracer.span("build", qid=qid):
                df = queries[q](spark, sf_dir)
            t1 = time.perf_counter()
            w1 = time.time()
            if traced:
                sc.setJobGroup(f"{qid}:exec", "perfbench exec")
            with tracer.span("exec", qid=qid):
                df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
        except Exception as exc:  # counted as a failed operation
            return {"error": f"{type(exc).__name__}: {exc}"[:500]}
    rec.update(build_s=t1 - t0, exec_s=t2 - t1, build_window=(w0, w1))
    if traced:
        rec["build_counts"] = counter.counts([f"{qid}:build"])
        rec["exec_counts"] = counter.counts([f"{qid}:exec"])
    return rec


def _add_stream_jobs(pass_rec, progress, counter):
    """Micro-batches run under their stream's ``runId`` job group, not the
    build group: add the jobs of every stream that made progress inside
    a query's build window to that query's build counts."""
    progress.settle()
    for rec in pass_rec["queries"].values():
        runs = sorted({e["runId"] for e in progress.between(*rec["build_window"])})
        if runs:
            extra = counter.counts(runs)
            rec["build_counts"] = {k: v + extra[k]
                                   for k, v in rec["build_counts"].items()}


def _median_counts(layer_passes) -> dict:
    keys = ("jobs", "stages", "tasks", "failed_tasks")
    out = {}
    for side in ("build", "exec"):
        for k in keys:
            out[f"{side}.{k}"] = median([
                sum(r[f"{side}_counts"][k] for r in pr["queries"].values())
                for pr in layer_passes])
    return out


def _attach_batches(tracer, progress, parent_name="build"):
    """Hang each listener micro-batch under the ``parent_name`` span
    whose window holds its start, with its phase times attached."""
    builds = [s for s in tracer.spans if s["name"] == parent_name]
    with progress.lock:
        events = list(progress.events)
    for ev in events:
        start = ev["_start"]
        dur = ev.get("durationMs", {}).get("triggerExecution", 0) / 1000.0
        parent = next((b for b in builds
                       if b["start"] <= start < b["end"]), None)
        if parent is None:
            continue
        tracer.add("stream.batch", start, start + dur, parent["id"],
                   parent["qid"], phases=ev.get("durationMs", {}),
                   rows=ev.get("numInputRows", 0))


def run_egress(spark, args, tracer, progress, out):
    from pyspark.sql import functions as F

    from frinesis_spark.sinks.kinesis import (
        make_boto3_client_factory,
        stream_to_kinesis,
    )

    ctrl = args.ctrl
    with open(os.path.join(ctrl, "endpoint")) as fh:
        endpoint = fh.read().strip()
    factory = make_boto3_client_factory(
        {"AWS_REGION_NAME": "us-east-1", "KINESIS_ENDPOINT": endpoint})
    counter = JobCounter(spark.sparkContext)
    jobs_before = frozenset(counter.tracker.getJobIdsForGroup(None))

    lines = spark.readStream.format("text").load(args.input)
    df = lines.select(
        F.get_json_object("value", "$.topic").alias("topic"),
        F.col("value").alias("data"),
    )
    with tracer.span("pass", qid="egress"):
        with tracer.span("query", qid="egress"):
            w0 = time.time()
            t0 = time.perf_counter()
            with tracer.span("build", qid="egress"):
                query = stream_to_kinesis(
                    df, factory,
                    checkpoint_dir=os.path.join(ctrl, "checkpoint"),
                    trigger_seconds=W.TRIGGER_SECONDS,
                    partition_key_col=None)
            out["build_s"] = time.perf_counter() - t0
            with tracer.span("exec", qid="egress"):
                cpu0 = proctree.cpu_seconds(os.getpid())
                open(os.path.join(ctrl, "go"), "w").close()
                done = os.path.join(ctrl, "gen_done")
                while not os.path.exists(done):
                    if query.exception() is not None:
                        break
                    time.sleep(0.05)
                error = None
                try:
                    query.processAllAvailable()
                except Exception as exc:  # undelivered records are failures
                    error = f"{type(exc).__name__}: {exc}"[:500]
                out["drained_at"] = time.time()
                out["pass_cpu_s"] = proctree.cpu_seconds(os.getpid()) - cpu0
                query.stop()
            w1 = time.time()
    out["error"] = error
    progress.settle()
    out["progress"] = progress.between(w0 - 1.0, w1 + 1.0)
    if args.trace:
        # The stream's jobs, and those of the foreachBatch writer, which
        # runs them outside the stream's job group.
        runs = sorted({p["runId"] for p in out["progress"]})
        counts = counter.counts(runs + [None], exclude=jobs_before)
        out["layer_counts"] = {"build.jobs": 0, **{
            f"exec.{k}": v for k, v in counts.items()}}
        _attach_batches(tracer, progress, "exec")


def _wait_helper(pid, path, limit_s=120.0):
    """Wait until a helper process has written ``path`` or has ended, so
    it no longer competes with the set-ups and passes that are timed."""
    deadline = time.time() + limit_s
    while not os.path.exists(path) and time.time() < deadline:
        try:
            with open(f"/proc/{pid}/stat") as fh:
                if fh.read().rsplit(")", 1)[1].split()[0] == "Z":
                    return
        except OSError:
            return
        time.sleep(0.05)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--fixtures", required=True)
    ap.add_argument("--ctrl")
    ap.add_argument("--input")
    ap.add_argument("--out", required=True)
    ap.add_argument("--setups", type=int, default=N_SETUPS)
    ap.add_argument("--wait-for", help="PID:PATH of a helper that shares "
                    "the CPUs; wait after the first set-up until it has "
                    "written PATH or ended")
    args = ap.parse_args()

    tracer = Tracer(bool(args.trace))
    progress = ProgressLog()
    out: dict = {"workload": args.workload}
    t_main = time.perf_counter()
    spark = None
    setups = []
    tables = W.SETUP_TABLES[args.workload]
    for i in range(args.setups):
        spark, rec = setup(spark, args.fixtures, tables, tracer, i)
        setups.append(rec)
        if i == 0 and args.wait_for:
            _wait_helper(*args.wait_for.split(":", 1))
    from frinesis_spark import catalog

    out["setups"] = setups
    out["split_stage_s"] = sum(catalog.SPLIT_STAGE_SECONDS.values())
    out["shuffle_partitions"] = spark.conf.get("spark.sql.shuffle.partitions")
    out["spark_version"] = spark.version
    out["master"] = spark.sparkContext.master
    spark.streams.addListener(progress.listener())
    out["phases_s"] = {"setups": time.perf_counter() - t_main}
    try:
        if args.workload == "query_mix":
            run_query_mix(spark, args, tracer, progress, out)
        else:
            run_egress(spark, args, tracer, progress, out)
    finally:
        out["spans"] = tracer.spans
        out["phases_s"]["run"] = time.perf_counter() - t_main
        with open(args.out, "w") as fh:
            json.dump(out, fh)
        spark.stop()


if __name__ == "__main__":
    main()
