#!/usr/bin/env python3
"""Benchmark entry point, run from the repository root:

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 20 --trace 0

It generates the workload's inputs from ``--seed``, starts the helper
processes (Kinesis stub, open-loop generator, DuckDB oracles) before
Spark, runs ``perfbench/worker.py`` as the Spark process with the
environment pinned, samples the peak RSS of that process tree, checks
every output, and prints two JSON lines: a full report, then the result
line ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones of ``BENCHMARK.json``;
with ``--trace 1`` they are the per-layer ones. Everything it writes
lives under ``.perfbench_work/`` and is removed before it exits.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import platform
import shutil
import signal
import subprocess
import sys
import threading
import time
from importlib import metadata

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import proctree  # noqa: E402
import workloads as W  # noqa: E402
from stats import (  # noqa: E402
    aggregate_progress,
    max_ok_rate,
    median,
    percentile,
    rung_summary,
    self_times,
    supported,
    tail,
)

REQUIRED = ("frinesis_spark/__init__.py", "tools/gen_fixtures.py",
            "tests/kinesis_stub.py")
DEADLINE_S = 170.0


class Fail(RuntimeError):
    """The benchmark itself could not run; no result is printed."""


# -- processes -------------------------------------------------------------

class Procs:
    """Every child runs in its own session, so stopping a child also
    stops what it started (the JVM and the Python workers)."""

    def __init__(self, work: str, env: dict):
        self.work, self.env, self.children = work, env, []

    def start(self, name, argv, env=None):
        log = open(os.path.join(self.work, f"{name}.log"), "w")
        proc = subprocess.Popen(
            [sys.executable, *argv], cwd=self.work, env=env or self.env,
            stdout=log, stderr=subprocess.STDOUT, start_new_session=True)
        log.close()
        self.children.append((name, proc))
        return proc

    def log_tail(self, name, n=30) -> str:
        try:
            with open(os.path.join(self.work, f"{name}.log")) as fh:
                return "".join(fh.readlines()[-n:])
        except OSError:
            return ""

    @staticmethod
    def _group_alive(pgid) -> bool:
        try:
            os.killpg(pgid, 0)
            return True
        except ProcessLookupError:
            return False
        except PermissionError:
            return True

    def stop(self, proc, grace_s=15.0):
        """Wait for the child and everything in its session to end;
        terminate them if they outlive ``grace_s``."""
        deadline = time.time() + grace_s
        while time.time() < deadline and (
                proc.poll() is None or self._group_alive(proc.pid)):
            time.sleep(0.05)
        for sig in (signal.SIGTERM, signal.SIGKILL):
            if not self._group_alive(proc.pid) and proc.poll() is not None:
                break
            try:
                os.killpg(proc.pid, sig)
            except ProcessLookupError:
                pass
            t_end = time.time() + 5.0
            while time.time() < t_end and (
                    proc.poll() is None or self._group_alive(proc.pid)):
                time.sleep(0.05)
        proc.wait()

    def stop_all(self):
        for _name, proc in self.children:
            self.stop(proc, grace_s=0.0)


def wait_for(proc, deadline, name, procs):
    while proc.poll() is None:
        if time.time() > deadline:
            raise Fail(f"{name} passed the deadline\n{procs.log_tail(name)}")
        time.sleep(0.05)
    if proc.returncode != 0:
        raise Fail(f"{name} exited with {proc.returncode}\n"
                   f"{procs.log_tail(name)}")


def wait_file(path, deadline, proc, name, procs):
    while not os.path.exists(path):
        if proc.poll() is not None:
            raise Fail(f"{name} exited early\n{procs.log_tail(name)}")
        if time.time() > deadline:
            raise Fail(f"{name} never wrote {os.path.basename(path)}")
        time.sleep(0.02)


class RssSampler:
    """Memory of a process tree, sampled every 250 ms from ``/proc``:
    the peak of the tree's summed resident set, and the sum of each
    process's own ``VmHWM``."""

    def __init__(self, root_pid: int):
        self.root, self.hwm_kb, self.rss_peak_kb = root_pid, {}, 0
        self._stop = threading.Event()
        self.thread = threading.Thread(target=self._run, daemon=True)
        self.thread.start()

    def _run(self):
        while not self._stop.is_set():
            total = 0
            for pid in proctree.tree(self.root):
                rss, hwm = proctree.mem_kb(pid)
                total += rss
                self.hwm_kb[pid] = max(self.hwm_kb.get(pid, 0), hwm)
            self.rss_peak_kb = max(self.rss_peak_kb, total)
            self._stop.wait(0.25)

    def close(self) -> dict:
        self._stop.set()
        self.thread.join()
        return {"rss_peak_mb": self.rss_peak_kb / 1024.0,
                "hwm_sum_mb": sum(self.hwm_kb.values()) / 1024.0}


# -- environment -----------------------------------------------------------

def child_env(root: str, work: str, cpus: int) -> dict:
    """The Spark process sees only pinned knobs: every ``SPARK_GRAFT_*``
    variable from outside is dropped, ``SPARK_GRAFT_CPUS`` is ``nproc``,
    the repository is on the Python workers' path, and every temporary
    file lands under the run's work directory."""
    env = {k: v for k, v in os.environ.items()
           if not k.startswith("SPARK_GRAFT_")}
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env.update(
        SPARK_GRAFT_CPUS=str(cpus),
        PYTHONPATH=os.pathsep.join(
            p for p in (root, env.get("PYTHONPATH")) if p),
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        JDK_JAVA_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        # boto3 talks only to the stub: no config files from the home
        # directory and no instance-metadata lookups.
        AWS_CONFIG_FILE=os.path.join(work, "aws_config"),
        AWS_SHARED_CREDENTIALS_FILE=os.path.join(work, "aws_credentials"),
        AWS_EC2_METADATA_DISABLED="true",
    )
    return env


def versions() -> dict:
    out = {"python": platform.python_version()}
    for dist in ("pyspark", "duckdb"):
        try:
            out[dist] = metadata.version(dist)
        except metadata.PackageNotFoundError:
            out[dist] = None
    return out


# -- workloads -------------------------------------------------------------

def worker_argv(args, fixtures, out, extra=()):
    return [os.path.join(HERE, "worker.py"), "--workload", args.workload,
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--fixtures", fixtures, "--out", out, *extra]


def run_query_mix(args, work, fixtures, procs, deadline):
    oracle_out = os.path.join(work, "oracle.json")
    oracle = procs.start("oracle", [os.path.join(HERE, "canon.py"),
                                    fixtures, oracle_out, *W.QUERY_MIX])
    out = os.path.join(work, "worker.json")
    worker = procs.start("worker", worker_argv(
        args, fixtures, out, ("--wait-for", f"{oracle.pid}:{oracle_out}")))
    rss = RssSampler(worker.pid)
    try:
        wait_for(worker, deadline, "worker", procs)
    finally:
        peak = rss.close()
        procs.stop(worker)
    wait_for(oracle, deadline, "oracle", procs)
    with open(out) as fh:
        res = json.load(fh)
    with open(oracle_out) as fh:
        oracles = json.load(fh)
    return summarize_query_mix(res, oracles, peak)


def summarize_query_mix(res, oracles, peak_mb):
    mismatches = {}
    for q, got in res["check"].items():
        want = oracles.get(q)
        if "error" in got:
            mismatches[q] = got["error"]
        elif want is not None and got != want:
            mismatches[q] = {"spark": got, "oracle": want}
    samples = res["samples"]
    per_query = {q: median(v) for q, v in samples.items() if v}
    ops = [x for v in samples.values() for x in v]
    cold = res["cold"]
    attempted = (len(res["check"]) + res["n_warm"] + res["n_timed"]
                 + len(W.CACHE_BACKED))
    failed = len(mismatches) + res["timed_errors"]
    stream = aggregate_progress(res["timed_progress"])
    e2e = {"pass_s": sum(per_query.values())}
    extra = {
        "tpch_pass_s": sum(v for q, v in per_query.items()
                           if q.startswith("sql_tpch_")),
        "cold_pass_s": sum(cold.values()),
        "query_p50_s": percentile(ops, 50),
        "query_p90_s": (percentile(ops, 90)
                        if supported(len(ops), 90) else None),
        "batch_p50_ms": (percentile(_triggers(res["timed_progress"]), 50)
                         if res["timed_progress"] else None),
    }
    layer = {
        "build.s": res["build_s"],
        "exec.s": res["exec_s"],
        "caches.entries": res["cache_entries"],
        "caches.build_s": sum(cold[q] - per_query.get(q, 0.0) for q in cold),
        **{f"stream.{k}": v for k, v in stream.items() if k != "trigger_ms"},
    }
    return {
        "attempted": attempted, "failed": failed, "mismatches": mismatches,
        "e2e": e2e, "extra": extra, "layer": layer, "res": res,
        "memory_mb": peak_mb,
        "op_p50_ms": percentile(ops, 50) * 1000.0,
        "op_tail_ms": tail([x * 1000.0 for x in ops]),
        "samples": {"op": len(ops), "passes": len(res["passes"]),
                    "stream_batches": stream["batches"]},
        "per_query_s": per_query,
    }


def _triggers(progress):
    return [p.get("durationMs", {}).get("triggerExecution", 0)
            for p in progress]


def egress_schedule(seconds):
    return [{"name": "warmup", **W.EGRESS_WARMUP}] + [
        {"name": r["name"], "rate": r["rate"],
         "seconds": round(r["share"] * seconds, 3)}
        for r in W.EGRESS_RUNGS]


def run_egress(args, work, fixtures, procs, deadline, env, schedule,
               tag="", sample_rss=True):
    ctrl = os.path.join(work, f"ctrl{tag}")
    inp = os.path.join(work, f"input{tag}")
    os.makedirs(ctrl)
    os.makedirs(inp)
    stub = procs.start(f"stub{tag}", [
        os.path.join(HERE, "stub_proc.py"), ctrl, str(W.EGRESS_TOPICS),
        str(W.STUB_LATENCY_S), str(W.STUB_FAIL_EVERY)], env=env)
    wait_file(os.path.join(ctrl, "endpoint"), time.time() + 30, stub,
              f"stub{tag}", procs)
    gen = procs.start(f"gen{tag}", [
        os.path.join(HERE, "gen_proc.py"), ctrl, inp, str(args.seed),
        str(W.EGRESS_TOPICS), json.dumps(schedule)], env=env)
    out = os.path.join(work, f"worker{tag}.json")
    worker = procs.start(f"worker{tag}", worker_argv(
        args, fixtures, out,
        ("--ctrl", ctrl, "--input", inp) + (("--setups", "1") if tag else ())
    ), env=env)
    rss = RssSampler(worker.pid) if sample_rss else None
    try:
        wait_for(worker, deadline, f"worker{tag}", procs)
    finally:
        peak = rss.close() if rss else {}
        procs.stop(worker)
    wait_for(gen, deadline, f"gen{tag}", procs)
    open(os.path.join(ctrl, "stop"), "w").close()
    wait_for(stub, deadline, f"stub{tag}", procs)
    with open(out) as fh:
        res = json.load(fh)
    with open(os.path.join(ctrl, "gen.json")) as fh:
        gen_info = json.load(fh)
    with open(os.path.join(ctrl, "stub.json")) as fh:
        stub_info = json.load(fh)
    return res, gen_info, stub_info, peak


def rung_records(gen_info, stub_info) -> dict:
    """``(due, first arrival or None)`` of every generated record, in
    creation order, per rung name."""
    first = dict(zip(stub_info["ids"], stub_info["arrivals"]))
    return {r["name"]: [(r["start"] + j / r["rate"],
                         first.get(r["first_id"] + j))
                        for j in range(r["end_id"] - r["first_id"])]
            for r in gen_info["rungs"]}


def summarize_egress(res, gen_info, stub_info, peak_mb):
    records = rung_records(gen_info, stub_info)
    total = sum(len(v) for v in records.values())
    missing = sum(a is None for v in records.values() for _, a in v)
    rungs = {r["name"]: rung_summary(r["rate"], records[r["name"]])
             for r in gen_info["rungs"] if r["name"] != "warmup"}
    lat_ms = [(a - d) * 1000.0 if a is not None else math.inf
              for d, a in records[W.LATENCY_RUNG]]
    measured_from = min(r["start"] for r in gen_info["rungs"]
                        if r["name"] != "warmup")
    batches = [p for p in res["progress"] if p["_start"] >= measured_from]
    stream = aggregate_progress(batches)
    fixed = next(r for r in gen_info["rungs"]
                 if r["name"] == W.FIXED_COST_RUNG)
    fixed_batches = [p["durationMs"].get("addBatch", 0) for p in batches
                     if fixed["start"] <= p["_start"] < fixed["end"]
                     and p.get("numInputRows")]
    lat, cap = rungs[W.LATENCY_RUNG], rungs[W.CAPACITY_RUNG]
    attempted_calls = stub_info["records_attempted"]
    copies = stub_info["records_delivered"]
    unique = len(stub_info["ids"])
    e2e = {"pass_s": cap["makespan_s"]}
    extra = {
        "egress_p50_ms": lat["p50_ms"],
        "egress_p99_ms": lat["p99_ms"],
        "egress_capacity_eps": cap["delivered_eps"],
        "egress_max_ok_eps": max_ok_rate(rungs.values()),
        "batch_p50_ms": percentile(_triggers(batches), 50),
        "batch_p90_ms": (percentile(_triggers(batches), 90)
                         if supported(len(batches), 90) else None),
    }
    layer = {
        "build.s": res["build_s"],
        "exec.s": sum(_triggers(batches)) / 1000.0,
        "caches.entries": 0,
        "caches.build_s": 0.0,
        **{f"stream.{k}": v for k, v in stream.items() if k != "trigger_ms"},
        "sink.put_calls": stub_info["put_calls"],
        "sink.records_per_call": (attempted_calls / stub_info["put_calls"]
                                  if stub_info["put_calls"] else 0.0),
        "sink.throttled_records": attempted_calls - copies,
        "sink.dup_records": copies - unique,
        "sink.useful_ratio": (unique / attempted_calls
                              if attempted_calls else 0.0),
        "sink.batch_fixed_ms": median(fixed_batches),
        "gen.late_ms": gen_info["late_ms"],
    }
    error = res.get("error")
    return {
        # A failed stream counts even if every record got through first.
        "attempted": total, "failed": max(missing, 1) if error else missing,
        "mismatches": ({"undelivered": missing} if missing else {}),
        "error": error,
        "e2e": e2e, "extra": extra, "layer": layer, "res": res,
        "memory_mb": peak_mb, "rungs": rungs,
        "op_p50_ms": lat["p50_ms"],
        "op_tail_ms": tail(lat_ms),
        "samples": {"op": lat["n"], "stream_batches": len(batches),
                    "fixed_cost_batches": len(fixed_batches)},
    }


# -- result ----------------------------------------------------------------

E2E_UNITS = {"setup_s": "s", "pass_s": "s"}
LAYER_UNITS = {
    "session.start_s": "s", "catalog.first_touch_s": "s",
    "catalog.split_stage_s": "s", "build.s": "s", "exec.s": "s",
    "build.jobs": "count", "exec.jobs": "count", "exec.stages": "count",
    "exec.tasks": "count", "exec.failed_tasks": "count",
    "exec.tasks_per_stage": "tasks/stage", "caches.entries": "count",
    "stream.batches": "count", "stream.empty_batches": "count",
    "stream.add_batch_ms": "ms", "stream.query_planning_ms": "ms",
    "stream.wal_commit_ms": "ms", "stream.commit_offsets_ms": "ms",
    "stream.latest_offset_ms": "ms", "stream.state_rows": "count",
    "stream.state_bytes": "B", "sink.put_calls": "count",
    "sink.records_per_call": "records/call",
    "sink.throttled_records": "count", "sink.dup_records": "count",
    "sink.useful_ratio": "ratio",
}
# Reported by name in the report line only: each is 0 or undefined on
# one of the two workloads. ``pass_cpu_s``, ``op_p50_ms`` and
# ``peak_rss_mb`` are in the report too: on a shared host their run-to-run
# spread can be wider than any bound the benchmark may set (see README).
REPORT_ONLY_UNITS = {
    "caches.build_s": "s", "stream.state_commit_ms": "ms",
    "sink.batch_fixed_ms": "ms", "sink.capacity_eps_1core": "records/s",
    "gen.late_ms": "ms",
}
REPORT_UNITS = {
    "setup_s": "s", "pass_s": "s", "pass_cpu_s": "s", "op_p50_ms": "ms",
    "tpch_pass_s": "s", "query_p50_s": "s",
    "query_p90_s": "s", "cold_pass_s": "s", "batch_p50_ms": "ms",
    "batch_p90_ms": "ms", "egress_p50_ms": "ms", "egress_p99_ms": "ms",
    "egress_capacity_eps": "records/s", "egress_max_ok_eps": "records/s",
    "failed_frac": "ratio", "peak_rss_mb": "MB",
}


def finish(args, summary, env_info):
    res = summary["res"]
    setups = res["setups"]
    setup_s = median([s["total_s"] for s in setups])
    e2e = {"setup_s": setup_s, **summary["e2e"],
           "pass_cpu_s": res["pass_cpu_s"]}
    layer = {
        "session.start_s": median([s["session_s"] for s in setups]),
        "catalog.first_touch_s": median([s["catalog_s"] for s in setups]),
        "catalog.split_stage_s": res["split_stage_s"],
        **{k: 0 for k in ("build.jobs", "exec.jobs", "exec.stages",
                          "exec.tasks", "exec.failed_tasks")},
        "sink.put_calls": 0, "sink.records_per_call": 0.0,
        "sink.throttled_records": 0, "sink.dup_records": 0,
        "sink.useful_ratio": 0.0,
        **summary["layer"],
        **res.get("layer_counts", {}),
    }
    layer["exec.tasks_per_stage"] = (
        layer["exec.tasks"] / layer["exec.stages"]
        if layer["exec.stages"] else 0.0)
    attempted, failed = summary["attempted"], summary["failed"]
    figures = {**summary["extra"], **e2e, "op_p50_ms": summary["op_p50_ms"],
               "peak_rss_mb": summary["memory_mb"]["rss_peak_mb"],
               "failed_frac": failed / attempted if attempted else 1.0}
    spans = res.get("spans", [])
    report = {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace, "env": env_info,
        "end_to_end": {k: {"value": figures.get(k), "unit": u}
                       for k, u in REPORT_UNITS.items()},
        "samples": {**summary["samples"], "setups": len(setups)},
        "setups": setups,
        "phases_s": res.get("phases_s"),
        "cold_session_start_s": setups[0]["session_s"],
        "memory_mb": summary["memory_mb"],
        "layer": {k: {"value": layer.get(k), "unit": u,
                      "moves": W.LAYER_MOVES.get(k)}
                  for k, u in {**LAYER_UNITS, **REPORT_ONLY_UNITS}.items()},
        "mismatches": summary["mismatches"],
    }
    if res.get("passes"):
        report["passes"] = [{k: p[k] for k in ("traced", "wall_s", "cpu_s")}
                            for p in res["passes"]]
        report["per_query_samples_s"] = res["samples"]
    for key in ("op_tail_ms", "rungs", "per_query_s", "error"):
        if summary.get(key) is not None:
            report[key] = summary[key]
    if args.trace:
        report["self_s"] = self_times(spans)
        passes = res.get("passes", [])
        traced = [p["wall_s"] for p in passes if p["traced"]]
        plain = [p["wall_s"] for p in passes if not p["traced"]]
        report["tracing_overhead_s"] = (
            median(traced) - median(plain) if traced and plain else None)
        report["spans"] = len(spans)
    names = E2E_UNITS if not args.trace else LAYER_UNITS
    source = e2e if not args.trace else layer
    metrics = {k: {"value": source[k], "unit": u} for k, u in names.items()}
    return report, {"correct": failed == 0, "attempted": attempted,
                    "failed": failed, "metrics": metrics}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=sorted(W.SETUP_TABLES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    missing = [p for p in REQUIRED if not os.path.isfile(os.path.join(root, p))]
    if missing:
        print(f"perfbench: run from the repository root; missing {missing}",
              file=sys.stderr)
        return 2
    # A terminated run still stops its children, in the finally below.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))
    t_start = time.time()
    deadline = t_start + DEADLINE_S
    steal0 = _steal()
    nproc = len(os.sched_getaffinity(0))
    env_info = {"nproc": nproc, "SPARK_GRAFT_CPUS": nproc,
                "load1_start": os.getloadavg()[0], "sf": W.SCALE_FACTOR,
                **versions()}
    base = os.path.join(root, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-s{args.seed}-{os.getpid()}")
    os.makedirs(work)
    env = child_env(root, work, nproc)
    procs = Procs(work, env)
    try:
        fixtures = os.path.join(work, "fixtures")
        sys.path.insert(0, root)
        from tools.gen_fixtures import generate

        generate(W.SCALE_FACTOR, fixtures, args.seed)
        if args.workload == "query_mix":
            summary = run_query_mix(args, work, fixtures, procs, deadline)
        else:
            summary = summarize_egress(*run_egress(
                args, work, fixtures, procs, deadline, env,
                egress_schedule(args.seconds)))
            if args.trace:
                eps, n, missing = one_core_eps(
                    args, work, fixtures, procs, deadline, root)
                summary["layer"]["sink.capacity_eps_1core"] = eps
                summary["attempted"] += n
                summary["failed"] += missing
        res = summary["res"]
        env_info.update(shuffle_partitions=res["shuffle_partitions"],
                        spark=res["spark_version"], master=res["master"])
        report, result = finish(args, summary, env_info)
    except Fail as exc:
        print(f"perfbench: {exc}", file=sys.stderr)
        return 1
    finally:
        procs.stop_all()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(base)
        except OSError:
            pass
    report["wall_s"] = time.time() - t_start
    report["env"]["steal_share"] = _steal_share(steal0, _steal())
    print(json.dumps({"report": _finite(report)}, default=str))
    print(json.dumps(_finite(result), default=str))
    return 0


def one_core_eps(args, work, fixtures, procs, deadline, root):
    """The capacity rung alone, on ``local[1]`` in a separate Spark
    process: the single-threaded baseline for ``egress_capacity_eps``.
    Returns it with the records generated and those never delivered."""
    cap = next(r for r in W.EGRESS_RUNGS if r["name"] == W.CAPACITY_RUNG)
    schedule = [{"name": "warmup", **W.EGRESS_WARMUP},
                {"name": cap["name"], "rate": cap["rate"], "seconds": 2.0}]
    env = child_env(root, work, 1)
    _res, gen_info, stub_info, _peak = run_egress(
        args, work, fixtures, procs, deadline, env, schedule,
        tag="_1core", sample_rss=False)
    by_rung = rung_records(gen_info, stub_info)
    records = [rec for recs in by_rung.values() for rec in recs]
    eps = rung_summary(cap["rate"], by_rung[cap["name"]])["delivered_eps"]
    return eps, len(records), sum(a is None for _, a in records)


def _steal():
    """Cumulative (steal, total) CPU jiffies of the host, from
    ``/proc/stat``: steal is time a hypervisor gave this machine's CPUs
    to someone else, the direct witness of a noisy neighbour."""
    with open("/proc/stat") as fh:
        vals = [int(v) for v in fh.readline().split()[1:]]
    return vals[7] if len(vals) > 7 else 0, sum(vals)


def _steal_share(a, b):
    total = b[1] - a[1]
    return (b[0] - a[0]) / total if total else 0.0


def _finite(obj):
    """JSON has no infinity: an undelivered record's latency prints as
    null (the run then also counts it as failed)."""
    if isinstance(obj, float) and not math.isfinite(obj):
        return None
    if isinstance(obj, dict):
        return {k: _finite(v) for k, v in obj.items()}
    if isinstance(obj, (list, tuple)):
        return [_finite(v) for v in obj]
    return obj


if __name__ == "__main__":
    sys.exit(main())
