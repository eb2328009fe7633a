#!/usr/bin/env python
"""Headline benchmark: runs the engine's flagship queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS], writes the full record to BENCH_full.json
and prints ONE compact JSON line.

Materialization uses the ``noop`` sink — full execution, no driver
collect, no output I/O — so the number is pure engine time.

This script measures and reports only. Regressions are judged
elsewhere: by perfbench (``BENCHMARK.json``, parent vs change) and by
the driver's round-over-round comparison of the compact lines.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

# Benchmark set: the queries that dominate a real workload — scan-heavy
# agg, big joins, windows, the whole TPC-H 22 (rolled up in
# tpch_total), streaming and the LLM-pipeline operators. Unknown names
# are skipped so bench never breaks. ORDER MATTERS: the compact line
# carries a fixed prefix of this list (COMPACT_QUERIES below), so the
# names the driver has already recorded come first — the 61 of the
# r16 compact line in its order — and the rest follow.
HEADLINE = [
    "stream_dedup_bounded",  # bounded-state production dedup
    "stream_incremental_batches",
    "stream_stream_join",  # hardest streaming shape
    "similarity_ann_lsh",
    "dedup_embedding_ann",
    "dedup_cluster_cc",
    "dedup_embedding_ann_audit",  # the production grading shape
    "dedup_simhash",
    "dedup_near_minhash",
    "stream_watermark_late",  # canonical stateful operator
    "similarity_ann_ivf",
    "window_anomaly_zscore",
    "window_rolling_quantile",  # the one frame-buffering window
    "agg_approx_quantile",
    "text_repetition_filter",  # two token-keyed partial-agg shuffles
    "agg_group_sum",
    "join_range_theta",
    "sql_tpch_q11",
    "dedup_ngram_jaccard",
    "dedup_containment_ngram",
    "source_compressed_roundtrip",
    "join_interval_buckets",
    "join_multiway_star",
    "stream_dedup_stateful",  # canonical stateful operator
    "dedup_substring_chunks",  # two chunk_hash shuffles
    "dedup_embedding_cosine",
    "dedup_incremental_jaccard",
    "sql_tpch_q16",
    "agg_distinct",
    "sql_tpch_q21",  # heaviest decorrelation (3x lineitem)
    "sql_tpch_q5",
    "similarity_topk_cosine",
    "sql_tpch_q2",  # correlated MIN over a 4-table chain
    "time_resample_interp",
    "sink_partitioned_parquet",
    "join_bloom_prefilter",
    "sql_tpch_q18",  # IN over grouped HAVING: lineitem twice
    "udf_python",
    "sql_tpch_q20",
    "sql_tpch_q9",
    "sql_tpch_q3",
    "time_rollup_hypertable",
    "window_ewma_smooth",
    "time_downsample_m4",  # scan-bound single agg
    "merge_upsert",
    "time_ohlc_bars",
    "analytics_retention_cohort",
    "time_gapfill_locf",
    "sql_tpch_q15",
    "analytics_ab_test",
    "join_bucketed_colocated",
    "sql_tpch_q1",
    "sql_tpch_q17",  # scalar subquery per group
    "sql_tpch_q7",
    "text_analysis_stats",
    "merge_scd2",
    "sql_tpch_q10",
    "sql_tpch_q22",
    "join_asof",
    "join_broadcast",
    "sql_tpch_q13",
    "text_url_canonicalize",
    "agg_mode_frequent",
    "window_rank_topk",
    "sort_limit",
    "dedup_exact",
    "stream_tumbling_agg",
    "window_time_range",
    "pipeline_llm_prep",
    "explode_token_freq",
    "embedding_quantize_int8",
    "window_session_islands",
    "agg_grouping_sets",
    "sql_tpch_q19",  # OR-of-ANDs disjunctive-pushdown guard
    "sql_tpch_q8",  # widest join tree (8 tables)
    "tokenize_pack_sequences",  # bucket window
    "sql_tpch_q4",
    "sql_tpch_q6",
    "sql_tpch_q12",
    "sql_tpch_q14",
    "pipeline_shuffle_shard",  # shard_id shuffle + per-shard window
]

# Queries served from the per-(session, corpus) derived-artifact caches
# (shingle index / sizes / minhash sigs / simhash fingerprints / LSH
# buckets / IVF centroids+cells). Their steady-state reps measure the
# WARM path only; the bench also takes one COLD rep each (caches
# cleared first) so the index-build cost — the number the 100 TB
# build-once/query-many story depends on — is pinned per round
# (r5 verdict #5). Cold times go to BENCH_full.json, not the compact
# stdout line.
CACHE_BACKED = [
    "dedup_near_minhash",
    "dedup_simhash",
    "dedup_ngram_jaccard",
    "dedup_incremental_jaccard",
    "dedup_cluster_cc",
    "similarity_ann_lsh",
    "similarity_ann_ivf",
    "dedup_embedding_ann",  # served from the IVF index cache (r9)
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    os.environ.setdefault("SPARK_GRAFT_CPUS", "32")
    os.environ.setdefault("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32")

    from frinesis_spark import registry
    from frinesis_spark.session import get_spark

    spark = get_spark("frinesis_spark_bench")
    queries = registry.queries()

    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0

    # Warm up the JVM/codegen paths once with the cheapest query.
    queries["agg_group_sum"](spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()
    # Warm up the Python worker pool + Arrow serialization path too:
    # the first mapInPandas/pandas_udf in a session pays worker fork +
    # import cost (~2-3 s across 32 slots) that is session setup, not
    # query time. A steady-state engine (the thing being measured) has
    # live workers. SPARK_GRAFT_CPUS may legitimately be '*'
    # (session.get_spark's documented default) — int('*') crashed the
    # whole bench (r9 review wave 5); fall back to the session's real
    # parallelism.
    cpus_env = os.environ["SPARK_GRAFT_CPUS"]
    n_warm_parts = (
        int(cpus_env)
        if cpus_env.isdigit()
        else spark.sparkContext.defaultParallelism
    )
    warm = spark.range(0, 10_000, numPartitions=n_warm_parts)

    def _noop_batches(batches):
        import numpy as np  # noqa: F401  (pull hot imports into workers)
        import pandas as pd  # noqa: F401

        yield from batches

    warm.mapInPandas(_noop_batches, warm.schema).write.format("noop").mode(
        "overwrite"
    ).save()
    # Touch every fixture table once: parquet footer reads and first-
    # scan page decodes are session setup, and without this they land
    # inside the FIRST cold sample below, inflating that one query's
    # recorded index-build cost (r6 review fix).
    from frinesis_spark.catalog import TABLES as _TABLES
    from frinesis_spark.catalog import table as _catalog_table

    for _t in _TABLES:  # the canonical list — never a local copy (r9)
        _catalog_table(spark, sf_dir, _t).count()

    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))

    def run_once(name: str) -> float:
        start = time.perf_counter()
        queries[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - start

    # Cold pass first (r5 verdict #5): one rep per cache-backed query
    # with the derived-artifact caches cleared immediately before it, so
    # the sample includes the index build. Per-query clear (not one
    # clear for the whole pass): incremental_jaccard's cold cost
    # INCLUDES the shingle-index build even though ngram_jaccard just
    # built one — each query's cold number is its fully-cold cost.
    from frinesis_spark.caches import clear_derived_caches

    cold: dict[str, float] = {}
    for name in CACHE_BACKED:
        if name not in queries:
            continue
        clear_derived_caches()
        cold[name] = round(run_once(name), 3)
    # Untimed warmup sweep over EVERY headline query (r8 verdict item
    # 5, generalizing the old cache-backed-only re-warm): the cold
    # pass cleared all derived-artifact caches (so earlier
    # cache-backed queries are cold again), and several queries build
    # one-time session artifacts OUTSIDE those caches — the bucketed
    # warehouse table (join_bucketed_colocated showed rep_spread 15×
    # when its build landed in the first timed rep), roundtrip temp
    # dirs and their first-touch page-cache cost
    # (source_compressed_roundtrip 2.5×, text_url_canonicalize 5.3×).
    # One untimed rep each puts every such build before the timer, so
    # rep_spread measures scheduling jitter only.
    for name in HEADLINE:
        if name in queries:
            run_once(name)

    # Steady-state pass: best-of-N per query. The shared box shows ±2x
    # run-to-run noise (CPU steal), so a single sample conflates engine
    # speed with neighbor load; min over reps is the standard estimator
    # for achievable wall time. Three reps (was two): an r4 contended
    # run showed a 5x phantom on an unchanged query surviving
    # best-of-2. The warmup sweep above restored every cached artifact
    # and pre-built every session artifact, so every sample here is
    # genuinely warm. raw_reps keeps every rep's wall time (not just
    # the min), so a contended run shows its own outlier structure.
    timings: dict[str, float] = {}
    spreads: dict[str, float] = {}
    raw_reps: dict[str, list[float]] = {}
    # A HEADLINE name missing from the registry is a rename that would
    # otherwise silently shrink the total (r9 review wave 5) — surface
    # it in the record.
    unknown_headline = sorted(set(HEADLINE) - set(queries))
    if unknown_headline:
        print(
            f"WARNING: HEADLINE names not in registry: {unknown_headline}",
            file=sys.stderr,
        )
    for name in HEADLINE:
        if name not in queries:
            continue
        samples = [run_once(name) for _ in range(reps)]
        timings[name] = round(min(samples), 3)
        raw_reps[name] = [round(s, 3) for s in samples]
        # max/min ratio across reps (r4 verdict #8): a reported 1.1-1.2x
        # cross-round drift on a query whose own reps spread 1.5x is
        # noise by the bench's own evidence; a drift larger than the
        # spread is a real plan change worth chasing.
        spreads[name] = round(max(samples) / max(min(samples), 1e-9), 2)

    # Sink throughput envelope (r9 verdict item 6): the A-surface has
    # correctness + wire tests but had no recorded records/s number.
    # ~500k filler records through the full BatchProducer path
    # (chunking/byte limits/partial-failure split/retry) against the
    # in-process HTTP stub with 10% per-record failures injected —
    # real boto3 serialization, no real network. The envelope lands in
    # BENCH_full.json next to the query timings; BASELINE.md documents
    # it against the reference's own 500-records/call x call-latency
    # bound (batchproducer.go:15).
    sink = _sink_throughput()
    # Second envelope at realistic wire latency (r10 verdict item 7):
    # 15 ms per PutRecords call — the synchronous-producer bound is
    # then ~500 records / (15 ms + cpu-per-call), directly comparable
    # to the reference's 25-50k/s arithmetic. Fewer records: the wall
    # is latency-dominated, so 100k records ≈ 222 calls ≈ 3.3 s.
    sink_n = int(os.environ.get("SPARK_GRAFT_SINK_BENCH_RECORDS", "500000"))
    sink_wire = (
        _sink_throughput(call_latency_s=0.015, n_records=min(sink_n, 100_000))
        if sink_n > 0
        else None
    )
    # Third envelope (r11): 4 producers at wire latency — the cluster
    # shape (one synchronous producer per Spark task). The per-producer
    # ceiling is latency-fixed, so aggregate rec/s vs "sink_15ms" is
    # the measured producers-scale-linearly evidence.
    sink_wire_x4 = (
        _sink_throughput(
            call_latency_s=0.015,
            n_records=min(sink_n, 100_000),
            n_producers=4,
        )
        if sink_n > 0
        else None
    )

    total = round(sum(timings.values()), 3)
    # Suite rollup (r6 verdict #5): one number for the full TPC-H 22 so
    # a regression anywhere on the SQL path moves a tracked metric.
    tpch_total = round(
        sum(t for n, t in timings.items() if n.startswith("sql_tpch_q")), 3
    )
    full = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "tpch_total": tpch_total,
        "cold": cold,
        "rep_spread": spreads,
        "reps": reps,
        "sf": sf,
        "raw_reps": raw_reps,
    }
    # Per-table split-staging cost (r16, VERDICT r15 item 4): the
    # once-per-process row-group relayout runs outside every per-query
    # timer; record it so the warm numbers can't silently absorb a
    # growing setup cost.
    from frinesis_spark.catalog import SPLIT_STAGE_SECONDS

    if SPLIT_STAGE_SECONDS:
        full["split_staging_sec"] = dict(SPLIT_STAGE_SECONDS)
    if sink:
        full["sink"] = sink
    if sink_wire:
        full["sink_15ms"] = sink_wire
    if sink_wire_x4:
        full["sink_15ms_x4"] = sink_wire_x4
    if unknown_headline:
        full["unknown_headline"] = unknown_headline

    # Two outputs (r5 verdict #1 — BENCH_r05 was lost to truncation):
    # the FULL record goes to a committed repo file, and stdout gets a
    # COMPACT line that fits the driver's 2000-char tail capture.
    full_path = Path(__file__).resolve().parent / "BENCH_full.json"
    full_path.write_text(json.dumps(full, indent=1) + "\n")
    print(compact_line(
        {n: timings[n] for n in COMPACT_QUERIES if n in timings},
        total,
        tpch_total,
        sf,
        sink_rps=sink.get("records_per_sec") if sink else None,
    ))


def _sink_throughput(
    call_latency_s: float = 0.0,
    n_records: int | None = None,
    n_producers: int = 1,
) -> dict | None:
    """Drive records through the BatchProducer against the in-process
    Kinesis stub with 10% per-record failures injected; returns the
    recorded envelope (records/s, retry/drop/shed counts). None when
    boto3 or the stub is unavailable (bench must never break on an
    env gap).

    Two envelopes per round (r10 verdict item 7): latency 0 measures
    the producer's pure CPU path (serialization/chunking/retry
    bookkeeping); ``call_latency_s=0.015`` simulates AWS's ~15 ms
    in-region PutRecords latency — the number a user comparing
    against the reference's 500-records/call × call-latency bound
    (batchproducer.go:15) actually needs, since this producer is
    synchronous exactly like the reference's send loop.

    ``n_producers > 1`` (r11) is the CLUSTER shape: one synchronous
    producer per thread, each with its own client and stream share —
    exactly how ``KinesisBatchWriter`` runs one producer per Spark
    task. The latency-bound per-producer ceiling is fixed, so
    aggregate throughput must scale ~linearly until shard limits or
    CPU bind; the recorded ratio to the single-producer wire envelope
    is the measured evidence for that claim."""
    n = n_records if n_records is not None else int(
        os.environ.get("SPARK_GRAFT_SINK_BENCH_RECORDS", "500000")
    )
    if n <= 0:
        return None
    try:
        import boto3  # noqa: F401

        from frinesis_spark.sinks.kinesis import (
            BatchProducer,
            KinesisSinkConfig,
            make_boto3_client_factory,
        )
        from tests.kinesis_stub import KinesisStub
    except ImportError as exc:
        print(f"sink bench skipped: {exc}", file=sys.stderr)
        return None
    # The reference's filler record (batchproducer_test.go:876-877).
    payload = b"The cheese is old and moldy, where is the bathroom?"
    with KinesisStub(
        fail_every_nth_record=10, call_latency_s=call_latency_s
    ) as stub:
        factory = make_boto3_client_factory(
            {"AWS_REGION_NAME": "us-east-1",
             "KINESIS_ENDPOINT": stub.endpoint}
        )
        factory().create_stream(StreamName="bench.sink", ShardCount=8)
        cfg = KinesisSinkConfig(add_blocks_when_buffer_full=True)

        def stats_of(prod, remaining: int) -> dict:
            s = prod.stats
            return {
                "remaining": remaining,
                "retries": s.retries,
                "dropped": s.records_dropped,
                "shed": s.records_shed,
                "put_calls": s.put_calls,
                "kinesis_errors": s.kinesis_errors,
            }

        if n_producers == 1:
            prod = BatchProducer(factory(), "bench.sink", cfg)
            start = time.perf_counter()
            for i in range(n):
                prod.add(payload, f"pk{i}")
            _, remaining = prod.flush()
            wall = time.perf_counter() - start
            outs = [stats_of(prod, remaining)]
        else:
            # FORKED processes, not threads: a Python thread pool
            # GIL-serializes the producer's CPU term (measured: 4
            # threads gave only 1.6x), while Spark runs one producer
            # per PYTHON WORKER PROCESS — fork is the faithful model.
            # Each child builds its own client pre-barrier (task-local
            # factory, A2) and talks to the same stub over HTTP; the
            # timed region is barrier-to-drain across all children.
            import multiprocessing as _mp

            ctx = _mp.get_context("fork")
            barrier = ctx.Barrier(n_producers + 1)
            q = ctx.Queue()
            share = n // n_producers

            def child(p: int) -> None:
                prod = BatchProducer(factory(), "bench.sink", cfg)
                cnt = share + (n % n_producers if p == 0 else 0)
                off = p * share + (n % n_producers if p > 0 else 0)
                barrier.wait()
                for i in range(off, off + cnt):
                    prod.add(payload, f"pk{i}")
                _, remaining = prod.flush()
                q.put(stats_of(prod, remaining))

            procs = [
                ctx.Process(target=child, args=(p,), daemon=True)
                for p in range(n_producers)
            ]
            for pr in procs:
                pr.start()
            # Timeouts everywhere a dead child could wedge the parent
            # (ADVICE r11): fork-with-live-threads (Spark gateway + the
            # stub server run in this process) makes a child that dies
            # pre-barrier or pre-q.put plausible, and a bare
            # barrier.wait()/q.get() would then hang the whole bench
            # silently. 120 s >> any observed envelope (< 15 s).
            _deadline = 120.0

            def _check_children() -> None:
                dead = [
                    p
                    for p, pr in enumerate(procs)
                    if pr.exitcode not in (None, 0)
                ]
                if dead:
                    raise RuntimeError(
                        f"sink-envelope child producer(s) {dead} died "
                        f"(exitcodes {[procs[p].exitcode for p in dead]}) "
                        "before reporting stats — aborting the envelope "
                        "instead of hanging"
                    )

            try:
                barrier.wait(timeout=_deadline)
            except Exception:
                _check_children()
                raise
            start = time.perf_counter()
            # Drain the queue BEFORE join: a child blocks on its queue
            # flush until the parent reads, so join-first deadlocks.
            outs = []
            for _ in range(n_producers):
                try:
                    outs.append(q.get(timeout=_deadline))
                except Exception:
                    _check_children()
                    raise
            for pr in procs:
                pr.join(timeout=_deadline)
            wall = time.perf_counter() - start
        delivered = sum(
            len(sh.records) for sh in stub.state.streams["bench.sink"]
        )
    return {
        "records": n,
        "payload_bytes": len(payload),
        "injected_failure": "every 10th record throttled (10%)",
        "call_latency_ms": round(call_latency_s * 1000, 1),
        "producers": n_producers,
        "wall_sec": round(wall, 2),
        "records_per_sec": int(n / wall),
        "delivered": delivered,
        "remaining": sum(o["remaining"] for o in outs),
        "retries": sum(o["retries"] for o in outs),
        "dropped": sum(o["dropped"] for o in outs),
        "shed": sum(o["shed"] for o in outs),
        "put_calls": sum(o["put_calls"] for o in outs),
        "kinesis_errors": sum(o["kinesis_errors"] for o in outs),
    }


def compact_line(
    queries: dict[str, float],
    total: float,
    tpch_total: float,
    sf: float,
    sink_rps: int | None = None,
) -> str:
    """The stdout line the driver captures. ``value`` and
    ``tpch_total`` cover every headline query; ``queries`` carries
    the timings it is given (main passes the COMPACT_QUERIES subset)."""
    compact = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "queries": {n: round(t, 2) for n, t in queries.items()},
        "tpch_total": tpch_total,
        "sf": sf,
        "full": "BENCH_full.json",
    }
    if sink_rps is not None:
        compact["sink_rps"] = sink_rps
    return json.dumps(compact, separators=(",", ":"))


def _worst_case_line(names: list[str]) -> str:
    """The compact line for ``names`` with every number at its widest:
    each query 999.99 s, five-digit totals, a 100.0 sf and a
    seven-digit sink rate."""
    return compact_line(
        dict.fromkeys(names, 999.99), 99999.999, 99999.999, 100.0, 9_999_999
    )


# The compact line's per-query names: the longest HEADLINE prefix
# whose worst-case line fits 1800 chars (the driver keeps the last
# 2000). Fixed, so no name drops from or appears in the driver's
# comparison whatever the timings; BENCH_full.json has them all.
COMPACT_MAX_CHARS = 1800
COMPACT_QUERIES = next(
    HEADLINE[:n]
    for n in range(len(HEADLINE), -1, -1)
    if len(_worst_case_line(HEADLINE[:n])) <= COMPACT_MAX_CHARS
)


if __name__ == "__main__":
    main()
