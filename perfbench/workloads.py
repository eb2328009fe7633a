"""Frozen workload definitions.

Query lists are written out by name here and never imported from
``bench.HEADLINE``, so trimming the headline set cannot silently change
a workload. A name missing from the registry fails the run.
"""

from __future__ import annotations

SCALE_FACTOR = 0.1

# Closed loop, one client, warm, ``noop`` sink: four TPC-H shapes, a
# window and a text operator, one derived-cache query and one stream
# replay. 8 queries x 3 passes puts ten samples beyond the median.
QUERY_MIX = (
    "sql_tpch_q1",
    "sql_tpch_q3",
    "sql_tpch_q6",
    "sql_tpch_q19",
    "window_rank_topk",
    "explode_token_freq",
    "dedup_incremental_jaccard",
    "stream_watermark_late",
)
MIN_PASSES = 3
# Untimed passes between the check pass and the timed ones.
WARM_PASSES = 2

# Queries served from ``caches``: warm in every timed pass, then once
# more right after ``caches.clear_derived_caches()`` (the cold half).
CACHE_BACKED = ("dedup_incremental_jaccard",)

# Tables each workload touches during set-up.
SETUP_TABLES = {
    "query_mix": ("lineitem", "orders", "customer", "part", "events",
                  "documents"),
    "kinesis_egress": ("events",),
}

# Egress: open loop, 5 topics, uniform mix. An untimed warm-up rung,
# then three fixed rungs; each rung lasts a fixed share of --seconds.
EGRESS_TOPICS = 5
EGRESS_WARMUP = {"rate": 2000, "seconds": 5.0}
EGRESS_RUNGS = (
    {"name": "r2k", "rate": 2000, "share": 0.25},
    {"name": "r6k", "rate": 6000, "share": 0.50},
    {"name": "r24k", "rate": 24000, "share": 0.25},
)
LATENCY_RUNG = "r6k"      # egress latency percentiles
CAPACITY_RUNG = "r24k"    # egress pass_s and capacity
FIXED_COST_RUNG = "r2k"   # sink.batch_fixed_ms
STUB_LATENCY_S = 0.015    # per PutRecords call
STUB_FAIL_EVERY = 10      # every 10th record is throttled
TRIGGER_SECONDS = 1.0

# Which end-to-end metric, on which workload, each layer metric should
# move. Kept next to the workloads so a change to either shows here.
LAYER_MOVES = {
    "session.start_s": "setup_s (both)",
    "catalog.first_touch_s": "setup_s (both)",
    "catalog.split_stage_s": "setup_s (both)",
    "build.s": "pass_s on query_mix (stream replay runs inside build)",
    "build.jobs": "pass_s on query_mix",
    "exec.s": "pass_s and pass_cpu_s on query_mix; pass_s on kinesis_egress",
    "exec.jobs": "pass_s on query_mix",
    "exec.stages": "pass_s on query_mix",
    "exec.tasks": "pass_cpu_s on query_mix",
    "exec.failed_tasks": "pass_s on query_mix (retries)",
    "exec.tasks_per_stage": "pass_s on query_mix (over-split witness "
                            "for tuning.py)",
    "caches.entries": "cold pass of query_mix; 0 on kinesis_egress",
    "caches.build_s": "cold pass of query_mix; 0 on kinesis_egress",
    "stream.batches": "pass_s on query_mix; pass_cpu_s on kinesis_egress",
    "stream.empty_batches": "pass_s on query_mix",
    "stream.add_batch_ms": "pass_s on kinesis_egress (sink time)",
    "stream.query_planning_ms": "pass_s on both (coordination)",
    "stream.wal_commit_ms": "pass_s on both (coordination)",
    "stream.commit_offsets_ms": "pass_s on both (coordination)",
    "stream.latest_offset_ms": "pass_s on both (coordination)",
    "stream.state_commit_ms": "pass_s on query_mix (stateful replay)",
    "stream.state_rows": "pass_s on query_mix",
    "stream.state_bytes": "pass_cpu_s on query_mix",
    "sink.put_calls": "pass_s and pass_cpu_s on kinesis_egress",
    "sink.records_per_call": "pass_s and pass_cpu_s on kinesis_egress",
    "sink.throttled_records": "pass_cpu_s on kinesis_egress",
    "sink.dup_records": "pass_cpu_s on kinesis_egress",
    "sink.useful_ratio": "pass_s and pass_cpu_s on kinesis_egress",
    "sink.batch_fixed_ms": "pass_s on kinesis_egress",
    "sink.capacity_eps_1core": "baseline for pass_s on kinesis_egress",
    "gen.late_ms": "validity check of kinesis_egress, not a layer",
}
