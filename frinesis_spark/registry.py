"""Central registry assembling the driver contract.

Merges every operator module's ``QUERIES`` / ``ORACLE`` dicts; used by
``__spark_entry__.py`` and by the local parity tests (which mirror the
driver's DuckDB hash-compare at a smaller scale factor).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_MODULES = []


def _load_modules():
    global _MODULES
    if _MODULES:
        return _MODULES
    from frinesis_spark.operators import relational, scalar

    # Registration order IS the driver's correctness-run order, and the
    # driver's budget can truncate the tail (round 1 stopped mid-`text`,
    # leaving 23 queries unverified). Order by (never-yet-verified,
    # cheap) first so a truncated run still covers everything at least
    # once across rounds; the expensive iterative dedup/similarity block
    # goes last.
    mods = []
    for optional in (
        "frinesis_spark.operators.text",
        "frinesis_spark.operators.multimodal",
        "frinesis_spark.streaming.windows",
        "frinesis_spark.streaming.stateful",
        # transformWithStateInPandas is NOT registered: its worker
        # protocol needs google.protobuf, absent from this container
        # for eight straight rounds (r9 final disposition: filesystem
        # search found no wheel or package to vendor, and installing
        # is out of scope) — the retired implementation is in git
        # history (git log -- tests/fixtures/tws_user_profile.py);
        # stream_user_profile (streaming/stateful.py) carries the
        # semantics in the contract
        "frinesis_spark.sinks.kinesis_query",
        "frinesis_spark.sources.kinesis_query",
        "frinesis_spark.sources.files",
        "frinesis_spark.sinks.files",
        "frinesis_spark.operators.sqlapi",
        "frinesis_spark.operators.timeseries",
    ):
        try:
            mods.append(__import__(optional, fromlist=["QUERIES"]))
        except ImportError:
            pass
    mods.extend([relational, scalar])
    for optional in (
        "frinesis_spark.operators.dedup",
        "frinesis_spark.operators.similarity",
    ):
        try:
            mods.append(__import__(optional, fromlist=["QUERIES"]))
        except ImportError:
            pass
    _MODULES = mods
    return mods


# The driver checks ~50 queries per round in registration order, so the
# order is a verification budget. Four tiers, regenerated at every
# round start by ``tools/refresh_tiers.py --write`` (which splices the
# block between the TIERS markers below from the newest
# CORRECTNESS_r*.json):
#   0. changed since the last verdict — operators whose behavior this
#      round touched, so their green rows no longer cover them
#      (hand-added as changes land; a promoted name MOVES here from
#      the list that held it — _check_tiers enforces disjointness);
#   1. never driver-verified (implicit: in no list);
#   2. stale evidence, ordered OLDEST ROUND FIRST within the tier
#      (the guarantee-boundary rows lead and must verify this round);
#   3. green in the newest artifact (freshest, cheapest to skip).
#
# VERIFICATION-WINDOW POLICY (decided r10, per r9 verdict item 2).
# The standing guarantee is "every registered query's latest driver
# evidence is at most TWO rounds old" — i.e. each query is re-verified
# at least once per three consecutive driver windows.  With a ~50-slot
# window that caps total capacity at 3 x 50 = 150 slot-uses per cycle,
# shared between the |registry| one-per-cycle visits and tier-0
# re-verifications of changed queries.  Policy:
#   * net registrations are FROZEN at REGISTRY_CAP = 141 queries
#     (exactly the current size — adding one means retiring one);
#   * per-round tier-0 churn budget is the window slack after the
#     oldest-stale backlog is scheduled; a tier-0 promotion of a row
#     already AT the boundary is free — it occupies the slot it was
#     owed anyway;
#   * tools/refresh_tiers.py ASSERTS the arithmetic at refresh time
#     (window_capacity_ok) and tests/test_registry.py pins it, so a
#     growth-busts-guarantee state fails at registration time, not at
#     verdict time.
# Tier membership COUNTS are deliberately absent from the generated
# comments: hand promotions move names between lists mid-round, and a
# count written at refresh time silently drifts (the r13/r14 ADVICE
# nit). Run tools/refresh_tiers.py for the live budget summary.
# === TIERS BEGIN (tools/refresh_tiers.py --write) ===
# Tiers generated from CORRECTNESS_r15 by tools/refresh_tiers.py --write.
# tier 0 (changed since the r15 verdict): hand-add names here as r16
# changes land, REMOVING them from the list below that held them
# (_check_tiers enforces disjointness).
_CHANGED_SINCE_VERDICT = (
    # r16 opt: the shared audit grader fused its two orientation
    # joins into one pass (plan change, result-identical — both
    # consumers promoted from the r14 boundary, so the slots are the
    # ones they were owed anyway).
    "dedup_near_minhash",
    "dedup_simhash",
)

# tier 2: stale evidence — last green before r15; name -> last-green
# round, the _reorder sort key (oldest evidence claims window slots first)
_STALE_EVIDENCE = {
    "agg_collect_sorted": 13,
    "agg_distinct": 13,
    "agg_group_sum": 13,
    "agg_grouping_sets": 13,
    "agg_stats_corr": 13,
    "agg_string_concat": 13,
    "analytics_cumulative_distinct": 13,
    "analytics_retention_cohort": 13,
    "dedup_decontaminate": 13,
    "dedup_fuzzy_editdist": 13,
    "dedup_substring_chunks": 13,
    "embedding_quantize_int8": 13,
    "filter_in_between_like": 13,
    "funnel_conversion": 13,
    "join_anti": 13,
    "join_broadcast": 13,
    "join_bucketed_colocated": 13,
    "join_inner_equi": 13,
    "join_left_outer": 13,
    "join_multiway_star": 13,
    "join_semi": 13,
    "project_filter": 13,
    "scalar_variant_shred": 13,
    "scan_parquet": 13,
    "sink_compacted_parquet": 13,
    "sink_partitioned_parquet": 13,
    "sink_sorted_clustered": 13,
    "sql_tpch_q1": 13,
    "sql_tpch_q14": 13,
    "sql_tpch_q17": 13,
    "sql_tpch_q21": 13,
    "sql_tpch_q22": 13,
    "sql_tpch_q3": 13,
    "sql_tpch_q4": 13,
    "stream_dedup_bounded": 13,
    "text_analysis_stats": 13,
    "time_downsample_m4": 13,
    "time_gapfill_locf": 13,
    "window_first_last": 13,
    "window_ranking_suite": 13,
    "window_rolling_quantile": 13,
    "window_running_frame": 13,
    "window_session_islands": 13,
    "agg_approx_distinct": 14,
    "agg_bool_bitwise": 14,
    "agg_histogram": 14,
    "agg_mode_frequent": 14,
    "agg_percentile": 14,
    "agg_pivot": 14,
    "analytics_ab_test": 14,
    "dedup_cluster_cc": 14,
    "dedup_incremental_jaccard": 14,
    "dedup_ngram_jaccard": 14,
    "join_asof": 14,
    "join_bloom_prefilter": 14,
    "join_cross_dims": 14,
    "join_interval_buckets": 14,
    "join_range_theta": 14,
    "join_salted_skew": 14,
    "merge_upsert": 14,
    "scalar_conditional_regex": 14,
    "set_union_except_intersect": 14,
    "similarity_ann_ivf": 14,
    "similarity_ann_lsh": 14,
    "sink_kinesis_batched": 14,
    "sort_limit": 14,
    "source_compressed_roundtrip": 14,
    "source_kinesis_datasource": 14,
    "source_kinesis_read": 14,
    "source_orc_roundtrip": 14,
    "sql_tpch_q10": 14,
    "sql_tpch_q5": 14,
    "sql_tpch_q6": 14,
    "stream_custom_sessionize": 14,
    "stream_dedup_stateful": 14,
    "stream_incremental_batches": 14,
    "stream_sliding_agg": 14,
    "stream_stream_join": 14,
    "stream_tumbling_agg": 14,
    "stream_user_profile": 14,
    "stream_watermark_late": 14,
    "text_language_id": 14,
    "text_quality_score": 14,
    "time_resample_interp": 14,
    "time_rollup_hypertable": 14,
    "udtf_table_chunks": 14,
    "window_ewma_smooth": 14,
    "window_rank_topk": 14,
    "window_time_range": 14,
}

# tier 3: green in CORRECTNESS_r15
_VERIFIED_LAST = frozenset(
    {
        "agg_approx_quantile",
        "agg_filtered_conditional",
        "agg_regression",
        "agg_rollup_cube",
        "dedup_containment_ngram",
        "dedup_embedding_ann",
        "dedup_embedding_ann_audit",
        "dedup_embedding_cosine",
        "dedup_exact",
        "explode_token_freq",
        "join_asof_tolerance",
        "merge_scd2",
        "multimodal_decode",
        "multimodal_frame_sample",
        "multimodal_join",
        "multimodal_resize",
        "pipeline_llm_prep",
        "pipeline_shuffle_shard",
        "pipeline_source_mixture",
        "sample_stratified_hash",
        "scalar_array_map_json",
        "scalar_string_date_math",
        "similarity_topk_cosine",
        "source_csv_roundtrip",
        "source_json_roundtrip",
        "source_schema_evolution",
        "source_text_lines_roundtrip",
        "sql_tpch_q11",
        "sql_tpch_q12",
        "sql_tpch_q13",
        "sql_tpch_q15",
        "sql_tpch_q16",
        "sql_tpch_q18",
        "sql_tpch_q19",
        "sql_tpch_q2",
        "sql_tpch_q20",
        "sql_tpch_q7",
        "sql_tpch_q8",
        "sql_tpch_q9",
        "stream_foreach_batch_upsert",
        "stream_session_window",
        "text_fingerprint",
        "text_ngram_profile",
        "text_pii_scrub",
        "text_repetition_filter",
        "text_url_canonicalize",
        "time_ohlc_bars",
        "tokenize_pack_sequences",
        "udf_python",
        "window_anomaly_zscore",
    }
)
# === TIERS END ===

# Mirror of tools/refresh_tiers.py's REGISTRY_CAP (3-round guarantee x
# (50-slot window - 3 tier-0 churn)); tests/test_registry.py asserts the
# two constants stay equal.  Enforced at registration time so a new
# QUERIES entry above the cap fails the suite immediately (r9 verdict
# item 2), not two rounds later when its evidence silently ages out.
REGISTRY_CAP = 141


def _check_tiers(registered: set[str]) -> None:
    """Fail loudly on tier-list typos (ADVICE r3): every hand-maintained
    tier name must be a registered query, mirroring oracle_sql()'s
    unknown-entry check — otherwise a rename silently demotes a query
    to the wrong verification tier."""
    if len(registered) > REGISTRY_CAP:
        raise ValueError(
            f"{len(registered)} registered queries exceed REGISTRY_CAP="
            f"{REGISTRY_CAP} — the 2-round evidence guarantee no longer "
            "fits the driver's 50-slot window (see the tier header); "
            "retire a query or renegotiate the guarantee"
        )
    tiers = (
        ("_CHANGED_SINCE_VERDICT", set(_CHANGED_SINCE_VERDICT)),
        ("_STALE_EVIDENCE", set(_STALE_EVIDENCE)),
        ("_VERIFIED_LAST", _VERIFIED_LAST),
    )
    for tier_name, tier in tiers:
        unknown = tier - registered
        if unknown:
            raise ValueError(
                f"registry tier {tier_name} names unregistered queries "
                f"{sorted(unknown)} — refresh the tier lists"
            )
    # The shape-conf sets are hand-maintained query-name lists too —
    # same typo hazard, same loud failure (r16).
    from frinesis_spark import tuning

    unknown_shape = (tuning.COARSE_SHUFFLE | tuning.COARSE_SCAN) - registered
    if unknown_shape:
        raise ValueError(
            f"tuning coarse-shape sets name unregistered queries "
            f"{sorted(unknown_shape)} — fix frinesis_spark/tuning.py"
        )
    # Pairwise disjointness (ADVICE r7): a name in two tiers is only
    # harmless because _reorder checks _CHANGED_SINCE_VERDICT first;
    # assert it so a precedence change or one-sided removal can't
    # silently mis-tier a query.
    for i in range(len(tiers)):
        for j in range(i + 1, len(tiers)):
            dup = tiers[i][1] & tiers[j][1]
            if dup:
                raise ValueError(
                    f"query names {sorted(dup)} appear in both "
                    f"{tiers[i][0]} and {tiers[j][0]} — tiers must be "
                    "disjoint"
                )


def _reorder(names: list[str]) -> list[str]:
    pos = {n: i for i, n in enumerate(_CHANGED_SINCE_VERDICT)}

    def key(item: tuple[int, str]) -> tuple[int, int, int]:
        i, n = item
        if n in pos:
            return (0, 0, pos[n])
        if n not in _STALE_EVIDENCE and n not in _VERIFIED_LAST:
            return (1, 0, i)  # never verified
        if n in _STALE_EVIDENCE:
            # stale evidence: oldest green round first so the r1/r2
            # dozen is guaranteed a slot even if the window truncates
            return (2, _STALE_EVIDENCE[n], i)
        return (3, 0, i)  # fresh last-round evidence

    return [n for _, n in sorted(enumerate(names), key=key)]


def _shaped(
    name: str, fn: Callable[[SparkSession, str], DataFrame]
) -> Callable[[SparkSession, str], DataFrame]:
    """Wrap a query builder so the per-query-shape split knobs
    (tuning.apply_shape_conf — r16 VERDICT item 1) are in force for
    its execution. Conf-only: the computed result is untouched."""
    from frinesis_spark import tuning

    def run(spark: SparkSession, sf_dir: str, *a, **kw) -> DataFrame:
        tuning.apply_shape_conf(spark, name)
        return fn(spark, sf_dir, *a, **kw)

    run.__name__ = fn.__name__
    run.__doc__ = fn.__doc__
    run.__wrapped__ = fn  # introspection hook for tests/tools
    return run


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    out: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    for mod in _load_modules():
        overlap = out.keys() & mod.QUERIES.keys()
        if overlap:
            raise ValueError(f"duplicate query names {overlap} in {mod.__name__}")
        out.update(mod.QUERIES)
    _check_tiers(set(out))
    return {n: _shaped(n, out[n]) for n in _reorder(list(out))}


def oracle_sql() -> dict[str, str]:
    out: dict[str, str] = {}
    for mod in _load_modules():
        out.update(getattr(mod, "ORACLE", {}))
    q_order = list(queries())
    unknown = out.keys() - set(q_order)
    if unknown:
        raise ValueError(f"oracle entries without a query: {unknown}")
    # Mirror queries() order exactly (not an independent _reorder over
    # the oracle names, whose within-tier tie-break could differ) so
    # both halves of the driver contract present one verification order.
    return {n: out[n] for n in q_order if n in out}
