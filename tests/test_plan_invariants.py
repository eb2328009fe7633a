"""Automated plan-quality invariants over the ENTIRE registry (r11).

PLANS.md records per-query plan audits, but a human regenerates and
reads it; nothing FAILED if a refactor quietly introduced a cartesian
product or a row-at-a-time Python UDF. This suite turns the three
scale-killer anti-patterns into hard test failures, scanning every
registered query's compiled plan (planning only — no execution beyond
the index builds some queries perform at DataFrame-construction time),
plus spot positive invariants (pushed filters, broadcasts) on queries
whose whole point is that plan shape.

Audit result pinned here (r11, all 141 queries at sf0.01):
CartesianProduct: none. BatchEvalPython (row Python UDF): none.
BroadcastNestedLoopJoin: exactly the four declared cross-join scorers.
"""

from __future__ import annotations

import pytest

from frinesis_spark import registry
from tests.parity import plan_text

# Queries whose plans legitimately contain a nested-loop/cross join:
# the declared dimension-only cross (join_cross_dims) and the exact
# top-k / recall-grader scorers, which score a tiny query side against
# the corpus by design (pruned cross join — see similarity.py).
_BNLJ_ALLOWED = {
    "join_cross_dims",
    "similarity_topk_cosine",
    "similarity_ann_lsh",
    "similarity_ann_ivf",
}


@pytest.fixture(scope="module")
def all_plans(spark, sf_dir):
    """Compiled plan text per registered query, one planning pass."""
    out = {}
    for name, fn in registry.queries().items():
        out[name] = plan_text(fn(spark, sf_dir))
    return out


def test_no_cartesian_product_anywhere(all_plans):
    offenders = [n for n, t in all_plans.items() if "CartesianProduct" in t]
    assert offenders == [], offenders


def test_no_row_python_udf_anywhere(all_plans):
    """BatchEvalPython = row-at-a-time Python UDF (the 10-100x slow
    path). ArrowEvalPython (pandas_udf) and Arrow mapInPandas nodes
    are the sanctioned Python escape hatches and don't match this."""
    offenders = [n for n, t in all_plans.items() if "BatchEvalPython" in t]
    assert offenders == [], offenders


def test_nested_loop_joins_only_where_declared(all_plans):
    offenders = sorted(
        n
        for n, t in all_plans.items()
        if "BroadcastNestedLoopJoin" in t and n not in _BNLJ_ALLOWED
    )
    assert offenders == [], offenders
    # the allowlist must not rot: every allowed name still HAS one
    stale = sorted(
        n
        for n in _BNLJ_ALLOWED
        if n in all_plans and "BroadcastNestedLoopJoin" not in all_plans[n]
    )
    assert stale == [], f"allowlist entries without a BNLJ: {stale}"


def test_filters_reach_the_scan(all_plans):
    """The pushdown guard: these queries exist to prove filters reach
    the parquet scan; an empty PushedFilters list on them means a
    refactor broke pushdown for everyone."""
    for name in ("project_filter", "sql_tpch_q6", "filter_in_between_like"):
        t = all_plans[name]
        import re

        assert re.search(r"PushedFilters: \[[^\]]", t), (
            f"{name}: no pushed filters reach the scan"
        )


def test_dimension_joins_broadcast(all_plans):
    for name in ("join_broadcast", "join_multiway_star"):
        assert "BroadcastHashJoin" in all_plans[name], (
            f"{name}: dimension join is not broadcasting"
        )


# --- per-query shuffle-count pins (r12, verdict item 8) ---------------
#
# The class tests above guard anti-pattern *classes*; this table pins
# the EXACT Exchange counts of the most expensive registered queries
# (top of the r11 driver bench), so an edit that adds (or drops) a
# shuffle on a hot path fails the suite instead of only shifting a
# plan fingerprint someone must notice. Counts measured at the suite's
# sf fixture; shuffle = Exchange hash/range/round-robin/Single (broadcast
# and reused exchanges counted separately — a broadcast is the CHEAP
# alternative being verified, not a shuffle). The three hottest
# streaming queries are excluded structurally: their query functions
# run the stream to completion and return a parquet scan of the sink,
# so the batch plan carries no Exchange to pin.
#
# UPDATING: a deliberate plan change must update this table in the
# same commit, stating why the new shuffle count is the plan you want.
_EXPECTED_SHUFFLES = {
    "dedup_embedding_ann": (4, 3),  # (shuffles, broadcasts)
    # r13: dropDuplicates on the pair KEY (was distinct over
    # a_id,b_id,cos_sim) hash-partitions on exactly the columns the
    # downstream recall join needs, so Catalyst reuses the exchange —
    # one shuffle FEWER than the r12 pin. The audit-restricted
    # candidate generation (the sf10 flag fix) broadcasts the
    # ~100-row audit side of its cell join instead of
    # shuffle-joining it — the plan a fixed-size audit should have.
    # r15: multi-assignment made the candidate rule symmetric, so ONE
    # restricted join orientation replaces the r13 two-orientation
    # union: one broadcast FEWER (4,4 → 4,3), shuffles unchanged.
    "dedup_embedding_ann_audit": (4, 3),
    "window_rolling_quantile": (4, 1),
    "similarity_ann_lsh": (9, 4),  # incl. 2 round-robin rebalances
    "dedup_cluster_cc": (2, 0),
    # r14: both hash-family grades sample the exact-Jaccard side to the
    # md5 audit slice (r13 verdict item 1). Shuffle counts are
    # UNCHANGED — the restricted inverted-index join replaces the full
    # self-join's exchanges one-for-one — and each plan gains exactly
    # one BroadcastExchange: the ~audit-sized exact-pair set broadcast
    # into the recall left-join instead of shuffle-joining, the plan a
    # size-absolute audit should have.
    # r16: the shared audit grader's two orientation joins fused into
    # ONE pass over the index (orientation decided in the join
    # filter, audit side still the broadcast build) — one
    # BroadcastExchange fewer in each consumer, shuffles unchanged
    # (measured 0.778 → 0.536 s on the grader, identical output).
    "dedup_simhash": (4, 4),
    "dedup_near_minhash": (3, 6),
    "agg_approx_quantile": (1, 0),
    "similarity_ann_ivf": (7, 2),  # incl. 1 round-robin rebalance
    "dedup_ngram_jaccard": (1, 3),
}

_SHUF_RE = __import__("re").compile(
    r"\bExchange (hashpartitioning|rangepartitioning"
    r"|RoundRobinPartitioning|SinglePartition)"
)


def _count_exchanges(plan: str) -> tuple[int, int]:
    return len(_SHUF_RE.findall(plan)), plan.count("BroadcastExchange")


def test_hot_query_shuffle_counts_pinned(all_plans):
    got = {
        n: _count_exchanges(all_plans[n]) for n in _EXPECTED_SHUFFLES
    }
    assert got == _EXPECTED_SHUFFLES, (
        "shuffle/broadcast counts moved on a hot query — if the plan "
        "change is deliberate, update _EXPECTED_SHUFFLES in the same "
        "commit and say why; if not, you just added a shuffle to one "
        f"of the most expensive queries. diff: "
        f"{ {n: (got[n], _EXPECTED_SHUFFLES[n]) for n in got if got[n] != _EXPECTED_SHUFFLES[n]} }"
    )


def test_shuffle_pin_catches_added_exchange(spark, sf_dir):
    """Sanity check THE TEST: a deliberately-added repartition must
    move the counted shuffle number (guards the regex against Spark
    renaming the Exchange node)."""
    from frinesis_spark import registry

    q = registry.queries()["agg_approx_quantile"]
    base = _count_exchanges(plan_text(q(spark, sf_dir)))[0]
    extra = _count_exchanges(
        plan_text(q(spark, sf_dir).repartition(7))
    )[0]
    assert extra == base + 1
