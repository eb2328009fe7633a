"""Round-15 OPTIMIZATION pins (see OPTIMIZATION_r15.md).

The audit-slice exact-Jaccard grader (shared by dedup_near_minhash and
dedup_simhash) must broadcast its size-absolute AUDIT side, never the
corpus-sized index side: Catalyst cannot estimate the md5-bucket
filter's selectivity, so without the explicit hint both join inputs
carry the parent's stats and the planner was broadcasting the full
260k-posting index (32 MiB at sf0.1 — and corpus-sized, i.e. an OOM,
at real scale). The hint pins the build side to the one input that is
bounded by construction.
"""

from __future__ import annotations

from tests.parity import plan_text


class TestAuditGraderBuildSide:
    def test_audit_side_is_build_side(self, spark, sf_dir):
        """The grader's orientation join (ONE since the r16 one-pass
        fuse; two through r15) builds (broadcasts) its LEFT input —
        the audit postings — never the full-index right side.
        Anchored to the shingle-keyed join specifically (ADVICE r15:
        the old whole-plan count could be satisfied by an unrelated
        BuildLeft elsewhere in the cached-index lineage)."""
        from frinesis_spark.operators import dedup as D

        plan = plan_text(D.audit_exact_jaccard_pairs(spark, sf_dir))
        shingle_joins = [
            ln
            for ln in plan.splitlines()
            if "BroadcastHashJoin [shingle" in ln
        ]
        assert len(shingle_joins) == 1, shingle_joins
        assert "BuildLeft" in shingle_joins[0], shingle_joins[0]
        assert "BuildRight" not in shingle_joins[0], shingle_joins[0]

    def test_restricted_equals_filtered_full_still_holds(
        self, spark, sf_dir
    ):
        """The build-side flip is plan-only: audit_mod=1 (everything
        is audit) must still reproduce the full ngram pair set
        exactly (the r14 differential pin, re-run on the new plan)."""
        from frinesis_spark.operators import dedup as D

        everything = {
            tuple(r)
            for r in D.audit_exact_jaccard_pairs(
                spark, sf_dir, audit_mod=1
            ).collect()
        }
        full = {
            tuple(r)
            for r in D.q_dedup_ngram_jaccard(spark, sf_dir).collect()
        }
        assert everything == full
