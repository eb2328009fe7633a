"""Round-11 fixes: the committed plan-fingerprint attribution
artifact (VERDICT r10 item 1) and the round's ADVICE items."""

from __future__ import annotations

import os

import pytest


class TestPlanFingerprint:
    def test_attribution_artifact_complete(self):
        """BENCH_attribution_r11.json must cover every query the r10
        driver flagged, each resolved with plan-identity evidence."""
        import json
        from pathlib import Path

        repo = Path(__file__).resolve().parents[1]
        att = json.loads((repo / "BENCH_attribution_r11.json").read_text())
        r10 = json.loads((repo / "BENCH_r10.json").read_text())
        flagged = set(r10["parsed"]["regressions"])
        assert flagged == set(att["queries"])
        for name, row in att["queries"].items():
            assert row["verdict"].startswith("drift"), name
            if row["plan_changed"]:
                assert row["plan_change_why"], name
            else:
                assert row["plan_fp_r9"] == row["plan_fp_head"], name


class TestNgramDfCapBinding:
    """VERDICT r10 item 2: the ngram-dedup DF cap (``_MAX_DF=256``) had
    never fired on data at a size where it binds (fixtures top out at
    50k docs; SCALE.md says the cap starts binding ~130k). These tests
    build Heaps-law-violating corpora (closed vocabulary, so shingle
    document-frequency grows linearly with corpus size) at sizes where
    EVERY boilerplate shingle exceeds the cap, and pin:

    * both stop-set regimes actually drop (anti-join at 150k/vocab-17:
      ~4913 stop shingles > _STOP_LIT_CAP; isin literal-list at
      75k/vocab-13: ~2197 stop shingles);
    * candidate pairs = exactly the injected near-dup pairs — O(n) in
      genuine near-dup content while the boilerplate pair space is
      1.1e10; the removed quadratic term (sum of df^2 over stop
      shingles) is measured, not estimated;
    * recall impact: distinctive-content near-dups (rare shingles)
      recall 1.0; boilerplate-only duplicates are missed BY DESIGN
      (their every shingle carries no dedup signal at df>256) — the
      documented trade, now measured.
    """

    @staticmethod
    def _cap_corpus(spark, tmp_path, n_boiler: int, n_pairs: int,
                    vocab_n: int, n_boiler_dups: int = 3) -> str:
        from pyspark.sql import functions as F

        vocab = ",".join(f"'w{i}'" for i in range(vocab_n))
        # Boilerplate: 14 words drawn (deterministically, via hash)
        # from a closed vocab — shingle space = vocab_n^3, so each
        # shingle's df ~= n_boiler*12/vocab_n^3, far above _MAX_DF at
        # these sizes. Distributed generation: no driver-side rows.
        boiler_text = F.expr(
            f"concat_ws(' ', transform(sequence(1, 14), i -> "
            f"element_at(array({vocab}), "
            f"int(pmod(hash(id * 1000003 + i), {vocab_n})) + 1)))"
        )
        boiler = spark.range(n_boiler).select(
            F.col("id").alias("doc_id"), boiler_text.alias("text")
        )
        # Injected near-dup pairs on pair-unique tokens (df=2 per
        # shingle — always under the cap): 12 words, partner differs
        # only in the last word -> 9 of 10 shingles shared, J=9/11.
        def pair_doc(offset: int, last: str):
            return spark.range(n_pairs).select(
                (F.lit(1_000_000) + F.col("id") * 2 + offset).alias("doc_id"),
                F.concat(
                    F.expr(
                        "concat_ws(' ', transform(sequence(1, 11), "
                        "j -> concat('u', id, '_', j)))"
                    ),
                    F.lit(" "),
                    F.expr(f"concat('u', id, '_{last}')"),
                ).alias("text"),
            )

        # Boilerplate-only TRUE duplicates: verbatim copies of the
        # first n_boiler_dups boiler docs — Jaccard 1.0, but every
        # shingle is boilerplate, so the cap erases them from the
        # index. The measured recall cost.
        boiler_dups = spark.range(n_boiler_dups).select(
            (F.lit(2_000_000) + F.col("id")).alias("doc_id"), boiler_text.alias("text")
        )
        docs = boiler.unionAll(pair_doc(0, "12")).unionAll(
            pair_doc(1, "LAST")).unionAll(boiler_dups)
        docs = docs.select(
            "doc_id", "text", F.lit("en").alias("lang"),
            F.lit("synthetic").alias("source"),
            F.length("text").alias("n_chars"),
        )
        out = str(tmp_path / "documents.parquet")
        docs.repartition(8).write.parquet(out)
        return str(tmp_path)

    def _run(self, spark, tmp_path, n_boiler, n_pairs, vocab_n,
             expect_antijoin_regime: bool):
        from pyspark.sql import functions as F

        from frinesis_spark.operators import dedup as D

        corpus = self._cap_corpus(spark, tmp_path, n_boiler, n_pairs, vocab_n)
        docs = D.table(spark, corpus, "documents")

        # Independent stop-set measurement (not via _shingle_index):
        # which regime does this corpus force?
        inv0 = docs.select(
            "doc_id", F.explode(D._shingles()).alias("shingle"))
        dfreq = inv0.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
        stop_n = dfreq.where(F.col("df") > D._MAX_DF).count()
        assert stop_n > 0, "cap did not bind — corpus too small"
        if expect_antijoin_regime:
            assert stop_n > D._STOP_LIT_CAP, (
                f"expected the anti-join drop regime, got {stop_n} stop "
                f"shingles <= {D._STOP_LIT_CAP}")
        else:
            assert 0 < stop_n <= D._STOP_LIT_CAP

        # The removed quadratic term, measured: pair work the cap
        # eliminated = sum(df^2) over stop shingles.
        removed = (dfreq.where(F.col("df") > D._MAX_DF)
                   .agg(F.sum(F.col("df") * F.col("df"))).collect()[0][0])

        # The real capped index: survivors must respect the cap.
        idx = D._shingle_index(docs)
        max_df = (idx.groupBy("shingle").count()
                  .agg(F.max("count")).collect()[0][0])
        assert max_df <= D._MAX_DF

        # Candidate pairs over the capped index = injected pairs ONLY:
        # boilerplate contributes zero despite n_boiler^2/2 potential
        # pairs. This is the O(n) pin.
        a, b = idx.alias("a"), idx.alias("b")
        candidates = (a.join(
            b, (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")))
            .select("a.doc_id", "b.doc_id").distinct().count())
        assert candidates == n_pairs, (candidates, n_pairs)
        assert removed >= 100_000 * candidates  # the avoided blow-up

        # End-to-end through the REGISTERED operator: recall 1.0 on
        # distinctive-content pairs, 0 on boilerplate-only dups.
        found = D.q_dedup_ngram_jaccard(spark, corpus)
        rows = found.collect()
        assert len(rows) == n_pairs
        assert all(r.doc_a >= 1_000_000 and r.doc_b == r.doc_a + 1
                   and abs(r.jaccard - 9 / 11) < 1e-6 for r in rows)
        return stop_n, removed

    def test_cap_binds_at_150k_antijoin_regime(self, spark, tmp_path):
        stop_n, removed = self._run(
            spark, tmp_path, n_boiler=150_000, n_pairs=1000, vocab_n=17,
            expect_antijoin_regime=True)
        # ~4913 closed-vocab shingles, each df ~ 366: all stop.
        assert stop_n > 4500
        assert removed > 10**8  # >= 1e8 pair-works eliminated

    def test_cap_binds_at_75k_isin_regime(self, spark, tmp_path):
        self._run(spark, tmp_path, n_boiler=75_000, n_pairs=500,
                  vocab_n=13, expect_antijoin_regime=False)


class TestDsumOverflowBound:
    """ADVICE r10 item 1: dsum/davg's scaled-int64 path narrows the
    summable domain to |sum| <= 2^63/10^6 (~9.2e12). The documented
    contract is that BOTH engines fail LOUDLY past that bound — pin it
    so a future non-ANSI session config can't reintroduce silent int64
    wraparound (under ansi.enabled=false, Spark's SUM(BIGINT) wraps
    silently and this test would fail by seeing a result, not an
    error)."""

    def test_spark_overflow_is_loud(self, spark):
        from frinesis_spark.functions.numeric import dsum

        df = spark.createDataFrame([(5e12,), (5e12,)], "v double")
        with pytest.raises(Exception, match="ARITHMETIC_OVERFLOW"):
            df.agg(dsum("v").alias("s")).collect()
        # just under the bound: one 5e12 row sums fine (5e18 < 2^63)
        [row] = df.limit(1).agg(dsum("v").alias("s")).collect()
        assert row.s == 5e12

    def test_duckdb_overflow_is_loud(self):
        import duckdb

        from frinesis_spark.functions.numeric import oracle_dsum

        sql = (
            f"SELECT {oracle_dsum('v')} AS s "
            "FROM (VALUES (5e12),(5e12)) t(v)"
        )
        with pytest.raises(
            duckdb.ConversionException, match="out of range"
        ):
            duckdb.sql(sql).fetchall()
        ok = duckdb.sql(
            f"SELECT {oracle_dsum('v')} AS s FROM (VALUES (5e12)) t(v)"
        ).fetchone()
        assert ok[0] == 5e12


class TestRegisterViewsVanishedTable:
    """ADVICE r10 item 2: the r10 stat-invalidation made
    ``register_views`` raise FileNotFoundError on a previously
    registered call path if ANY requested table's parquet vanished
    (it was a pure no-op before). Now a vanished already-registered
    table keeps its view (the scan raises only if a query touches
    it); a never-registered missing table surfaces Spark's own
    clearer path error."""

    def test_vanished_after_registration_is_not_fatal(
        self, spark, tmp_path
    ):
        import shutil

        from frinesis_spark.catalog import register_views

        src = "/root/testdata/sf0.001"
        for t in ("region", "nation"):
            shutil.copy(f"{src}/{t}.parquet", tmp_path / f"{t}.parquet")
        corpus = str(tmp_path)
        register_views(spark, corpus, tables=("region", "nation"))
        n_before = spark.sql("SELECT COUNT(*) FROM nation").collect()[0][0]
        (tmp_path / "region.parquet").unlink()
        # must NOT raise — region stays registered (stale), nation
        # still re-probes and serves
        register_views(spark, corpus, tables=("region", "nation"))
        assert (
            spark.sql("SELECT COUNT(*) FROM nation").collect()[0][0]
            == n_before
        )

    def test_never_registered_missing_table_raises_sparks_error(
        self, spark, tmp_path
    ):
        from frinesis_spark.catalog import register_views

        with pytest.raises(Exception, match="PATH_NOT_FOUND|Path does not exist"):
            register_views(spark, str(tmp_path), tables=("customer",))


class TestStubCallLatency:
    """The sink wire-envelope knob (r10 verdict item 7): call_latency_s
    must delay PutRecords only — control-plane and read-path calls
    stay instant, so read-back tests under a latency-injected stub
    don't serialize on fake waits."""

    def test_latency_applies_to_putrecords_only(self):
        import time as _t

        boto3 = pytest.importorskip("boto3")  # noqa: F841

        from frinesis_spark.sinks.kinesis import make_boto3_client_factory
        from tests.kinesis_stub import KinesisStub

        with KinesisStub(call_latency_s=0.2) as stub:
            kin = make_boto3_client_factory(
                {"AWS_REGION_NAME": "us-east-1",
                 "KINESIS_ENDPOINT": stub.endpoint}
            )()
            t0 = _t.perf_counter()
            kin.create_stream(StreamName="lat.t", ShardCount=1)
            kin.describe_stream(StreamName="lat.t")
            control_s = _t.perf_counter() - t0
            assert control_s < 0.15, "control plane must not pay latency"
            t0 = _t.perf_counter()
            kin.put_records(
                StreamName="lat.t",
                Records=[{"Data": b"x", "PartitionKey": "k"}],
            )
            put_s = _t.perf_counter() - t0
            assert put_s >= 0.2



class TestStubAfterSequenceLeadingZeros:
    """ADVICE r10 item 3: the stub's AFTER_SEQUENCE_NUMBER skip used
    string equality against an int-compared search, so a
    client-supplied sequence with leading zeros ("007") matched the
    >= search numerically but failed the skip's string compare,
    re-delivering the boundary record as a duplicate."""

    def test_leading_zero_sequence_skips_boundary_record(self):
        boto3 = pytest.importorskip("boto3")  # noqa: F841

        from frinesis_spark.sinks.kinesis import make_boto3_client_factory
        from tests.kinesis_stub import KinesisStub

        with KinesisStub() as stub:
            kin = make_boto3_client_factory(
                {"AWS_REGION_NAME": "us-east-1",
                 "KINESIS_ENDPOINT": stub.endpoint}
            )()
            kin.create_stream(StreamName="lz.t", ShardCount=1)
            kin.put_records(
                StreamName="lz.t",
                Records=[
                    {"Data": f"r{i}".encode(), "PartitionKey": "k"}
                    for i in range(3)
                ],
            )
            shard = kin.describe_stream(StreamName="lz.t")[
                "StreamDescription"]["Shards"][0]["ShardId"]
            it = kin.get_shard_iterator(
                StreamName="lz.t", ShardId=shard,
                ShardIteratorType="TRIM_HORIZON",
            )["ShardIterator"]
            recs = kin.get_records(ShardIterator=it)["Records"]
            first_seq = recs[0]["SequenceNumber"]
            padded = first_seq.zfill(len(first_seq) + 2)  # "007" form
            it2 = kin.get_shard_iterator(
                StreamName="lz.t", ShardId=shard,
                ShardIteratorType="AFTER_SEQUENCE_NUMBER",
                StartingSequenceNumber=padded,
            )["ShardIterator"]
            got = [
                r["Data"] for r in kin.get_records(ShardIterator=it2)["Records"]
            ]
            # the boundary record must be SKIPPED, not re-delivered
            assert got == [b"r1", b"r2"], got


def test_parallel_sink_envelope_loses_nothing():
    """The multi-producer wire envelope (bench.py r11): four forked
    producers splitting one record set over the same stream must
    deliver every record exactly once under 10% injected per-record
    failures — the per-Spark-task shape. Timing is host-dependent and
    deliberately NOT asserted; delivery accounting is the contract."""
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import bench

    env = bench._sink_throughput(
        call_latency_s=0.0, n_records=8000, n_producers=4
    )
    if env is None:  # boto3 unavailable — bench itself would skip too
        import pytest

        pytest.skip("boto3/stub unavailable")
    assert env["producers"] == 4
    assert env["delivered"] == 8000
    assert env["remaining"] == 0
    assert env["dropped"] == 0
    assert env["shed"] == 0
    # 10% of adds are throttled on first attempt -> retries ~ n/9
    assert env["retries"] > 0
