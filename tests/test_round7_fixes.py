"""Round-7 fix pins: bucketed foreachBatch upsert store (VERDICT r6
item 4 — untouched buckets must not be rewritten), decontamination
eval-set cap (ADVICE r6)."""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import functions as F


def _dir_digest(path: str) -> dict[str, str]:
    """Map of relative file path → md5 for every file under `path`."""
    out = {}
    for root, _, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            rel = os.path.relpath(p, path)
            out[rel] = hashlib.md5(open(p, "rb").read()).hexdigest()
    return out


def test_bucketed_upsert_untouched_buckets_not_rewritten(spark, tmp_path):
    """A micro-batch that touches one user must rewrite ONLY that
    user's bucket: every other bucket's manifest entry keeps its path
    and its files stay byte-identical (the O(batch) vs O(all keys)
    I/O claim, pinned at file level)."""
    from frinesis_spark.streaming.windows import _BucketedSnapshotStore

    store = _BucketedSnapshotStore(
        str(tmp_path / "store"),
        "user_id",
        [F.col("ts").desc(), F.col("event_id").desc()],
        n_buckets=8,
    )
    schema = "event_id long, ts long, user_id long, value double"
    b0 = spark.createDataFrame(
        [(i, 10 + i, i % 20, float(i)) for i in range(60)], schema
    )
    store.merge(b0, 0)
    assert store.manifest, "batch 0 produced no buckets"
    manifest_before = dict(store.manifest)
    digests_before = {b: _dir_digest(p) for b, p in manifest_before.items()}

    # Batch 1: a single existing user gets a newer row.
    b1 = spark.createDataFrame([(999, 1000, 7, 123.5)], schema)
    touched_bucket = spark.range(1).select(
        F.pmod(F.hash(F.lit(7).cast("long")), F.lit(8)).alias("b")
    ).collect()[0][0]
    store.merge(b1, 1)

    changed = {
        b for b in store.manifest
        if manifest_before.get(b) != store.manifest[b]
    }
    assert changed == {touched_bucket}
    for b, p in store.manifest.items():
        if b == touched_bucket:
            continue
        assert p == manifest_before[b]
        assert _dir_digest(p) == digests_before[b], (
            f"untouched bucket {b} was rewritten"
        )

    # Correctness: the snapshot is latest-row-per-key over both batches.
    snap = {
        r["user_id"]: (r["ts"], r["value"])
        for r in store.snapshot(spark).collect()
    }
    assert len(snap) == 20
    assert snap[7] == (1000, 123.5)
    # user 6's latest from batch 0: event_ids 6,26,46 → ts 56 wins
    assert snap[6] == (56, 46.0)


def test_bucketed_upsert_superseded_dirs_reclaimed(spark, tmp_path):
    """Keep-one-generation reclaim: a superseded bucket directory
    survives exactly ONE further merge (a pre-merge snapshot() frame
    is a lazy scan of it), then is reclaimed — including the version
    dir husk Spark's _SUCCESS marker would otherwise keep alive."""
    from pyspark.sql import functions as F

    from frinesis_spark.streaming.windows import _BucketedSnapshotStore

    base = tmp_path / "store"
    store = _BucketedSnapshotStore(
        str(base),
        "user_id",
        [F.col("ts").desc(), F.col("event_id").desc()],
        n_buckets=4,
    )
    schema = "event_id long, ts long, user_id long, value double"
    store.merge(spark.createDataFrame([(1, 1, 5, 1.0)], schema), 0)
    gen0 = dict(store.manifest)
    pre_merge_snapshot = store.snapshot(spark)
    store.merge(spark.createDataFrame([(2, 2, 5, 2.0)], schema), 1)
    # One generation back still on disk: the lazy reader still works.
    assert pre_merge_snapshot.count() == 1
    store.merge(spark.createDataFrame([(3, 3, 5, 3.0)], schema), 2)
    for b, p in gen0.items():
        if store.manifest[b] != p:
            assert not os.path.exists(p), (
                "gen-0 bucket dir must be reclaimed after TWO merges"
            )
            # The version dir itself must not survive as a husk of
            # _SUCCESS/.crc marker files.
            assert not os.path.exists(os.path.dirname(p)), (
                "superseded version dir left as a marker-file husk"
            )
    # Exactly one live copy per bucket under the manifest.
    live = sorted(store.manifest.values())
    assert len(live) == len(set(live))
    assert {r["value"] for r in store.snapshot(spark).collect()} == {3.0}


def test_star_join_survives_planted_skew(spark, sf_dir, monkeypatch):
    """Skew-resilience proof for the flagship star join (VERDICT r6
    item 6): with a planted hot custkey on 40% of orders and the
    customer broadcast disabled (the 100 TB condition — customer
    exceeds the broadcast threshold there), AQE's skew-join split must
    kick in (`skew=true` in the final adaptive plan) and the result
    must equal the default broadcast plan's, which is skew-immune by
    construction."""
    import frinesis_spark.operators.relational as rel

    # sf0.01 (not the tiny default fixture): the hot partition must be
    # big enough to clear even a lowered skew threshold.
    sf_dir = "/root/testdata/sf0.01"
    real_table = rel.table

    def skewed_table(s, d, name):
        df = real_table(s, d, name)
        if name == "orders":
            hot = F.lit(7).cast(df.schema["o_custkey"].dataType)
            df = df.withColumn(
                "o_custkey",
                F.when(F.col("o_orderkey") % 10 < 4, hot).otherwise(
                    F.col("o_custkey")
                ),
            )
        return df

    monkeypatch.setattr(rel, "table", skewed_table)

    confs = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # Fixture-scale thresholds: the hot partition is a few hundred
        # KB here, not the production 256 MB default.
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "8k",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "4k",
        # The split target is max(advisory, minPartitionSize); the
        # default 1 MB floor refuses to split a fixture-scale (~300 KB)
        # hot partition, silently yielding zero skew splits.
        "spark.sql.adaptive.coalescePartitions.minPartitionSize": "4k",
        # Enough reduce partitions that the hot key's partition towers
        # over the median (the default 5x skew factor then detects it —
        # the test session's tiny shuffle.partitions would flatten the
        # ratio to ~4x and mask the skew).
        "spark.sql.shuffle.partitions": "16",
        # The 100 TB condition: customer does not broadcast.
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    saved = {}
    for k in confs:
        try:
            saved[k] = spark.conf.get(k)
        except Exception:
            saved[k] = None
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        out = rel.q_join_multiway_star(spark, sf_dir)
        skew_rows = {tuple(r) for r in out.collect()}
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, (
            "AQE skew-join split did not trigger on the planted hot key:\n"
            + plan
        )
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)

    # Same skewed data, default plan (customer broadcasts → skew-immune):
    # both physical strategies must agree exactly (decimal-exact sums).
    base_rows = {
        tuple(r) for r in rel.q_join_multiway_star(spark, sf_dir).collect()
    }
    assert skew_rows == base_rows


def test_index_store_mode_persists_and_avoids_recompute(
    spark, sf_dir, tmp_path, monkeypatch
):
    """SPARK_GRAFT_INDEX_STORE mode (VERDICT r6 #8): the shingle index
    becomes a fingerprint-keyed persisted table — same results as the
    session-cache mode, written once, and a fingerprint hit performs
    ZERO recompute (proven by poisoning the build path)."""
    from frinesis_spark.caches import clear_derived_caches
    from frinesis_spark.operators import dedup

    def rows():
        return sorted(
            tuple(r)
            for r in dedup.q_dedup_incremental_jaccard(spark, sf_dir).collect()
        )

    clear_derived_caches()
    baseline = rows()  # session-cache mode

    store = tmp_path / "store"
    monkeypatch.setenv("SPARK_GRAFT_INDEX_STORE", str(store))
    clear_derived_caches()
    assert rows() == baseline  # store mode, cold: builds + writes
    fp_dirs = list((store / "shingle_index").glob("fp=*"))
    assert len(fp_dirs) == 1 and (fp_dirs[0] / "_SUCCESS").exists()
    # Only the index and its size table persist; the other artifacts
    # stay session-local in store mode too.
    dedup._cached_simhash_fingerprints(spark, sf_dir).count()
    dedup._simhash_recall_floor_pct(spark, sf_dir)
    assert sorted(p.name for p in store.iterdir()) == [
        "shingle_index",
        "shingle_sizes",
    ]

    # Fingerprint hit: the build path must never run.
    def _poisoned(*a, **k):
        raise AssertionError("store hit must not rebuild the index")

    monkeypatch.setattr(dedup, "_shingle_index", _poisoned)
    clear_derived_caches()
    assert rows() == baseline
    monkeypatch.undo()
    clear_derived_caches()


def test_index_store_fingerprints_once_per_lookup(
    spark, sf_dir, tmp_path, monkeypatch
):
    """Store mode computes the corpus fingerprint ONCE per lookup and
    uses it for both the memo key and the store directory, so the two
    can never name different corpora (the old store path fingerprinted
    again for its directory, a second stat sweep per miss)."""
    from frinesis_spark import caches
    from frinesis_spark.operators import dedup

    monkeypatch.setenv("SPARK_GRAFT_INDEX_STORE", str(tmp_path / "store"))
    calls = []
    real = caches.corpus_fingerprint

    def counting(*a, **k):
        calls.append(a)
        return real(*a, **k)

    monkeypatch.setattr(caches, "corpus_fingerprint", counting)
    caches.clear_derived_caches()
    dedup._cached_shingle_index(spark, sf_dir)  # miss: build + write
    assert len(calls) == 1
    dedup._cached_shingle_index(spark, sf_dir)  # hit
    assert len(calls) == 2
    monkeypatch.undo()
    caches.clear_derived_caches()


def test_index_store_refreshes_on_corpus_change(spark, sf_dir, tmp_path, monkeypatch):
    """A corpus refresh (new file mtime/size) changes the fingerprint:
    the store rebuilds under the new fingerprint, KEEPS the
    immediately superseded generation (store-mode frames are lazy
    parquet scans — a reader built pre-refresh must survive its next
    action), and reclaims anything older on the following refresh."""
    import shutil
    import time

    from frinesis_spark.caches import clear_derived_caches
    from frinesis_spark.operators import dedup

    corpus = tmp_path / "corpus"
    corpus.mkdir()
    shutil.copy(f"{sf_dir}/documents.parquet", corpus / "documents.parquet")
    store = tmp_path / "store"
    monkeypatch.setenv("SPARK_GRAFT_INDEX_STORE", str(store))

    clear_derived_caches()
    live = dedup._cached_shingle_index(spark, str(corpus))
    live.count()
    first = {d.name for d in (store / "shingle_index").glob("fp=*")}
    assert len(first) == 1

    os.utime(corpus / "documents.parquet")  # refresh 1
    clear_derived_caches()
    time.sleep(0.05)  # distinct store-dir mtimes for the reclaim order
    dedup._cached_shingle_index(spark, str(corpus)).count()
    second = {d.name for d in (store / "shingle_index").glob("fp=*")}
    assert len(second) == 2 and first < second, (
        "the superseded generation must survive one refresh"
    )
    # The pre-refresh lazy reader still works (its files exist).
    live.count()

    os.utime(corpus / "documents.parquet")  # refresh 2
    clear_derived_caches()
    dedup._cached_shingle_index(spark, str(corpus)).count()
    third = {d.name for d in (store / "shingle_index").glob("fp=*")}
    assert len(third) == 2 and not (first & third), (
        "the oldest generation must be reclaimed on the SECOND refresh"
    )
    clear_derived_caches()


def test_decontaminate_eval_cap_bounds_broadcast(spark, duck, sf_dir):
    """The stand-in eval set is bounded absolutely: doc_ids at/above
    100 * _DECON_EVAL_CAP never enter the eval side even when they
    satisfy the modulus (ADVICE r6 — broadcast must not grow with the
    corpus)."""
    from frinesis_spark.operators import dedup

    # The predicate itself: a doc_id past the cap is corpus, not eval.
    over_cap = 100 * dedup._DECON_EVAL_CAP
    df = spark.createDataFrame(
        [(0,), (100,), (over_cap,), (over_cap + 100,)], "doc_id long"
    )
    is_eval = (F.col("doc_id") % 100 == 0) & (
        F.col("doc_id") < 100 * dedup._DECON_EVAL_CAP
    )
    got = sorted(r[0] for r in df.where(is_eval).collect())
    assert got == [0, 100]


def test_connector_roundtrip_edge_contracts(spark, tmp_path):
    """Pin the connector edge behaviors probed in r7 that were ALREADY
    lossless (the CSV pair was not — see test_differential's CSV
    test): text lines keep empty/whitespace lines; JSONL round-trips
    NaN/Infinity (Spark's own non-standard tokens — self-consistent,
    an interop caveat for foreign readers); partition directories
    escape '/', ' ', '=' and spell NULL as the Hive default partition."""
    import math

    txt = spark.createDataFrame([("plain",), ("",), ("  ",)], "value string")
    p = str(tmp_path / "txt")
    txt.write.mode("overwrite").text(p)
    assert sorted(r.value for r in spark.read.text(p).collect()) == [
        "", "  ", "plain"
    ]

    js = spark.createDataFrame(
        [(1, float("nan")), (2, float("inf")), (3, 1.5)], "k long, v double"
    )
    pj = str(tmp_path / "json")
    js.write.mode("overwrite").json(pj)
    got = {r.k: r.v for r in spark.read.schema(js.schema).json(pj).collect()}
    assert math.isnan(got[1]) and math.isinf(got[2]) and got[3] == 1.5

    pt = spark.createDataFrame(
        [(1, "1-URGENT"), (2, "a/b"), (3, "sp ace"), (4, "eq=ual"), (5, None)],
        "k long, part string",
    )
    pp = str(tmp_path / "part")
    pt.write.mode("overwrite").partitionBy("part").parquet(pp)
    assert sorted(
        (r.k, r.part) for r in spark.read.parquet(pp).collect()
    ) == [(1, "1-URGENT"), (2, "a/b"), (3, "sp ace"), (4, "eq=ual"), (5, None)]


def test_bucketed_upsert_replayed_batch_is_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: a replayed batch_id must not
    overwrite the directories its own merge plan lazily reads (the
    attempt-suffixed version dirs prevent the read-your-own-target
    overwrite) and must leave the snapshot identical."""
    from pyspark.sql import functions as F

    from frinesis_spark.streaming.windows import _BucketedSnapshotStore

    store = _BucketedSnapshotStore(
        str(tmp_path / "store"),
        "user_id",
        [F.col("ts").desc(), F.col("event_id").desc()],
        n_buckets=4,
    )
    schema = "event_id long, ts long, user_id long, value double"
    batch = spark.createDataFrame(
        [(1, 1, 5, 1.0), (2, 2, 5, 2.0), (3, 1, 9, 9.0)], schema
    )
    store.merge(batch, 0)
    before = {
        r["user_id"]: r["value"] for r in store.snapshot(spark).collect()
    }
    store.merge(batch, 0)  # the crash-replay of the SAME batch
    after = {
        r["user_id"]: r["value"] for r in store.snapshot(spark).collect()
    }
    assert before == after == {5: 2.0, 9: 9.0}
