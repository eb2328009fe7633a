"""Round-9 fix pins (the four r8 ADVICE items).

1. high — simhash vote reduceat: a NULL-text doc as the LAST row of a
   token-budget block put cumsum == len(flat) into the reduceat
   offsets → IndexError killed the Python worker (lens=[5,0]). Fixed
   by reducing only over nonzero-length docs and scattering back.
2. low — rolling_quantile_chunked context pairs are now derived from a
   bounded lag window over the count table, not a |segments|² per-series
   self-join (bit-identity re-pinned by the existing r8 differentials).
3. low — source_compressed_roundtrip codecs_agree used null-unsafe ==
   on the aggregate comparison: an all-NULL-acctbal nation made the
   boolean NULL while the oracle pins TRUE. Now eqNullSafe.
4. low — artifact cache eviction was FIFO (hits never refreshed
   position); now LRU.
"""

from __future__ import annotations

import pytest


def _one_partition(df):
    return df.coalesce(1)


def test_simhash_trailing_null_text_in_block(spark, monkeypatch):
    """A NULL-text doc as the LAST doc of a vote block (lens=[5,0])
    previously raised IndexError in np.add.reduceat and killed the
    worker (ADVICE r8 high). Pin: fingerprints compute, empty doc → 0,
    non-empty doc unchanged vs computing it alone."""
    import frinesis_spark.operators.dedup as dd_mod

    # spread() would scatter the 2 rows over 32 partitions; force one
    # partition so both docs land in one Arrow batch in row order —
    # the exact trailing-empty geometry the bug needs.
    monkeypatch.setattr(dd_mod, "spread", _one_partition)

    schema = (
        "doc_id long, text string, lang string, source string, "
        "n_chars long"
    )
    solo = spark.createDataFrame(
        [(1, "alpha beta gamma delta eps", "en", "s", 26)], schema
    )
    fp_solo = dd_mod._simhash_fingerprints(solo).collect()[0]["simhash"]

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta eps", "en", "s", 26),
            (2, None, "en", "s", None),  # trailing empty doc
        ],
        schema,
    )
    fps = {
        r["doc_id"]: r["simhash"]
        for r in dd_mod._simhash_fingerprints(docs).collect()
    }
    assert fps[2] == 0
    assert fps[1] == fp_solo != 0


def test_simhash_interleaved_null_text_scatter_back(spark, monkeypatch):
    """Interleaved empty docs ([3 tokens, 0, 5 tokens, 0]) exercise the
    scatter-back path: every non-empty doc's fingerprint must equal the
    solo computation, every empty doc must be 0."""
    import frinesis_spark.operators.dedup as dd_mod

    monkeypatch.setattr(dd_mod, "spread", _one_partition)

    schema = (
        "doc_id long, text string, lang string, source string, "
        "n_chars long"
    )
    t1, t2 = "alpha beta gamma", "one two three four five"
    solo = {
        r["doc_id"]: r["simhash"]
        for r in dd_mod._simhash_fingerprints(
            spark.createDataFrame(
                [(1, t1, "en", "s", 16), (3, t2, "en", "s", 23)], schema
            )
        ).collect()
    }
    docs = spark.createDataFrame(
        [
            (1, t1, "en", "s", 16),
            (2, None, "en", "s", None),
            (3, t2, "en", "s", 23),
            (4, None, "en", "s", None),
        ],
        schema,
    )
    fps = {
        r["doc_id"]: r["simhash"]
        for r in dd_mod._simhash_fingerprints(docs).collect()
    }
    assert fps[1] == solo[1] and fps[3] == solo[3]
    assert fps[2] == 0 and fps[4] == 0


def test_codecs_agree_null_safe_on_all_null_acctbal(spark, monkeypatch):
    """A nation whose customers all carry NULL acctbal sums to NULL on
    BOTH codec paths; null-unsafe == made codecs_agree NULL while the
    oracle pins TRUE (ADVICE r8). eqNullSafe keeps it TRUE."""
    import frinesis_spark.sources.files as files_mod
    from frinesis_spark import catalog

    crafted = spark.createDataFrame(
        [
            (1, "Customer#1", "addr", 7, "11-x", None, "SEG", "c"),
            (2, "Customer#2", "addr", 7, "11-y", None, "SEG", "c"),
            (3, "Customer#3", "addr", 8, "12-z", 100.25, "SEG", "c"),
        ],
        "c_custkey long, c_name string, c_address string, "
        "c_nationkey long, c_phone string, c_acctbal double, "
        "c_mktsegment string, c_comment string",
    )
    real_table = catalog.table
    monkeypatch.setattr(
        files_mod,
        "table",
        lambda s, d, n: crafted if n == "customer" else real_table(s, d, n),
    )
    out = files_mod.QUERIES["source_compressed_roundtrip"](
        spark, "crafted://nullbal"
    ).collect()
    assert len(out) == 2
    for r in out:
        assert r["codecs_agree"] is True  # never NULL, never False


def test_artifact_cache_eviction_is_lru_not_fifo(monkeypatch):
    """caches.artifact holds at most 4 entries per artifact name and
    evicts the LEAST RECENTLY USED one: insert d1..d4, re-hit d1,
    insert d5 → only d2 is evicted, d1 survives its refresh. The old
    clear() degraded alternating-corpus sessions to a 0% hit rate, and
    the FIFO form evicted d1 even though it was the hottest entry
    (ADVICE r8). Another artifact name has its own 4 entries."""
    from frinesis_spark import caches
    import frinesis_spark.catalog as cat

    monkeypatch.delenv("SPARK_GRAFT_INDEX_STORE", raising=False)
    monkeypatch.setattr(cat, "session_key", lambda s: ("app", 1))
    monkeypatch.setattr(caches, "_MEMO", {})
    calls = []

    def get(d, name="lru_probe"):
        def build():
            calls.append(d)
            return f"artifact-{d}"

        return caches.artifact(None, d, name, build)

    for d in ("d1", "d2", "d3", "d4"):
        assert get(d) == f"artifact-{d}"
    assert get("d1") == "artifact-d1"  # hit, refreshes d1's recency
    assert calls == ["d1", "d2", "d3", "d4"]
    get("d5")
    assert len(caches._MEMO["lru_probe"]) == 4  # bound holds
    for d in ("d1", "d3", "d4", "d5"):
        get(d)
    assert calls == ["d1", "d2", "d3", "d4", "d5"]  # all hits
    get("d2")
    assert calls[-1] == "d2"  # d2 was rebuilt → it was the LRU victim
    get("d1", name="other")  # a second name does not evict from the first
    assert len(caches._MEMO["lru_probe"]) == 4
    assert caches.clear_derived_caches() == 5


# --- self-grading dedup (VERDICT r8 item 2) ---------------------------------


def test_dedup_self_grading_counts_and_floor(spark):
    """Both registered hash-family dedup queries emit one row whose
    n_sampled_exact_pairs equals the oracle-verified exact-Jaccard
    pair count restricted to the md5 audit slice (r14: the grade is
    sampled — r13 verdict item 1) and whose recall floor is met on
    the fixture. Runs at sf0.01 (the driver's grading scale — the
    sf0.001 slice is vacuous)."""
    from pyspark.sql import functions as F

    from frinesis_spark.catalog import table
    from frinesis_spark.operators import dedup
    from frinesis_spark.operators.text import _md5_bucket

    sf_dir = "/root/testdata/sf0.01"
    mod = dedup._ann_audit_mod(table(spark, sf_dir, "documents").count())
    n_sampled = (
        dedup.q_dedup_ngram_jaccard(spark, sf_dir)
        .where(
            (_md5_bucket(F.col("doc_a"), mod) == 0)
            | (_md5_bucket(F.col("doc_b"), mod) == 0)
        )
        .count()
    )
    assert n_sampled > 0, "fixture audit slice must be non-vacuous"
    for q in ("dedup_near_minhash", "dedup_simhash"):
        out = dedup.QUERIES[q](spark, sf_dir).collect()
        assert len(out) == 1
        assert out[0]["n_sampled_exact_pairs"] == n_sampled
        assert out[0]["recall_floor_met"] is True


def test_pair_recall_check_fails_on_broken_candidates(spark):
    """The grade must be a real grade: a candidate set that misses the
    exact pairs lands recall_floor_met = False (a scrambled index
    can't silently pass), and an empty exact set grades vacuously
    TRUE, never NULL."""
    from frinesis_spark.operators.dedup import _pair_recall_check

    exact = spark.createDataFrame(
        [(1, 2), (3, 4), (5, 6), (7, 8)], "doc_a long, doc_b long"
    )
    wrong = spark.createDataFrame([(9, 10)], "doc_a long, doc_b long")
    row = _pair_recall_check(exact, wrong, 75).collect()[0]
    assert row["n_exact_pairs"] == 4 and row["recall_floor_met"] is False

    partial = spark.createDataFrame(
        [(1, 2), (3, 4), (5, 6)], "doc_a long, doc_b long"
    )
    row = _pair_recall_check(exact, partial, 75).collect()[0]
    assert row["recall_floor_met"] is True  # 3/4 = 75% meets a 75 floor

    empty = exact.where("doc_a < 0")
    row = _pair_recall_check(empty, wrong, 75).collect()[0]
    assert row["n_exact_pairs"] == 0 and row["recall_floor_met"] is True


# --- dedup_embedding_ann (VERDICT r8 item 3) ---------------------------------


def test_embedding_ann_pairs_subset_of_exact(spark, sf_dir):
    """The ANN path re-ranks candidates with the same exact cosine and
    threshold as the baseline, so its pair set must be a SUBSET of the
    exact pair set (pure recall loss, zero false positives), and the
    registered grade must clear its floor on the fixture."""
    from frinesis_spark.operators import dedup

    exact = {
        (r.a_id, r.b_id)
        for r in dedup.q_dedup_embedding_cosine(spark, sf_dir).collect()
    }
    ann = {
        (r.a_id, r.b_id)
        for r in dedup.embedding_ann_pairs(spark, sf_dir).collect()
    }
    assert ann <= exact
    assert len(ann) >= 0.7 * len(exact)  # sharper local floor than the grade
    row = dedup.QUERIES["dedup_embedding_ann"](spark, sf_dir).collect()[0]
    assert row["n_exact_pairs"] == len(exact)
    assert row["recall_floor_met"] is True


def test_embedding_ann_reuses_cached_ivf_index(spark, sf_dir):
    """The dedup pass must consume the SAME cached IVF index artifact
    as the ANN top-k query — one (session, corpus) build, two access
    patterns."""
    import frinesis_spark.operators.similarity as sim
    from frinesis_spark import caches
    from frinesis_spark.operators import dedup

    # Full derived-cache reset: since r15 the pair pass ALSO memoizes
    # its multi-assignment table, which would otherwise serve this
    # call without touching the IVF index at all (test-order found).
    caches.clear_derived_caches()
    dedup.embedding_ann_pairs(spark, sf_dir).count()
    held = caches._MEMO["ivf_index"]
    assert len(held) == 1
    (key,) = held
    value = held[key]
    sim.ann_ivf_topk(spark, sf_dir).count()
    assert list(held) == [key]  # hit, not a second build
    assert held[key] is value


# --- manifest store across a REAL process restart (VERDICT r8 item 6) -------


_PHASE1_SCRIPT = r'''
import sys

base, ckpt, srcdir = sys.argv[1], sys.argv[2], sys.argv[3]
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

spark = (
    SparkSession.builder.master("local[2]")
    .appName("store-restart-phase1")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.driver.memory", "1g")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")
from frinesis_spark.streaming.windows import _BucketedSnapshotStore

store = _BucketedSnapshotStore(
    base, "user_id", [F.col("ts").desc(), F.col("event_id").desc()],
    n_buckets=4,
)
stream = spark.readStream.schema(
    "event_id long, ts long, user_id long, value double"
).parquet(srcdir)
q = (
    stream.writeStream.foreachBatch(store.merge)
    .option("checkpointLocation", ckpt)
    .start()
)
q.processAllAvailable()
q.stop()
spark.stop()
'''


def _file_md5s(root):
    import hashlib
    import os

    out = {}
    for dirpath, _, files in os.walk(root):
        for f in files:
            if f.endswith((".json", ".tmp")) or f.startswith("."):
                continue
            p = os.path.join(dirpath, f)
            out[os.path.relpath(p, root)] = hashlib.md5(
                open(p, "rb").read()
            ).hexdigest()
    return out


def test_bucketed_store_survives_process_restart(spark, tmp_path):
    """The REAL driver-crash contract (r8 verdict item 6 — the r8 test
    restarted the store within one process): phase 1 runs the
    foreachBatch upsert in a SEPARATE python process with its own
    Spark JVM, exits, and the suite's session then resumes the SAME
    stream from the same checkpoint into a fresh store instance over
    the same base dir. Pins: the new session's stream processes only
    the NEW source file (checkpoint resume), buckets untouched by the
    new batch stay byte-identical, and the final snapshot equals
    latest-per-key over both phases' rows."""
    import os
    import subprocess
    import sys

    from pyspark.sql import functions as F

    from frinesis_spark.streaming.windows import _BucketedSnapshotStore

    src = tmp_path / "src"
    base = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")
    schema = "event_id long, ts long, user_id long, value double"

    part1 = [(i, 10 + i, i % 12, float(i)) for i in range(48)]
    spark.createDataFrame(part1, schema).coalesce(1).write.mode(
        "append"
    ).parquet(str(src))

    script = tmp_path / "phase1.py"
    script.write_text(_PHASE1_SCRIPT)
    env = dict(os.environ, PYTHONPATH="/root/repo")
    proc = subprocess.run(
        [sys.executable, str(script), base, ckpt, str(src)],
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert os.path.exists(os.path.join(base, "manifest.json"))
    before = _file_md5s(base)
    assert before  # phase 1 wrote real bucket data

    # New-generation rows for ONE user only → exactly one touched
    # bucket; with 4 buckets at least 3 must stay byte-identical.
    part2 = [(1000, 999, 3, 123.5), (1001, 998, 3, 7.0)]
    spark.createDataFrame(part2, schema).coalesce(1).write.mode(
        "append"
    ).parquet(str(src))

    store2 = _BucketedSnapshotStore(
        base,
        "user_id",
        [F.col("ts").desc(), F.col("event_id").desc()],
        n_buckets=4,
    )
    assert store2.manifest  # resumed from manifest.json, not empty
    manifest_before = dict(store2.manifest)

    stream = spark.readStream.schema(schema).parquet(str(src))
    q = (
        stream.writeStream.foreachBatch(store2.merge)
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    changed = {
        b for b, p in store2.manifest.items() if manifest_before.get(b) != p
    }
    assert changed == {
        b
        for b in store2.manifest
        if any(
            r["user_id"] == 3
            for r in spark.read.parquet(store2.manifest[b]).collect()
        )
        and manifest_before.get(b) != store2.manifest[b]
    }
    assert len(changed) == 1  # one user → one touched bucket
    after = _file_md5s(base)
    untouched_dirs = [
        os.path.relpath(p, base)
        for b, p in manifest_before.items()
        if b not in changed
    ]
    # murmur3 bucket assignment need not populate all 4 buckets from
    # 12 users; ≥2 untouched populated buckets still pin the contract.
    assert len(untouched_dirs) >= 2
    for rel in untouched_dirs:
        files_before = {k: v for k, v in before.items() if k.startswith(rel)}
        files_after = {k: v for k, v in after.items() if k.startswith(rel)}
        assert files_before and files_before == files_after

    # Final snapshot == batch latest-per-key over part1 + part2.
    allrows = part1 + part2
    expect = {}
    for eid, ts, uid, val in allrows:
        cur = expect.get(uid)
        if cur is None or (ts, eid) > (cur[0], cur[1]):
            expect[uid] = (ts, eid, val)
    got = {
        r["user_id"]: (r["ts"], r["event_id"], r["value"])
        for r in store2.snapshot(spark).collect()
    }
    assert got == expect


# --- review wave 1 pins ------------------------------------------------------


def test_simhash_leading_null_then_oversized_doc(spark, monkeypatch):
    """A zero-length (NULL-text) doc LEADING a block previously kept
    tot at 0 and glued the next doc in even when over-budget,
    bypassing the single-doc sub-chunk carve-out (the worker-memory
    bound). With the `end == start` form the empty doc packs alone and
    the oversized doc takes the sub-chunk path — fingerprints equal
    the solo computation either way (votes are associative)."""
    import importlib.util
    import pathlib
    import tempfile

    import frinesis_spark.operators.dedup as dd_mod

    src = open(dd_mod.__file__).read()
    assert "tok_budget = 1 << 18" in src
    edited = src.replace("tok_budget = 1 << 18", "tok_budget = 1 << 4")
    tmp = pathlib.Path(tempfile.mkdtemp()) / "dedup_tiny_r9.py"
    tmp.write_text(edited)
    spec = importlib.util.spec_from_file_location("dedup_tiny_r9", str(tmp))
    tiny = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(tiny)
    monkeypatch.setattr(tiny, "spread", _one_partition)
    monkeypatch.setattr(dd_mod, "spread", _one_partition)

    schema = (
        "doc_id long, text string, lang string, source string, "
        "n_chars long"
    )
    big = " ".join(f"tok{i}" for i in range(40))  # 40 > 16-token budget
    solo = {
        r["doc_id"]: r["simhash"]
        for r in dd_mod._simhash_fingerprints(
            spark.createDataFrame([(2, big, "en", "s", 200)], schema)
        ).collect()
    }
    docs = spark.createDataFrame(
        [(1, None, "en", "s", None), (2, big, "en", "s", 200)], schema
    )
    fps = {
        r["doc_id"]: r["simhash"]
        for r in tiny._simhash_fingerprints(docs).collect()
    }
    assert fps[1] == 0 and fps[2] == solo[2] != 0


def test_ivf_probes_clamp_on_tiny_corpus(spark, monkeypatch):
    """A corpus smaller than the probe count (or the list count) must
    not kill the worker with a pandas length mismatch: n_probe clamps
    to the trained centroid count. Both IVF consumers run end-to-end
    on a 5-vector corpus."""
    import frinesis_spark.operators.similarity as sim
    from frinesis_spark import caches, catalog
    from frinesis_spark.operators import dedup

    # Two near-dup pairs + one loner, 8-dim.
    vecs = [
        (0, [1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]),
        (1, [0.99, 0.1, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]),
        (2, [0.0, 1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]),
        (3, [0.0, 0.98, 0.15, 0.0, 0.0, 0.0, 0.0, 0.0]),
        (4, [0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 1.0]),
    ]
    tiny = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in vecs],
        "vec_id long, embedding array<float>",
    )
    real_table = catalog.table
    for mod in (sim, dedup):
        monkeypatch.setattr(
            mod,
            "table",
            lambda s, d, n: tiny
            if n == "embeddings"
            else real_table(s, d, n),
        )
    try:
        pairs = {
            (r.a_id, r.b_id)
            for r in dedup.embedding_ann_pairs(
                spark, "crafted://tinycorpus"
            ).collect()
        }
        # With every cell probed, the candidate pass is exhaustive →
        # recall 1.0 of the exact pairs on this corpus.
        exact = {
            (r.a_id, r.b_id)
            for r in dedup.q_dedup_embedding_cosine(
                spark, "crafted://tinycorpus"
            ).collect()
        }
        assert pairs == exact and (0, 1) in exact
        topk = sim.ann_ivf_topk(spark, "crafted://tinycorpus")
        assert topk.count() > 0
    finally:
        for memo in caches._MEMO.values():  # the crafted corpus's artifacts
            for key in [k for k in memo if k[1] == "crafted://tinycorpus"]:
                del memo[key]


def _stage_layout(spark, sf_dir, layout):
    from frinesis_spark.streaming import runner, windows

    if layout == "dedup_replay":
        return windows.dedup_replay_stage(spark, sf_dir)
    return runner.events_stage(spark, sf_dir, int(layout[len("files"):]))


@pytest.mark.parametrize("layout", ["files1", "files4", "dedup_replay"])
def test_stage_dir_prunes_old_versions(spark, tmp_path, layout):
    """A regenerated fixture mints a fresh version of every replay
    staging layout; versions beyond the newest two must be reclaimed
    (an unpruned layout leaks a full staged copy under /tmp on every
    regeneration)."""
    import os
    import shutil
    import time

    sf_like = tmp_path / "sf"
    sf_like.mkdir()
    schema = "event_id long, ts timestamp, value double"

    def write_fixture(n):
        import datetime

        df = spark.createDataFrame(
            [
                (i, datetime.datetime(2003, 3, 1) + datetime.timedelta(hours=i), float(n))
                for i in range(n)
            ],
            schema,
        )
        tmp_out = str(tmp_path / f"gen{n}")
        df.coalesce(1).write.mode("overwrite").parquet(tmp_out)
        part = next(
            p for p in os.listdir(tmp_out) if p.endswith(".parquet")
        )
        shutil.copy2(
            os.path.join(tmp_out, part), sf_like / "events.parquet"
        )

    vdirs = []
    for gen in (5, 6, 7, 8):
        write_fixture(gen)
        # mtime_ns must differ between generations for a fresh version
        os.utime(
            sf_like / "events.parquet",
            ns=(time.time_ns(), time.time_ns() + gen),
        )
        vdirs.append(_stage_layout(spark, str(sf_like), layout))
    stage_root = os.path.dirname(vdirs[-1])
    live = [d for d in os.listdir(stage_root) if d.startswith("v_")]
    assert len(set(vdirs)) == 4  # four distinct fingerprints staged
    assert len(live) == 2  # keep-two-generations retention
    assert os.path.basename(vdirs[-1]) in live
    assert os.path.basename(vdirs[-2]) in live


def test_event_log_stats_exact_past_retention():
    """The event log's detail deques are bounded, but stats() totals
    come from running counters and stay exact past the horizon."""
    from frinesis_spark.streaming import observability as obs

    class _Sink:
        numOutputRows = 2

    class _Progress:
        id = "q"
        batchId = 0
        numInputRows = 3
        sink = _Sink()

    class _Event:
        progress = _Progress()

    log = obs.EngineEventLog()
    n = obs._EVENT_RETENTION + 50
    for _ in range(n):
        log.onQueryProgress(_Event())
    assert len(log.progress) == obs._EVENT_RETENTION  # bounded detail
    s = log.stats()
    assert s.n_progress_events == n  # exact totals
    assert s.rows_in == 3 * n and s.rows_written == 2 * n


# --- review wave 6: catalog robustness pins ----------------------------------


def test_events_requires_utc_session(spark, sf_dir):
    """A non-UTC session must fail LOUDLY on the events table — the
    LTZ→NTZ normalization would otherwise silently shift every
    wall-clock by the zone offset vs the DuckDB oracle."""
    import pytest as _pytest

    from frinesis_spark import catalog

    prev = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        with _pytest.raises(RuntimeError, match="timeZone=UTC"):
            catalog.table(spark, sf_dir, "events")
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)
    catalog.table(spark, sf_dir, "events")  # UTC restored: fine


def test_events_ts_unit_cache_invalidates_on_rewrite(spark, tmp_path):
    """Regenerating events.parquet at the SAME path with a different
    ts unit must re-probe, not serve the stale classification (the
    silent 1000×-too-small failure mode)."""
    import shutil
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from frinesis_spark import catalog

    p = str(tmp_path / "events.parquet")
    us = pa.table(
        {"ts": pa.array([1_000_000, 2_000_000], pa.timestamp("us"))}
    )
    pq.write_table(us, p)
    assert catalog.events_ts_unit(p) == "ts"
    ns = pa.table(
        {"ts": pa.array([1_000_000_000, 2_000_000_000], pa.timestamp("ns"))}
    )
    pq.write_table(ns, p)
    import os

    os.utime(p, ns=(time.time_ns(), time.time_ns() + 7))
    assert catalog.events_ts_unit(p) == "ns"  # re-probed, not stale


def test_sql_suite_survives_events_fixture_problem(spark, tmp_path, sf_dir):
    """The TPC-H SQL queries register only the relational views, so a
    broken/missing events fixture cannot error all 22 of them."""
    import os
    import shutil

    from frinesis_spark import catalog
    from frinesis_spark.operators import sqlapi

    # A fixture dir with the 7 relational tables but NO events/
    # documents/embeddings at all.
    for t in catalog.RELATIONAL_TABLES:
        os.symlink(
            os.path.join(sf_dir, f"{t}.parquet"),
            tmp_path / f"{t}.parquet",
        )
    out = sqlapi.QUERIES["sql_tpch_q6"](spark, str(tmp_path)).collect()
    assert len(out) == 1  # ran fine without the non-relational tables


# --- review wave 8: kinesis byte limits + replay bounds ----------------------


def test_sink_byte_aware_batching_and_oversize_drop(tmp_path):
    """PutRecords byte limits: a >1 MiB record is undeliverable and
    drops with the data-loss accounting (the ValidationException it
    would cause fails the WHOLE call — a retry livelock); a batch of
    large-but-legal records splits so no request exceeds 5 MiB."""
    from frinesis_spark.sinks.kinesis import (
        MAX_REQUEST_BYTES,
        BatchProducer,
        KinesisSinkConfig,
    )
    from frinesis_spark.sinks.mock import MockKinesisClient

    client = MockKinesisClient(store_dir=str(tmp_path / "store"))
    sizes = []
    real_put = client.put_records

    def measuring_put(Records, StreamName):
        sizes.append(
            sum(len(r["Data"]) + len(r["PartitionKey"]) for r in Records)
        )
        return real_put(Records, StreamName)

    client.put_records = measuring_put
    prod = BatchProducer(
        client, "t", KinesisSinkConfig(batch_size=500, buffer_size=10_000)
    )
    prod.add(b"x" * 2_000_000, "huge")  # > 1 MiB: undeliverable
    for i in range(12):
        prod.add(b"y" * 900_000, f"k{i}")  # 12 × 0.9 MB ≈ 10.8 MB
    sent, remaining = prod.flush(timeout_s=30.0, send_stats=False)
    assert remaining == 0
    assert sent == 12
    assert prod.stats.records_dropped == 1  # the oversize record
    assert any("oversize" in e for e in prod.stats.events)
    assert sizes and all(s <= MAX_REQUEST_BYTES for s in sizes)
    assert len(sizes) >= 3  # 10.8 MB needs ≥3 requests at 5 MiB each


def test_stream_reader_replay_stops_at_vanished_bound(tmp_path):
    """readBetweenOffsets replay whose stop-sequence record has aged
    out must stop BEFORE the first record beyond the bound instead of
    silently draining to the live tip."""
    from frinesis_spark.sinks.mock import MockKinesisClient
    from frinesis_spark.sources.kinesis import read_shard

    store = str(tmp_path / "store")
    client = MockKinesisClient(store_dir=store)
    for i in range(10):
        client.put_records(
            Records=[{"Data": f"m{i}".encode(), "PartitionKey": f"p{i}"}],
            StreamName="s",
        )
    shard = "shardId-000000000000"
    # Replay [after seq 1 .. seq 5]: normal inclusive stop.
    rows = list(read_shard(client, "s", shard, "1", stop_seq="5"))
    assert [r[2] for r in rows] == ["2", "3", "4", "5"]
    # A bound whose record no longer exists cannot be made in the
    # positional mock, so use a bound BELOW the resume point: every
    # record is beyond it → empty replay.
    assert list(read_shard(client, "s", shard, "5", stop_seq="3")) == []


def test_sink_writer_missing_partition_key_column(spark, tmp_path):
    """A (topic, data)-only frame through KinesisBatchWriter's DEFAULTS
    must fall back to UUID partition keys (A16), not raise per row."""
    from frinesis_spark.sinks.kinesis import KinesisBatchWriter
    from frinesis_spark.sinks.mock import MockKinesisClient, read_back

    store = str(tmp_path / "store")
    df = spark.createDataFrame(
        [("t1", b"a"), ("t1", b"b"), ("t2", b"c")],
        "topic string, data binary",
    )
    writer = KinesisBatchWriter(
        lambda: MockKinesisClient(store_dir=store)
    )
    stats = writer.write_batch(df).collect()
    assert sum(r.n_sent for r in stats) == 3
    recs = read_back(store)
    assert len(recs) == 3
    assert all(r["partition_key"] for r in recs)  # real UUIDs assigned


def test_write_batch_is_eager_and_rerun_safe(spark, tmp_path):
    """write_batch must deliver WITHOUT the caller actioning the
    returned stats frame, and re-using that frame must not re-send."""
    from frinesis_spark.sinks.kinesis import KinesisBatchWriter
    from frinesis_spark.sinks.mock import MockKinesisClient, read_back

    store = str(tmp_path / "store")
    df = spark.createDataFrame(
        [("t1", b"a", "k1"), ("t1", b"b", "k2")],
        "topic string, data binary, partition_key string",
    )
    writer = KinesisBatchWriter(lambda: MockKinesisClient(store_dir=store))
    stats = writer.write_batch(df)  # NO action taken by the caller
    assert len(read_back(store)) == 2  # already delivered
    stats.count()
    stats.collect()
    assert len(read_back(store)) == 2  # re-evaluation sends nothing


def test_approx_quantile_sharp_local_bound(spark, sf_dir):
    """The registered grade asserts rel-err ≤ 0.5%; locally pin the
    SHARPER observed bound (≤ 0.1% at accuracy 10⁴ on every fixture)
    so sketch degradation is caught well before the driver gate."""
    from pyspark.sql import functions as F

    from frinesis_spark.catalog import table
    from frinesis_spark.operators import relational as rel

    li = table(spark, sf_dir, "lineitem")
    out = li.groupBy("l_returnflag").agg(
        F.expr("percentile(l_extendedprice, array(0.5D, 0.95D))").alias("e"),
        F.expr(
            f"approx_percentile(l_extendedprice, array(0.5D, 0.95D), "
            f"{rel._APPROX_PCT_ACCURACY})"
        ).alias("a"),
    ).collect()
    assert out
    for r in out:
        for e, a in zip(r.e, r.a):
            assert abs(a - e) <= 0.001 * abs(e)
    grade = rel.QUERIES["agg_approx_quantile"](spark, sf_dir).collect()
    assert all(r["approx_within_tol"] for r in grade)


def test_incremental_batches_really_multi_batch(spark, sf_dir):
    """The multi-batch replay must genuinely run MULTIPLE micro-batches
    (4 time-ordered staged files, maxFilesPerTrigger=1) — otherwise the
    cross-batch state-merge claim is vacuous — and its result must
    equal the single-batch replay's exactly."""
    import os

    from frinesis_spark.streaming import windows as w_mod
    from frinesis_spark.streaming.observability import EngineEventLog
    from frinesis_spark.streaming.runner import events_stage

    stage = events_stage(spark, sf_dir, 4)
    parts = [f for f in os.listdir(stage) if f.endswith(".parquet")]
    assert len(parts) == 4
    mts = sorted(os.path.getmtime(os.path.join(stage, f)) for f in parts)
    assert len(set(mts)) == 4  # strict mtime order drives batch order

    log = EngineEventLog()
    spark.streams.addListener(log)
    try:
        multi = {
            tuple(r)
            for r in w_mod.QUERIES["stream_incremental_batches"](
                spark, sf_dir
            ).collect()
        }
    finally:
        spark.streams.removeListener(log)
    batch_ids = {p["batchId"] for p in log.progress}
    assert len(batch_ids) >= 4  # one per file (+ no-data batches)
    single = {
        tuple(r)
        for r in w_mod.QUERIES["stream_watermark_late"](
            spark, sf_dir
        ).collect()
    }
    assert multi == single  # cross-batch execution changes nothing
