"""Round-6 punch-list pins (r5 verdict + ADVICE).

- the >_STOP_LIT_CAP pathological stop-set regime at the PRODUCTION
  cap, on a corpus that genuinely exceeds it (verdict #6 — the one
  regime no fixture or prior test reached without shrinking the cap);
- the weak-keyed views cache (ADVICE r5 #1);
- n_keys / k_map oracle NULL parity under non-long JSON values
  (ADVICE r5 #2);
- the derived-cache reset helper bench.py's cold reps depend on
  (verdict #5).
"""

from __future__ import annotations

import gc

import pytest

from frinesis_spark.operators import dedup


def _pathological_corpus(spark):
    """Six docs sharing 4,100 boilerplate words → 4,098 distinct
    3-word shingles each with DF 6 — more stop shingles than
    ``_STOP_LIT_CAP`` (4,096) at max_df 5, with NO cap monkeypatching.
    Each doc keeps a discriminative unique tail so it survives the
    stop filter with a non-empty signature."""
    boiler = " ".join(f"w{i}" for i in range(4_100))
    rows = [
        (i, f"{boiler} unique{i}a unique{i}b unique{i}c unique{i}d")
        for i in range(6)
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_stop_cap_pathological_minhash_matches_literal(spark, monkeypatch):
    """_minhash_signatures' anti-join regime (stop set > _STOP_LIT_CAP,
    dedup.py `else` branch) at the production cap must produce
    signatures identical to the array_except literal regime on the
    same data (the declared three-regime equivalence)."""
    docs = _pathological_corpus(spark)

    anti = {
        (r.doc_id, tuple(r.sig))
        for r in dedup._minhash_signatures(docs, max_df=5).collect()
    }
    # Same stop set, forced through the literal path by raising the cap.
    monkeypatch.setattr(dedup, "_STOP_LIT_CAP", 10_000_000)
    lit = {
        (r.doc_id, tuple(r.sig))
        for r in dedup._minhash_signatures(docs, max_df=5).collect()
    }
    assert anti == lit
    assert len(anti) == 6  # unique tails keep every doc alive


def test_stop_cap_pathological_index_matches_literal(spark, monkeypatch):
    """Same equivalence for _shingle_index's left-anti regime: the
    DF-capped inverted index must be row-identical to the isin literal
    regime, and must have dropped every boilerplate shingle."""
    docs = _pathological_corpus(spark)

    anti = {
        (r.doc_id, r.shingle)
        for r in dedup._shingle_index(docs, max_df=5).collect()
    }
    monkeypatch.setattr(dedup, "_STOP_LIT_CAP", 10_000_000)
    lit = {
        (r.doc_id, r.shingle)
        for r in dedup._shingle_index(docs, max_df=5).collect()
    }
    assert anti == lit
    assert len(anti) > 0
    # Every surviving shingle touches a unique tail token (DF 1 ≤ 5);
    # pure-boilerplate shingles (DF 6 > 5) are all gone.
    assert all("unique" in s for _, s in anti)


def test_views_cache_is_weak_keyed(spark, sf_dir):
    """ADVICE r5 #1: _VIEWS_CACHE must not outlive its session — a
    plain id()-keyed entry could be aliased by a later sibling session
    recycling the id and wrongly skip that sibling's registration."""
    import weakref

    from frinesis_spark import catalog

    sibling = spark.newSession()
    catalog.register_views(sibling, sf_dir)
    assert catalog._VIEWS_CACHE.get(sibling)[0] == sf_dir
    # The main session's entry (if any) is independent of the sibling's.
    catalog.register_views(spark, sf_dir)
    assert catalog._VIEWS_CACHE.get(spark)[0] == sf_dir

    ref = weakref.ref(sibling)
    # PySpark's _monkey_patch_RDD pins the LATEST-created session via
    # the module-level RDD.toDF closure; creating one more session
    # transfers that pin so `sibling` becomes collectible.
    spark.newSession()
    del sibling
    gc.collect()
    if ref() is not None:
        pytest.skip("sibling session kept alive by an unrelated reference")
    # Entry died with the session: a recycled id can never alias it.
    assert all(k is not None for k in catalog._VIEWS_CACHE.keys())


def test_n_keys_counts_keys_with_non_long_values(spark, monkeypatch):
    """ADVICE r5 #2: a props value that is not a long (string, nested
    object) must not null n_keys — DuckDB's JSON_KEYS counts keys
    regardless of value types, and the old map<string,long> parse
    nulled the ENTIRE map on one bad value. k_map stays per-key: the
    non-numeric value nulls that key's extraction only."""
    import frinesis_spark.operators.scalar as scalar_mod
    from frinesis_spark import catalog
    from frinesis_spark.operators.scalar import q_scalar_array_map_json

    docs = spark.createDataFrame(
        [(1, "alpha data beta"), (2, "just words"), (3, "k is data")],
        "doc_id long, text string",
    )
    events = spark.createDataFrame(
        [
            (1, '{"k": 3, "s": "str", "o": {"n": 1}}'),  # mixed value types
            (2, '{"k": "notanumber"}'),  # non-numeric k
            (3, '{"k": 7}'),  # all-long (the fixture shape)
            (4, '{"k": 3.5}'),  # non-integral numeric (r6 review fix)
        ],
        "event_id long, props string",
    )
    docs = docs.unionByName(
        spark.createDataFrame([(4, "pad row")], "doc_id long, text string")
    )
    real_table = catalog.table

    def fake_table(s, d, n):
        if n == "documents":
            return docs
        if n == "events":
            return events
        return real_table(s, d, n)

    monkeypatch.setattr(scalar_mod, "table", fake_table)
    rows = {r.row_id: r for r in q_scalar_array_map_json(spark, "x").collect()}

    assert rows[1].n_keys == 3  # string + object values still count
    assert rows[1].k_map == 3 and rows[1].k_json == 3
    assert rows[2].n_keys == 1
    assert rows[2].k_map is None  # per-key cast nulls, not whole-map
    assert rows[3].n_keys == 1 and rows[3].k_map == 7
    # '3.5' must NULL (not round): the regex gate pins the semantics
    # bare TRY_CAST would break — DuckDB rounds '3.5' to 4.
    assert rows[4].k_map is None and rows[4].k_json is None
    import duckdb

    gated = (
        "TRY_CAST(CASE WHEN REGEXP_MATCHES(v, '^[+-]?[0-9]+$') "
        "THEN v END AS BIGINT)"
    )
    for v, want in [("3.5", None), ("3.0", None), ("4", 4), ("+5", 5),
                    ("-6", -6), ("notanumber", None),
                    ("99999999999999999999999", None)]:
        got = duckdb.sql(
            f"SELECT {gated} FROM (SELECT '{v}' AS v)"
        ).fetchone()[0]
        assert got == want, (v, got)


def test_clear_derived_caches_resets_and_rebuilds(spark, sf_dir):
    """bench.py's cold reps and perfbench's cold half rely on
    clear_derived_caches() emptying EVERY derived artifact the 8
    cache-backed queries build, returning how many entries it dropped,
    and the next query transparently rebuilding to the same result."""
    import bench
    from frinesis_spark import caches, registry
    from frinesis_spark.catalog import session_key
    from frinesis_spark.operators import dedup

    queries = registry.queries()
    for name in bench.CACHE_BACKED:
        queries[name](spark, sf_dir)  # building a frame builds its artifacts
    key = (session_key(spark), sf_dir, "")
    held = {name for name, memo in caches._MEMO.items() if key in memo}
    assert held >= {
        "shingle_index",
        "shingle_sizes",
        "minhash_signatures",
        "simhash_fingerprints",
        "simhash_floor",
        "lsh_index",
        "ivf_index",
        "emb_membership",
    }
    before = dedup.q_dedup_ngram_jaccard(spark, sf_dir).collect()
    n_held = sum(len(memo) for memo in caches._MEMO.values())
    assert caches.clear_derived_caches() == n_held
    assert not any(caches._MEMO.values())
    assert caches.clear_derived_caches() == 0
    after = dedup.q_dedup_ngram_jaccard(spark, sf_dir).collect()
    assert sorted(map(tuple, before)) == sorted(map(tuple, after))


def test_bench_compact_line_fits_driver_capture():
    """BENCH_r05 was lost because the bench stdout line outgrew the
    driver's 2000-char tail capture. The compact line carries a FIXED
    name set: at the worst-case width (every number at its widest) it
    stays within 1800 chars, and any two timing maps produce the same
    ``queries`` keys, so no name drops from or appears in the driver's
    round-over-round comparison."""
    import json

    import bench

    worst = bench._worst_case_line(bench.COMPACT_QUERIES)
    assert len(worst) <= bench.COMPACT_MAX_CHARS
    # the longest prefix: one more name would not fit
    nxt = bench.HEADLINE[: len(bench.COMPACT_QUERIES) + 1]
    assert len(bench._worst_case_line(nxt)) > bench.COMPACT_MAX_CHARS
    assert bench.COMPACT_QUERIES == bench.HEADLINE[: len(nxt) - 1]

    def line(timings):
        return json.loads(bench.compact_line(
            {n: timings[n] for n in bench.COMPACT_QUERIES},
            round(sum(timings.values()), 3), 12.3, 0.1, sink_rps=54321,
        ))

    fast = line({n: 0.01 for n in bench.HEADLINE})
    slow = line({n: 10.0 + i for i, n in enumerate(bench.HEADLINE)})
    assert set(fast["queries"]) == set(slow["queries"])
    assert set(fast["queries"]) == set(bench.COMPACT_QUERIES)
    assert set(fast) == {
        "metric", "value", "unit", "queries", "tpch_total", "sf", "full",
        "sink_rps",
    }
    # value still sums over every headline query, not the compact subset
    assert fast["value"] == round(0.01 * len(bench.HEADLINE), 3)


def _swap_documents(spark, monkeypatch, module, docs):
    """Route a module's catalog.table('documents') to a crafted frame."""
    from frinesis_spark import catalog

    real_table = catalog.table
    monkeypatch.setattr(
        module,
        "table",
        lambda s, d, n: docs if n == "documents" else real_table(s, d, n),
    )


def test_pii_scrub_redacts_and_counts(spark, monkeypatch):
    """Emails/phones/denylist terms are replaced with their tags and
    counted in CHAIN order — each pattern is counted on the text after
    the earlier patterns' replacements, so a term swallowed by an
    earlier redaction (e.g. 'customer' inside an email address) is not
    double-counted; clean text passes untouched."""
    import frinesis_spark.operators.text as text_mod
    from frinesis_spark.operators.text import q_text_pii_scrub

    docs = spark.createDataFrame(
        [
            (1, "contact me at jane.doe@example.com or 555-123-4567 ok"),
            (2, "the customer emailed the customer twice"),
            (3, "nothing sensitive here at all"),
            # overlap: 'customer' sits inside the email — ONE redaction
            (4, "customer@example.com wrote this"),
        ],
        "doc_id long, text string",
    )
    _swap_documents(spark, monkeypatch, text_mod, docs)
    rows = {r.doc_id: r for r in q_text_pii_scrub(spark, "x").collect()}

    assert rows[1].n_redactions == 2
    assert "<EMAIL>" in rows[1].clean_text and "<PHONE>" in rows[1].clean_text
    assert "jane.doe" not in rows[1].clean_text
    assert "555-123-4567" not in rows[1].clean_text
    assert rows[2].n_redactions == 2  # both term occurrences
    assert rows[2].clean_text == "the <TERM> emailed the <TERM> twice"
    assert rows[3].n_redactions == 0
    assert rows[3].clean_text == docs.collect()[2].text
    # r6 review fix: counts follow the chained replacements, so the
    # TERM inside the already-redacted email is not double-counted.
    assert rows[4].n_redactions == 1
    assert rows[4].clean_text == "<EMAIL> wrote this"


def test_decontaminate_flags_eval_overlap(spark, monkeypatch):
    """A corpus doc sharing ≥3 distinct shingles with an eval doc
    (doc_id % 100 == 0) lands on the drop list; eval docs themselves
    and low-overlap docs do not."""
    import frinesis_spark.operators.dedup as dedup_mod
    from frinesis_spark.operators.dedup import q_dedup_decontaminate

    eval_text = "alpha beta gamma delta epsilon zeta"  # 4 shingles
    docs = spark.createDataFrame(
        [
            (100, eval_text),  # the eval doc (100 % 100 == 0)
            (1, f"{eval_text} own tail words"),  # copies all 4 → flagged
            (2, "alpha beta gamma plus other stuff"),  # 1 shared → clean
            (3, "totally unrelated text goes right here"),  # 0 shared
        ],
        "doc_id long, text string",
    )
    _swap_documents(spark, monkeypatch, dedup_mod, docs)
    rows = {r.doc_id: r for r in q_dedup_decontaminate(spark, "x").collect()}

    assert set(rows) == {1}
    assert rows[1].n_contaminated_shingles == 4


def test_repetition_filter_flags_planted_boilerplate(spark, monkeypatch):
    """A token-loop doc and a bigram-loop doc are flagged; natural
    varied text is not. Ratios are exact count divisions."""
    import frinesis_spark.operators.text as text_mod
    from frinesis_spark.operators.text import q_text_repetition_filter

    docs = spark.createDataFrame(
        [
            (1, "spam " * 9 + "spam"),  # 10x one token
            (2, "one two " * 5 + "one two"),  # dominant bigram
            (3, "every word here is distinct and varied enough now"),
            (4, "solo"),  # < 2 words: no bigrams, must still get a verdict
        ],
        "doc_id long, text string",
    )
    _swap_documents(spark, monkeypatch, text_mod, docs)
    rows = {r.doc_id: r for r in q_text_repetition_filter(spark, "x").collect()}

    assert rows[1].repetitive and rows[1].top_word_ratio == 1.0
    assert rows[1].top_bigram_ratio == 1.0  # 9 identical bigrams / 9
    assert rows[2].repetitive
    assert rows[2].top_bigram_ratio > 0.4  # 'one two' dominates
    assert not rows[3].repetitive
    assert rows[3].distinct_ratio == 1.0 and rows[3].top_word_ratio == 1 / 9
    # The single-word doc is present (r6 review fix: the old inner
    # join-back silently dropped it), judged by the word rule alone.
    assert rows[4].top_bigram_ratio is None
    assert rows[4].repetitive  # 1 word / 1 occurrence → ratio 1.0


def test_pack_sequences_invariants(spark, sf_dir):
    """Packing invariants on the real fixture: offsets live in
    [0, CTX), pack_id is the integer cumsum chunk, and within each
    bucket consecutive docs tile the token stream with no gaps."""
    from frinesis_spark.operators.text import (
        _PACK_CTX,
        q_tokenize_pack_sequences,
    )

    rows = q_tokenize_pack_sequences(spark, sf_dir).collect()
    assert len(rows) > 0
    by_bucket: dict[int, list] = {}
    for r in rows:
        assert 0 <= r.pack_offset < _PACK_CTX
        assert r.pack_id >= 0
        by_bucket.setdefault(r.bucket, []).append(r)
    for bucket_rows in by_bucket.values():
        bucket_rows.sort(key=lambda r: r.doc_id)
        cum = 0
        for r in bucket_rows:
            assert r.pack_id == cum // _PACK_CTX  # chunk of cumsum-before
            assert r.pack_offset == cum % _PACK_CTX
            cum += r.n_tokens


def test_pack_sequences_reshard_deterministic(spark, monkeypatch):
    """The packing claim that matters in production: (bucket, pack_id,
    offset) is a pure function of the corpus CONTENT — re-sharding the
    input (different partitioning, different row order) changes
    nothing. md5 bucketing + the doc_id-ordered window guarantee it."""
    import frinesis_spark.operators.text as text_mod
    from frinesis_spark.operators.text import q_tokenize_pack_sequences

    rows = [(i, "tok " * (i % 37 + 1) + "end") for i in range(200)]
    outs = []
    for nparts in (1, 7):
        docs = spark.createDataFrame(
            rows, "doc_id long, text string"
        ).repartition(nparts)
        _swap_documents(spark, monkeypatch, text_mod, docs)
        outs.append(
            sorted(map(tuple, q_tokenize_pack_sequences(spark, "x").collect()))
        )
        monkeypatch.undo()
    assert outs[0] == outs[1]
