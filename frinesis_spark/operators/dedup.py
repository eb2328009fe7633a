"""Deduplication operators for LLM training-data pipelines
(BASELINE.json mandate; SURVEY.md §2B rows ``dedup_*``).

Five dedup strategies, all pure Catalyst expressions (no MLlib, no
Python in the hot path) so they stay inside whole-stage codegen:

- exact         — hash groupBy on normalized text
- near_minhash  — MinHash signatures + banded LSH (the 100 TB path)
- simhash       — 64-bit SimHash + banded blocking + Hamming verify
- ngram_jaccard — exact shingle Jaccard via an inverted-index self-join
- embedding_cosine — near-dup pairs by embedding cosine

Scale notes: minhash/simhash/ngram all shuffle on *bucket* keys
(band hash / shingle), never on document pairs, so candidate
generation is linear-ish in corpus size; the O(candidates) verify
step touches only bucket-colliding pairs. The only O(n²) operator is
``dedup_embedding_cosine``'s exact pairwise scan, kept as the
correctness baseline — ``similarity_ann_lsh`` (similarity.py) is its
scale path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from frinesis_spark.caches import artifact
from frinesis_spark.catalog import spread, table

# MinHash parameters: 128-long signature, 32 bands × 4 rows.
# P(candidate | jaccard j) = 1-(1-j^4)^32 → ~0.99 at j=0.5, ~0.04 at j=0.1.
_K = 128
_BANDS = 32
_ROWS = _K // _BANDS
_SHINGLE = 3  # words per shingle
_INDEX_DOCS_PER_TASK = 50_000  # shingle-index build fan-out bound (r15)
_JACCARD_THRESHOLD = 0.5

# SimHash: 64-bit fingerprint, 4 bands × 16 bits; hamming ≤ 8 = near-dup.
_SIM_BANDS = 4
_HAMMING_MAX = 8

# Stop-shingle document-frequency cap: a shingle appearing in more than
# _MAX_DF documents is boilerplate (license headers, templated prose)
# and is dropped from the inverted index BEFORE the self-join. This is
# the 100 TB hot-bucket bound: without it one ubiquitous shingle
# creates a DF² pair bucket (quadratic in corpus size); with it the
# candidate count is ≤ _MAX_DF × |index entries| — linear. An absolute
# cap (not a corpus fraction) is deliberate: a fraction keeps buckets
# quadratic in n, and a shingle shared by >256 documents carries no
# near-dup signal regardless of corpus size. The fixture's max DF is 7,
# so the cap is semantically inert at test scale (oracle mirrors it
# anyway — the cap is part of the declared operator contract, like
# fuzzy_editdist's blocking).
_MAX_DF = 256

# Largest stop-shingle set inlined as an array literal for the
# map-only filter path in _minhash_signatures; beyond this the
# distinct anti-join takes over.
_STOP_LIT_CAP = 4096

# Aligned chunk width for substring-level dedup: 64 chars ≈ one
# sentence — wide enough that a shared chunk is a real repeated span,
# narrow enough that partial-document boilerplate still registers.
_CHUNK_CHARS = 64


def _shingles(text_col: str = "text") -> F.Column:
    """Distinct 3-word shingles of a text column (codegen'd)."""
    return F.array_distinct(
        F.expr(
            f"transform(sequence(1, greatest(size(split({text_col}, ' ')) - {_SHINGLE - 1}, 1)),"
            f" i -> concat_ws(' ', slice(split({text_col}, ' '), i, {_SHINGLE})))"
        )
    )


def _shingle_index(docs: DataFrame, max_df: int = _MAX_DF) -> DataFrame:
    """DF-capped inverted index ``(doc_id, shingle)``, shared by
    ngram_jaccard and the minhash shingler. Returned pre-materialized
    (eager localCheckpoint) — callers reference it repeatedly and must
    not re-run the shingle pass per reference.

    The raw explode is checkpointed FIRST; the per-shingle DF count
    then runs over the materialized entries (one partial-agg shuffle,
    map-side combine shrinks it to one row per distinct shingle per
    partition), and the stop set applies in the same three regimes as
    ``_minhash_signatures``:

    - empty (this fixture: max DF 7): the index is returned as-is —
      the cap costs one small count job, zero extra shuffles;
    - small (≤ ``_STOP_LIT_CAP``): map-only ``isin`` filter over the
      checkpointed rows — still no extra shuffle;
    - pathological (adversarial boilerplate corpora): distributed
      left-anti join, the always-correct shape.

    The first cut of this cap anti-joined unconditionally — a
    sort-merge of the full index against an (almost always empty) stop
    side, which the r4 bench flagged at 2.06× the r3 time. The regime
    split restores the r3 plan in the common case while keeping the
    hot-bucket bound contractual.
    """
    # Data-proportional fan-out (r15): the explode multiplies rows
    # ~50× with string payloads, so per-task output must stay bounded
    # as the corpus grows — 32 fixed partitions at 5M docs put ~8M
    # string rows in each task's checkpoint block and OOMed a 96 GiB
    # heap (tools/bench_scaling100.py, measured). One metadata-cheap
    # count sizes the build; inert below ~1.6M docs (32 cores × the
    # per-task bound), so every plan ≤ sf10 is unchanged.
    inv = (
        spread(docs, min_parts=docs.count() // _INDEX_DOCS_PER_TASK)
        .select("doc_id", F.explode(_shingles()).alias("shingle"))
        .localCheckpoint(eager=True)
    )
    stop = (
        inv.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") > max_df)
        .select("shingle")
    )
    stop_shingles = [r.shingle for r in stop.limit(_STOP_LIT_CAP + 1).collect()]
    if not stop_shingles:
        return inv
    if len(stop_shingles) <= _STOP_LIT_CAP:
        return inv.where(~F.col("shingle").isin(stop_shingles))
    # Materialized: this regime's result is a JOIN, not a map-only
    # filter over the checkpointed inv — left lazy, every downstream
    # reference of the cached index would re-run the stop-count and
    # anti-join shuffles (ngram jaccard alone reads it three times).
    return inv.join(stop, "shingle", "left_anti").localCheckpoint(eager=True)


def _cached_shingle_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DF-capped shingle index as a derived artifact: a pure
    function of the corpus that feeds ngram Jaccard, its repeat
    invocations AND connected-components, so it is built once per
    (session, corpus) — at 100 TB a persisted table, which store mode
    implements (see :func:`caches.artifact`). ``_shingle_index``
    materializes itself, so no checkpoint here."""
    return artifact(
        spark,
        sf_dir,
        "shingle_index",
        lambda: _shingle_index(table(spark, sf_dir, "documents")),
    )


def _simhash_fingerprints(docs: DataFrame) -> DataFrame:
    """(doc_id, simhash) 64-bit fingerprints, map-only.

    Per-token xxhash64 votes on each of the 64 bits, vectorized in
    numpy via ``mapInPandas`` (token hashing stays JVM-side); see
    :func:`q_dedup_simhash` for the design rationale.
    """
    # NULL text → empty token list up front: split(NULL) is NULL and
    # len(None)/np.concatenate crash the Python worker (review wave 5;
    # the multimodal NULL-payload class). An empty doc fingerprints to
    # 0 — every bit loses its vote — deterministically on any engine.
    hashed = spread(docs).select(
        "doc_id",
        F.transform(
            F.coalesce(F.split("text", " "), F.array().cast("array<string>")),
            lambda t: F.xxhash64(t),
        ).alias("hs"),
    )

    # TOKEN-budgeted blocks, like _minhash_signatures' _SH_BUDGET: the
    # old 4096-DOC blocks bounded the vote matrix by doc count, which
    # is unbounded in document LENGTH (4096 × ~2.5k-token web docs →
    # a ~5 GB transient — review wave 5). The matrix is now ≤
    # budget × 64 ints, and a single document larger than the whole
    # budget is sub-chunked with its bit-votes SUMMED across chunks
    # (votes are additive, so the fingerprint is identical).
    tok_budget = 1 << 18

    def gen(batches):
        import numpy as np
        import pandas as pd

        bit_idx = np.arange(64, dtype=np.uint64)

        def vote_sums(flat_i64):
            """token-hash array → per-bit vote sum, sub-chunked so the
            transient never exceeds budget × 64."""
            total = np.zeros(64, dtype=np.int64)
            for c in range(0, len(flat_i64), tok_budget):
                chunk = flat_i64[c : c + tok_budget]
                bits = (chunk.view(np.uint64)[:, None] >> bit_idx) & np.uint64(1)
                total += (bits.astype(np.int32) * 2 - 1).sum(
                    axis=0, dtype=np.int64
                )
            return total

        for pdf in batches:
            lens_all = pdf["hs"].map(len).to_numpy()
            n = len(pdf)
            start = 0
            while start < n:
                end, tot = start, 0
                # `end == start`, NOT `tot == 0`: a zero-length
                # (NULL-text) doc leading a block kept tot at 0 and
                # glued the NEXT doc in even when over-budget,
                # bypassing the single-doc sub-chunk carve-out below —
                # unbounded transient again (r9 review wave 1).
                while end < n and (
                    end == start or tot + lens_all[end] <= tok_budget
                ):
                    tot += lens_all[end]
                    end += 1
                part = pdf.iloc[start:end]
                lens = lens_all[start:end]
                if len(part) == 1 and lens[0] > tok_budget:
                    flat = np.asarray(part["hs"].iloc[0], dtype=np.int64)
                    sums = vote_sums(flat)[None, :]
                elif lens.sum() == 0:
                    # all-empty block (NULL texts): reduceat over an
                    # empty array raises; all bits lose their votes
                    sums = np.zeros((len(part), 64), dtype=np.int64)
                else:
                    flat = np.concatenate(part["hs"].to_numpy()).astype(
                        np.int64
                    )
                    bits = (
                        flat.view(np.uint64)[:, None] >> bit_idx
                    ) & np.uint64(1)
                    votes = bits.astype(np.int32) * 2 - 1
                    # reduceat only over the NONZERO-length docs: a
                    # zero-length segment returns the next segment's
                    # first element, and a TRAILING zero-length doc
                    # puts cumsum == len(flat) in offsets, which
                    # reduceat rejects as out-of-bounds (IndexError,
                    # killing the worker — lens=[5,0]). Scatter the
                    # per-doc sums back; empty docs vote all-zero.
                    nz = lens > 0
                    lens_nz = lens[nz]
                    offsets = np.concatenate(([0], np.cumsum(lens_nz)[:-1]))
                    sums = np.zeros((len(part), 64), dtype=np.int64)
                    sums[nz] = np.add.reduceat(votes, offsets, axis=0)
                fp = ((sums > 0).astype(np.uint64) << bit_idx).sum(
                    axis=1, dtype=np.uint64
                )
                yield pd.DataFrame(
                    {
                        "doc_id": part["doc_id"].to_numpy(),
                        "simhash": fp.view(np.int64),
                    }
                )
                start = end

    return hashed.mapInPandas(gen, "doc_id long, simhash long")


def _cached_simhash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fingerprint table (8 bytes/doc) in the per-(session, corpus)
    statistics cache: both sides of the band self-join read it, and —
    like the minhash signatures — it is a pure function of an
    immutable corpus dir, so repeat invocations reuse the checkpointed
    table instead of re-running the text→hash→vote pass (at real scale
    a persisted fingerprint column/table)."""
    return artifact(
        spark,
        sf_dir,
        "simhash_fingerprints",
        lambda: _simhash_fingerprints(table(spark, sf_dir, "documents")),
        checkpoint=True,
    )


def _cached_shingle_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc shingle counts ``(doc_id, n_sh)`` over the DF-capped
    index — a corpus statistic like the index itself, so it lives in
    the same per-(session, corpus) cache. Each jaccard query joins it
    TWICE (both pair sides); uncached, every reference re-runs the
    doc_id partial-agg shuffle over the index. One row per document
    (KBs even at 100 TB scale ÷ 10⁹ docs → a broadcastable dim), so
    the eager localCheckpoint is cheap and the downstream joins
    broadcast it instead of shuffling the candidate pairs."""
    return artifact(
        spark,
        sf_dir,
        "shingle_sizes",
        lambda: (
            _cached_shingle_index(spark, sf_dir)
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_sh"))
        ),
        checkpoint=True,
    )


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: one representative (min doc_id) per distinct text.

    Implemented as groupBy(text) rather than ``dropDuplicates`` so the
    surviving row is deterministic. Scale: a single hash-aggregate
    shuffle on the text hash; at 100 TB group on ``md5(text)`` instead
    of the full text to cut shuffle bytes (semantically identical for
    dedup purposes; full-text kept here so the oracle is trivial).
    """
    d = table(spark, sf_dir, "documents")
    return (
        d.groupBy("text")
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .select("doc_id", "n_copies", F.length("text").alias("text_len"))
    )


def _minhash_signatures(docs: DataFrame, max_df: int = _MAX_DF) -> DataFrame:
    """(doc_id, sig array<long>[K]) minhash signatures, map-only.

    Two-stage hash family, fully deterministic:

    1. JVM/codegen: one ``xxhash64`` base hash per distinct shingle
       (cheap, whole-stage-codegen'd, string hashing never reaches
       Python);
    2. Arrow + numpy (``mapInPandas``): K multiply-add permutations
       ``a_i * h + b_i (mod 2^64)`` of the base hash, min-reduced per
       document with ``np.minimum.reduceat`` — multiplication by a
       fixed odd constant is a bijection on Z_2^64, the standard
       multiply-shift minhash permutation family.

    Why not explode + K ``min()`` aggregate columns: that shape works
    but Janino-compiling a 128-wide aggregate dominated cold-start
    (~10 s). Why not ``transform(sequence(0,K-1), ...)`` higher-order
    functions: HOFs are interpreted per element and CollapseProject
    re-inlines the shingle array into the lambda, recomputing it K
    times (measured 60× slower). The numpy stage itself stays
    vectorized and shuffle-free — the per-partition cost model that
    holds at 100 TB.

    Stop-shingle DF cap (the ngram-jaccard hot-bucket bound, reused
    here per its docstring): shingles whose document frequency exceeds
    ``_MAX_DF`` are dropped BEFORE signatures, so a boilerplate shingle
    can neither dominate a signature nor (downstream) a band bucket.
    The cap runs on the 8-byte shingle *hashes*, not strings — the DF
    count is one int-keyed partial-agg shuffle over the checkpointed
    hash arrays (strings never shuffle). CONTRACT NOTE (ADVICE r4):
    the operator contract defines the stop set on shingle *strings*
    (as :func:`_shingle_index` counts it); counting on hashes selects
    the identical set under the assumption that no rare shingle
    xxhash64-collides with a boilerplate one — probability ~2⁻⁶⁴ per
    pair, and a collision's only effect is dropping one extra rare
    shingle from signatures (never a correctness inversion, since this
    query is LSH-approximate by declaration). Accepted deliberately:
    counting on strings would shuffle the full shingle text at 100 TB
    for no measurable recall gain. tests/test_round5_fixes.py pins that
    both cap implementations select the same stop set on a
    collision-free fixture. Three stop-set regimes:

    - empty (this fixture: max DF 7): signatures stay exactly the r3
      map-only pipeline — the cap costs one small count job;
    - small (≤ ``_STOP_LIT_CAP``): map-only ``array_except`` against an
      array literal — still zero shuffles on the corpus;
    - pathological (bigger): explode → anti-join → regroup, the
      always-correct distributed shape (one doc_id shuffle).

    Documents whose every shingle is boilerplate drop out (nothing
    discriminative to dedup on); min over a set is order-insensitive,
    so surviving signatures are identical across the three paths.
    """
    # Checkpointed: the stop-set job and the signature pass both read
    # the hashed-shingle arrays — one shingle/hash pass total, K longs
    # per doc (tiny next to the raw text).
    base = (
        spread(docs)
        .select(
            "doc_id",
            F.transform(_shingles(), lambda s: F.xxhash64(s)).alias("hs"),
        )
        .localCheckpoint(eager=True)
    )
    stop = (
        base.select(F.explode("hs").alias("h"))
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") > max_df)
        .select("h")
    )
    stop_hashes = [r.h for r in stop.limit(_STOP_LIT_CAP + 1).collect()]
    if not stop_hashes:
        pass  # cap inert — base unchanged
    elif len(stop_hashes) <= _STOP_LIT_CAP:
        base = base.select(
            "doc_id", F.array_except("hs", F.lit(stop_hashes)).alias("hs")
        ).where(F.size("hs") > 0)
    else:
        base = (
            base.select("doc_id", F.explode("hs").alias("h"))
            .join(stop, "h", "left_anti")
            .groupBy("doc_id")
            .agg(F.collect_list("h").alias("hs"))
        )

    # Shingle budget per permutation matrix: the transient is
    # budget × _K × 8 B (≤ 256 MB at 2^18) — without it, one Arrow
    # batch of 65536 long docs would allocate a multi-GB
    # (total_shingles × 128) matrix at once and OOM the Python worker
    # (the same bound _simhash_fingerprints enforces with its 4096-doc
    # vote blocks).
    _SH_BUDGET = 1 << 18

    def gen(batches):
        import numpy as np

        rng = np.random.default_rng(0x5EED)
        a = rng.integers(1, 1 << 62, size=_K, dtype=np.int64).astype(
            np.uint64
        ) | np.uint64(1)
        b = rng.integers(0, 1 << 62, size=_K, dtype=np.int64).astype(np.uint64)
        for pdf in batches:
            lens_all = pdf["hs"].map(len).to_numpy()
            n = len(pdf)
            start = 0
            while start < n:
                end, tot = start, 0
                # `end == start` for uniformity with the simhash loop;
                # here every doc has ≥1 shingle (base filters empties),
                # so the two forms are equivalent — but only this one
                # stays safe if that filter ever changes.
                while end < n and (
                    end == start or tot + lens_all[end] <= _SH_BUDGET
                ):
                    tot += lens_all[end]
                    end += 1
                part = pdf.iloc[start:end]
                lens = lens_all[start:end]
                if len(part) == 1 and lens[0] > _SH_BUDGET:
                    # One document larger than the whole budget: the
                    # tot==0 clause admits it alone, but a single
                    # (shingles × K) matrix would still be unbounded
                    # in per-doc shingle count (review wave 5) — min
                    # is associative, so sub-chunk and combine.
                    flat = np.asarray(
                        part["hs"].iloc[0], dtype=np.int64
                    )
                    h_all = flat.view(np.uint64)
                    sig_min = np.full(_K, np.uint64(0xFFFFFFFFFFFFFFFF))
                    for c in range(0, len(h_all), _SH_BUDGET):
                        hc = h_all[c : c + _SH_BUDGET]
                        with np.errstate(over="ignore"):
                            pc = hc[:, None] * a[None, :] + b[None, :]
                        sig_min = np.minimum(sig_min, pc.min(axis=0))
                    sig = sig_min[None, :]
                else:
                    flat = np.concatenate(part["hs"].to_numpy()).astype(
                        np.int64
                    )
                    h = flat.view(np.uint64)
                    offsets = np.concatenate(([0], np.cumsum(lens)[:-1]))
                    with np.errstate(over="ignore"):
                        perms = h[:, None] * a[None, :] + b[None, :]
                    sig = np.minimum.reduceat(perms, offsets, axis=0)
                out = part[["doc_id"]].copy()
                out["sig"] = list(sig.view(np.int64))
                yield out
                start = end

    return base.mapInPandas(gen, "doc_id long, sig array<long>")


def near_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + banded LSH near-duplicate pairs (est. Jaccard ≥ 0.5)
    — the raw pair output; the registered query wraps it in the
    recall grade (see ``q_dedup_near_minhash``).

    Pipeline: shingle → K-long MinHash signature → 32 band hashes →
    self-join on (band_idx, band_hash) → verify candidates by exact
    signature agreement fraction. The band join is the only shuffle
    that grows with corpus size; candidate pairs are bucket-local.

    Deterministic: fixed hash seeds, fixed threshold.
    """
    # The signature table is referenced three more times below (band
    # self-join + both verify sides); unmaterialized, Spark recomputes
    # the full shingle→hash pass per reference. Signatures are tiny
    # relative to the corpus (K longs per doc — ~1 KB/doc vs the raw
    # text), so this is the layer you materialize once. Eager
    # localCheckpoint beats lazy persist here: concurrent downstream
    # stages would all race-compute a cold cache. In a real pipeline
    # checkpoint signatures to a table instead — locally they are a
    # derived artifact like the shingle index (caches.artifact): a
    # pure function of the corpus, shared across repeat invocations.
    sig = artifact(
        spark,
        sf_dir,
        "minhash_signatures",
        lambda: _minhash_signatures(table(spark, sf_dir, "documents")),
        checkpoint=True,
    )

    # Compact band expression: hash(slice(sig)) per band instead of a
    # 32-struct array of 4-way element_at hashes — the giant tree
    # Janino-compiles for seconds per stage and appears on both join
    # sides; this form plans in milliseconds.
    band_hashes = F.expr(
        f"transform(sequence(0, {_BANDS - 1}),"
        f" b -> hash(slice(sig, b * {_ROWS} + 1, {_ROWS}), b))"
    )
    bands = sig.select(
        "doc_id", F.posexplode(band_hashes).alias("band_idx", "band_hash")
    )

    a, b = bands.alias("a"), bands.alias("b")
    candidates = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )

    sa = sig.select(F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a"))
    sb = sig.select(F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b"))
    est = F.size(
        F.filter(
            F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda eq: eq
        )
    ) / F.lit(float(_K))
    return (
        candidates.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", est.alias("est_jaccard"))
        .where(F.col("est_jaccard") >= _JACCARD_THRESHOLD)
    )


def simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash near-duplicate pairs (Hamming ≤ 8) — the raw
    pair output; the registered query wraps it in the recall grade
    (see ``q_dedup_simhash``).

    Per-token xxhash64 votes on each of the 64 bits. Token hashes are
    computed JVM-side (string hashing never reaches Python); the
    64-bit vote/threshold/pack runs vectorized in numpy via
    ``mapInPandas`` — map-only, like the minhash signatures, and it
    avoids a 64-column SUM aggregate whose Janino compile dominated
    cold latency. Blocking: 4 bands of 16 bits — a pair at Hamming ≤ 8
    can miss all bands only if every band differs, so recall is high
    for small distances; verify computes exact ``bit_count(xor)``.
    """
    fingerprint = _cached_simhash_fingerprints(spark, sf_dir)

    band_structs = F.array(
        *[
            F.struct(
                F.lit(k).alias("band_idx"),
                F.shiftrightunsigned(F.col("simhash"), 16 * k)
                .bitwiseAND(F.lit(0xFFFF))
                .alias("band_val"),
            )
            for k in range(_SIM_BANDS)
        ]
    )
    bands = fingerprint.select(
        "doc_id", "simhash", F.explode(band_structs).alias("band")
    ).select("doc_id", "simhash", "band.band_idx", "band.band_val")

    a, b = bands.alias("a"), bands.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).alias("hamming"),
        )
        .distinct()
    )
    return pairs.where(F.col("hamming") <= _HAMMING_MAX)


# Driver-verifiable recall floors for the two hash-family dedup
# queries, as integer PERCENT of the exact-Jaccard pair set recovered
# (integer cross-multiplication below — engine-exact, no float
# compare). Everything is deterministic (fixed minhash seeds,
# xxhash64 token votes), so the observed recalls are constants per
# CORPUS FAMILY (r12: there are now two — the driver's closed-vocab
# fixtures and gen_fixtures' open Heaps-law family the scaling sweep
# runs on):
#   minhash: 1.00 everywhere, on both families, every sf measured.
#   simhash: 0.93/0.92/0.89 at sf0.001/0.01/0.1 (closed vocab), but
#   0.75/0.69/0.72 at the same sfs on the Heaps family — the TEXTBOOK
#   simhash weakness, measured r12: the Heaps corpus's exact-Jaccard
#   pair set is the planted near-dups, which include 10-word docs
#   where the appended dup words shift ~20% of token-frequency weight
#   and few fingerprints keep one clean 16-bit band (banded candidate
#   generation misses them outright, so a bigger _HAMMING_MAX cannot
#   recover them). On the closed-vocab family the J≥0.5 pairs are
#   long docs with near-identical frequency profiles, simhash's best
#   case. r13 (verdict item 6): the floor is FAMILY-CONDITIONAL —
#   the r12 single cross-family floor of 55 would have passed a
#   closed-vocab regression from 0.89 to 0.56, masking a real broken
#   index on the family where the operator is strong. The corpus
#   family is read off the corpus itself (approx distinct token
#   count: the closed fixture has 30 types at every sf, the open
#   Heaps family ≥ 1000 — three decades of separation, so the 500
#   threshold is insensitive to the sketch's ~5% error), and the
#   grading boolean uses the matching floor: 80 closed (observed
#   0.89–0.93), 55 open (observed 0.69–0.75 — the textbook short-doc
#   weakness). The floor's job stays catching a broken index
#   (scrambled hashes, wrong column, empty candidates: recall ~0) —
#   now at the sharpest level each family supports — and minhash
#   remains the registered primary near-dup path.
# Sharp per-sf recall/precision margins stay pinned in
# tests/test_round5_fixes.py; the family split is differential-tested
# in tests/test_round13_fixes.py (a planted closed-family recall drop
# to ~0.62 fails the 80 floor that the old 55 floor waved through).
#
# r14 (verdict item 1): the registered grades now measure recall over
# the size-absolute md5 AUDIT SLICE of the exact pair set (≥1 endpoint
# in the ~_ANN_AUDIT_TARGET-doc sample), not the full set — the same
# estimator the embedding audit adopted in r13. Sampled observations
# (hits/n over the slice), re-measured on every fixture family:
#   minhash: 1.00 at every point — sf0.01 (2/2), sf0.1 (9/9, closed),
#   sf1 (9/9) and sf10 (6/6) on the open Heaps family. Floor 80 holds.
#   simhash: closed 1.00 (sf0.01, 2/2) / 0.889 (sf0.1, 8/9); open
#   0.889 (sf1, 8/9) / 0.667 (sf10, 4/6). Both family floors hold
#   with ≥ a step of margin (80 vs worst-closed 0.889; 55 vs
#   worst-open 0.667 — the sampled slice over-draws well-recalled
#   pairs relative to the full-set 0.69, same effect the embedding
#   audit documented, and the small-n variance is why the open floor
#   stays at the full-set-derived 55 rather than tightening to the
#   sampled observations). sf0.001's slice is vacuous (0 sampled
#   pairs → TRUE by the _pair_recall_check contract); the driver
#   grades at sf0.01 where the slice holds 2 non-vacuous pairs.
_MINHASH_RECALL_FLOOR_PCT = 80
_SIMHASH_RECALL_FLOOR_CLOSED_PCT = 80
_SIMHASH_RECALL_FLOOR_OPEN_PCT = 55
_VOCAB_FAMILY_THRESHOLD = 500


def _simhash_recall_floor_pct(spark: SparkSession, sf_dir: str) -> int:
    """Pick the simhash recall floor for the corpus family at hand.

    Family statistic: approximate distinct token count over the
    corpus (one scan + partial agg — vocab-bounded, negligible next
    to the exact-Jaccard grader this feeds; memoized per (session,
    corpus) since r16 — it cost one extra distributed job per
    invocation). Closed-vocabulary corpora hold ~30 types at any sf;
    open Heaps-law corpora ≥ 1000.
    """

    def probe() -> int:
        d = table(spark, sf_dir, "documents")
        (n_types,) = (
            d.select(F.explode(F.split("text", " ")).alias("tok"))
            .agg(F.approx_count_distinct("tok"))
            .first()
        )
        return (
            _SIMHASH_RECALL_FLOOR_OPEN_PCT
            if (n_types or 0) > _VOCAB_FAMILY_THRESHOLD
            else _SIMHASH_RECALL_FLOOR_CLOSED_PCT
        )

    return artifact(spark, sf_dir, "simhash_floor", probe)


def _pair_recall_check(
    exact: DataFrame, cand: DataFrame, floor_pct: int
) -> DataFrame:
    """One-row frame: (n_exact_pairs, recall_floor_met) — a candidate
    pair set graded in-query against the exact-Jaccard pair set, so
    the driver's DuckDB hash-compare can verify a hash-family operator
    (r8 verdict item 2; the same contract the ANN pair adopted in r8:
    the oracle recomputes n_exact_pairs exactly — the shared
    ``dedup_ngram_jaccard`` CTE chain — and asserts the boolean TRUE).

    ONE reference to the exact side (the ANN review lesson: a second
    reference re-runs the whole exact pipeline): left-join the exact
    pairs to the candidates and aggregate size and hits in one pass.
    The floor compare is integer cross-multiplication, and an empty
    exact set grades 0 ≥ 0 → TRUE (vacuously met, never NULL)."""
    marked = exact.select("doc_a", "doc_b").join(
        cand.select("doc_a", "doc_b").withColumn("_hit", F.lit(1)),
        ["doc_a", "doc_b"],
        "left",
    )
    return marked.agg(
        F.count(F.lit(1)).cast("long").alias("n_exact_pairs"),
        (
            F.count("_hit") * 100 >= F.lit(floor_pct) * F.count(F.lit(1))
        ).alias("recall_floor_met"),
    )


def _shingle_overlap(
    spark: SparkSession,
    sf_dir: str,
    a: DataFrame,
    b: DataFrame,
    on: F.Column | None = None,
    ids: tuple[str, str] = ("doc_a", "doc_b"),
    pair: tuple[F.Column, F.Column] | None = None,
) -> DataFrame:
    """The exact shingle-overlap join every n-gram pair query shares:
    postings ``a`` and ``b`` (``(doc_id, shingle)``, aliased here as
    ``a``/``b``) joined on the shingle plus ``on``, common shingles
    counted per pair, then both sides' shingle-set sizes joined in.
    Returns ``(ids[0], ids[1], n_common, n_a, n_b)``; the pair key is
    ``(a.doc_id, b.doc_id)`` unless ``pair`` gives other expressions.

    Shuffles on the shingle key, so only pairs sharing ≥1 non-stop
    shingle are ever materialized — never the n² cross product, and no
    bucket larger than the DF cap. The size table is one row per
    document, so its two joins broadcast instead of shuffling pairs."""
    id_a, id_b = ids
    cond = F.col("a.shingle") == F.col("b.shingle")
    sizes = _cached_shingle_sizes(spark, sf_dir)
    joined = a.alias("a").join(b.alias("b"), cond if on is None else cond & on)
    if pair is None:
        grouped = joined.groupBy(
            F.col("a.doc_id").alias(id_a), F.col("b.doc_id").alias(id_b)
        )
    else:
        # Computed keys are projected first and grouped by name, the
        # audit's plan shape; grouping on the expressions plans the
        # same work under generated ``_groupingexpression`` columns.
        grouped = joined.select(
            pair[0].alias(id_a), pair[1].alias(id_b)
        ).groupBy(id_a, id_b)
    common = grouped.agg(F.count(F.lit(1)).alias("n_common"))
    na = sizes.select(F.col("doc_id").alias(id_a), F.col("n_sh").alias("n_a"))
    nb = sizes.select(F.col("doc_id").alias(id_b), F.col("n_sh").alias("n_b"))
    return common.join(na, id_a).join(nb, id_b)


def _jaccard() -> F.Column:
    return F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common"))


def audit_exact_jaccard_pairs(
    spark: SparkSession, sf_dir: str, audit_mod: int | None = None
) -> DataFrame:
    """Exact 3-gram-Jaccard pairs restricted to the md5 audit sample:
    every J ≥ 0.5 pair with ≥1 endpoint in the audit doc slice
    (``md5_bucket(doc_id) % mod == 0``, ``mod = _ann_audit_mod(n)`` —
    the same size-absolute arithmetic the embedding audit uses), at
    O(audit_df · df) join work instead of the full Σdf².

    The r13 lesson applied to documents (r13 verdict item 1): the
    audit predicate is pushed INTO the inverted-index join's candidate
    generation, not applied over the full pair materialization — the
    a-side INPUT of the self-join is cut to audit-doc postings before
    the join, so per-shingle work is df_audit × df, linear in corpus
    size for a fixed audit slice. The asymmetric restriction ("≥ 1
    endpoint is audit, each pair once") is decided IN the join filter
    (r16 — this was two disjoint orientation joins until then, which
    streamed the full index twice; one filter covers both):

      * keep (a, b) when a.doc_id < b.doc_id            (audit-smaller,
        and the audit-audit case exactly once), or
      * when b.doc_id < a.doc_id AND b is NOT audit     (audit-larger;
        the audit-audit mirror is excluded so nothing double-counts),

    emitting (least, greatest). Measured r16 (interleaved min-of-5,
    identical output): 0.778 → 0.536 s — one pass over the index
    instead of two, one broadcast build instead of two.

    Output schema and thresholds are identical to
    ``q_dedup_ngram_jaccard``; a differential test pins restricted ≡
    full-filtered. Same columns: (doc_a, doc_b, jaccard, n_common)."""
    from frinesis_spark.operators.text import _md5_bucket

    if audit_mod is None:
        audit_mod = _ann_audit_mod(
            table(spark, sf_dir, "documents").count()
        )
    inv = _cached_shingle_index(spark, sf_dir)
    flagged = inv.withColumn(
        "is_audit", _md5_bucket(F.col("doc_id"), audit_mod) == 0
    )
    aud = flagged.where("is_audit").select("doc_id", "shingle")

    # Broadcast the AUDIT side explicitly (r15): the audit slice is
    # size-absolute (~_ANN_AUDIT_TARGET docs), the b-side is the full
    # corpus-sized index — but Catalyst cannot estimate the md5-bucket
    # filter's selectivity, so both sides carry the parent's stats and
    # it was broadcasting the 32 MiB full-index side. At real scale
    # that build side is corpus-sized and OOMs the build; the audit
    # side is O(audit · shingles/doc) by construction, the one side
    # that is ALWAYS broadcastable.
    pairs = _shingle_overlap(
        spark,
        sf_dir,
        F.broadcast(aud),
        flagged,
        (F.col("a.doc_id") < F.col("b.doc_id"))
        | ((F.col("b.doc_id") < F.col("a.doc_id")) & ~F.col("b.is_audit")),
        pair=(
            F.least("a.doc_id", "b.doc_id"),
            F.greatest("a.doc_id", "b.doc_id"),
        ),
    )
    return pairs.where(_jaccard() >= _JACCARD_THRESHOLD).select(
        "doc_a",
        "doc_b",
        F.round(_jaccard(), 6).alias("jaccard"),
        F.col("n_common").cast("long").alias("n_common"),
    )


def _sampled_pair_recall(
    spark: SparkSession,
    sf_dir: str,
    cand: DataFrame,
    floor_pct: int,
) -> DataFrame:
    """Shared audit-sampled grading shell for the hash-family dedup
    queries (r13 verdict item 1): grade ``cand``'s recall on the
    size-absolute md5 audit slice of the exact-Jaccard pair set
    instead of the full set — ONE metadata count-star feeds both the
    exact side's restricted candidate generation and the candidate
    side's slice filter (the same predicate, so the ratio is a true
    recall over the sampled population)."""
    from frinesis_spark.operators.text import _md5_bucket

    mod = _ann_audit_mod(table(spark, sf_dir, "documents").count())
    exact = audit_exact_jaccard_pairs(spark, sf_dir, audit_mod=mod)
    sliced = cand.where(
        (_md5_bucket(F.col("doc_a"), mod) == 0)
        | (_md5_bucket(F.col("doc_b"), mod) == 0)
    )
    return _pair_recall_check(exact, sliced, floor_pct).select(
        F.col("n_exact_pairs").alias("n_sampled_exact_pairs"),
        "recall_floor_met",
    )


def q_dedup_near_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup detection with an in-query recall grade:
    runs the full ``near_minhash_pairs`` path, joins it to the
    AUDIT-SAMPLED exact 3-gram-Jaccard pair set
    (``audit_exact_jaccard_pairs`` — the size-absolute md5 slice, r13
    verdict item 1; the full-set grade was the last quadratic term in
    any registered query path), and emits whether recovered-pair
    recall clears the floor. An approximate dedup pass is exactly as
    good as its recall of the true near-dup pairs, so the recall IS
    the checkable output — the r8 self-grading contract. The serving
    minhash path is untouched and fully timed; only the grader is
    sampled, exactly the shape a production grading job schedules at
    100 TB (grade ~100 audit docs against the corpus, O(n), instead
    of the Σdf² exact join)."""
    return _sampled_pair_recall(
        spark,
        sf_dir,
        near_minhash_pairs(spark, sf_dir),
        _MINHASH_RECALL_FLOOR_PCT,
    )


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup detection with an in-query recall grade —
    same sampled-audit contract as ``q_dedup_near_minhash`` (r13
    verdict item 1): the Hamming ≤ 8 pair set must recover the
    family-conditional floor share (:func:`_simhash_recall_floor_pct`
    — closed-vocab vs open Heaps-law; r13 verdict item 6) of the
    AUDIT-SLICE exact Jaccard ≥ 0.5 pairs. SimHash's token-frequency
    similarity is a looser notion than set Jaccard, so only recall is
    graded, not precision (the operator's declared contract since
    r4)."""
    return _sampled_pair_recall(
        spark,
        sf_dir,
        simhash_pairs(spark, sf_dir),
        _simhash_recall_floor_pct(spark, sf_dir),
    )


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard near-dup pairs via an inverted-index join.

    explode(shingles) → DF-capped inverted index (:func:`_shingle_index`
    drops shingles with document frequency > 256 — the hot-bucket
    bound) → self-join on the shingle → count common shingles per pair
    → |A∩B| / (|A|+|B|-|A∩B|) over the surviving shingles. Shuffles on
    the shingle key, so only pairs sharing ≥1 non-stop shingle are ever
    materialized — never the n² cross product, and no bucket larger
    than the cap.

    DuckDB-oracle-checkable: shingling AND the DF cap are expressible
    with list functions + an anti-join on both sides (the cap is part
    of the declared contract; on this fixture max DF = 7, so it is
    inert and results equal the uncapped computation).
    """
    # The cached index is already materialized (one shingle pass per
    # session+corpus), so both sides reuse it with no second checkpoint.
    inv = _cached_shingle_index(spark, sf_dir)
    pairs = _shingle_overlap(
        spark, sf_dir, inv, inv, F.col("a.doc_id") < F.col("b.doc_id")
    )
    # Threshold on the UNROUNDED ratio (matching the oracle's WHERE),
    # then round only for display/hash stability — ADVICE r4: filtering
    # on the rounded column could admit a pair within 5e-7 of the
    # threshold that the oracle rejects.
    return pairs.where(_jaccard() >= _JACCARD_THRESHOLD).select(
        "doc_a",
        "doc_b",
        F.round(_jaccard(), 6).alias("jaccard"),
        F.col("n_common").cast("long").alias("n_common"),
    )


# Containment threshold: |A∩B| / min(|A|, |B|) — asymmetric overlap.
# Deliberately BELOW the 0.9 "verbatim inclusion" bar so the fixture's
# planted near-dup pairs (Jaccard ≥ 0.5 → containment ≈ 0.55–0.75 at
# their size ratios) are non-vacuous at every sf; at 0.9 the fixture
# emits zero rows (probed — the r7 Q19 vacuity lesson).
_CONTAINMENT_THRESHOLD = 0.55


def q_dedup_containment_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric shingle-containment pairs: |A∩B| / min(|A|, |B|) ≥
    ``_CONTAINMENT_THRESHOLD`` — the doc-inclusion dedup measure.
    Jaccard under-scores a short document embedded in a long one (the
    quote/boilerplate/wrapper case every web corpus is full of):
    containment normalizes by the SMALLER shingle set, so a fully
    quoted snippet scores 1.0 regardless of the host document's size.

    Plan: identical inverted-index join as ``dedup_ngram_jaccard``
    (same cached index + sizes artifacts — one build serves the whole
    dedup family), with only the final normalization changed. Shuffles
    on the shingle key under the same stop-shingle DF cap; never an
    all-pairs. ``contained_id`` names the smaller (more-contained)
    document — the one a containment-dedup policy would drop.
    """
    inv = _cached_shingle_index(spark, sf_dir)
    pairs = _shingle_overlap(
        spark, sf_dir, inv, inv, F.col("a.doc_id") < F.col("b.doc_id")
    )
    cont = F.col("n_common") / F.least("n_a", "n_b")
    # Threshold on the UNROUNDED ratio, rounded display column, integer
    # tie-free contained_id pick — the ngram_jaccard conventions.
    return pairs.where(cont >= _CONTAINMENT_THRESHOLD).select(
        "doc_a",
        "doc_b",
        F.round(cont, 6).alias("containment"),
        F.when(F.col("n_a") <= F.col("n_b"), F.col("doc_a"))
        .otherwise(F.col("doc_b"))
        .alias("contained_id"),
    )


def q_dedup_incremental_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingest dedup: exact near-dups of a NEW document
    batch against the EXISTING corpus — the query a production
    pipeline runs on every ingest (self-join dedup is the bootstrap;
    this asymmetric probe is the steady state).

    The batch split is deterministic (odd doc_ids = new batch, even =
    corpus) so the oracle reproduces it. The new side probes the
    corpus-wide inverted index — precisely what the per-(session,
    corpus) index cache exists for: at scale the index is a persisted
    artifact and only the new batch's shingles are computed fresh.
    Candidates bucket on the shingle key exactly like the self-join
    case, bounded by the same stop-shingle DF cap; output is
    (new_id, corpus_id) pairs, never new×corpus.
    """
    inv = _cached_shingle_index(spark, sf_dir)
    pairs = _shingle_overlap(
        spark,
        sf_dir,
        inv.where(F.col("doc_id") % 2 == 1),
        inv.where(F.col("doc_id") % 2 == 0),
        ids=("new_id", "corpus_id"),
    )
    # Unrounded threshold before the rounded display column — same
    # oracle-parity rationale as q_dedup_ngram_jaccard (ADVICE r4).
    return pairs.where(_jaccard() >= _JACCARD_THRESHOLD).select(
        "new_id",
        "corpus_id",
        F.round(_jaccard(), 6).alias("jaccard"),
        F.col("n_common").cast("long").alias("n_common"),
    )


def q_dedup_cluster_cc(
    spark: SparkSession, sf_dir: str, checkpoint_dir: str | None = None
) -> DataFrame:
    """Dedup clustering: connected components over the near-dup pair
    graph (exact Jaccard ≥ 0.5 pairs from ``dedup_ngram_jaccard``),
    labeling each document with the min doc_id of its component.

    This is the step a real pipeline runs AFTER pair generation —
    near-dup is not transitive, so keeping "one doc per pair" both
    over- and under-deletes; keeping one representative per connected
    component is the standard policy. Iterative min-label propagation:
    each round every node takes the min label among itself and its
    neighbors; converges in O(graph diameter) rounds. The driver-side
    loop only compares one aggregate per round (sum of labels — a
    strictly decreasing convergence witness, so termination needs no
    row-level diff); all data stays distributed. Each round is
    checkpointed: iterative plans otherwise grow lineage exponentially
    and re-execute prior rounds.

    ``checkpoint_dir``: when given, rounds use reliable
    ``df.checkpoint`` into that location (HDFS/S3 at scale —
    fault-tolerant: a lost executor replays from the checkpoint, not
    from round 0); when None (the driver's single-JVM default), cheaper
    executor-local ``localCheckpoint``.

    Oracle: DuckDB ``WITH RECURSIVE`` reachability (min reachable
    label ≡ min label propagation fixpoint).
    """
    prev_ckpt_dir = None
    if checkpoint_dir is not None:
        # Save/restore: setCheckpointDir is SESSION-GLOBAL state, and
        # the old code left it pointing at this query's (possibly
        # temp) directory for the rest of the session (review wave 5).
        # All checkpoints here run eagerly inside this function, so
        # restoring on exit is safe; if no dir was set before, the
        # setting unavoidably persists (Spark has no unset) — that
        # case is the status quo ante.
        opt = spark.sparkContext._jsc.sc().getCheckpointDir()
        prev_ckpt_dir = opt.get() if opt.isDefined() else None
        spark.sparkContext.setCheckpointDir(checkpoint_dir)

    def ckpt(df: DataFrame) -> DataFrame:
        if checkpoint_dir is not None:
            return df.checkpoint(eager=True)
        return df.localCheckpoint(eager=True)

    pairs = q_dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
    # Hash-partition edges on the join key ONCE before checkpointing:
    # every propagation round joins on (node == u), and labels leave
    # their groupBy hash-partitioned on node, so with edges already
    # partitioned on u the per-round join needs no Exchange on either
    # side — the edge set (the big side at scale) shuffles exactly once
    # for the whole algorithm instead of once per round.
    edges = (
        pairs.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
        .unionByName(
            pairs.select(F.col("doc_b").alias("u"), F.col("doc_a").alias("v"))
        )
        .repartition(F.col("u"))
    )
    edges = ckpt(edges)
    # The convergence witness (sum of labels) rides on each round's
    # checkpoint job as an observed metric (CollectMetricsExec
    # accumulators) — one distributed pass per round instead of
    # checkpoint + a separate aggregate job.
    from pyspark.sql import Observation

    obs0 = Observation()
    labels = ckpt(
        edges.select(F.col("u").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .observe(obs0, F.sum("label").alias("label_sum"))
    )
    prev_sum = obs0.get["label_sum"]
    while True:
        neighbor = labels.join(edges, labels.node == edges.u).select(
            F.col("v").alias("node"), "label"
        )
        obs = Observation()
        labels = ckpt(
            labels.unionByName(neighbor)
            .groupBy("node")
            .agg(F.min("label").alias("label"))
            .observe(obs, F.sum("label").alias("label_sum"))
        )
        cur_sum = obs.get["label_sum"]
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum

    if checkpoint_dir is not None and prev_ckpt_dir is not None:
        spark.sparkContext.setCheckpointDir(prev_ckpt_dir)
    sizes = labels.groupBy("label").agg(F.count(F.lit(1)).alias("cluster_size"))
    return labels.join(sizes, "label").select(
        F.col("node").alias("doc_id"),
        F.col("label").alias("cluster_id"),
        "cluster_size",
    )


# Pairwise blocks for the exact cosine scan. Every unordered block
# pair (bi ≤ bj) becomes one independent task; each row is replicated
# to the _COS_BLOCKS pairs it participates in, so shuffle volume is
# _COS_BLOCKS × corpus and per-task memory is 2·(n/_COS_BLOCKS)
# vectors. At real scale grow _COS_BLOCKS ∝ n / rows-that-fit-in-one-
# task (the task count grows as B², keeping per-task work ~constant);
# the corpus itself is never collected anywhere.
_COS_BLOCKS = 8


def q_dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs: cosine ≥ 0.45, exact pairwise.

    Correctness baseline for vector dedup — exact O(n²) comparisons,
    executed as a *distributed block-pair matrix product*: rows are
    hashed into ``_COS_BLOCKS`` blocks, each of the B·(B+1)/2 block
    pairs is one ``applyInPandas`` group, and inside a group the two
    blocks' sub-matrices are multiplied with BLAS. No driver-side
    materialization and no broadcast of the corpus — the only shuffle
    is the B-fold row replication onto block-pair keys, and per-task
    memory is bounded by two blocks regardless of corpus size (B is
    the scale knob; see ``_COS_BLOCKS``). Each unordered vector pair
    lands in exactly one group, so the result is exact and
    duplicate-free. O(n²) compute is inherent to the exact scan —
    ``q_dedup_embedding_ann`` (below) is the registered, driver-graded
    100 TB handoff (IVF-probe candidates + exact re-rank), with
    ``similarity_ann_ivf`` / ``similarity_ann_lsh`` (similarity.py)
    as the top-k siblings.

    Oracle parity: dot/norms accumulate in float64; 6-dp rounding
    absorbs the summation-order difference vs DuckDB.
    """
    e = table(spark, sf_dir, "embeddings")
    B = _COS_BLOCKS
    blocked = e.select(
        "vec_id",
        "embedding",
        F.pmod(F.xxhash64("vec_id"), F.lit(B)).cast("int").alias("blk"),
    )
    # Each row joins every block pair {min(blk,o), max(blk,o)}; the
    # diagonal pair (blk, blk) appears once after array_distinct.
    pair_list = F.array_distinct(
        F.expr(
            f"transform(sequence(0, {B - 1}),"
            " o -> struct(least(blk, o) AS bi, greatest(blk, o) AS bj))"
        )
    )
    expanded = blocked.select(
        "vec_id", "embedding", "blk", F.explode(pair_list).alias("p")
    ).select("vec_id", "embedding", "blk", "p.bi", "p.bj")

    # Sub-block the matmul so the cos matrix stays ~chunk × |block|
    # doubles even when a block holds millions of rows.
    chunk = 2048

    def block_pairs(key, pdf):
        import numpy as np
        import pandas as pd

        bi, bj = key
        ids = pdf["vec_id"].to_numpy(np.int64)
        m = np.vstack(pdf["embedding"].to_numpy()).astype(np.float64)
        m /= np.linalg.norm(m, axis=1, keepdims=True)
        if bi == bj:
            a_idx = b_idx = np.arange(len(ids))
        else:
            blk = pdf["blk"].to_numpy()
            a_idx = np.nonzero(blk == bi)[0]
            b_idx = np.nonzero(blk == bj)[0]
        a_ids, b_ids = ids[a_idx], ids[b_idx]
        am, bm = m[a_idx], m[b_idx]
        out = []
        for s in range(0, len(a_ids), chunk):
            cos = am[s : s + chunk] @ bm.T
            hot = cos >= 0.45
            # One matmul serves both pair orientations: emit with the
            # smaller vec_id first, whichever side it came from.
            lt = a_ids[s : s + chunk, None] < b_ids[None, :]
            ai, bix = np.nonzero(hot & lt)
            out.append(
                pd.DataFrame(
                    {
                        "a_id": a_ids[s + ai],
                        "b_id": b_ids[bix],
                        "cos_sim": np.round(cos[ai, bix], 6),
                    }
                )
            )
            if bi != bj:
                ai, bix = np.nonzero(hot & ~lt)
                out.append(
                    pd.DataFrame(
                        {
                            "a_id": b_ids[bix],
                            "b_id": a_ids[s + ai],
                            "cos_sim": np.round(cos[ai, bix], 6),
                        }
                    )
                )
        if not out:
            return pd.DataFrame(
                {
                    "a_id": pd.Series(dtype="int64"),
                    "b_id": pd.Series(dtype="int64"),
                    "cos_sim": pd.Series(dtype="float64"),
                }
            )
        return pd.concat(out, ignore_index=True)

    return expanded.groupBy("bi", "bj").applyInPandas(
        block_pairs, "a_id long, b_id long, cos_sim double"
    )


# Embedding-dup cosine threshold — the twin of the 0.45 literals in
# q_dedup_embedding_cosine's numpy kernel and its oracle SQL (change
# all three or the ANN grade drifts from the baseline it grades
# against).
_COS_DUP_THRESHOLD = 0.45

# Pair-pass candidate geometry (r15, verdict item 1): OR-AMPLIFIED
# MULTI-ASSIGNMENT.  Each corpus vector is assigned to its c nearest
# cells in each of L independently-seeded IVF partitions (salted
# k-means — similarity._ivf_centroids seed_salt); a pair is a
# candidate iff the two assignment sets share a (partition, cell).
# The candidate join is memb ⋈ memb on that composite key, so raw
# join volume is L·Σ_cells |memb_cell|² ≈ L·c²·n²/lists.
#
# Why this shape and not a single wider partition: the r15 sweep
# (tools/measure_emb_pair_sweep.py + the numpy prototype it mirrors)
# measured single-partition recall to be a SCHEME-INDEPENDENT concave
# function of the covered pair fraction v = c²/lists —
#   f(v) ≈ 1.609·v^0.459   (fit on sf1/sf10; sf0.1 predicted 0.854
#                           vs measured 0.84)
# — the r14 probe-hold at matched volume measured the same recall
# (0.801 vs 0.804 at sf1 @ ~0.25·n²), i.e. at this fixture's HARD
# geometry (dup threshold 0.45 barely above background p90 0.16) a
# single partition of ANY granularity needs a CONSTANT fraction of
# all pairs to hold a recall floor — the r14 dead end.  But f's
# concavity (β≈0.46 < 1) is exactly the LSH amplification condition:
# L independent partitions at small per-partition coverage v recall
# 1-(1-f(v))^L — measured near-perfectly independent across salted
# Lloyd optima (sf1 c=4: L=2 union 0.831 vs 0.834 predicted; sf10
# L=4: 0.814 vs 0.820) — so total coverage L·v SHRINKS in n while
# the floor holds:
#   sf0.1:  L=1, 0.25·n², recall 0.84
#   sf1:    L=2, 0.23·n², recall 0.829   (floor 70 ✓)
#   sf10:   L=4, 0.14·n², audit recall 0.849   (floors 70/60 ✓)
#   sf100:  L=7, 0.079·n², audit recall 0.819 over 17,441 audit
#           pairs (2M vectors — predicted 0.079 / 0.80: the rule
#           lands ON the model in the regime where L carries the
#           floor almost entirely)
# measured raw-volume exponents 1.80 (sf1→10) and 1.74 (sf10→100),
# converging on the predicted asymptote volume ∝ n^(2−0.5+0.5β) ≈
# n^1.73 (L ∝ n^0.23, v ∝ n^-0.5). The serving top-k path is
# untouched — dedup pays the L× premium because a missed dup stays
# in the training set.
_EMB_ANN_ASSIGN = 4  # c: cells per vector per partition
_EMB_ANN_SIZING_RECALL = 0.8  # L sizes to this; floors sit below it
_EMB_ANN_F_A, _EMB_ANN_F_BETA = 1.609, 0.459  # calibrated f(v) fit
_EMB_ANN_MAX_PARTITIONS = 16  # guard: L grows ~n^0.23, 16 ≈ sf10⁶

# Sweep hooks (tools/measure_emb_pair_sweep.py pins these per run);
# production callers never set them.
_EMB_ANN_ASSIGN_OVERRIDE: int | None = None
_EMB_ANN_PARTITIONS_OVERRIDE: int | None = None


def _emb_ann_assign() -> int:
    """Cells each corpus vector is assigned to per partition — the
    measured c=4 point unless a sweep overrides it."""
    if _EMB_ANN_ASSIGN_OVERRIDE is not None:
        return _EMB_ANN_ASSIGN_OVERRIDE
    return _EMB_ANN_ASSIGN


def _emb_ann_partitions(n_lists: int, c: int) -> int:
    """Number of independently-seeded partitions L for an index with
    ``n_lists`` cells and per-partition assignment width ``c``: the
    smallest L whose predicted union recall 1-(1-f(v))^L reaches the
    sizing target, under the calibrated single-partition model
    f(v) = min(0.95, 1.609·v^0.459), v = c²/lists. Pure function of
    the geometry, so the built index is reproducible from the corpus
    alone. Gives L=1 at the ≤sf0.1 fixture floor (64 lists), 2 at
    sf1 (141), 4 at sf10 (447), 7 at sf100 (1414)."""
    import math

    if _EMB_ANN_PARTITIONS_OVERRIDE is not None:
        return _EMB_ANN_PARTITIONS_OVERRIDE
    v = min(1.0, c * c / n_lists)
    f = min(0.95, _EMB_ANN_F_A * v**_EMB_ANN_F_BETA)
    L = math.ceil(
        math.log(1 - _EMB_ANN_SIZING_RECALL) / math.log(1 - f)
    )
    return max(1, min(_EMB_ANN_MAX_PARTITIONS, L))


def _emb_ann_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, part, cell) OR-amplified multi-assignment: every
    corpus vector in its ``_emb_ann_assign()`` nearest cells of each
    of ``_emb_ann_partitions()`` salted IVF partitions (checkpointed
    + memoized). Partition 0 reuses the cached serving index's
    centroids — one training shared with the top-k path; salts ≥ 1
    train fresh Lloyd optima (3 bounded rounds each, map-only)."""
    from frinesis_spark.operators import similarity as sim

    def build():
        cells, cents = sim.ivf_index(spark, sf_dir)
        corpus = cells.select(
            F.col("neighbor_id").alias("query_id"), F.col("ce").alias("qe")
        )
        c = _emb_ann_assign()
        n_parts = _emb_ann_partitions(int(cents.shape[0]), c)
        parts = []
        for salt in range(n_parts):
            cents_l = (
                cents
                if salt == 0
                else sim._ivf_centroids(
                    corpus.select(
                        F.col("query_id").alias("vec_id"), F.col("qe").alias("ce")
                    ),
                    "ce",
                    int(cents.shape[0]),
                    seed_salt=salt,
                )
            )
            parts.append(
                sim._ivf_probes(
                    corpus, cents_l, n_probe=c, with_embedding=False
                ).select(
                    F.col("query_id").alias("vec_id"),
                    F.lit(salt).alias("part"),
                    "cell",
                )
            )
        memb = parts[0]
        for p in parts[1:]:
            memb = memb.unionByName(p)
        return memb

    return artifact(
        spark, sf_dir, "emb_membership", build, table="embeddings",
        checkpoint=True,
    )


# Recall floor, percent of the exact pair set recovered.
# Deterministic per fixture (fixed k-means seeds): observed at c=4
# multi-assignment — see the sweep table above — the floor sits a
# full step below the worst observed (same slack policy as
# _MINHASH_RECALL_FLOOR_PCT).
_EMB_ANN_RECALL_FLOOR_PCT = 70


def embedding_ann_pairs(
    spark: SparkSession, sf_dir: str, audit_mod: int | None = None
) -> DataFrame:
    """Embedding near-dup candidate pairs via the IVF index + exact
    cosine re-rank — the raw pair output; the registered query wraps
    it in the recall grade (see ``q_dedup_embedding_ann``).

    Candidate generation (r15, OR-amplified multi-assignment —
    verdict item 1): every corpus vector is assigned to its
    ``_emb_ann_assign()`` nearest cells in each of
    ``_emb_ann_partitions()`` salted IVF partitions (partition 0 IS
    the cached serving index — one training shared with the top-k
    path); a pair is a candidate iff the two assignment sets share a
    (partition, cell). The join is memb ⋈ memb on that composite key,
    so raw join volume is L·c²·n²/lists ≈ n^1.73 under the L rule —
    sub-quadratic, replacing the r14 coverage hold whose volume was
    n²/8 at every geometry (see the geometry comment above
    ``_EMB_ANN_ASSIGN``) — and never an all-pairs shuffle.
    Verification joins the two embedding columns back by id
    (candidates are int pairs until then) and keeps exact cosine ≥
    the shared 0.45 threshold.

    ``audit_mod`` (r13, the sf10 flag fix): when set, restrict
    candidate generation to pairs with ≥1 endpoint in the md5 audit
    set BEFORE the cell join. Multi-assignment makes the rule
    symmetric, so ONE restricted orientation covers it: cutting the
    a-side input of the self-join to audit members emits every pair
    whose lexicographically-either endpoint is audit (the b-side
    stays full), at O(audit_assignments × cell) work instead of the
    full c²·n²/lists serving volume. The output is EXACTLY the full
    candidate set filtered by the audit predicate
    (differential-pinned in tests/test_round13_fixes.py). This is
    what a scheduled production audit does — probe the serving index
    for the audit vectors only — and it is what makes the grading
    query O(n) end-to-end (the r13 sf10 measurement flagged exp 2.25
    when the filter sat ABOVE the full pair materialization).
    """
    from frinesis_spark.functions.vectors import (
        cosine_from_norms,
        dot,
        l2_norm,
    )
    from frinesis_spark.operators.text import _md5_bucket

    memb = _emb_ann_membership(spark, sf_dir)
    a_side = memb.select(F.col("vec_id").alias("p_id"), "part", "cell")
    member_side = memb.select(F.col("vec_id").alias("m_id"), "part", "cell")
    if audit_mod is not None:
        a_side = a_side.where(_md5_bucket(F.col("p_id"), audit_mod) == 0)
    raw = a_side.join(member_side, ["part", "cell"])
    cand = (
        raw.where(F.col("p_id") != F.col("m_id"))
        # least/greatest canonicalization: a pair can surface in both
        # probe orientations and in several shared cells — one row out.
        .select(
            F.least("p_id", "m_id").alias("a_id"),
            F.greatest("p_id", "m_id").alias("b_id"),
        )
        .distinct()
    )
    e = table(spark, sf_dir, "embeddings")
    ea = e.select(
        F.col("vec_id").alias("a_id"),
        F.col("embedding").alias("ea"),
        l2_norm(F.col("embedding")).alias("na"),
    )
    eb = e.select(
        F.col("vec_id").alias("b_id"),
        F.col("embedding").alias("eb"),
        l2_norm(F.col("embedding")).alias("nb"),
    )
    cos = cosine_from_norms(
        dot(F.col("ea"), F.col("eb")), F.col("na"), F.col("nb")
    )
    return (
        cand.join(ea, "a_id")
        .join(eb, "b_id")
        .where(cos >= _COS_DUP_THRESHOLD)
        .select("a_id", "b_id", F.round(cos, 6).alias("cos_sim"))
    )


def q_dedup_embedding_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN-backed embedding dedup with an in-query recall grade — the
    executable 100 TB handoff from ``q_dedup_embedding_cosine`` (r8
    verdict item 3): the IVF candidate pass + exact re-rank runs in
    full and is graded against the exact O(n²) baseline's pair set;
    the output is (n_exact_pairs, recall_floor_met), with the oracle
    recomputing the exact pair count (the naive theta-join SQL) and
    asserting the boolean TRUE. The exact baseline stays registered
    as the correctness primitive; THIS query is the plan you run at
    scale, where the grader term becomes a sampled audit."""
    exact = q_dedup_embedding_cosine(spark, sf_dir).select(
        F.col("a_id").alias("doc_a"), F.col("b_id").alias("doc_b")
    )
    cand = embedding_ann_pairs(spark, sf_dir).select(
        F.col("a_id").alias("doc_a"), F.col("b_id").alias("doc_b")
    )
    return _pair_recall_check(exact, cand, _EMB_ANN_RECALL_FLOOR_PCT)


# Sampled-audit grading (r12, verdict item 4): the production form of
# the ANN recall grade. The full-exact grader (q_dedup_embedding_ann)
# costs O(n²); the audit restricts the exact side to pairs with at
# least one endpoint in a deterministic md5-sampled audit set, so the
# grader's block-pair matmul cuts its a-side to the audit rows.
# md5-bucket, not sample(): the audit set is a pure function of
# vec_id, identical across engines/runs/re-shards (the
# sample_stratified_hash rationale).
#
# r13 (verdict item 5): the audit slice is SIZE-ABSOLUTE, not a fixed
# fraction. mod scales with the corpus (mod = n // _ANN_AUDIT_TARGET,
# floored at _ANN_AUDIT_MOD_FLOOR) so the audit set holds ~
# _ANN_AUDIT_TARGET vectors regardless of n — the exact grader is
# O(n · target) = O(n), the shape you can literally schedule at
# 100 TB, instead of n²/10 (quadratic with a constant shaved off).
# The floor keeps small corpora at the old 1/10 fraction, so the
# driver's sf0.01 fixture (n=500 → mod 10) is byte-identical to the
# r12 evidence. The oracle twin computes the SAME mod from COUNT(*)
# in SQL, so it follows the corpus automatically.
_ANN_AUDIT_TARGET = 100
_ANN_AUDIT_MOD_FLOOR = 10


def _ann_audit_mod(n_vectors: int) -> int:
    """Audit-slice modulus for a corpus of ``n_vectors``: the smallest
    mod that caps the audit set near ``_ANN_AUDIT_TARGET`` vectors."""
    return max(_ANN_AUDIT_MOD_FLOOR, n_vectors // _ANN_AUDIT_TARGET)


def audit_exact_cosine_pairs(
    spark: SparkSession, sf_dir: str, audit_mod: int | None = None
) -> DataFrame:
    """Exact cosine pairs restricted to the md5 audit sample: every
    pair with ≥1 endpoint in the audit set (``md5_bucket(vec_id) %
    _ann_audit_mod(n) == 0`` — a fixed-size ~``_ANN_AUDIT_TARGET``
    vector slice), at O(n · target) FLOPs.

    Same distributed shape as ``q_dedup_embedding_cosine`` (block-pair
    ``applyInPandas``, BLAS inside, no driver materialization, no
    corpus broadcast) with the a-side of each block-pair matmul cut to
    the audit rows — per-task work is n_block · target/n, and at
    100 TB the audit runs as a LINEAR scheduled job against the
    serving ANN index. Both-audit pairs surface from both orientations;
    a ``groupBy`` on the pair KEY with ``max(cos_sim)`` collapses them
    deterministically (r14, ADVICE: ``dropDuplicates`` kept an
    arbitrary survivor — the ids alone are the pair identity, and the
    retained cosine must not depend on task scheduling)."""
    from frinesis_spark.operators.text import _md5_bucket

    e = table(spark, sf_dir, "embeddings")
    # count-star over parquet footers — metadata-cheap, and the mod
    # must be a pure function of corpus size so the oracle can
    # recompute it from COUNT(*).  Callers that already counted the
    # corpus (q_dedup_embedding_ann_audit shares one count with its
    # candidate side — r13 ADVICE) pass the modulus in.
    mod = _ann_audit_mod(e.count()) if audit_mod is None else audit_mod
    B = _COS_BLOCKS
    blocked = e.select(
        "vec_id",
        "embedding",
        F.pmod(F.xxhash64("vec_id"), F.lit(B)).cast("int").alias("blk"),
        (_md5_bucket(F.col("vec_id"), mod) == 0).alias(
            "is_audit"
        ),
    )
    pair_list = F.array_distinct(
        F.expr(
            f"transform(sequence(0, {B - 1}),"
            " o -> struct(least(blk, o) AS bi, greatest(blk, o) AS bj))"
        )
    )
    expanded = blocked.select(
        "vec_id", "embedding", "blk", "is_audit", F.explode(pair_list).alias("p")
    ).select("vec_id", "embedding", "blk", "is_audit", "p.bi", "p.bj")

    chunk = 2048

    def audit_block_pairs(key, pdf):
        import numpy as np
        import pandas as pd

        bi, bj = key
        ids = pdf["vec_id"].to_numpy(np.int64)
        audit = pdf["is_audit"].to_numpy(bool)
        blk = pdf["blk"].to_numpy()
        m = np.vstack(pdf["embedding"].to_numpy()).astype(np.float64)
        m /= np.linalg.norm(m, axis=1, keepdims=True)
        out = []
        # a-side = audit rows of block sa, b-side = ALL rows of block
        # sb; off-diagonal block pairs need both orientations so a
        # (non-audit in bi, audit in bj) pair is still covered.
        sides = [(bi, bj)] if bi == bj else [(bi, bj), (bj, bi)]
        for sa, sb in sides:
            a_idx = np.nonzero((blk == sa) & audit)[0]
            b_idx = np.nonzero(blk == sb)[0]
            if not len(a_idx) or not len(b_idx):
                continue
            a_ids, b_ids = ids[a_idx], ids[b_idx]
            am, bm = m[a_idx], m[b_idx]
            for s in range(0, len(a_ids), chunk):
                cos = am[s : s + chunk] @ bm.T
                hot = cos >= _COS_DUP_THRESHOLD
                lt = a_ids[s : s + chunk, None] < b_ids[None, :]
                gt = a_ids[s : s + chunk, None] > b_ids[None, :]
                ai, bix = np.nonzero(hot & lt)
                out.append(
                    pd.DataFrame(
                        {
                            "a_id": a_ids[s + ai],
                            "b_id": b_ids[bix],
                            "cos_sim": np.round(cos[ai, bix], 6),
                        }
                    )
                )
                # strict gt, not ~lt: the diagonal a-side is a subset
                # of the b-side, so equality (self-pair) must not emit
                ai, bix = np.nonzero(hot & gt)
                out.append(
                    pd.DataFrame(
                        {
                            "a_id": b_ids[bix],
                            "b_id": a_ids[s + ai],
                            "cos_sim": np.round(cos[ai, bix], 6),
                        }
                    )
                )
        if not out:
            return pd.DataFrame(
                {
                    "a_id": pd.Series(dtype="int64"),
                    "b_id": pd.Series(dtype="int64"),
                    "cos_sim": pd.Series(dtype="float64"),
                }
            )
        return pd.concat(out, ignore_index=True)

    # A both-audit pair surfaces from both matmul orientations; the ids
    # are the pair identity, so collapse with a DETERMINISTIC aggregate
    # on the cosine (r13 ADVICE: dropDuplicates kept an arbitrary
    # survivor, nondeterministic if the two differently-shaped matmuls
    # ever round apart at the last ulp).
    return (
        expanded.groupBy("bi", "bj")
        .applyInPandas(audit_block_pairs, "a_id long, b_id long, cos_sim double")
        .groupBy("a_id", "b_id")
        .agg(F.max("cos_sim").alias("cos_sim"))
    )


def q_dedup_embedding_ann_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION grading shape for ANN dedup, registered and
    oracle-checked (r11 verdict item 4): grade the IVF+re-rank pair
    set's recall on the deterministic md5-sampled audit slice of the
    exact pair population, instead of against the full O(n²) pair set.

    Exact side: ``audit_exact_cosine_pairs`` (O(n), size-absolute
    slice — r13 verdict item 5). Candidate
    side: the same ``embedding_ann_pairs`` output the full grade uses,
    filtered to audit-touching pairs (an int-column filter — the ANN
    pass itself is untouched; grading never changes the serving path).
    Output: (n_sampled_exact_pairs, recall_floor_met); the oracle
    recomputes the sampled exact pair count with the same md5 bucket
    predicate and asserts the boolean. This is the query you actually
    schedule at 100 TB — the full-exact grade (q_dedup_embedding_ann)
    stays registered as the correctness-time baseline."""
    # ONE metadata count-star shared by both sides (r13 ADVICE: the
    # exact helper and the candidate side each ran their own).
    mod = _ann_audit_mod(table(spark, sf_dir, "embeddings").count())
    exact = audit_exact_cosine_pairs(spark, sf_dir, audit_mod=mod).select(
        F.col("a_id").alias("doc_a"), F.col("b_id").alias("doc_b")
    )
    # audit_mod pushes the audit predicate INTO candidate generation
    # (audit probes × all members ∪ all probes × audit members) — the
    # r13 sf10 flag fix: filtering the FULL serving pair set after the
    # fact paid the whole probe/lists × n² volume for a ~100-vector
    # audit. Output is provably the full set filtered by the audit
    # predicate (differential test), so the grade is unchanged.
    cand = embedding_ann_pairs(spark, sf_dir, audit_mod=mod).select(
        F.col("a_id").alias("doc_a"), F.col("b_id").alias("doc_b")
    )
    return _pair_recall_check(
        exact, cand, _EMB_ANN_AUDIT_RECALL_FLOOR_PCT
    ).select(
        F.col("n_exact_pairs").alias("n_sampled_exact_pairs"),
        "recall_floor_met",
    )


# Audit-slice recall floor: the size-absolute sampled estimator sees
# ~2·target/n of the exact pairs (observed with the r13 size-absolute
# mod: 1/1 hit at sf0.01 [mod 10], recall 1.00; 16/17 at sf0.1
# [mod 20], recall 0.94 vs the full grade's 0.81 — the sampled slice
# happens to over-draw well-recalled pairs there), so per-fixture
# variance is wider than the full grade's — the floor sits a full
# step below the worst non-vacuous observation, same slack policy as
# _EMB_ANN_RECALL_FLOOR_PCT.
_EMB_ANN_AUDIT_RECALL_FLOOR_PCT = 60


_EDIT_MAX = 25  # max edit distance for a fuzzy-dup pair
_PREFIX = 8  # blocking prefix length
_LEN_BUCKET = 10  # blocking length-bucket width
# Hot-block bound (r9 verdict item 3): a web corpus where millions of
# docs share one boilerplate prefix ("<!DOCTYPE html…") makes a single
# (pfx, lb) block quadratic.  Blocks over _BLOCK_CAP rows are REFINED
# by the next _SALT_CHARS characters; refined blocks still over the cap
# are DROPPED from pairing (the stop-shingle drop-with-bound
# convention, _df_capped_shingles above) — per-block pair work is
# therefore ≤ _BLOCK_CAP², independent of corpus skew.  512² ≈ 260k
# bounded-DP comparisons per block ≈ the cost of one normal partition
# of candidate pairs.  Fixture blocks max out at 7 rows (sf0.1), so the
# cap is inert on the driver fixtures; the differential test plants a
# 10k-doc shared-prefix corpus to exercise both regimes.
_BLOCK_CAP = 512
_SALT_CHARS = 4


def q_dedup_fuzzy_editdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy dedup by bounded edit distance: pairs of documents in the
    same blocking bucket with Levenshtein distance ≤ 25.

    Blocking keys = (first 8 chars, length ÷ 10): genuine fuzzy dups
    (typo/edit variants) share both with overwhelming probability,
    while the bucket join keeps candidate volume near-linear — the
    standard blocked-pairwise shape of record linkage. Verification is
    JVM ``levenshtein`` with an explicit threshold: Spark's 3-arg form
    abandons the DP early once the bound is exceeded, so per-pair cost
    is O(len·k), not O(len²). One shuffle on the block key; exact
    pairwise work only within blocks. The operator's contract is
    "pairs within the declared blocking" (mirrored exactly by the
    oracle), so the hash check is exact even though blocking, like all
    dedup blocking, trades recall for sub-quadratic cost.

    Hot-block bound (r10): blocks larger than ``_BLOCK_CAP`` rows are
    refined by the next ``_SALT_CHARS`` characters, and refined blocks
    still over the cap are dropped from pairing entirely — the
    boilerplate-shared-prefix corpus that would otherwise make one
    block quadratic.  Per-block pair work is ≤ cap² by construction.
    Both regimes are part of the declared contract and mirrored
    exactly by the oracle (the counts are exact, so the two engines
    always agree on which regime each block is in); the fixtures'
    blocks max out at 7 rows, so the cap is inert on driver runs and
    exercised by the planted-prefix differential test instead.

    Unicode contract (r6 differential finding): Spark's levenshtein
    counts CODEPOINT edits — the correct semantic for text
    ('café'→'cafe' = 1) — while DuckDB's counts BYTES ('café'→'cafe'
    = 2), so the oracle is exact only on single-byte text. The
    fixture is ASCII by construction, keeping the driver check exact;
    on unicode corpora Spark's codepoint distance is the defined
    behavior (pinned with the divergence itself in
    tests/test_differential.py).
    """
    from pyspark.sql import Window

    d = table(spark, sf_dir, "documents").select(
        "doc_id",
        "text",
        F.substring("text", 1, _PREFIX).alias("pfx"),
        F.expr(f"CAST(length(text) DIV {_LEN_BUCKET} AS INT)").alias("lb"),
    )
    # Hot-block bound: count each block (window without orderBy — no
    # per-row frame, one count per partition), refine oversized blocks
    # by the next 4 chars, drop refined blocks still over the cap.
    # The second window's partition key is a superset of the first's,
    # so both windows and the self-join below share ONE hash
    # partitioning family — the cap costs no extra shuffle.
    w1 = Window.partitionBy("pfx", "lb")
    d = d.withColumn("n1", F.count(F.lit(1)).over(w1))
    d = d.withColumn(
        "pfx2",
        F.when(
            F.col("n1") > _BLOCK_CAP,
            F.substring("text", _PREFIX + 1, _SALT_CHARS),
        ).otherwise(F.lit("")),
    )
    w2 = Window.partitionBy("pfx", "lb", "pfx2")
    d = (
        d.withColumn("n2", F.count(F.lit(1)).over(w2))
        .where(F.col("n2") <= _BLOCK_CAP)
        .select("doc_id", "text", "pfx", "lb", "pfx2")
    )
    a = d.select(
        F.col("doc_id").alias("doc_a"),
        F.col("text").alias("text_a"),
        "pfx",
        "lb",
        "pfx2",
    )
    b = d.select(
        F.col("doc_id").alias("doc_b"),
        F.col("text").alias("text_b"),
        "pfx",
        "lb",
        "pfx2",
    )
    dist = F.levenshtein("text_a", "text_b", _EDIT_MAX)
    return (
        a.join(b, ["pfx", "lb", "pfx2"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a", "doc_b", dist.cast("long").alias("edit_dist")
        )
        .where((F.col("edit_dist") >= 0) & (F.col("edit_dist") <= _EDIT_MAX))
    )


# Decontamination: minimum distinct shared shingles with any benchmark
# doc before a corpus doc is flagged. One shared 3-gram is ambient
# collision noise on natural text; ≥3 is the conventional "verbatim
# overlap" bar for n-gram decontamination.
_DECON_MIN_HITS = 3

# Absolute cap on stand-in eval-set size (docs). The modulus alone
# grows the eval set linearly with the corpus (~1%), which at 100 TB
# would blow the broadcast (ADVICE r6); real deployments pass a real
# benchmark suite whose size is fixed, so the stand-in must be too.
# 10k docs ≈ a few MB of distinct shingles — always broadcastable.
_DECON_EVAL_CAP = 10_000


def q_dedup_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training documents that share
    ≥ 3 distinct 3-word shingles with any document of a held-out
    evaluation set — the test-set-leakage scrub every serious LLM
    training pipeline runs (the n-gram-overlap method used by public
    corpus-prep pipelines).

    The eval set stands in as ``doc_id % 100 == 0`` capped at
    ``_DECON_EVAL_CAP`` docs (deterministic — real deployments pass
    the actual benchmark suite, whose size is FIXED, so the stand-in
    is bounded absolutely rather than as a corpus fraction). Scale
    shape: eval sets are TINY next to a 100 TB corpus, so the eval
    shingle set builds once and BROADCASTS — the cap is what keeps
    that premise true at any corpus size; the corpus side is a
    map-only explode joined against the broadcast hash set followed
    by one partial-agg count shuffle on doc_id — never an all-pairs
    or corpus-side index build. Output: the contaminated doc_ids with
    their overlap counts (the drop list).
    """
    docs = table(spark, sf_dir, "documents")
    is_eval = (F.col("doc_id") % 100 == 0) & (
        F.col("doc_id") < 100 * _DECON_EVAL_CAP
    )
    eval_shingles = (
        docs.where(is_eval)
        .select(F.explode(_shingles()).alias("shingle"))
        .distinct()
    )
    corpus_shingles = docs.where(~is_eval).select(
        "doc_id", F.explode(_shingles()).alias("shingle")
    )
    return (
        corpus_shingles.join(F.broadcast(eval_shingles), "shingle")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_contaminated_shingles"))
        .where(F.col("n_contaminated_shingles") >= _DECON_MIN_HITS)
    )


def q_dedup_substring_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicated-span detection at fixed chunk
    granularity — the Spark-expressible analog of suffix-array
    substring dedup (Lee et al. 2021, "Deduplicating Training Data
    Makes Language Models Better"): a suffix array finds *any*
    repeated span; hashing aligned ``_CHUNK_CHARS``-char chunks finds
    the aligned repeats, which covers the dominant case (verbatim
    boilerplate, mirrored pages, quoted passages) at linear cost.

    Per document: total chunks, chunks whose hash occurs in >1
    DISTINCT document, and the duplicated fraction — the per-doc
    "how much of this text exists elsewhere" score a pipeline
    thresholds to strip or drop.

    Declared contract: chunking is aligned (a one-char insertion
    shifts every later boundary, so un-aligned repeats go uncounted)
    and within-doc repeats don't count (distinct-doc frequency).
    Scale shape: explode is map-side; the chunk-frequency aggregate
    and the frequency⋈chunks join shuffle on ``chunk_hash`` (both
    sides co-partitioned — one Exchange feeds both), then one
    partial-agg shuffle on ``doc_id``. Chunk volume ≈ corpus size /
    ``_CHUNK_CHARS`` rows of 32-byte hashes — the same order as the
    suffix-array sort a native engine would run, but expressed as two
    hash shuffles instead of a global sort. No all-pairs anywhere;
    a boilerplate chunk shared by k docs costs k index rows, not k².
    """
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    chunks = docs.select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(0, int(greatest(ceil(length(text)"
                f" / {_CHUNK_CHARS}), 1)) - 1),"
                f" i -> md5(substring(text, i * {_CHUNK_CHARS} + 1,"
                f" {_CHUNK_CHARS})))"
            )
        ).alias("chunk_hash"),
    )
    freq = chunks.groupBy("chunk_hash").agg(
        F.countDistinct("doc_id").alias("chunk_df")
    )
    dup = F.sum(F.when(F.col("chunk_df") > 1, 1).otherwise(0)).cast("long")
    return (
        chunks.join(freq, "chunk_hash")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_chunks"),
            dup.alias("dup_chunks"),
        )
        .select(
            "doc_id",
            "n_chunks",
            "dup_chunks",
            F.round(
                F.col("dup_chunks").cast("double") / F.col("n_chunks"), 6
            ).alias("dup_frac"),
        )
    )


QUERIES = {
    "dedup_exact": q_dedup_exact,
    "dedup_near_minhash": q_dedup_near_minhash,
    "dedup_simhash": q_dedup_simhash,
    "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
    "dedup_containment_ngram": q_dedup_containment_ngram,
    "dedup_incremental_jaccard": q_dedup_incremental_jaccard,
    "dedup_cluster_cc": q_dedup_cluster_cc,
    "dedup_embedding_cosine": q_dedup_embedding_cosine,
    "dedup_embedding_ann": q_dedup_embedding_ann,
    "dedup_embedding_ann_audit": q_dedup_embedding_ann_audit,
    "dedup_fuzzy_editdist": q_dedup_fuzzy_editdist,
    "dedup_decontaminate": q_dedup_decontaminate,
    "dedup_substring_chunks": q_dedup_substring_chunks,
}

# Shingle width derives from _SHINGLE (the "change BOTH or parity
# breaks" twin-constant convention — see text._md5_bucket).
_SHINGLE_SQL = f"""
        SELECT doc_id,
               LIST_DISTINCT(LIST_TRANSFORM(
                   GENERATE_SERIES(1, GREATEST(LEN(STRING_SPLIT(text, ' ')) - {_SHINGLE - 1}, 1)),
                   i -> ARRAY_TO_STRING(STRING_SPLIT(text, ' ')[i:i+{_SHINGLE - 1}], ' ')
               )) AS sh
        FROM documents
"""

# Shared CTE chain mirroring _shingle_index: explode, drop shingles
# with DF > _MAX_DF, recount set sizes over the survivors.
_INV_SQL = f"""
        sets AS ({_SHINGLE_SQL}),
        inv0 AS (SELECT doc_id, UNNEST(sh) AS shingle FROM sets),
        stop AS (
            SELECT shingle FROM inv0
            GROUP BY shingle HAVING COUNT(*) > {_MAX_DF}
        ),
        inv AS (
            SELECT * FROM inv0
            WHERE shingle NOT IN (SELECT shingle FROM stop)
        ),
        sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM inv GROUP BY doc_id)
"""

# Audit-SAMPLED exact-Jaccard pair COUNT + asserted recall boolean —
# the shared oracle for both self-grading hash-family queries (minhash,
# simhash; r13 verdict item 1): the same common/sizes chain as
# dedup_ngram_jaccard's pair oracle, restricted to pairs with ≥1
# endpoint in the size-absolute md5 audit slice (mod recomputed from
# COUNT(*) with the same floor/target arithmetic the Spark side uses),
# reduced to the count the graders emit as n_sampled_exact_pairs.
_AUDIT_MOD_SQL = (
    f"GREATEST({_ANN_AUDIT_MOD_FLOOR}, "
    f"(SELECT COUNT(*) FROM documents) // {_ANN_AUDIT_TARGET})"
)
_SAMPLED_EXACT_PAIR_COUNT_SQL = f"""
        WITH {_INV_SQL},
        common AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
            FROM inv a JOIN inv b
              ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            WHERE CAST(CONCAT('0x',
                       SUBSTRING(MD5(CAST(a.doc_id AS VARCHAR)), 1, 8))
                       AS BIGINT) % {_AUDIT_MOD_SQL} = 0
               OR CAST(CONCAT('0x',
                       SUBSTRING(MD5(CAST(b.doc_id AS VARCHAR)), 1, 8))
                       AS BIGINT) % {_AUDIT_MOD_SQL} = 0
            GROUP BY a.doc_id, b.doc_id
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_sampled_exact_pairs,
               TRUE AS recall_floor_met
        FROM common
        JOIN sizes na ON na.doc_id = doc_a
        JOIN sizes nb ON nb.doc_id = doc_b
        WHERE n_common / (na.n_sh + nb.n_sh - n_common) >= {_JACCARD_THRESHOLD}
"""

ORACLE = {
    "dedup_decontaminate": f"""
        WITH sets AS ({_SHINGLE_SQL}),
        eval_sh AS (
            SELECT DISTINCT UNNEST(sh) AS shingle
            FROM sets
            WHERE doc_id % 100 = 0 AND doc_id < 100 * {_DECON_EVAL_CAP}
        ),
        corpus_sh AS (
            SELECT doc_id, UNNEST(sh) AS shingle
            FROM sets
            WHERE NOT (doc_id % 100 = 0 AND doc_id < 100 * {_DECON_EVAL_CAP})
        )
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_contaminated_shingles
        FROM corpus_sh JOIN eval_sh USING (shingle)
        GROUP BY doc_id
        HAVING COUNT(*) >= {_DECON_MIN_HITS}
    """,
    "dedup_exact": """
        SELECT MIN(doc_id) AS doc_id,
               COUNT(*) AS n_copies,
               LENGTH(text) AS text_len
        FROM documents
        GROUP BY text
    """,
    # Same aligned-chunk/md5 construction: DuckDB's lateral
    # UNNEST(range(...)) mirrors Spark's explode(transform(sequence)).
    # greatest(..., 1) gives empty text one '' chunk on both engines.
    "dedup_substring_chunks": f"""
        WITH chunks AS (
            SELECT doc_id,
                   md5(substr(text, CAST(i * {_CHUNK_CHARS} + 1 AS BIGINT),
                              {_CHUNK_CHARS})) AS chunk_hash
            FROM documents,
                 UNNEST(range(0, greatest(
                     CAST(ceil(length(text) / {_CHUNK_CHARS}.0) AS BIGINT),
                     1))) AS t(i)
        ),
        freq AS (
            SELECT chunk_hash, COUNT(DISTINCT doc_id) AS chunk_df
            FROM chunks GROUP BY chunk_hash
        )
        SELECT c.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_chunks,
               CAST(SUM(CASE WHEN f.chunk_df > 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS dup_chunks,
               ROUND(CAST(SUM(CASE WHEN f.chunk_df > 1 THEN 1 ELSE 0 END)
                          AS DOUBLE) / COUNT(*), 6) AS dup_frac
        FROM chunks c JOIN freq f USING (chunk_hash)
        GROUP BY c.doc_id
    """,
    # dedup_near_minhash / dedup_simhash: the raw hash-family pairs
    # (xxhash64/murmur3) are not reproducible in DuckDB SQL, so the
    # registered queries grade them in-query against the exact-Jaccard
    # pair set instead (self-grading contract, r9) — oracles above.
    "dedup_ngram_jaccard": f"""
        WITH {_INV_SQL},
        common AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
            FROM inv a JOIN inv b
              ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
        )
        SELECT doc_a, doc_b,
               ROUND(n_common / (na.n_sh + nb.n_sh - n_common), 6) AS jaccard,
               CAST(n_common AS BIGINT) AS n_common
        FROM common
        JOIN sizes na ON na.doc_id = doc_a
        JOIN sizes nb ON nb.doc_id = doc_b
        WHERE n_common / (na.n_sh + nb.n_sh - n_common) >= {_JACCARD_THRESHOLD}
    """,
    # Self-grading contracts (r9, VERDICT r8 item 2; SAMPLED since r14
    # per the r13 verdict item 1): the Spark side grades its
    # hash-family candidate pairs against the audit-slice exact-Jaccard
    # pair set in-query; the oracle recomputes the sampled exact pair
    # COUNT via the same CTE chain as dedup_ngram_jaccard plus the md5
    # audit predicate, and asserts the recall-floor boolean TRUE. ONE
    # shared SQL text (_SAMPLED_EXACT_PAIR_COUNT_SQL above) — a
    # threshold, CTE, or slice-arithmetic change must not be able to
    # desynchronize the two graders from the pair oracle they grade
    # against.
    "dedup_near_minhash": _SAMPLED_EXACT_PAIR_COUNT_SQL,
    "dedup_simhash": _SAMPLED_EXACT_PAIR_COUNT_SQL,
    "dedup_containment_ngram": f"""
        WITH {_INV_SQL},
        common AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
            FROM inv a JOIN inv b
              ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
        )
        SELECT doc_a, doc_b,
               ROUND(n_common / LEAST(na.n_sh, nb.n_sh), 6) AS containment,
               CASE WHEN na.n_sh <= nb.n_sh THEN doc_a ELSE doc_b END
                   AS contained_id
        FROM common
        JOIN sizes na ON na.doc_id = doc_a
        JOIN sizes nb ON nb.doc_id = doc_b
        WHERE n_common / LEAST(na.n_sh, nb.n_sh) >= {_CONTAINMENT_THRESHOLD}
    """,
    "dedup_incremental_jaccard": f"""
        WITH {_INV_SQL},
        common AS (
            SELECT a.doc_id AS new_id, b.doc_id AS corpus_id,
                   COUNT(*) AS n_common
            FROM inv a JOIN inv b
              ON a.shingle = b.shingle
             AND a.doc_id % 2 = 1 AND b.doc_id % 2 = 0
            GROUP BY a.doc_id, b.doc_id
        )
        SELECT new_id, corpus_id,
               ROUND(n_common / (na.n_sh + nb.n_sh - n_common), 6) AS jaccard,
               CAST(n_common AS BIGINT) AS n_common
        FROM common
        JOIN sizes na ON na.doc_id = new_id
        JOIN sizes nb ON nb.doc_id = corpus_id
        WHERE n_common / (na.n_sh + nb.n_sh - n_common) >= {_JACCARD_THRESHOLD}
    """,
    "dedup_cluster_cc": f"""
        WITH RECURSIVE
        {_INV_SQL},
        common AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
            FROM inv a JOIN inv b
              ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
        ),
        pairs AS (
            SELECT doc_a, doc_b
            FROM common
            JOIN sizes na ON na.doc_id = doc_a
            JOIN sizes nb ON nb.doc_id = doc_b
            WHERE n_common / (na.n_sh + nb.n_sh - n_common) >= {_JACCARD_THRESHOLD}
        ),
        edges AS (
            SELECT doc_a AS u, doc_b AS v FROM pairs
            UNION
            SELECT doc_b AS u, doc_a AS v FROM pairs
        ),
        walk(node, label) AS (
            SELECT u, u FROM (SELECT DISTINCT u FROM edges)
            UNION
            SELECT e.v, w.label FROM walk w JOIN edges e ON e.u = w.node
        ),
        labels AS (
            SELECT node AS doc_id, MIN(label) AS cluster_id
            FROM walk GROUP BY node
        )
        SELECT doc_id, cluster_id,
               COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size
        FROM labels
    """,
    # NOTE: DuckDB LEVENSHTEIN is byte-based vs Spark's codepoint-based
    # — identical on the ASCII fixture, divergent on multi-byte text
    # (declared unicode contract in the query docstring; differential-
    # tested). Do not point this oracle at a non-ASCII corpus.
    "dedup_fuzzy_editdist": f"""
        -- Hot-block bound mirrored from the Spark side (r10): blocks
        -- over {_BLOCK_CAP} rows refine on the next {_SALT_CHARS}
        -- chars; refined blocks still over the cap are dropped.
        WITH d AS (
            SELECT doc_id, text,
                   SUBSTRING(text, 1, {_PREFIX}) AS pfx,
                   CAST(LENGTH(text) // {_LEN_BUCKET} AS INT) AS lb
            FROM documents
        ),
        d1 AS (
            SELECT *, COUNT(*) OVER (PARTITION BY pfx, lb) AS n1 FROM d
        ),
        d2 AS (
            SELECT *,
                   CASE WHEN n1 > {_BLOCK_CAP}
                        THEN SUBSTRING(text, {_PREFIX + 1}, {_SALT_CHARS})
                        ELSE '' END AS pfx2
            FROM d1
        ),
        d3 AS (
            SELECT * FROM (
                SELECT *, COUNT(*) OVER (PARTITION BY pfx, lb, pfx2) AS n2
                FROM d2
            ) WHERE n2 <= {_BLOCK_CAP}
        )
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(LEVENSHTEIN(a.text, b.text) AS BIGINT) AS edit_dist
        FROM d3 a JOIN d3 b
          ON a.pfx = b.pfx AND a.lb = b.lb AND a.pfx2 = b.pfx2
         AND a.doc_id < b.doc_id
        WHERE LEVENSHTEIN(a.text, b.text) <= {_EDIT_MAX}
    """,
    "dedup_embedding_cosine": """
        -- NULLIF on the divisors: duckdb>=1.1 returns IEEE NaN for
        -- 0/0 (<=1.0 returned NULL); a NaN would pass neither the
        -- threshold nor ranking identically to Spark's try_divide
        -- NULL (review wave 6, the version-proofing sweep).
        SELECT a.vec_id AS a_id, b.vec_id AS b_id,
               ROUND(
                   LIST_DOT_PRODUCT(CAST(a.embedding AS DOUBLE[]),
                                    CAST(b.embedding AS DOUBLE[]))
                   / NULLIF(SQRT(LIST_DOT_PRODUCT(CAST(a.embedding AS DOUBLE[]),
                                            CAST(a.embedding AS DOUBLE[])))
                      * SQRT(LIST_DOT_PRODUCT(CAST(b.embedding AS DOUBLE[]),
                                              CAST(b.embedding AS DOUBLE[]))), 0),
                   6) AS cos_sim
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        WHERE LIST_DOT_PRODUCT(CAST(a.embedding AS DOUBLE[]),
                               CAST(b.embedding AS DOUBLE[]))
              / NULLIF(SQRT(LIST_DOT_PRODUCT(CAST(a.embedding AS DOUBLE[]),
                                       CAST(a.embedding AS DOUBLE[])))
                 * SQRT(LIST_DOT_PRODUCT(CAST(b.embedding AS DOUBLE[]),
                                         CAST(b.embedding AS DOUBLE[]))), 0)
              >= 0.45
    """,
    # dedup_embedding_ann: self-grading — the Spark side grades the
    # IVF-candidate + exact-re-rank pairs against the exact O(n²)
    # baseline in-query; the oracle recomputes the exact pair COUNT
    # via the same naive theta join as dedup_embedding_cosine and
    # asserts the recall-floor boolean TRUE.
    "dedup_embedding_ann": """
        SELECT CAST(COUNT(*) AS BIGINT) AS n_exact_pairs,
               TRUE AS recall_floor_met
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        WHERE LIST_DOT_PRODUCT(CAST(a.embedding AS DOUBLE[]),
                               CAST(b.embedding AS DOUBLE[]))
              / NULLIF(SQRT(LIST_DOT_PRODUCT(CAST(a.embedding AS DOUBLE[]),
                                       CAST(a.embedding AS DOUBLE[])))
                 * SQRT(LIST_DOT_PRODUCT(CAST(b.embedding AS DOUBLE[]),
                                         CAST(b.embedding AS DOUBLE[]))), 0)
              >= 0.45
    """,
    # dedup_embedding_ann_audit: the production (sampled) grading
    # shape — same self-grading contract; the oracle recomputes the
    # exact pair count on the md5 audit slice with the identical
    # bucket predicate (text._md5_bucket_sql's 0x-prefixed hex cast)
    # AND the identical size-absolute modulus, recomputed from
    # COUNT(*) via a scalar subquery so the oracle follows the corpus
    # size exactly as the Spark side's _ann_audit_mod(e.count()) does.
    "dedup_embedding_ann_audit": f"""
        SELECT CAST(COUNT(*) AS BIGINT) AS n_sampled_exact_pairs,
               TRUE AS recall_floor_met
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        WHERE (CAST(CONCAT('0x', SUBSTRING(MD5(CAST(a.vec_id AS VARCHAR)), 1, 8))
                    AS BIGINT)
                 % GREATEST({_ANN_AUDIT_MOD_FLOOR},
                            (SELECT COUNT(*) FROM embeddings)
                              // {_ANN_AUDIT_TARGET}) = 0
               OR CAST(CONCAT('0x', SUBSTRING(MD5(CAST(b.vec_id AS VARCHAR)), 1, 8))
                       AS BIGINT)
                 % GREATEST({_ANN_AUDIT_MOD_FLOOR},
                            (SELECT COUNT(*) FROM embeddings)
                              // {_ANN_AUDIT_TARGET}) = 0)
          AND LIST_DOT_PRODUCT(CAST(a.embedding AS DOUBLE[]),
                               CAST(b.embedding AS DOUBLE[]))
              / NULLIF(SQRT(LIST_DOT_PRODUCT(CAST(a.embedding AS DOUBLE[]),
                                       CAST(a.embedding AS DOUBLE[])))
                 * SQRT(LIST_DOT_PRODUCT(CAST(b.embedding AS DOUBLE[]),
                                         CAST(b.embedding AS DOUBLE[]))), 0)
              >= 0.45
    """,
}
