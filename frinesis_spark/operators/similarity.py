"""Similarity search over embedding columns (SURVEY.md §2B
``similarity_topk_cosine`` + the ANN scale path).

Two operators:

- ``similarity_topk_cosine`` — exact brute-force top-k: broadcast the
  (small) query set against the full corpus, cosine via Catalyst
  ``zip_with``/``aggregate`` (JVM, codegen), ranking window per query.
  Linear in corpus size — the right plan when queries ≪ corpus, which
  is the common retrieval-evaluation shape. Oracle-checked.

- ``similarity_ann_lsh`` — random-hyperplane LSH: bucket the corpus by
  sign-bit bands, join queries to bucket-colliding candidates only,
  re-rank exactly. Sub-linear candidate volume; recall < 1 by design
  → self-grading (r8): the registered query emits an in-query
  recall-floor boolean vs the exact top-k that the oracle asserts.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from frinesis_spark.caches import artifact
from frinesis_spark.catalog import table
from frinesis_spark.functions.vectors import (
    cosine_from_norms,
    dot,
    l2_norm,
)

_N_QUERIES = 10  # vec_id < 10 form the query set
_TOP_K = 5
_DIM = 64
# Band geometry sets the recall/candidate-volume trade. The test
# corpus is HARD for sign-bit LSH: true top-5 neighbors sit at cosine
# 0.33–0.45 (bit-match probability p ≈ 0.62, barely above the 0.5
# background), so plain banding is a bad frontier — 4-bit × 8 bands
# (round 1) needed ~50% of the corpus as candidates for recall 0.7.
# Multi-probe fixes this: wide 14-bit bands make the exact-bucket
# collision rare for RANDOM pairs (2^-14 per band), and the query side
# additionally probes the buckets reachable by flipping its
# smallest-margin sign bits — the bits a true neighbor most likely
# disagrees on (Lv et al., "Multi-Probe LSH", VLDB'07). Measured on
# the sf0.1 corpus: recall 0.80 @ candidate fraction ~0.15, vs
# 0.74 @ 0.42 for the round-1 geometry — ~3× less work per recall
# point. IVF (below) is still the headline ANN path on this data
# (recall 0.90 @ 0.06); LSH remains the no-training alternative.
_PLANES_PER_BAND = 14
_N_BANDS = 32
_N_PROBES = 64  # probe buckets per (query, band), incl. the exact one
_FLIP_POOL = 12  # flips drawn from the 12 smallest-margin bits
_MAX_FLIP = 5


def _hyperplane(plane: int) -> list[float]:
    """Deterministic pseudo-random hyperplane in [-1, 1]^dim.

    md5-derived so the LSH buckets are identical on every run and
    every engine — no RNG state anywhere.
    """
    out = []
    for d in range(_DIM):
        h = int(hashlib.md5(f"plane{plane}:dim{d}".encode()).hexdigest()[:8], 16)
        out.append(h / float(0xFFFFFFFF) * 2.0 - 1.0)
    return out


def _query_side(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Just the (tiny) query rows — the IVF probe path needs no corpus
    frame, and building one through _spread pays an eager
    RDD-partition probe per call (r9 review wave 10)."""
    e = table(spark, sf_dir, "embeddings")
    return e.where(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        l2_norm(F.col("embedding")).alias("qn"),
    )


def _queries_and_candidates(spark: SparkSession, sf_dir: str):
    e = table(spark, sf_dir, "embeddings")
    # Norms precomputed ONCE per side (review wave 6): inlining the
    # full cosine on a pair join re-walks both arrays' norms per pair
    # — ~3× the array passes on the exact-scan hot path. Same IEEE
    # operand values, same final ops — bit-identical cosines.
    q = _query_side(spark, sf_dir)
    # The test corpus is one parquet file → one input split; spread the
    # per-pair cosine work across all cores. Conditional: at real scale
    # the scan already has ≥cores splits and _spread returns the scan
    # untouched (no shuffle).
    c = _spread(e).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("ce"),
        l2_norm(F.col("embedding")).alias("cn"),
    )
    return q, c


def _spread(df: DataFrame) -> DataFrame:
    """See :func:`frinesis_spark.catalog.spread` (hoisted r8)."""
    from frinesis_spark.catalog import spread

    return spread(df)


def _topk_output(scored: DataFrame) -> DataFrame:
    """Shared exact-rerank top-k contract for the three similarity
    queries: rank by (cos desc, neighbor_id) per query, keep _TOP_K,
    emit the oracle-matched (rank BIGINT, cos rounded 6dp) columns.
    ONE definition — a tie-break/rounding change must not be able to
    reach only one of the three."""
    w = W.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= _TOP_K)
        .select(
            "query_id",
            F.col("rank").cast("long").alias("rank"),
            "neighbor_id",
            F.round("cos", 6).alias("cos_sim"),
        )
    )


def q_similarity_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-5 neighbors for each of the 10 query vectors.

    Plan shape at 100 TB: broadcast(queries) ⋈ corpus scan → per-query
    top-k via ranking window partitioned on query_id. One pass over
    the corpus, no shuffle of the big side beyond the k-row-per-query
    window input (Spark pushes rank-filter into the window sort).
    """
    q, c = _queries_and_candidates(spark, sf_dir)
    cos = cosine_from_norms(
        dot(F.col("qe"), F.col("ce")), F.col("qn"), F.col("cn")
    )
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", cos.alias("cos"))
    )
    return _topk_output(scored)


def _plane_matrix():
    """All hyperplanes as a (dim, n_planes) float64 matrix. Memoized:
    28,672 md5 digests of a pure geometry constant — paid once per
    process, not per query call."""
    import numpy as np

    if _plane_matrix._cache is None:
        planes = _N_BANDS * _PLANES_PER_BAND
        _plane_matrix._cache = np.array(
            [_hyperplane(p) for p in range(planes)], dtype=np.float64
        ).T
    return _plane_matrix._cache


_plane_matrix._cache = None


def _combo_matrix():
    """The (n_combos, pool) 0/1 flip-combination matrix — a constant
    of the multi-probe geometry, memoized like _plane_matrix. Row
    order preserves the original enumeration (size-1 combos first,
    lexicographic within size): with a stable argsort on the scores,
    equal-score ties resolve exactly as the old ``sorted`` did."""
    import itertools

    import numpy as np

    if _combo_matrix._cache is None:
        combos = [
            comb
            for r in range(1, _MAX_FLIP + 1)
            for comb in itertools.combinations(range(_FLIP_POOL), r)
        ]
        mat = np.zeros((len(combos), _FLIP_POOL), dtype=np.float64)
        for ci, comb in enumerate(combos):
            mat[ci, list(comb)] = 1.0
        _combo_matrix._cache = mat
    return _combo_matrix._cache


_combo_matrix._cache = None


def _bucketize(df: DataFrame, id_col: str, emb_col: str) -> DataFrame:
    """(id, band_idx, bucket) rows: sign bits of md5-fixed hyperplanes.

    One numpy matmul per Arrow batch computes every plane projection at
    once (rows × dim @ dim × planes). Map-only — bucketing adds no
    shuffle at any scale — and deliberately does NOT carry the
    embedding: the downstream band join shuffles only (id, band,
    bucket) ints, not ``bands ×`` copies of the vector column (a 32×
    embedding-duplication at 100 TB); embeddings are joined back by id
    after the candidate pairs are deduped.
    """
    planes = _plane_matrix()

    def gen(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            emb = np.vstack(pdf[emb_col].to_numpy()).astype(np.float64)
            bits = (emb @ planes) > 0  # rows × planes
            out = []
            weights = 1 << np.arange(_PLANES_PER_BAND)
            for band in range(_N_BANDS):
                cols = bits[:, band * _PLANES_PER_BAND : (band + 1) * _PLANES_PER_BAND]
                buckets = (cols * weights).sum(axis=1)
                out.append(
                    pd.DataFrame(
                        {
                            id_col: pdf[id_col].to_numpy(),
                            "band_idx": band,
                            "bucket": buckets.astype(np.int32),
                        }
                    )
                )
            yield pd.concat(out, ignore_index=True)

    return df.mapInPandas(gen, f"{id_col} long, band_idx int, bucket int")


def _multiprobe(df: DataFrame, id_col: str, emb_col: str) -> DataFrame:
    """Query-side multi-probe bucketize: per (query, band), the exact
    bucket plus the ``_N_PROBES - 1`` buckets reachable by flipping up
    to ``_MAX_FLIP`` of the ``_FLIP_POOL`` smallest-|projection| sign
    bits, ordered by summed squared margin (the flip-probability proxy
    of Lv et al.). A marginal sign bit is exactly the one a true
    neighbor most likely lands on the other side of, so probing those
    buckets buys recall without widening the random-collision rate —
    the query side fans out, the (huge) corpus side stays at one
    bucket per band.
    """
    import numpy as np

    planes = _plane_matrix()
    combo_mat = _combo_matrix()
    # Row block size for the combo scoring: scores and masks are each
    # (block, bands, n_combos) float64 ≈ 52 MB at 128 rows — without
    # the block loop a 10k-row query batch would transiently allocate
    # ~8 GB in one Python worker.
    _ROW_BLK = 128

    def gen(batches):
        import pandas as pd

        weights = (1 << np.arange(_PLANES_PER_BAND)).astype(np.int64)
        n_extra = _N_PROBES - 1
        def blocks(batches):
            for pdf in batches:
                for st in range(0, len(pdf), _ROW_BLK):
                    yield pdf.iloc[st : st + _ROW_BLK]

        for pdf in blocks(batches):
            emb = np.vstack(pdf[emb_col].to_numpy()).astype(np.float64)
            n = len(pdf)
            # (rows, bands, planes-per-band) — all bands at once.
            proj = (emb @ planes).reshape(n, _N_BANDS, _PLANES_PER_BAND)
            bits = proj > 0
            margins = np.abs(proj)
            # Per (row, band): indices of the _FLIP_POOL smallest margins.
            pool = np.argsort(margins, axis=-1)[..., :_FLIP_POOL]
            sq = np.take_along_axis(margins, pool, axis=-1) ** 2
            # Score every combo for every (row, band) in one matmul,
            # then keep the n_extra lowest (stable → old tie order).
            scores = sq @ combo_mat.T  # (rows, bands, n_combos)
            sel = np.argsort(scores, axis=-1, kind="stable")[..., :n_extra]
            # Flipping distinct planes == XOR with the sum of their
            # weights; gather each selected combo's mask via the same
            # matmul on the pooled plane weights.
            pool_w = np.take_along_axis(
                np.broadcast_to(weights, margins.shape), pool, axis=-1
            ).astype(np.float64)
            masks_all = (pool_w @ combo_mat.T).astype(np.int64)
            masks = np.take_along_axis(masks_all, sel, axis=-1)
            base = (bits @ weights).astype(np.int64)  # (rows, bands)
            buckets = np.concatenate(
                [base[..., None], base[..., None] ^ masks], axis=-1
            )  # (rows, bands, _N_PROBES) — exact bucket first, then probes
            yield pd.DataFrame(
                {
                    id_col: np.repeat(
                        pdf[id_col].to_numpy(), _N_BANDS * _N_PROBES
                    ).astype(np.int64),
                    "band_idx": np.tile(
                        np.repeat(np.arange(_N_BANDS, dtype=np.int32), _N_PROBES),
                        n,
                    ),
                    "bucket": buckets.reshape(-1).astype(np.int32),
                }
            )

    return df.mapInPandas(gen, f"{id_col} long, band_idx int, bucket int")


def lsh_candidate_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deduped (query_id, neighbor_id) LSH candidate pairs — the
    quantity the recall/efficiency tests measure directly."""
    q, c = _queries_and_candidates(spark, sf_dir)
    qb = _multiprobe(q, "query_id", "qe")
    # The corpus bucket table IS the LSH index — a derived artifact
    # (embeddings-keyed: a refreshed embeddings table invalidates it
    # exactly like dedup's documents-keyed artifacts).
    cb = artifact(
        spark,
        sf_dir,
        "lsh_index",
        lambda: _bucketize(c, "neighbor_id", "ce"),
        table="embeddings",
        checkpoint=True,
    )
    return (
        F.broadcast(qb)
        .join(cb, ["band_idx", "bucket"])
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )


def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-5 via multi-probe random-hyperplane LSH + exact
    re-rank — the raw neighbor output; the registered query wraps it
    in the recall check (see ``q_similarity_ann_lsh``).

    Candidates = corpus rows whose exact band bucket matches any of the
    query's probed buckets. At 100 TB: corpus bucketing is map-only,
    the band join shuffles (id, band, bucket) ints (the query side is
    tiny and broadcast), candidates are deduped, and only then are the
    two embedding columns joined back by id for the exact cosine
    re-rank — candidate volume ~15% of corpus per query at recall 0.8
    (measured; see band-geometry note above).
    """
    q, c = _queries_and_candidates(spark, sf_dir)
    pairs = lsh_candidate_pairs(spark, sf_dir)
    cand = (
        pairs.join(F.broadcast(q), "query_id")
        .join(c, "neighbor_id")
    )
    cos = cosine_from_norms(
        dot(F.col("qe"), F.col("ce")), F.col("qn"), F.col("cn")
    )
    return _topk_output(cand.select("query_id", "neighbor_id", cos.alias("cos")))


# Driver-verifiable recall floors, in TOTAL hits across the
# _N_QUERIES × _TOP_K = 50 (query, exact-neighbor) slots. Everything
# here is deterministic (md5 hyperplanes / fixed k-means seeds), so
# the observed totals are constants per fixture: LSH 31/31/40 and IVF
# 41/37/45 at sf0.001/0.01/0.1 — floors sit a full step below the
# worst observed so fixture regeneration noise doesn't flip the
# boolean, while a broken index (hash scrambled, wrong column, empty
# candidates) lands far below. The SHARP per-sf recall floors
# (e.g. ≥0.8@sf0.1) stay pinned in tests/test_ann.py.
_LSH_RECALL_FLOOR_HITS = 25  # total-recall ≥ 0.5
_IVF_RECALL_FLOOR_HITS = 30  # total-recall ≥ 0.6


def _recall_check(
    spark: SparkSession, sf_dir: str, ann: DataFrame, floor_hits: int
) -> DataFrame:
    """One-row frame: (n_queries, k, recall_floor_met) — the ANN
    result graded against the registered exact top-k
    (``q_similarity_topk_cosine``) inside the query itself, so the
    driver's DuckDB hash-compare can verify an approximate operator
    (r7 verdict item 4: the oracle recomputes n_queries/k exactly and
    asserts the boolean TRUE)."""
    exact = q_similarity_topk_cosine(spark, sf_dir).select(
        "query_id", "neighbor_id"
    )
    # ONE reference to the exact grader (review find: a second
    # reference re-ran the query × corpus brute force): left-join the
    # exact top-k to the ANN result and aggregate queries and hits in
    # the same pass.
    marked = exact.join(
        ann.select("query_id", "neighbor_id").withColumn(
            "_hit", F.lit(1)
        ),
        ["query_id", "neighbor_id"],
        "left",
    )
    return marked.agg(
        F.countDistinct("query_id").alias("n_queries"),
        F.max(F.lit(_TOP_K)).cast("long").alias("k"),
        (F.count("_hit") >= floor_hits).alias("recall_floor_met"),
    )


def q_similarity_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH ANN with an in-query recall grade: runs the full
    ``ann_lsh_topk`` path, joins it to the exact top-k, and emits
    whether total recall clears the floor — an approximate index is
    exactly as good as its recall, so the recall IS the checkable
    output (HLL got the same treatment in ``agg_approx_distinct``).
    Scale note: the exact-grader term is eval-set-sized (10 queries ×
    corpus brute force) — the production-time cost is only the ANN
    path being graded."""
    return _recall_check(
        spark,
        sf_dir,
        ann_lsh_topk(spark, sf_dir),
        _LSH_RECALL_FLOOR_HITS,
    )


# The headline ANN path on this corpus: lists=64 / probe=4 measures
# recall 0.90 (sf0.1) / 0.74 (sf0.01) at ~6% candidate fraction —
# every other geometry tried (incl. all multi-probe LSH points) pays
# ≥2× the candidates for the same recall, because IVF cells follow the
# data's actual cluster structure instead of random hyperplanes.
#
# r14 (verdict item 4): lists now grows ~√corpus — the standard IVF
# sizing, and the geometry r11 measured directly (lists=√n at sf1:
# recall 1.00 at 2.8% candidates) — floored at the r11-tuned 64 so
# every corpus up to 4096 vectors (all sf ≤ 0.1 fixtures: 500–2000)
# trains the IDENTICAL index the green driver/bench evidence was
# recorded on. Candidate volume per query ≈ probe·n/lists =
# probe·√n — the per-query work a serving index should cost — instead
# of the probe·n/64 linear scan the fixed setting degrades to.
_IVF_LISTS_FLOOR = 64  # minimum inverted lists (= the fixed r11 value)
_IVF_PROBE = 4  # cells probed per query
_IVF_ITERS = 3  # Lloyd refinement rounds (fixed → bounded, reproducible)

# Test/measurement hook: a geometry-sweep tool pins lists explicitly
# (tools/measure_ivf_sf1.py); production callers never set it.
_IVF_LISTS_OVERRIDE: int | None = None


def _ivf_lists(n_corpus: int) -> int:
    """Inverted-list count for a corpus of ``n_corpus`` vectors:
    ``max(64, round(√n))`` — a pure function of corpus size, so the
    trained geometry is reproducible from the corpus alone."""
    if _IVF_LISTS_OVERRIDE is not None:
        return _IVF_LISTS_OVERRIDE
    return max(_IVF_LISTS_FLOOR, int(round(n_corpus**0.5)))


def _ivf_centroids(
    corpus: DataFrame, emb_col: str, n_lists: int, seed_salt: int = 0
):
    """Train IVF cell centroids: deterministic seeding + a fixed
    number of distributed Lloyd rounds.

    Seeds are the ``n_lists`` lowest vec_ids (deterministic, no
    RNG); ``seed_salt > 0`` instead seeds from the ``n_lists`` lowest
    ``xxhash64(salt, vec_id)`` rows — a deterministic pseudo-shuffle
    that lands Lloyd in a DIFFERENT local optimum over the same
    corpus. The dedup pair pass unions candidates over several salted
    partitions (dedup._emb_ann_membership, r15): measured at sf1/sf10,
    differently-salted partitions recall near-independently, which is
    what makes the OR-construction amplify. Each round is one
    map-only pass: every partition assigns its
    rows to the nearest centroid with a single numpy matmul and emits
    per-cell partial (sum, count); the driver reduces the
    ``partitions × cells`` partials — KB-sized regardless of corpus
    size, the classic mergeable-state k-means. Centroid count and
    round count are fixed, so cost is bounded and the result is
    reproducible.
    """
    import numpy as np

    seed_order = (
        F.xxhash64(F.lit(seed_salt), F.col("vec_id"))
        if seed_salt
        else F.col("vec_id")
    )
    seeds = (
        corpus.orderBy(seed_order)
        .limit(n_lists)
        .select(emb_col)
        .toPandas()[emb_col]
    )
    cents = np.vstack(seeds.to_numpy()).astype(np.float64)
    # Normalize the SEEDS too (r9 review wave 10): round-1 assignment
    # uses argmax(emb @ cents.T), which is cosine only on UNIT
    # centroids — raw seeds would bias the first partition toward
    # large-norm rows on any non-normalized corpus (inert on this
    # unit-norm fixture; the invariant the code claims must hold
    # regardless).
    cents /= np.maximum(np.linalg.norm(cents, axis=1)[:, None], 1e-12)

    for _ in range(_IVF_ITERS):
        c = cents  # capture current round's centroids

        def partials(batches, c=c):
            import numpy as np
            import pandas as pd

            sums = np.zeros_like(c)
            counts = np.zeros(len(c), dtype=np.int64)
            for pdf in batches:
                emb = np.vstack(pdf[emb_col].to_numpy()).astype(np.float64)
                cell = np.argmax(emb @ c.T, axis=1)  # cosine ≙ dot on unit cells
                np.add.at(sums, cell, emb)
                np.add.at(counts, cell, 1)
            yield pd.DataFrame(
                {
                    "cell": np.arange(len(c)),
                    "vsum": list(sums),
                    "n": counts,
                }
            )

        agg = corpus.mapInPandas(
            partials, f"cell int, vsum array<double>, n long"
        ).toPandas()
        sums = np.zeros_like(cents)
        counts = np.zeros(len(cents), dtype=np.int64)
        for _, row in agg.iterrows():
            sums[row["cell"]] += np.asarray(row["vsum"])
            counts[row["cell"]] += row["n"]
        nonempty = counts > 0
        cents[nonempty] = sums[nonempty] / counts[nonempty, None]
        # L2-normalize so dot == cosine ranking for assignment
        cents /= np.maximum(np.linalg.norm(cents, axis=1)[:, None], 1e-12)
    return cents


def ivf_index(spark: SparkSession, sf_dir: str):
    """The IVF index half: (corpus rows tagged with their home cell,
    trained centroids ndarray), a derived artifact. An ANN index is
    BUILT ONCE and queried many times by definition — centroid
    training (3 Lloyd rounds) and cell assignment are pure functions
    of the corpus. Shared by the ANN top-k query here and by
    ``dedup_embedding_ann`` (dedup.py), which probes it corpus×corpus
    instead of query×corpus — ONE index artifact serves both access
    patterns, exactly as a persisted production index would."""

    def build():
        _, c = _queries_and_candidates(spark, sf_dir)
        # The corpus feeds every Lloyd round plus the final
        # assignment — materialize once instead of re-scanning per
        # pass (at real scale: a persisted staging table). Only the
        # columns the index uses: the cn norm column would be
        # materialized into the cached artifact and recomputed fresh
        # by every consumer anyway (r9 review wave 10).
        c = c.select("neighbor_id", "ce").localCheckpoint(eager=True)
        # √n list sizing needs the corpus size; the checkpoint above
        # makes this count a cached-artifact scan, not a re-read.
        n_lists = _ivf_lists(c.count())
        cents = _ivf_centroids(
            c.select(F.col("neighbor_id").alias("vec_id"), F.col("ce")),
            "ce",
            n_lists,
        )

        def assign(batches):
            import numpy as np
            import pandas as pd

            for pdf in batches:
                emb = np.vstack(pdf["ce"].to_numpy()).astype(np.float64)
                emb_n = emb / np.maximum(
                    np.linalg.norm(emb, axis=1)[:, None], 1e-12
                )
                cell = np.argmax(emb_n @ cents.T, axis=1)
                yield pd.DataFrame(
                    {
                        "neighbor_id": pdf["neighbor_id"].to_numpy(),
                        "ce": pdf["ce"],
                        "cell": cell.astype(np.int32),
                    }
                )

        cells = c.mapInPandas(
            assign, "neighbor_id long, ce array<float>, cell int"
        ).localCheckpoint(eager=True)
        return cells, cents

    return artifact(spark, sf_dir, "ivf_index", build, table="embeddings")


def _ivf_cells_and_probes(spark: SparkSession, sf_dir: str):
    """Query-side IVF access: (corpus cells, query rows repeated per
    probed cell)."""
    cells, cents = ivf_index(spark, sf_dir)
    return cells, _ivf_probes(_query_side(spark, sf_dir), cents)


def _ivf_probes(
    q: DataFrame,
    cents,
    n_probe: int = _IVF_PROBE,
    with_embedding: bool = True,
) -> DataFrame:
    """Query rows repeated per probed cell (per-call — queries are the
    ad-hoc side; the index half is cached). ``n_probe`` defaults to
    the top-k search setting; ``dedup_embedding_ann`` probes wider
    (recall is the binding constraint for dedup, where a missed dup
    stays in the training set) and passes ``with_embedding=False`` —
    its candidate pass needs only (id, cell), and carrying ``qe``
    would Arrow-serialize every corpus embedding n_probe times into
    the shuffle just to be projected away (r9 review wave 1)."""
    # A tiny corpus trains fewer centroids than n_probe (seeds =
    # min(corpus, lists)); argsort then yields < n_probe columns
    # while the row repeat assumes exactly n_probe — pandas length
    # mismatch kills the worker (r9 review wave 1). Probe every cell.
    n_probe = min(n_probe, int(cents.shape[0]))

    def probe(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            emb = np.vstack(pdf["qe"].to_numpy()).astype(np.float64)
            emb_n = emb / np.maximum(
                np.linalg.norm(emb, axis=1)[:, None], 1e-12
            )
            order = np.argsort(-(emb_n @ cents.T), axis=1)[:, :n_probe]
            out = pdf.loc[pdf.index.repeat(n_probe)].reset_index(drop=True)
            out["cell"] = order.ravel().astype(np.int32)
            cols = ["query_id", "qe", "cell"] if with_embedding else [
                "query_id", "cell"
            ]
            yield out[cols]

    schema = (
        "query_id long, qe array<float>, cell int"
        if with_embedding
        else "query_id long, cell int"
    )
    return q.mapInPandas(probe, schema)


def ivf_candidate_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deduped (query_id, neighbor_id) IVF candidate pairs — what the
    recall/efficiency tests measure (each corpus row lives in exactly
    one cell, so the probe join emits each pair at most once)."""
    cells, probed = _ivf_cells_and_probes(spark, sf_dir)
    return (
        probed.join(cells, "cell")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
    )


def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-5 via an IVF (inverted-file) index: k-means
    cells + probe-N search, exact re-rank inside probed cells — the
    raw neighbor output; the registered query wraps it in the recall
    check (see ``q_similarity_ann_ivf``).

    The headline ANN path (see the lists/probe sizing note above):
    train ``_ivf_lists(n)`` cell centroids (distributed Lloyd, mergeable
    partials), assign each corpus vector to its nearest cell
    (map-only), then for each query probe the ``_IVF_PROBE`` nearest
    cells and compute exact cosine only against those cells' members —
    candidate volume ≈ probe/lists of the corpus (~6% measured). The
    cell assignment shuffles nothing; the probe join shuffles on cell
    id. Re-rank exactness is covered by ``similarity_topk_cosine``.
    """
    cells, probed = _ivf_cells_and_probes(spark, sf_dir)
    # Norms once per SIDE ROW (the mapInPandas index schemas don't
    # carry them), never per joined pair.
    cells = cells.withColumn("cn", l2_norm(F.col("ce")))
    probed = probed.withColumn("qn", l2_norm(F.col("qe")))
    cos = cosine_from_norms(
        dot(F.col("qe"), F.col("ce")), F.col("qn"), F.col("cn")
    )
    return _topk_output(
        probed.join(cells, "cell")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", cos.alias("cos"))
    )


def q_similarity_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with an in-query recall grade — same contract as
    ``q_similarity_ann_lsh``: the full ``ann_ivf_topk`` path runs and
    is graded against the exact top-k; the oracle verifies
    (n_queries, k) exactly and the recall-floor boolean as TRUE."""
    return _recall_check(
        spark,
        sf_dir,
        ann_ivf_topk(spark, sf_dir),
        _IVF_RECALL_FLOOR_HITS,
    )


def q_embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector symmetric int8 quantization of the embedding column,
    with reconstruction-error stats — the storage/serving compression
    step of an embedding pipeline (4× smaller than float32, 8× smaller
    than float64).

    Entirely Catalyst higher-order functions (transform / zip_with /
    array_max), zero shuffle, zero Python: per row, scale =
    max|x| / 127, q_i = floor(x_i / scale + 0.5) — the /127 is folded
    into scale (explicit floor(+0.5) instead of round(): both engines
    evaluate the same IEEE ops, no rounding-mode ambiguity) — and
    error = max_i |x_i − q_i · scale|. Elements are cast float→double up front (exact), so
    every arithmetic step is bit-identical in Spark and DuckDB and the
    doubles hash-match without tolerance.

    At 100 TB this is a map-only pass that Parquet-encodes int8 arrays
    — the plan is scan → project, nothing else.
    """
    e = table(spark, sf_dir, "embeddings")
    emb = F.transform("embedding", lambda x: x.cast("double"))
    d = e.select("vec_id", emb.alias("emb"))
    scale = F.array_max(F.transform("emb", lambda x: F.abs(x))) / F.lit(127.0)
    d = d.withColumn("scale", scale)
    # scale = 0 ⇔ all-zero vector: x/0 would yield NaN (Spark) vs a
    # CAST error (DuckDB) — short-circuit to the all-zero quantization
    # identically on both sides (ADVICE r3).
    q = F.transform(
        "emb",
        lambda x: F.when(F.col("scale") == 0, F.lit(0))
        .otherwise(F.floor(x / F.col("scale") + F.lit(0.5)))
        .cast("int"),
    )
    d = d.withColumn("q", q)
    deq = F.zip_with(
        "emb", "q", lambda x, v: F.abs(x - v.cast("double") * F.col("scale"))
    )
    return d.select(
        "vec_id",
        F.col("scale").alias("q_scale"),
        F.array_min("q").alias("q_min"),
        F.array_max("q").alias("q_max"),
        F.array_max(deq).alias("max_abs_err"),
    )


QUERIES = {
    "similarity_topk_cosine": q_similarity_topk_cosine,
    "similarity_ann_lsh": q_similarity_ann_lsh,
    "similarity_ann_ivf": q_similarity_ann_ivf,
    "embedding_quantize_int8": q_embedding_quantize_int8,
}

# NULLIF on the divisor: x/0 is NULL only on duckdb<=1.0 (>=1.1
# defaults to IEEE ±inf/NaN, and a NaN cosine would sort ABOVE every
# real in ORDER BY cos DESC, admitting a zero-norm row into the top-k
# that Spark's try_divide NULL excludes — review wave 6 find).
_COS_SQL = """
    LIST_DOT_PRODUCT(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[]))
    / NULLIF(SQRT(LIST_DOT_PRODUCT(CAST(q.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])))
       * SQRT(LIST_DOT_PRODUCT(CAST(c.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[]))), 0)
"""

ORACLE = {
    "similarity_topk_cosine": f"""
        SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id,
               ROUND(cos, 6) AS cos_sim
        FROM (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   {_COS_SQL} AS cos,
                   ROW_NUMBER() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY {_COS_SQL} DESC, c.vec_id
                   ) AS rank
            FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
            WHERE q.vec_id < {_N_QUERIES}
        )
        WHERE rank <= {_TOP_K}
    """,
    # The ANN pair emits its own recall grade (r8): the oracle
    # recomputes n_queries/k exactly and asserts the floor boolean.
    "similarity_ann_lsh": f"""
        SELECT CAST(COUNT(DISTINCT vec_id) AS BIGINT) AS n_queries,
               CAST({_TOP_K} AS BIGINT) AS k,
               TRUE AS recall_floor_met
        FROM embeddings WHERE vec_id < {_N_QUERIES}
    """,
    "similarity_ann_ivf": f"""
        SELECT CAST(COUNT(DISTINCT vec_id) AS BIGINT) AS n_queries,
               CAST({_TOP_K} AS BIGINT) AS k,
               TRUE AS recall_floor_met
        FROM embeddings WHERE vec_id < {_N_QUERIES}
    """,
    "embedding_quantize_int8": """
        WITH d AS (
            SELECT vec_id,
                   CAST(embedding AS DOUBLE[]) AS emb,
                   LIST_MAX(LIST_TRANSFORM(CAST(embedding AS DOUBLE[]),
                                           x -> ABS(x))) / 127.0 AS q_scale
            FROM embeddings
        ),
        q AS (
            SELECT vec_id, emb, q_scale,
                   LIST_TRANSFORM(emb,
                       x -> CAST(CASE WHEN q_scale = 0 THEN 0
                                      ELSE FLOOR(x / q_scale + 0.5)
                                 END AS INT)) AS qv
            FROM d
        )
        SELECT vec_id, q_scale,
               LIST_MIN(qv) AS q_min,
               LIST_MAX(qv) AS q_max,
               LIST_MAX(LIST_TRANSFORM(LIST_ZIP(emb, qv),
                   p -> ABS(p[1] - CAST(p[2] AS DOUBLE) * q_scale)))
                   AS max_abs_err
        FROM q
    """,
}
