"""The derived-artifact cache: one memo for every per-corpus artifact.

The dedup/similarity operators build derived artifacts once per
(session, corpus) and serve repeat queries from them (the
persisted-index pattern; see SCALE.md). Every such artifact is
resolved by :func:`artifact`, the one memo:

- documents-keyed: ``shingle_index`` (DF-capped inverted index),
  ``shingle_sizes`` (per-doc shingle counts), ``minhash_signatures``,
  ``simhash_fingerprints``, ``simhash_floor`` (the recall-floor int);
- embeddings-keyed: ``ivf_index`` ((cells DataFrame, centroids
  ndarray)), ``lsh_index`` (corpus bucket table), ``emb_membership``
  (the multi-assignment table).

The key is ``(session_key, sf_dir, fingerprint)`` and each artifact
name holds at most 4 entries, least recently used evicted first. With
``SPARK_GRAFT_INDEX_STORE`` set (store mode) the fingerprint is the
source table's :func:`corpus_fingerprint`, and the artifacts in
``STORED`` persist as parquet under
``$SPARK_GRAFT_INDEX_STORE/<name>/fp=<fingerprint>/``; the others stay
session-local. With it unset the fingerprint slot is "" (fixtures are
immutable within a run).

Any steady-state timing is therefore a WARM measurement;
:func:`clear_derived_caches` drops every entry so a caller (bench.py's
cold reps, perfbench's cold half, tests) can measure or re-exercise
the build path from scratch.
"""

from __future__ import annotations

import os

# The artifacts that persist in store mode; every other artifact is
# memo-only in both modes.
STORED = frozenset({"shingle_index", "shingle_sizes"})
_HELD = 4  # entries held per artifact name

# name -> {(session_key, sf_dir, fingerprint): value}, insertion-ordered
# with hits moved to the end, so the front entry is the LRU one.
_MEMO: dict[str, dict[tuple, object]] = {}


def corpus_fingerprint(sf_dir: str, table: str = "documents") -> str:
    """Content-identity of one source table: (path, size, mtime_ns) of
    every data file, hashed. Stat-only (no data read); any refresh —
    rewrite, append, compaction — changes it. Raises on a missing
    table: a degenerate constant fingerprint could HIT a previously
    stored artifact and silently answer from the wrong corpus."""
    import glob
    import hashlib

    p = os.path.join(sf_dir, f"{table}.parquet")
    paths = [p] if os.path.isfile(p) else sorted(
        glob.glob(os.path.join(p, "*.parquet"))
    )
    if not paths:
        raise FileNotFoundError(
            f"no {table} parquet under {sf_dir!r} — cannot fingerprint"
        )
    h = hashlib.md5()
    for f in paths:
        st = os.stat(f)
        h.update(f"{f}|{st.st_size}|{st.st_mtime_ns}".encode())
    return h.hexdigest()[:16]


def artifact(
    spark, sf_dir: str, name: str, build, table: str = "documents",
    checkpoint: bool = False,
):
    """The derived artifact ``name`` of ``sf_dir``'s ``table``, built
    by ``build()`` on a miss.

    ``checkpoint=True`` materializes a DataFrame build with an eager
    localCheckpoint, except when store mode writes it: the parquet
    write is then the materialization, and a checkpoint as well would
    run one redundant job per miss. In store mode the fingerprint is
    computed once per lookup and serves both the memo key and the
    store directory, so the two can never name different corpora.
    """
    from frinesis_spark.catalog import session_key

    store = os.environ.get("SPARK_GRAFT_INDEX_STORE")
    fp = corpus_fingerprint(sf_dir, table) if store else ""
    memo = _MEMO.setdefault(name, {})
    key = (session_key(spark), sf_dir, fp)
    if key in memo:
        memo[key] = val = memo.pop(key)  # refresh recency on a hit
        return val
    if store and name in STORED:
        val = _load_or_write(spark, os.path.join(store, name), fp, build)
    else:
        val = build()
        if checkpoint:
            val = val.localCheckpoint(eager=True)
    memo[key] = val
    if len(memo) > _HELD:
        # LRU, not a wipe: a session alternating over 5 corpora kept a
        # 0% hit rate when a full cache was cleared per miss.
        del memo[next(iter(memo))]
    return val


def _load_or_write(spark, base: str, fp: str, build):
    """Store mode: a fingerprint hit is a plain parquet scan (zero
    recompute, survives session restarts); a miss builds once, writes,
    and reclaims all but the newest superseded fingerprint directory.
    Keeping one generation back matters for correctness: store-mode
    frames are LAZY parquet scans, so a caller holding a frame built
    before a corpus refresh still reads the previous fingerprint's
    files mid-job."""
    import glob
    import shutil

    path = os.path.join(base, f"fp={fp}")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        build().write.mode("overwrite").parquet(path)
        superseded = sorted(
            (d for d in glob.glob(os.path.join(base, "fp=*")) if d != path),
            key=os.path.getmtime,
            reverse=True,
        )
        for d in superseded[1:]:
            shutil.rmtree(d, ignore_errors=True)
    return spark.read.parquet(path)


def clear_derived_caches() -> int:
    """Drop every derived artifact; returns the number of entries
    dropped.

    Block reclamation: most values are ``localCheckpoint``-backed
    DataFrames, whose blocks ``Dataset.unpersist()`` does NOT release
    (it only uncaches ``persist()``/``cache()`` state). Dropping the
    LAST reference here is the release path: the Python handle goes,
    py4j GC releases the JVM Dataset, and Spark's ContextCleaner
    unpersists the unreachable checkpointed RDD's blocks
    asynchronously. ``unpersist()`` still covers any plain
    ``persist()``-cached value.
    """
    dropped = 0
    for memo in _MEMO.values():
        dropped += len(memo)
        for value in memo.values():
            # A DataFrame, an int, or a tuple holding one (ivf_index).
            for f in value if isinstance(value, tuple) else (value,):
                if hasattr(f, "unpersist"):
                    try:
                        f.unpersist()
                    except Exception:
                        pass  # session already stopped — nothing to free
        memo.clear()
    return dropped
