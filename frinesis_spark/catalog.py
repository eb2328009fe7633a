"""Table loaders for the driver's synthetic star schema (TESTDATA.md).

All queries read through :func:`table` so the parquet scan is declared
once — Catalyst handles column pruning and predicate pushdown from the
downstream plan into the scan (verify with ``.explain``: ``PushedFilters``
/ ``ReadSchema``).
"""

from __future__ import annotations

import atexit
import os
import shutil
import sys
import tempfile
import weakref
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


# path -> (stat signature, unit). Keyed by PATH with the signature in
# the value (not the key): a fixture regenerated in-process replaces
# its entry instead of accumulating one dead 10k-element key per
# rewrite (r10 review wave).
_TS_UNIT_CACHE: dict[str, tuple] = {}


def _stat_sig(paths: list[str]) -> tuple:
    """Per-file (path, size, mtime_ns) signature — ONE stat per file.

    The shared cheap-invalidation fingerprint idiom (same shape as
    caches.corpus_fingerprint, which hashes its signature because its
    keys travel; this one stays in-process)."""
    out = []
    for p in paths:
        st = os.stat(p)
        out.append((p, st.st_size, st.st_mtime_ns))
    return tuple(out)


def _table_files(sf_dir: str, name: str) -> list[str]:
    """The parquet file list backing one table (single file or dir)."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    if os.path.isdir(path):
        return [
            os.path.join(path, n)
            for n in sorted(os.listdir(path))
            if n.endswith(".parquet")
        ]
    return [path]


def events_ts_unit(path: str) -> str:
    """Physical parquet type of ``events.ts``, probed from the footer.

    Returns ``"ns"`` (TIMESTAMP(NANOS) — Spark's vectorized reader
    rejects it, so we must read nanos-as-long), or ``"ts"`` for any
    native timestamp precision Spark loads directly. The fixture has
    drifted between rounds (ns in r1, µs since r2), so this is probed,
    never assumed. Footer-only read: O(KB) regardless of file size.
    """
    probes = [path]
    if os.path.isdir(path):
        names = sorted(n for n in os.listdir(path) if n.endswith(".parquet"))
        if not names:
            raise RuntimeError(
                f"fixture schema changed: no .parquet files under {path} — "
                f"update catalog.py / FIXTURES.md for the new layout"
            )
        probes = [os.path.join(path, n) for n in names]
    # Stat-signature invalidation — a file regenerated IN-PROCESS at
    # the same path with a different ts unit previously kept the stale
    # classification and read µs values through div-1000 with no error
    # (r9 review wave 6). Stat-only, one syscall per file.
    sig = _stat_sig(probes)
    cached = _TS_UNIT_CACHE.get(path)
    if cached is not None and cached[0] == sig:
        return cached[1]
    import pyarrow as pa
    import pyarrow.parquet as pq

    # Bounded probe set: first + last + evenly spaced middles (≤8
    # footers). Mixed-unit dirs are pathological (the generator writes
    # one unit) — the check is a tripwire, not a guarantee, and a
    # 10k-file staged dir must not pay 10k synchronous footer reads
    # before the first query (r9 review wave 6).
    if len(probes) > 8:
        step = max(1, len(probes) // 8)
        probes = probes[::step][:7] + [probes[-1]]

    def classify(probe: str) -> str:
        t = pq.read_schema(probe).field("ts").type
        unit = getattr(t, "unit", None)
        if unit == "ns" or t == pa.int64():
            # Arrow reports BOTH parquet TIMESTAMP(NANOS) and INT96 as
            # timestamp[ns]; Spark loads INT96 natively but rejects
            # TIMESTAMP(NANOS) — distinguish via the PHYSICAL type
            # (r8: an INT96-written fixture broke the ns branch with a
            # 'ts div 1000' type error).
            pf_schema = pq.ParquetFile(probe).schema
            idx = pf_schema.names.index("ts")
            if pf_schema.column(idx).physical_type == "INT96":
                return "ts"
            return "ns"  # nanos: legacy long read + div-1000 conversion
        if unit in ("s", "ms", "us"):
            return "ts"  # Spark loads these natively
        raise RuntimeError(
            f"fixture schema changed: events.ts is now {t} (expected a "
            f"parquet timestamp or int64 nanos) — update catalog.py / "
            f"FIXTURES.md for the new type"
        )

    units = {classify(p) for p in probes}
    if len(units) > 1:
        # A mixed-unit dir cannot be read with one reader config; the
        # ns branch flips a session-wide legacy flag.
        raise RuntimeError(
            f"fixture schema changed: events dir {path} mixes ts units "
            f"{sorted(units)} across files — update catalog.py for a "
            f"per-file read strategy"
        )
    out = units.pop()
    _TS_UNIT_CACHE[path] = (sig, out)
    return out


# --- splittable scan staging (r15, guide §2.5 / §6) ------------------
#
# The driver's fixtures are single parquet files with ONE row group
# each (probed at sf0.1: lineitem 600k rows / 1 row group). A Spark
# scan task processes whole row groups, so every scan of such a file —
# and everything fused into the scan stage: filters, projections,
# partial aggregation, ArrowEvalPython — runs as ONE task no matter
# how many cores the session has. This is the guide's "one huge
# unsplittable file" input-skew case verbatim, and its prescribed fix:
# repair the layout at the source. Each table is re-chunked ONCE PER
# PROCESS into a multi-row-group copy (pyarrow byte-level rewrite:
# same schema, same values, same row order — only the row-group
# boundaries change), staged under a process-private temp dir that is
# deleted at interpreter exit. Nothing persists across runs and no
# query result or derived value is stored — every invocation still
# computes from (a bit-equal relayout of) the parquet inputs.
#
# At cluster scale this is a no-op: production tables arrive as many
# files/row groups already (the num_row_groups >= target guard), so
# the staging cost exists only where the problem does.
#
# Kill switch: SPARK_GRAFT_SPLIT_STAGE=0 reads the originals untouched.

# (name, stat-sig) -> staged path (or None = not beneficial, read the
# original). Keyed on the stat signature so an in-process fixture
# rewrite re-stages instead of serving stale bytes (the
# events_ts_unit invalidation idiom).
_SPLIT_STAGE: dict[tuple, str | None] = {}
_SPLIT_DIRS: list[str] = []

_SPLIT_MIN_BYTES = 1 << 20  # leave sub-MiB dimension tables alone
_SPLIT_TARGET_GROUPS = 64  # supports up to 64-way scan parallelism
_SPLIT_MIN_ROWS_PER_GROUP = 4096  # vectorized-reader efficiency floor
# Upper staging cap (r16, VERDICT item 3): past this, a relayout costs
# a full read+rewrite of the table before the first query — at that
# size the layout should be fixed where the table is WRITTEN (guide
# §6), not re-staged per process. Skipped tables scan the original
# (one task per row group — slow but correct) with a stderr note.
_SPLIT_MAX_BYTES = int(
    os.environ.get("SPARK_GRAFT_SPLIT_MAX_BYTES", str(4 << 30))
)

# name -> relayout seconds for this process's staged tables; bench.py
# records it in BENCH_full.json so the per-run setup cost the warm
# timings exclude stays visible (VERDICT r15 item 4).
SPLIT_STAGE_SECONDS: dict[str, float] = {}


def _parquet_column_types(path: str) -> list[tuple]:
    """(name, physical, logical) per column from one file's footer."""
    import pyarrow.parquet as pq

    s = pq.ParquetFile(path).schema
    return [
        (
            s.column(i).name,
            s.column(i).physical_type,
            str(s.column(i).logical_type),
        )
        for i in range(len(s.names))
    ]


def _timestamp_types_preserved(orig: str, staged: str) -> bool:
    """True when every timestamp-bearing column keeps its parquet
    physical/logical type across the relayout (ADVICE r15): pyarrow's
    v2.6 writer maps INT96 → TIMESTAMP(NANOS), which Spark's
    vectorized reader REJECTS (and the ns branch then flips a
    session-global legacy flag the fixture never required). Value
    equality is already guaranteed by the byte-level rewrite; this
    guards the TYPE, and only for timestamp columns — benign encoding
    differences elsewhere must not forfeit the relayout."""

    def ts_cols(types):
        return [
            t
            for t in types
            if t[1] == "INT96" or "Timestamp" in t[2] or "Time" in t[2]
        ]

    return ts_cols(_parquet_column_types(orig)) == ts_cols(
        _parquet_column_types(staged)
    )


@atexit.register
def _cleanup_split_dirs() -> None:  # pragma: no cover - exit hook
    for d in _SPLIT_DIRS:
        shutil.rmtree(d, ignore_errors=True)


def _split_staged_path(sf_dir: str, name: str) -> str:
    """Path to scan for ``name``: a per-process multi-row-group
    relayout when the backing files are too coarse to parallelize,
    else the original path."""
    orig = os.path.join(sf_dir, f"{name}.parquet")
    if os.environ.get("SPARK_GRAFT_SPLIT_STAGE", "1") == "0":
        return orig
    try:
        files = _table_files(sf_dir, name)
        sig = _stat_sig(files)
    except OSError:
        return orig  # vanished/racing fixture: let the scan raise
    key = (name, sig)
    if key in _SPLIT_STAGE:
        staged = _SPLIT_STAGE[key]
        return staged if staged is not None else orig
    staged: str | None = None
    try:
        total_bytes = sum(os.path.getsize(p) for p in files)
        if total_bytes > _SPLIT_MAX_BYTES:
            print(
                f"split-staging of {name} skipped: {total_bytes} bytes "
                f"> cap {_SPLIT_MAX_BYTES} (fix the layout at the "
                "writer, or raise SPARK_GRAFT_SPLIT_MAX_BYTES)",
                file=sys.stderr,
            )
        elif total_bytes >= _SPLIT_MIN_BYTES:
            import time as _time

            import pyarrow.parquet as pq

            t0 = _time.perf_counter()
            pfs = [pq.ParquetFile(p) for p in files]
            rows = sum(pf.metadata.num_rows for pf in pfs)
            groups = sum(pf.metadata.num_row_groups for pf in pfs)
            target = min(
                _SPLIT_TARGET_GROUPS,
                max(1, rows // _SPLIT_MIN_ROWS_PER_GROUP),
            )
            if groups < target:
                outdir = tempfile.mkdtemp(prefix=f"fs_rgsplit_{name}_")
                _SPLIT_DIRS.append(outdir)
                per_group = max(
                    _SPLIT_MIN_ROWS_PER_GROUP, -(-rows // target)
                )
                for i, pf in enumerate(pfs):
                    # Byte-level rechunk: schema, values and row order
                    # are preserved exactly; only row-group boundaries
                    # (and their min/max stats, a pushdown bonus)
                    # change. version=2.6 keeps ns/µs timestamp
                    # physical types as-is instead of legacy coercion.
                    # STREAMED (r16, VERDICT item 3): iter_batches →
                    # ParquetWriter holds one ~per_group-row batch in
                    # memory at a time, never the whole table — the
                    # read_table form materialized exactly the
                    # single-huge-row-group pathology this fix targets
                    # in DRIVER memory.
                    out = os.path.join(outdir, f"part-{i:05d}.parquet")
                    with pq.ParquetWriter(
                        out,
                        pf.schema_arrow,
                        version="2.6",
                        use_deprecated_int96_timestamps=False,
                    ) as writer:
                        for batch in pf.iter_batches(batch_size=per_group):
                            writer.write_batch(batch)
                # Timestamp-type guard (ADVICE r15): a relayout that
                # changes a timestamp column's parquet type (INT96 →
                # TIMESTAMP(NANOS)) would reroute the read through the
                # legacy nanos branch — discard it, keep the original.
                # Every file is checked: one INT96 file anywhere in a
                # multi-file table is enough to reroute the read.
                if all(
                    _timestamp_types_preserved(
                        f, os.path.join(outdir, f"part-{i:05d}.parquet")
                    )
                    for i, f in enumerate(files)
                ):
                    staged = outdir
                else:
                    print(
                        f"split-staging of {name} discarded: relayout "
                        "changed a timestamp column's parquet type; "
                        "scanning the original layout",
                        file=sys.stderr,
                    )
                    shutil.rmtree(outdir, ignore_errors=True)
                    _SPLIT_DIRS.remove(outdir)
                if staged is not None:
                    SPLIT_STAGE_SECONDS[name] = round(
                        _time.perf_counter() - t0, 3
                    )
    except Exception as exc:  # staging is an optimization, never a gate
        print(
            f"split-staging of {name} failed ({type(exc).__name__}: "
            f"{exc}); scanning the original layout",
            file=sys.stderr,
        )
        staged = None
    _SPLIT_STAGE[key] = staged
    return staged if staged is not None else orig


def read_events(
    spark: SparkSession,
    path: str,
    load: Callable[[str], DataFrame] | None = None,
) -> DataFrame:
    """The events table at ``path`` (a file or a directory of parquet
    files) with ``ts`` as TIMESTAMP_NTZ whatever the fixture writes —
    the one place the ns/µs decision lives, shared by :func:`table` and
    the stream reader (``streaming.runner.replay``, which passes its
    ``readStream`` as ``load``; the default is ``spark.read.parquet``).

    Parquet TIMESTAMP(NANOS) is read as raw nanos
    (``spark.sql.legacy.parquet.nanosAsLong`` — the vectorized reader
    rejects ns timestamps) and converted with integer ``div`` (lossless:
    the generator emits µs-precision values); native timestamps pass
    straight through with a no-op-or-tz-strip cast. The branch is driven
    by a footer probe (:func:`events_ts_unit`), not a hard-coded
    assumption — the fixture changed ns→µs between rounds once already.
    """
    from pyspark.sql import functions as F

    # The LTZ→NTZ cast below renders wall-clock in the SESSION zone: on
    # a non-UTC session every events.ts would silently shift by the UTC
    # offset vs the naive-timestamp DuckDB oracle (r9 review wave 6).
    # get_spark pins UTC; an externally built session must too — fail
    # loudly instead of diverging quietly.
    tz = spark.conf.get("spark.sql.session.timeZone")
    if tz not in ("UTC", "Etc/UTC", "GMT", "Z", "+00:00"):
        raise RuntimeError(
            f"events requires spark.sql.session.timeZone=UTC (got "
            f"{tz!r}): the ts normalization and every oracle compare "
            "wall-clocks in UTC — build the session via "
            "frinesis_spark.session.get_spark or set the conf"
        )
    if events_ts_unit(path) == "ns":
        # Set before ``load`` analyses the files. The flag is
        # session-global by Spark's design (analysis-time), so it is
        # deliberately not restored: restoring it would break this
        # DataFrame's own lazy re-analysis.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        ts = F.expr("timestamp_micros(ts div 1000)")
    else:
        ts = F.col("ts")
    df = (load or spark.read.parquet)(path)
    return df.withColumn("ts", ts.cast("timestamp_ntz"))


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one table of the schema as a DataFrame (lazy parquet scan).

    ``events`` goes through :func:`read_events`, which normalizes
    ``ts`` to TIMESTAMP_NTZ whatever the fixture's physical type.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    path = _split_staged_path(sf_dir, name)
    if name == "events":
        # Probe the STAGED path: the relayout preserves physical types
        # (v2.6 write), but classification must follow whatever file
        # the scan actually reads.
        return read_events(spark, path)
    return spark.read.parquet(path)


def spread(df: DataFrame, min_parts: int = 0) -> DataFrame:
    """Repartition ONLY when the scan yields fewer partitions than
    the target: an unconditional repartition is a full shuffle of the
    corpus, never the advertised no-op — at real scale the scan
    already has many splits and this returns df as-is. (Hoisted from
    similarity.py so the dedup artifact builders share one
    definition — they each carried the unconditional form.)

    ``min_parts`` (r15): row-expanding builders pass a DATA-
    PROPORTIONAL floor so per-task output stays bounded as the corpus
    grows — the shingle-index explode at 5M docs OOMed a 96 GiB heap
    when 32 fixed partitions each had to materialize ~8M string rows
    (measured, tools/bench_scaling100.py); partition count must scale
    with volume, not core count (SCALE.md principles)."""
    par = max(
        df.sparkSession.sparkContext.defaultParallelism, min_parts
    )
    if df.rdd.getNumPartitions() >= par:
        return df
    return df.repartition(par)


def session_key(spark: SparkSession) -> tuple[str, int]:
    """Stable cache key for per-session derived state.

    ``(applicationId, id(session))``: the applicationId changes whenever
    the SparkContext is stopped and recreated, so an ``id()`` recycled
    across contexts cannot collide with stale entries bound to a dead
    context (the ADVICE r4 session-id-reuse hazard); ``id(session)``
    disambiguates sibling sessions sharing one context
    (``newSession()``), since temp views and cached DataFrames are
    session-scoped. Within ONE context a recycled ``id()`` CAN still
    collide (ADVICE r5) — safe only for caches whose values hold a
    reference to the session (all the DataFrame caches do, which pins
    the session alive for the entry's lifetime). Caches with
    session-free values must key weakly on the session object instead
    (see ``_VIEWS_CACHE``).
    """
    return (spark.sparkContext.applicationId, id(spark))


# session -> sf_dir of the last registration. Temp views are
# session-scoped and the scans are lazy, so re-registering the same dir
# is pure overhead (10 footer/schema reads per SQL query call — measured
# as sql_tpch_q3's r3 1.36× drift vs r1). Keyed WEAKLY on the session
# object itself (ADVICE r5): the value is a plain string that pins
# nothing, so an id()-based key could be recycled by a later sibling
# session and wrongly skip its registration; a WeakKeyDictionary entry
# dies with its session, so a recycled id can never alias a live entry.
_VIEWS_CACHE: "weakref.WeakKeyDictionary[SparkSession, tuple]" = (
    weakref.WeakKeyDictionary()
)

# The TPC-H suite's view set — registering ONLY these contains the
# blast radius: an events/documents/embeddings fixture problem (ts
# type the probe rejects, missing file) must not error all 22 SQL
# queries that never read those tables (r9 review wave 6).
RELATIONAL_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
)


def register_views(
    spark: SparkSession,
    sf_dir: str,
    force: bool = False,
    tables: tuple = TABLES,
) -> None:
    """Register tables as temp views for the SQL-string API.

    Idempotent and INCREMENTAL per (session, sf_dir): repeat calls
    register only the not-yet-registered subset; a different sf_dir
    re-registers from scratch. Each registration records the table's
    stat signature, so a fixture regenerated IN-PROCESS at the same
    path re-registers instead of serving a stale view plan (r10 review
    wave — the same hazard events_ts_unit stat-invalidates; cost is
    ~one stat syscall per table per call, preserving the footer-read
    savings the cache exists for). Keyed weakly on the session object,
    so a dead session's entry vanishes with it (no id-reuse aliasing)
    and a stopped-then-recreated context re-registers; ``force=True``
    re-registers the REQUESTED tables only (e.g. after dropping a
    view), leaving the others' records intact.
    """
    cached_dir, done = _VIEWS_CACHE.get(spark, (None, {}))
    if cached_dir != sf_dir:
        done = {}
    elif force:
        done = {n: s for n, s in done.items() if n not in tables}
    done = dict(done)
    for name in tables:
        try:
            sig = _stat_sig(_table_files(sf_dir, name))
        except OSError:
            # Table files vanished (or a listing raced a rewrite)
            # AFTER a successful registration (ADVICE r10): keep
            # serving the existing view — the pre-stat-invalidation
            # no-op behavior — and let the actual scan raise if a
            # query really touches the missing table. A
            # never-registered table registers anyway, so the eager
            # schema read surfaces Spark's own PATH_NOT_FOUND (clearer
            # than this probe's FileNotFoundError, and only for a
            # table someone actually asked for).
            if name in done:
                continue
            table(spark, sf_dir, name).createOrReplaceTempView(name)
            continue
        if done.get(name) != sig:
            table(spark, sf_dir, name).createOrReplaceTempView(name)
            done[name] = sig
    _VIEWS_CACHE[spark] = (sf_dir, done)
