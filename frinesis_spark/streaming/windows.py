"""Event-time windowing queries (SURVEY.md §2B ``stream_*`` rows).

The reference ignores event time entirely (its Msg timestamp is never
read — /root/reference/sink.go:76), so this layer is driven by the
BASELINE.json mandate, built on Spark's native event-time machinery:

- tumbling / sliding / session windows: ``F.window`` /
  ``F.session_window`` — identical semantics in batch and streaming,
  so the oracle-checked entries here run the batch form and
  tests/test_streaming.py replays the same pipelines through a real
  ``readStream`` source and asserts equal results.
- ``stream_watermark_late`` and ``stream_dedup_stateful`` run the REAL
  streaming engine inside the query (file-source replay → parquet file
  sink → lazy scan, no driver materialization): watermark-gated append
  output and stateful dropDuplicates are behaviors batch execution
  cannot emulate.

Scale: windowed aggregation shuffles on (window, key) — bounded state
per key; watermarks bound state size on unbounded streams, which is
exactly the 100 TB/day concern. Session windows merge gap-contiguous
state per user — state is O(active sessions), not O(events).
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from frinesis_spark.catalog import table
from frinesis_spark.functions.numeric import dsum, oracle_dsum
from frinesis_spark.streaming.runner import (
    events_stream,
    replay,
    run_append_to_files,
    run_to_completion,
    set_mtimes_in_order,
    stage,
    track_output_dir,
)

_WATERMARK = "10 minutes"
_SESSION_GAP = "30 minutes"


def _events_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    return table(spark, sf_dir, "events")


def q_stream_tumbling_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour tumbling window per event_type (batch form; the streaming
    replay of this exact pipeline is asserted equal in tests)."""
    e = _events_batch(spark, sf_dir)
    return (
        e.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value").alias("sum_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def q_stream_sliding_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10-minute window sliding every 5 minutes — each event lands in
    exactly two windows."""
    e = _events_batch(spark, sf_dir)
    return (
        e.groupBy(F.window("ts", "10 minutes", "5 minutes"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "event_type",
            "n_events",
        )
    )


def q_stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user session windows with a 30-minute inactivity gap.

    Spark semantics: session end = last event + gap; an event arriving
    EXACTLY at the previous session's end still merges (probed: windows
    [10:00,10:30) + an event at 10:30 form one session) — a session
    splits only when the inter-event gap STRICTLY exceeds the gap
    duration. The oracle reproduces this with lag()+cumsum
    sessionization on a strict `>` split; the r6 adversarial
    differential test caught the original `>=` oracle diverging on an
    exactly-30:00.000000 gap, a boundary the fixture's timestamps
    never hit.
    """
    e = _events_batch(spark, sf_dir)
    return (
        e.groupBy(F.session_window("ts", _SESSION_GAP), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value").alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


def q_stream_watermark_late(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL streaming: tumbling agg gated by a 10-minute watermark,
    replayed through a file stream source into a parquet file sink.

    Append mode only emits windows the watermark has passed, so the
    result is the batch aggregation MINUS windows newer than
    max(ts) - 10min — which is exactly what the oracle computes. This
    checks actual watermark semantics (state eviction + late-window
    suppression) against SQL, not an emulation.
    """
    ev = events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", _WATERMARK)
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value").alias("sum_value"),
        )
        .select(
            F.col("window.start").cast("timestamp_ntz").alias("window_start"),
            F.col("window.end").cast("timestamp_ntz").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )
    return run_append_to_files(agg)


def q_stream_incremental_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL multi-micro-batch streaming: the same watermarked hourly
    rollup as ``stream_watermark_late``, but replayed as FOUR
    time-ordered files with ``maxFilesPerTrigger=1`` — four
    micro-batches instead of one. This is the one streaming shape a
    single-file replay cannot exercise: per-window aggregation STATE
    carried and MERGED across micro-batch boundaries (an hour window
    straddling a file boundary accumulates across two batches), the
    watermark advancing monotonically batch to batch, and windows
    emitting exactly when the watermark passes them. The emitted set
    is the same final-watermark contract as the single-batch replay —
    which is the point: cross-batch execution must not change the
    answer, and the oracle (batch agg minus windows newer than
    max(ts) − 10min) verifies it by hash.

    Scale: this IS production streaming's steady state — micro-batch
    after micro-batch against the same state store; the single-batch
    replays everywhere else are the degenerate first-batch case.
    """
    ev = events_stream(spark, sf_dir, files=4)
    agg = (
        ev.withWatermark("ts", _WATERMARK)
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value").alias("sum_value"),
        )
        .select(
            F.col("window.start").cast("timestamp_ntz").alias("window_start"),
            F.col("window.end").cast("timestamp_ntz").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )
    return run_append_to_files(agg)


def q_stream_dedup_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL streaming: stateful dropDuplicates on event_id.

    Emits each event_id the first time it is seen — EXACT global
    dedup, which is the declared contract (the oracle is plain
    DISTINCT) and therefore carries O(distinct ids) state by
    definition: ``dropDuplicates`` on a key subset WITHOUT the
    event-time column never evicts via the watermark (Spark only
    applies watermark eviction when event-time is among the dedup
    keys). On an unbounded stream the production swap is
    ``dropDuplicatesWithinWatermark(["event_id"])`` — bounded state,
    but a WEAKER contract (re-emits an id that recurs beyond the
    watermark delay), which would no longer match the DISTINCT
    oracle; the exact form is kept because exactness is what the
    driver verifies.
    """
    ev = events_stream(spark, sf_dir)
    # NO watermark (r9 review wave 9): event-time is not among the
    # dedup keys, so a watermark would not bound the dedup state at
    # all — but it WOULD arm StreamingDeduplicateExec's late-row DROP
    # filter, silently losing any event_id arriving >10 min behind the
    # max seen ts on a multi-batch replay (breaking the DISTINCT
    # oracle). State is O(distinct ids) by design either way; on a
    # true unbounded stream the bounded-state form is
    # dropDuplicatesWithinWatermark with event time IN the key.
    deduped = ev.dropDuplicates(["event_id"]).select("event_id")
    return run_append_to_files(deduped)


# --- bounded-state streaming dedup (r12, verdict item 6) -------------
#
# The replay fixture plants two duplicate populations over the events
# table (event_id is unique in the fixture, so duplicates must be
# synthesized to exercise dedup at all):
#   * event_id % _REPLAY_MOD == 0 → re-arrives at ts + 2 minutes:
#     inside the 10-minute watermark delay, so its first instance's
#     state is ALWAYS live on arrival → suppressed;
#   * event_id % _REPLAY_MOD == 1 → re-arrives at ts + 15 days: the
#     stream is staged into 7-DAY time buckets (one file = one
#     micro-batch), and 15d > 2×7d puts the replay ≥2 buckets after
#     its original — the margin that matters because Spark's
#     StreamingDeduplicateWithinWatermark removes expired keys at the
#     END of a batch using that batch's START watermark (one-batch
#     lag, measured r12: with an 8-day shift only the Δ=2 replays
#     re-emitted, 12/100): an original in bucket j is evicted by the
#     end of bucket j+1 at the latest (start-wm of j+1 = max ts of
#     bucket j − 10 min > original ts + 10 min whenever the original
#     sits ≥20 min before its bucket's max — and the only originals
#     that don't are in the last day of their bucket, whose +15d
#     replays land Δ=3 buckets out, past the j+2 eviction) — so every
#     replay processes after its original's state is gone →
#     re-emitted.
# Emission is therefore batch-boundary-INDEPENDENT: every original id
# once, plus every %==1 id a second time — a pure function of the data
# that the batch oracle reproduces with a UNION ALL. The output column
# is event_id only: a %==0 pair that lands inside one micro-batch may
# keep either row (within-batch processing order is nondeterministic),
# but both carry the same event_id.
_REPLAY_MOD = 100
_REPLAY_BUCKET = "7 days"  # replay shift > 2x bucket width


def _write_dedup_replay(spark: SparkSession, sf_dir: str, out: str) -> None:
    """Replay layout for :func:`runner.stage`: events ∪ planted replays
    in fixed 7-day time-bucket files (mtime in bucket order, one file
    per micro-batch).

    FIXED time width, not ``repartitionByRange``: count-balanced
    ranges would stretch over the sparse +8d tail (only 1% of rows
    live past day 30), producing a last bucket wider than the replay
    shift and collapsing original+replay into one micro-batch — the
    exact case the bucket-width < shift invariant forbids."""
    import os
    import shutil

    ev = table(spark, sf_dir, "events").select("event_id", "ts")
    rep_in = ev.where(F.col("event_id") % _REPLAY_MOD == 0).withColumn(
        "ts", F.col("ts") + F.expr("INTERVAL 2 MINUTES")
    )
    rep_out = ev.where(F.col("event_id") % _REPLAY_MOD == 1).withColumn(
        "ts", F.col("ts") + F.expr("INTERVAL 15 DAYS")
    )
    allr = ev.unionByName(rep_in).unionByName(rep_out)
    # NULL-ts rows would take a NULL bucket, match no per-bucket
    # filter below, and vanish from the staged stream while the
    # oracle still counts them (and downstream, the watermark
    # operator would drop them again) — fail loudly instead of
    # silently losing rows if a future fixture makes events.ts
    # nullable in practice (r13, ADVICE). Same agg as the min —
    # zero extra jobs.
    min_us, n_null_ts = ev.agg(
        F.min(F.unix_micros(F.col("ts").cast("timestamp"))),
        F.sum(F.col("ts").isNull().cast("int")),
    ).first()
    if n_null_ts:
        raise ValueError(
            f"dedup replay staging: {n_null_ts} NULL-ts events "
            "would be silently dropped by time-bucketing and the "
            "downstream watermark; filter or impute ts upstream"
        )
    bucket_us = 7 * 86_400 * 1_000_000
    bucketed = allr.withColumn(
        "_bkt",
        (
            (F.unix_micros(F.col("ts").cast("timestamp")) - F.lit(min_us))
            / F.lit(bucket_us)
        ).cast("long"),
    )
    n_buckets = bucketed.agg(F.max("_bkt")).first()[0] + 1
    files = []
    for k in range(int(n_buckets)):
        sub = os.path.join(out, f"_w{k}")
        (
            bucketed.where(F.col("_bkt") == k)
            .drop("_bkt")
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(sub)
        )
        (part,) = [f for f in os.listdir(sub) if f.endswith(".parquet")]
        files.append(os.path.join(out, f"bucket_{k:03d}.parquet"))
        os.rename(os.path.join(sub, part), files[-1])
        shutil.rmtree(sub, ignore_errors=True)
    set_mtimes_in_order(files)


def dedup_replay_stage(spark: SparkSession, sf_dir: str) -> str:
    """Staged directory of :func:`_write_dedup_replay`'s layout."""
    return stage(sf_dir, "dedup_replay", partial(_write_dedup_replay, spark, sf_dir))


def q_stream_dedup_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL streaming: BOUNDED-STATE dedup via
    ``dropDuplicatesWithinWatermark`` — the production swap that
    ``q_stream_dedup_stateful`` documents (its exact form carries
    O(distinct ids) state forever; this one's state is evicted once
    the watermark passes first-seen ts + delay, so state is O(ids per
    watermark horizon) on an unbounded stream).

    The weaker contract — an id recurring beyond the watermark delay
    re-emits — is exactly what the replay fixture makes checkable: the
    +2 min duplicates are always suppressed, the +15 day replays are
    always re-emitted (see the end-of-batch eviction-lag argument at
    ``_REPLAY_MOD``), so the oracle is plain
    ``events UNION ALL (events WHERE id % mod = 1)``. The state-stays-
    flat-vs-exact differential is pinned in
    tests/test_round12_fixes.py."""
    ev = replay(spark, dedup_replay_stage(spark, sf_dir))
    deduped = (
        ev.withWatermark("ts", _WATERMARK)
        .dropDuplicatesWithinWatermark(["event_id"])
        .select("event_id")
    )
    return run_append_to_files(deduped)


def q_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL streaming: stream-stream interval join (view→purchase
    attribution) — purchases matched to same-user views in the
    preceding 30 minutes.

    Both sides carry watermarks and the join condition bounds event
    time on both, so Spark can size and expire the join state — the
    requirement for stream-stream joins on unbounded input (state is
    O(events inside the interval), not O(stream)). Inner join in
    append mode emits exactly the matched pairs; on a bounded replay
    that equals the batch interval join the oracle runs.
    """
    ev = events_stream(spark, sf_dir)
    views = (
        ev.where(F.col("event_type") == "view")
        .select("user_id", F.col("ts").alias("view_ts"))
        .withWatermark("view_ts", _WATERMARK)
    )
    purchases = (
        ev.where(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("p_user"), F.col("ts").alias("purchase_ts"))
        .withWatermark("purchase_ts", _WATERMARK)
    )
    pairs = views.join(
        purchases,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("purchase_ts") > F.col("view_ts"))
        & (F.col("purchase_ts") <= F.col("view_ts") + F.expr("INTERVAL 30 MINUTES")),
    ).select(
        "user_id",
        F.col("view_ts").cast("timestamp_ntz").alias("view_ts"),
        F.col("purchase_ts").cast("timestamp_ntz").alias("purchase_ts"),
    )
    return run_append_to_files(pairs)


# Snapshot-store bucket count for the foreachBatch upsert. Local
# fixtures need few; at cluster scale this would be sized so one
# bucket's latest-per-key rows fit a single task comfortably
# (e.g. thousands of buckets for billions of keys).
_UPSERT_BUCKETS = 16


class _BucketedSnapshotStore:
    """Latest-row-per-key parquet snapshot, partitioned into
    ``pmod(hash(key), n_buckets)`` buckets so a micro-batch rewrites
    ONLY the buckets it touches (VERDICT r6 #4 — the previous design
    rewrote the FULL snapshot every batch: O(distinct keys) I/O per
    batch instead of O(batch)).

    Layout: each merge writes touched buckets under a fresh
    ``v{batch_id}_{attempt}/bucket={b}/`` directory. The attempt
    suffix matters: foreachBatch is at-least-once, and a replayed
    batch_id writing back into its own first attempt's directory
    would overwrite the very files its merge plan is lazily reading
    (read-your-own-target). A version dir is always written before
    any old file is deleted, so a crashed write leaves the old
    snapshot intact — and the replayed merge is idempotent
    (latest-per-key of the same rows). ``manifest`` maps bucket → its
    CURRENT directory, which may span many versions. Untouched
    buckets keep their existing directories byte-for-byte
    (tests/test_round7_fixes.py pins this). Superseded bucket dirs
    are reclaimed ONE MERGE LATE (same keep-one-generation contract
    as the dedup index store): a ``snapshot()`` frame is a lazy scan
    of manifest dirs, so it stays readable across one subsequent
    merge; disk holds at most two generations of the touched
    buckets. This is the poor-man's form of what a MERGE-capable
    table format (Delta/Iceberg) does with file-level rewrites + a
    table manifest.

    The manifest itself is persisted (``manifest.json`` in the base
    dir, atomic tmp+rename after every merge) and reloaded on
    construction, so a driver restart over the same base dir resumes
    the snapshot instead of silently starting empty (ADVICE r7); a
    replayed batch then merges idempotently (latest-per-key of the
    same rows — tests/test_round8_fixes.py pins the restart resume).
    """

    def __init__(self, base: str, key: str, order: list, n_buckets: int = _UPSERT_BUCKETS):
        import json
        import os

        self.base = base
        self.key = key
        self.order = order  # recency: first = newest wins
        self.n_buckets = n_buckets
        self.manifest: dict[int, str] = {}
        self._pending_reclaim: list[str] = []
        os.makedirs(base, exist_ok=True)
        # Restart safety (ADVICE r7): the manifest is persisted as a
        # small JSON beside the version dirs after every merge, so a
        # driver restart (foreachBatch replay from checkpoint) resumes
        # from the previously merged buckets instead of silently
        # starting an empty snapshot while old version dirs linger.
        mpath = os.path.join(base, "manifest.json")
        if os.path.exists(mpath):
            with open(mpath) as fh:
                saved = json.load(fh)
            buckets = {int(b): p for b, p in saved.get("buckets", {}).items()}
            missing = {b: p for b, p in buckets.items() if not os.path.exists(p)}
            if missing:
                # A manifest-referenced dir that is gone is snapshot
                # CORRUPTION — resuming without it would silently
                # serve a partial table (review find); fail loudly
                # like the rest of the store.
                raise RuntimeError(
                    "bucketed snapshot store manifest references missing "
                    f"bucket dirs {missing} under {base} — the snapshot "
                    "is corrupt; remove manifest.json to rebuild from "
                    "scratch"
                )
            self.manifest = buckets
            # Dirs the crashed run had queued for reclaim: safe to
            # reclaim on the next merge (their generation is two back
            # by now; no live reader from the dead process survives).
            self._pending_reclaim = [
                p for p in saved.get("pending", []) if os.path.exists(p)
            ]

    def _persist_manifest(self) -> None:
        """Atomic write (tmp + rename) so a crash mid-write leaves the
        previous manifest, matching the write-before-retarget contract
        of the data dirs themselves."""
        import json
        import os

        mpath = os.path.join(self.base, "manifest.json")
        tmp = mpath + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(
                {
                    "buckets": {str(b): p for b, p in self.manifest.items()},
                    "pending": list(self._pending_reclaim),
                },
                fh,
            )
        os.replace(tmp, mpath)

    def _bucket(self):
        return F.pmod(F.hash(F.col(self.key)), F.lit(self.n_buckets))

    def _reclaim_pending(self) -> None:
        """Delete the bucket dirs superseded by the PREVIOUS merge
        (keep-one-generation), plus any version dir left holding only
        marker files (_SUCCESS and .crc sidecars — Spark always writes
        them, so a bare emptiness check would leak one husk dir per
        batch)."""
        import os
        import shutil

        for old in self._pending_reclaim:
            shutil.rmtree(old, ignore_errors=True)
            parent = os.path.dirname(old)
            try:
                leftovers = [
                    e
                    for e in os.listdir(parent)
                    if not e.startswith("_") and not e.startswith(".")
                ]
            except FileNotFoundError:
                continue
            if not leftovers:
                shutil.rmtree(parent, ignore_errors=True)
        self._pending_reclaim = []

    def merge(self, batch_df, batch_id) -> None:
        import os
        import uuid

        from pyspark.sql import Window as W

        recency = W.partitionBy(self.key).orderBy(*self.order)
        latest = (
            batch_df.withColumn("rn", F.row_number().over(recency))
            .where(F.col("rn") == 1)
            .drop("rn")
            .withColumn("bucket", self._bucket())
            .persist()
        )
        try:
            # Driver-side metadata only: ≤ n_buckets ints, never data.
            touched = sorted(
                r[0] for r in latest.select("bucket").distinct().collect()
            )
            if not touched:
                return
            prev = [
                (b, self.manifest[b]) for b in touched if b in self.manifest
            ]
            merged = latest
            if prev:
                spark = batch_df.sparkSession
                # Only the touched buckets' files are scanned — the
                # rest of the snapshot is not read, not written.
                cur = spark.read.parquet(*[p for _, p in prev]).withColumn(
                    "bucket", self._bucket()
                )
                merged = (
                    cur.unionByName(latest)
                    .withColumn("rn", F.row_number().over(recency))
                    .where(F.col("rn") == 1)
                    .drop("rn")
                )
            # Unique attempt dir: a replayed batch_id must not
            # overwrite the directory its own merge plan reads.
            vdir = os.path.join(
                self.base, f"v{batch_id}_{uuid.uuid4().hex[:8]}"
            )
            # One file per touched bucket; the repartition moves only
            # the touched buckets' latest rows (small next to a scan
            # of the full snapshot, which this design avoids).
            merged.repartition(len(touched), "bucket").write.partitionBy(
                "bucket"
            ).mode("errorifexists").parquet(vdir)
            # The write is durable: previous-generation reclaim can
            # proceed, and THIS merge's superseded dirs wait one more.
            self._reclaim_pending()
            for b in touched:
                old = self.manifest.get(b)
                self.manifest[b] = os.path.join(vdir, f"bucket={b}")
                if old is not None:
                    self._pending_reclaim.append(old)
            self._persist_manifest()
        finally:
            latest.unpersist()

    def snapshot(self, spark: SparkSession) -> DataFrame:
        """Scan of the current snapshot: the union of every bucket's
        current directory (no bucket column — callers that need it
        recompute ``pmod(hash(key), n)``, a pure function). The frame
        is a LAZY scan: the keep-one-generation reclaim guarantees it
        stays readable across one subsequent merge — consume it
        before the second."""
        if not self.manifest:
            raise RuntimeError(
                "bucketed snapshot store is empty — no merge has run"
            )
        return spark.read.parquet(*[self.manifest[b] for b in sorted(self.manifest)])


def q_stream_foreach_batch_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL streaming: ``foreachBatch`` keyed upsert — maintain a
    latest-row-per-user table across micro-batches (the production
    merge-into-sink idiom; versioned parquet + a bucket manifest
    stands in for a MERGE-capable table format).

    Each micro-batch is first reduced to its latest row per key (so
    the merge input is bounded by distinct keys, not batch size), then
    merged into a :class:`_BucketedSnapshotStore`: the snapshot is
    partitioned by ``pmod(hash(user_id), N)`` and the batch rewrites
    ONLY the buckets it touches — per-batch I/O is O(keys in touched
    buckets), not O(all distinct keys). Recency is the deterministic
    (ts, event_id) order. On a bounded replay the final snapshot
    equals the batch latest-row-per-key query, which is exactly the
    oracle.
    """
    import os
    import tempfile
    import uuid

    ev = events_stream(spark, sf_dir).select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    base = os.path.join(tempfile.gettempdir(), "fs_upsert_" + uuid.uuid4().hex[:12])
    # Register for reclamation BEFORE the query runs: a mid-stream
    # merge failure must not leak the already-written buckets
    # (runner.run_append_to_files does the same for its outdir).
    track_output_dir(base)
    store = _BucketedSnapshotStore(
        base, "user_id", [F.col("ts").desc(), F.col("event_id").desc()]
    )
    run_to_completion(ev.writeStream.foreachBatch(store.merge), spark)
    if not store.manifest:
        # A zero-row events table is a legal input (batches fired but
        # carried no rows): the upsert state is simply empty — return
        # the empty result with the declared schema, like every other
        # stream query's explicit-schema read does.
        return spark.createDataFrame(
            [],
            "user_id long, last_ts timestamp_ntz, "
            "last_event_type string, last_value double",
        )
    return store.snapshot(spark).select(
        "user_id",
        F.col("ts").cast("timestamp_ntz").alias("last_ts"),
        F.col("event_type").alias("last_event_type"),
        F.col("value").alias("last_value"),
    )


QUERIES = {
    "stream_foreach_batch_upsert": q_stream_foreach_batch_upsert,
    "stream_tumbling_agg": q_stream_tumbling_agg,
    "stream_sliding_agg": q_stream_sliding_agg,
    "stream_session_window": q_stream_session_window,
    "stream_watermark_late": q_stream_watermark_late,
    "stream_incremental_batches": q_stream_incremental_batches,
    "stream_dedup_stateful": q_stream_dedup_stateful,
    "stream_dedup_bounded": q_stream_dedup_bounded,
    "stream_stream_join": q_stream_stream_join,
}

_TRUNC_HOUR = "DATE_TRUNC('hour', ts)"
# Start of the 5-minute bucket containing ts (epoch_us is exact integer math).
# FLOOR over doubles, not `//`: DuckDB integer division truncates
# toward zero, so a pre-1970 timestamp would bucket one window late vs
# Spark's flooring window() (r9 review wave 9 — the time_ohlc_bars
# class; exact for µs magnitudes < 2^53).
_TRUNC_5MIN = (
    "MAKE_TIMESTAMP(CAST(FLOOR(EPOCH_US(ts) / 300000000.0) AS BIGINT)"
    " * 300000000)"
)

ORACLE = {
    "stream_foreach_batch_upsert": """
        SELECT user_id,
               ts AS last_ts,
               event_type AS last_event_type,
               value AS last_value
        FROM events
        QUALIFY ROW_NUMBER() OVER (
            PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1
    """,
    "stream_stream_join": """
        SELECT v.user_id,
               v.ts AS view_ts,
               p.ts AS purchase_ts
        FROM events v
        JOIN events p
          ON v.user_id = p.user_id
         AND v.event_type = 'view'
         AND p.event_type = 'purchase'
         AND p.ts > v.ts
         AND p.ts <= v.ts + INTERVAL 30 MINUTE
    """,
    "stream_tumbling_agg": f"""
        SELECT {_TRUNC_HOUR} AS window_start,
               {_TRUNC_HOUR} + INTERVAL 1 HOUR AS window_end,
               event_type,
               COUNT(*) AS n_events,
               {oracle_dsum('value')} AS sum_value
        FROM events
        GROUP BY 1, 2, 3
    """,
    "stream_sliding_agg": f"""
        WITH expanded AS (
            SELECT UNNEST([
                       {_TRUNC_5MIN},
                       {_TRUNC_5MIN} - INTERVAL 5 MINUTE
                   ]) AS window_start,
                   event_type
            FROM events
        )
        SELECT window_start,
               window_start + INTERVAL 10 MINUTE AS window_end,
               event_type,
               COUNT(*) AS n_events
        FROM expanded
        GROUP BY 1, 2, 3
    """,
    "stream_session_window": f"""
        WITH flagged AS (
            SELECT user_id, ts, value,
                   -- STRICT >: an event landing exactly at the prior
                   -- session's end merges in Spark's session_window
                   -- (r6 differential-test fix; >= split here diverged
                   -- on exact-gap boundaries the fixture never hits)
                   CASE WHEN LAG(ts) OVER w IS NULL
                             OR ts - LAG(ts) OVER w > INTERVAL 30 MINUTE
                        THEN 1 ELSE 0 END AS new_session
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        ),
        sessions AS (
            SELECT *,
                   SUM(new_session) OVER (
                       PARTITION BY user_id ORDER BY ts
                       ROWS UNBOUNDED PRECEDING
                   ) AS session_id
            FROM flagged
        )
        SELECT user_id,
               MIN(ts) AS session_start,
               MAX(ts) + INTERVAL 30 MINUTE AS session_end,
               COUNT(*) AS n_events,
               {oracle_dsum('value')} AS sum_value
        FROM sessions
        GROUP BY user_id, session_id
    """,
    "stream_watermark_late": f"""
        WITH wm AS (SELECT MAX(ts) - INTERVAL 10 MINUTE AS w FROM events)
        SELECT {_TRUNC_HOUR} AS window_start,
               {_TRUNC_HOUR} + INTERVAL 1 HOUR AS window_end,
               event_type,
               COUNT(*) AS n_events,
               {oracle_dsum('value')} AS sum_value
        FROM events
        GROUP BY 1, 2, 3
        HAVING {_TRUNC_HOUR} + INTERVAL 1 HOUR <= (SELECT w FROM wm)
    """,
    "stream_dedup_stateful": "SELECT DISTINCT event_id FROM events",
    # stream_dedup_bounded: the within-watermark contract on the
    # replay fixture is batch-boundary-independent by construction
    # (see _REPLAY_MOD): every original id emits once, the +8d
    # replays emit a second time, the +2min duplicates never emit.
    "stream_dedup_bounded": f"""
        SELECT event_id FROM events
        UNION ALL
        SELECT event_id FROM events WHERE event_id % {_REPLAY_MOD} = 1
    """,
    # Same emitted-window contract as stream_watermark_late: the
    # multi-batch replay must produce the identical set (cross-batch
    # state merging changes nothing — that is what the hash proves).
    "stream_incremental_batches": f"""
        WITH wm AS (SELECT MAX(ts) - INTERVAL 10 MINUTE AS w FROM events)
        SELECT {_TRUNC_HOUR} AS window_start,
               {_TRUNC_HOUR} + INTERVAL 1 HOUR AS window_end,
               event_type,
               COUNT(*) AS n_events,
               {oracle_dsum('value')} AS sum_value
        FROM events
        GROUP BY 1, 2, 3
        HAVING {_TRUNC_HOUR} + INTERVAL 1 HOUR <= (SELECT w FROM wm)
    """,
}
