"""Streaming execution: file-source replay of the events table, run to
completion.

The reference library's only execution mode is an unbounded
message-at-a-time pipeline (SURVEY.md §1.1); Structured Streaming's
micro-batch loop is the Spark-native equivalent (§3.4). Every
``stream_*`` replay takes one path through this module, so watermark
and state semantics are exercised by the actual streaming engine, not
a batch emulation:

- :func:`stage` publishes an immutable, versioned staging directory
  holding one layout of the events table (one file, a range split, or
  a caller's ``write`` callback);
- :func:`replay` is the one ``readStream`` over such a directory, one
  file per micro-batch;
- :func:`run_to_completion` is the one run loop, shared by the parquet
  file sink (:func:`run_append_to_files`) and foreachBatch sinks.
"""

from __future__ import annotations

import atexit
import hashlib
import os
import shutil
import tempfile
import uuid
from collections.abc import Callable, Iterable
from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter

from ..caches import corpus_fingerprint
from ..catalog import read_events, table

# Streaming output dirs are read lazily by the DataFrames we return,
# so they must outlive the call — but not the process. Every created
# dir is tracked and reclaimed at interpreter exit (ADVICE r3: repeated
# driver/bench/test runs otherwise accumulate unbounded parquet under
# /tmp with no reclamation path).
_OUTPUT_DIRS: list[str] = []


def track_output_dir(path: str) -> None:
    """Register a lazily-read output dir for atexit reclamation."""
    _OUTPUT_DIRS.append(path)


@atexit.register
def _cleanup_output_dirs() -> None:  # pragma: no cover - exit hook
    for d in _OUTPUT_DIRS:
        shutil.rmtree(d, ignore_errors=True)


def stage(sf_dir: str, layout: str, write: Callable[[str], None]) -> str:
    """The one publisher of replay staging directories: ``write(out)``
    fills an empty directory with one ``layout`` of ``sf_dir``'s events
    table, and the result is returned as an immutable version dir.

    Versions are keyed by ``caches.corpus_fingerprint(sf_dir,
    "events")``, so a regenerated fixture gets a FRESH version dir
    instead of an in-place rewrite: no reader can ever see a
    half-written footer. ``write`` fills a temp sibling that is
    published with one atomic rename; concurrent stagers race only on
    that rename, and the loser discards its copy. A failed ``write``
    (disk full, vanished source) leaves no temp dir behind.

    Retention: every fixture regeneration mints a fresh version and
    nothing else deletes the old ones, so each ``(sf_dir, layout)``
    keeps its newest two (a concurrent process lazily scanning the
    PREVIOUS version stays readable) and older ones are reclaimed.
    """
    key = hashlib.md5(f"{sf_dir}|{layout}".encode()).hexdigest()[:12]
    root = os.path.join(tempfile.gettempdir(), f"fs_stage_{key}")
    vdir = os.path.join(root, "v_" + corpus_fingerprint(sf_dir, "events"))
    if os.path.exists(vdir):
        return vdir
    os.makedirs(root, exist_ok=True)
    tmp = os.path.join(root, f"tmp_{os.getpid()}_{uuid.uuid4().hex[:6]}")
    os.makedirs(tmp)
    try:
        write(tmp)
    except BaseException:
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    try:
        os.rename(tmp, vdir)
    except OSError:
        shutil.rmtree(tmp, ignore_errors=True)  # lost the race
    try:
        versions = sorted(
            (os.path.join(root, d) for d in os.listdir(root) if d.startswith("v_")),
            key=os.path.getmtime,
            reverse=True,
        )
        for old in versions[2:]:
            shutil.rmtree(old, ignore_errors=True)
    except OSError:
        pass  # concurrent stager racing the listing — next call prunes
    return vdir


def _copy_events(sf_dir: str, out: str) -> None:
    """One-file layout: the fixture's bytes, copied (no Spark job — this
    staging runs once per process). A directory-layout fixture's parts
    are concatenated into one file, so the replay stays one
    micro-batch."""
    src = os.path.join(sf_dir, "events.parquet")
    dst = os.path.join(out, "events.parquet")
    if os.path.isfile(src):
        shutil.copy2(src, dst)
        return
    import pyarrow as pa
    import pyarrow.parquet as pq

    parts = sorted(
        os.path.join(src, n) for n in os.listdir(src) if n.endswith(".parquet")
    )
    pq.write_table(pa.concat_tables([pq.read_table(p) for p in parts]), dst)


def _range_split_events(spark: SparkSession, sf_dir: str, n: int, out: str) -> None:
    """``n``-file layout: events TIME-RANGE split into ``n`` parquet
    files with mtimes in range order.

    Range split (repartitionByRange on ts), not hash: each file's rows
    are no older than every earlier file's, so oldest-first file-source
    processing advances the watermark MONOTONICALLY across micro-batches
    and no in-order row is ever dropped as late. mtimes are set in range
    order because FileStreamSource picks files oldest-first by
    modification time."""
    table(spark, sf_dir, "events").repartitionByRange(n, "ts").write.mode(
        "overwrite"
    ).parquet(out)
    set_mtimes_in_order(
        os.path.join(out, f)
        for f in sorted(os.listdir(out))
        if f.endswith(".parquet")
    )


def set_mtimes_in_order(paths: Iterable[str]) -> None:
    """Give ``paths`` strictly increasing mtimes from a fixed epoch, so
    the file source replays them in the given order, deterministically."""
    base = 1_000_000_000
    for i, p in enumerate(paths):
        os.utime(p, (base + i, base + i))


def replay(spark: SparkSession, stage_dir: str) -> DataFrame:
    """The one stream reader: an unbounded DataFrame over a staged
    events directory, one file per micro-batch (oldest mtime first).

    Watermarks require TIMESTAMP, not TIMESTAMP_NTZ, so ``ts`` comes
    back as TimestampType (sessions pin UTC, so the ntz→timestamp cast
    is value-preserving); the physical-unit handling is
    ``catalog.read_events``'s. Downstream queries cast outputs back to
    timestamp_ntz for oracle parity.
    """
    def load(path: str) -> DataFrame:
        schema = spark.read.parquet(path).schema
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(path)
        )

    return read_events(spark, stage_dir, load).withColumn(
        "ts", F.col("ts").cast("timestamp")
    )


def events_stage(spark: SparkSession, sf_dir: str, files: int = 1) -> str:
    """Staged directory of the events table as ``files`` time-ordered
    files: the fixture copied as one file, or a range split into
    ``files`` files (:func:`_range_split_events`)."""
    if files == 1:
        write = partial(_copy_events, sf_dir)
    else:
        write = partial(_range_split_events, spark, sf_dir, files)
    return stage(sf_dir, f"files{files}", write)


def events_stream(spark: SparkSession, sf_dir: str, files: int = 1) -> DataFrame:
    """Unbounded DataFrame replaying the events table in ``files``
    micro-batches (:func:`events_stage`, :func:`replay`)."""
    return replay(spark, events_stage(spark, sf_dir, files))


def stream_state_partitions(
    session_parts: int, default_parallelism: int
) -> int:
    """State-store partition count for a run-to-completion streaming
    query: ``SPARK_GRAFT_STREAM_SHUFFLE_PARTITIONS`` if set (must be
    ≥ 1), else cores/8 clamped to [2, session setting]. See the sizing
    rationale in :func:`run_to_completion`.
    """
    env = os.environ.get("SPARK_GRAFT_STREAM_SHUFFLE_PARTITIONS")
    if env:
        try:
            n = int(env)
        except ValueError:
            raise ValueError(
                "SPARK_GRAFT_STREAM_SHUFFLE_PARTITIONS must be an "
                f"integer >= 1, got {env!r}"
            ) from None
        if n < 1:
            raise ValueError(
                "SPARK_GRAFT_STREAM_SHUFFLE_PARTITIONS must be >= 1, "
                f"got {env!r}"
            )
        return n
    return min(session_parts, max(2, default_parallelism // 8))


def run_to_completion(writer: DataStreamWriter, spark: SparkSession) -> None:
    """The one run loop: start ``writer`` (a configured ``writeStream``)
    on a fresh checkpoint, run it until every staged file is processed,
    stop it, and restore the session conf.

    ``processAllAvailable`` is called twice: the second call lets the
    no-data micro-batch (which advances the watermark past the final
    data batch and flushes expired state) land deterministically.

    Streaming gets no AQE coalescing: shuffle.partitions fixes the
    state-store partition count for the query's lifetime, and a
    default-200 session runs every micro-batch as 200 near-empty tasks.
    Size it to STATE VOLUME, not core count: every state partition pays
    a fixed HDFSBackedStateStore open + delta-file commit PER
    MICRO-BATCH, so over-partitioning small state multiplies pure
    overhead by (partitions × batches). Measured r11 (interleaved
    min-of-3, quiet host, identical outputs asserted per rep): 32 → 8
    partitions cut the 8-query streaming family 16.6 s → 9.3 s at sf0.1
    (stream_stream_join 6.1 → 2.2, incremental_batches 4.5 → 2.5,
    watermark_late 2.3 → 1.5); the r15 re-measure (same protocol,
    progress-metric breakdown in OPTIMIZATION_r15.md) pushed 8 → 4 for
    another −1.5 s on the six-query family (stream_stream_join 2.81 →
    2.12: a stream-stream join opens/commits FOUR stores per partition
    per batch, so partition count multiplies hardest there). The
    replayed fixtures carry KB–MB of state, so cores/8 (min 2) is still
    far above the volume floor; a production deployment with large
    keyspaces sizes this up so per-task state fits in memory — override
    via SPARK_GRAFT_STREAM_SHUFFLE_PARTITIONS. The checkpoint is fresh
    each call, so the count isn't pinned by prior state. A foreachBatch
    sink's batch DataFrames are planned under the same clamp; their
    shuffles still get AQE.
    """
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    clamp = stream_state_partitions(
        int(prev_parts), spark.sparkContext.defaultParallelism
    )
    spark.conf.set("spark.sql.shuffle.partitions", str(clamp))
    ckpt = tempfile.mkdtemp(prefix="fs_ckpt_")
    try:
        query = writer.option("checkpointLocation", ckpt).start()
        try:
            query.processAllAvailable()
            query.processAllAvailable()
        finally:
            query.stop()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        shutil.rmtree(ckpt, ignore_errors=True)


def run_append_to_files(stream_df: DataFrame) -> DataFrame:
    """Run an append-mode streaming DataFrame to completion through a
    parquet file sink; return a lazy batch scan of the result.

    Executor-to-executor path: the streamed rows land in parquet and
    come back as a distributed scan, so result size is bounded by disk,
    not driver memory — the memory-sink + ``collect()`` round-trip this
    replaces put every output row through the driver, a bottleneck the
    moment a streaming query emits more than a few MB. (The reference's
    pipeline is likewise sink-terminated, never driver-materialized —
    sink.go:66-140.)

    The output directory outlives this call by design (the returned
    DataFrame reads it lazily); it lives under the system temp dir with
    a per-query unique name and is reclaimed at process exit
    (:func:`track_output_dir`).
    """
    outdir = os.path.join(
        tempfile.gettempdir(), "fs_out_" + uuid.uuid4().hex[:12]
    )
    track_output_dir(outdir)
    spark = stream_df.sparkSession
    run_to_completion(
        stream_df.writeStream.format("parquet")
        .option("path", outdir)
        .outputMode("append"),
        spark,
    )
    # Explicit schema: a query with zero output rows writes no files,
    # and schema inference on an empty directory would fail.
    return spark.read.schema(stream_df.schema).parquet(outdir)
