"""Streaming-semantics tests with deterministic multi-batch replay:
late-data suppression by watermark, stateful dedup across batches —
the behaviors the oracle can't check (SURVEY.md §5.3 item 2)."""

import os
import time
import uuid

import pytest
from pyspark.sql import functions as F


def _write_batch(spark, stage, rows, idx):
    """One flat parquet file per micro-batch (the file source does not
    descend into non-partition subdirectories); mtime ordered so the
    source replays them oldest-first."""
    import glob
    import shutil
    import tempfile

    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, event_type string, value double"
    )
    tmp = tempfile.mkdtemp(prefix="stream_batch_")
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
    target = os.path.join(stage, f"batch_{idx}.parquet")
    shutil.copy(part, target)
    shutil.rmtree(tmp, ignore_errors=True)
    base = time.time() - 1000 + idx * 10
    os.utime(target, (base, base))
    return target


def _run_stream(spark, stage_glob, schema, build, n_batches):
    name = "mem_" + uuid.uuid4().hex[:12]
    ckpt = os.path.join("/tmp", "ckpt_" + uuid.uuid4().hex[:12])
    sdf = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage_glob)
    )
    q = (
        build(sdf)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        for _ in range(n_batches + 2):
            q.processAllAvailable()
        return spark.table(name).collect()
    finally:
        q.stop()


@pytest.fixture()
def stage(tmp_path):
    return str(tmp_path / "stream_in")


def _ts(s):
    import datetime

    return datetime.datetime.fromisoformat(s)


def test_watermark_drops_late_rows(spark, stage):
    """A row arriving after the watermark passed its window is dropped;
    a late-but-within-watermark row is still counted."""
    os.makedirs(stage, exist_ok=True)
    # Batch 0: events in hours 10/11 → watermark advances to 11:20.
    _write_batch(
        spark,
        stage,
        [
            (1, _ts("2024-01-01 10:05:00"), "click", 1.0),
            (2, _ts("2024-01-01 10:45:00"), "click", 1.0),
            (3, _ts("2024-01-01 11:30:00"), "click", 1.0),
        ],
        0,
    )
    # Batch 1: in-time rows; watermark advances to 12:50. (Watermark
    # filtering takes effect one batch after it advances — empirically
    # verified — so the late-row probe goes in its own later batch.)
    _write_batch(
        spark,
        stage,
        [
            (5, _ts("2024-01-01 11:40:00"), "click", 1.0),
            (6, _ts("2024-01-01 13:00:00"), "click", 1.0),
        ],
        1,
    )
    # Batch 2: a row for hour 10, far below the active watermark →
    # must be dropped; plus one fresh row advancing the watermark.
    _write_batch(
        spark,
        stage,
        [
            (4, _ts("2024-01-01 10:50:00"), "click", 1.0),  # LATE → dropped
            (7, _ts("2024-01-01 13:10:00"), "click", 1.0),
        ],
        2,
    )

    def build(sdf):
        return (
            sdf.withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "1 hour"), "event_type")
            .agg(F.count(F.lit(1)).alias("n"))
            .select(
                F.col("window.start").alias("ws"), F.col("event_type"), F.col("n")
            )
        )

    rows = _run_stream(
        spark,
        stage,
        "event_id long, ts timestamp, event_type string, value double",
        build,
        3,
    )
    by_window = {r.ws.isoformat(): r.n for r in rows}
    # Hour 10 window: rows 1+2 only — the late row 4 must NOT be counted.
    assert by_window["2024-01-01T10:00:00"] == 2
    # Hour 11 window: rows 3+5 (row 5 arrived before watermark passed 12:00).
    assert by_window["2024-01-01T11:00:00"] == 2


def test_stateful_dedup_across_batches(spark, stage):
    """dropDuplicates state persists across micro-batches: an id seen
    in batch 1 is suppressed in batch 2."""
    os.makedirs(stage, exist_ok=True)
    _write_batch(
        spark,
        stage,
        [
            (100, _ts("2024-01-01 10:00:00"), "a", 1.0),
            (101, _ts("2024-01-01 10:01:00"), "a", 1.0),
        ],
        0,
    )
    _write_batch(
        spark,
        stage,
        [
            (100, _ts("2024-01-01 10:02:00"), "a", 1.0),  # duplicate id
            (102, _ts("2024-01-01 10:03:00"), "a", 1.0),
        ],
        1,
    )

    def build(sdf):
        return (
            sdf.withWatermark("ts", "1 hour")
            .dropDuplicates(["event_id"])
            .select("event_id")
        )

    rows = _run_stream(
        spark,
        stage,
        "event_id long, ts timestamp, event_type string, value double",
        build,
        2,
    )
    ids = sorted(r.event_id for r in rows)
    assert ids == [100, 101, 102]


def test_streaming_tumbling_matches_batch(spark, sf_dir):
    """The finalized subset of the real streaming tumbling agg equals
    the batch computation restricted to the same windows (engine-level
    batch/stream consistency)."""
    from frinesis_spark.operators.relational import table  # noqa: F401
    from frinesis_spark.streaming.windows import (
        q_stream_tumbling_agg,
        q_stream_watermark_late,
    )

    batch = {
        (r.window_start, r.event_type): (r.n_events, r.sum_value)
        for r in q_stream_tumbling_agg(spark, sf_dir).collect()
    }
    streamed = q_stream_watermark_late(spark, sf_dir).collect()
    assert len(streamed) > 0
    for r in streamed:
        assert batch[(r.window_start, r.event_type)] == (r.n_events, r.sum_value)


def test_available_now_trigger_matches_watermark_semantics(spark, sf_dir):
    """Trigger.AvailableNow (the production backfill mode: process
    everything available, then self-terminate) must land on exactly the
    same watermark-gated output as the drain-loop runner used by
    q_stream_watermark_late — including the closing no-data batch that
    flushes windows behind the final watermark. Pins the execution-mode
    equivalence without a separate registry entry."""
    import tempfile

    from frinesis_spark.functions.numeric import dsum
    from frinesis_spark.streaming.runner import events_stream, track_output_dir
    from frinesis_spark.streaming.windows import q_stream_watermark_late

    ev = events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "10 minutes")
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
    outdir = os.path.join(
        "/tmp", "an_out_" + uuid.uuid4().hex[:12]
    )
    track_output_dir(outdir)
    ckpt = tempfile.mkdtemp(prefix="an_ckpt_")
    query = (
        agg.writeStream.format("parquet")
        .option("path", outdir)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    assert query.awaitTermination(300), "AvailableNow query did not stop"
    got = sorted(map(tuple, spark.read.parquet(outdir).collect()))
    want = sorted(map(tuple, q_stream_watermark_late(spark, sf_dir).collect()))
    assert got == want and want


def test_restart_from_checkpoint_exactly_once(spark, stage, tmp_path):
    """Kill the query between micro-batches and restart from the same
    checkpoint into the same file sink: finalized windows must appear
    EXACTLY once (no loss, no re-emission), and post-restart data must
    keep aggregating into the surviving state. This is the
    crash-recovery contract batch oracles cannot check: offsets come
    from the checkpoint's WAL, output dedup from the file sink's
    _spark_metadata commit log, state from the state store snapshot.
    """
    import uuid as _uuid

    os.makedirs(stage, exist_ok=True)
    schema = "event_id long, ts timestamp, event_type string, value double"
    out = str(tmp_path / "sink_out")
    ckpt = str(tmp_path / "ckpt_restart")

    def build(sdf):
        return (
            sdf.withWatermark("ts", "30 minutes")
            .groupBy(F.window("ts", "1 hour").alias("w"))
            .agg(F.count(F.lit(1)).alias("n"))
            .select(
                F.col("w.start").cast("timestamp_ntz").alias("window_start"),
                "n",
            )
        )

    def start():
        sdf = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(os.path.join(stage, "*.parquet"))
        )
        return (
            build(sdf)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .start()
        )

    h = "2003-07-01T{:02d}:{:02d}:00"
    _write_batch(spark, stage, [
        (1, _ts(h.format(0, 5)), "view", 1.0),
        (2, _ts(h.format(0, 20)), "view", 1.0),
        (3, _ts(h.format(0, 40)), "view", 1.0),
        (4, _ts(h.format(1, 10)), "view", 1.0),
    ], 0)
    _write_batch(spark, stage, [
        (5, _ts(h.format(1, 30)), "view", 1.0),
        (6, _ts(h.format(1, 50)), "view", 1.0),
        (7, _ts(h.format(2, 15)), "view", 1.0),
    ], 1)
    q1 = start()
    try:
        for _ in range(4):
            q1.processAllAvailable()
    finally:
        q1.stop()  # crash point: hour-00 window emitted, 01/02 in state

    _write_batch(spark, stage, [
        (8, _ts(h.format(3, 10)), "view", 1.0),
        (9, _ts(h.format(5, 0)), "view", 1.0),  # watermark → 04:30
    ], 2)
    q2 = start()
    try:
        for _ in range(4):
            q2.processAllAvailable()
    finally:
        q2.stop()

    got = {
        (r.window_start.isoformat(), r.n)
        for r in spark.read.parquet(out).collect()
    }
    rows = spark.read.parquet(out).collect()
    assert len(rows) == len(got), "a finalized window was emitted twice"
    # Windows 00-03 are past the final 04:30 watermark; hour-05's
    # window is still open and must NOT have been emitted.
    assert got == {
        ("2003-07-01T00:00:00", 3),
        ("2003-07-01T01:00:00", 3),
        ("2003-07-01T02:00:00", 1),
        ("2003-07-01T03:00:00", 1),
    }


def test_stream_state_partitions_sizing(monkeypatch):
    """The state-store partition clamp: every state partition pays a
    fixed store-open + delta-commit per micro-batch, so the default
    sizes to cores/8 (floor 2), never above the session setting; the
    env override wins outright (the production up-sizing knob)."""
    from frinesis_spark.streaming.runner import stream_state_partitions

    monkeypatch.delenv("SPARK_GRAFT_STREAM_SHUFFLE_PARTITIONS", raising=False)
    assert stream_state_partitions(32, 32) == 4      # local[32] default
    assert stream_state_partitions(32, 8) == 2       # floor at 2
    assert stream_state_partitions(2, 32) == 2       # never above session
    assert stream_state_partitions(200, 1600) == 200  # big cluster, capped
    monkeypatch.setenv("SPARK_GRAFT_STREAM_SHUFFLE_PARTITIONS", "96")
    assert stream_state_partitions(32, 32) == 96     # override wins
    monkeypatch.setenv("SPARK_GRAFT_STREAM_SHUFFLE_PARTITIONS", "0")
    import pytest as _pytest
    with _pytest.raises(ValueError):
        stream_state_partitions(32, 32)


def test_state_partition_count_never_changes_answers(
    spark, sf_dir, monkeypatch
):
    """Differential insurance for the state-volume clamp: the
    state-store partition count is an execution knob, never a
    semantics knob — the same watermarked multi-batch rollup must
    produce the identical row multiset at 3 and at 13 partitions
    (primes, neither the default, straddling the floor)."""
    from frinesis_spark.streaming.windows import (
        q_stream_incremental_batches,
    )

    def run(parts):
        monkeypatch.setenv(
            "SPARK_GRAFT_STREAM_SHUFFLE_PARTITIONS", str(parts)
        )
        df = q_stream_incremental_batches(spark, sf_dir)
        return sorted(map(tuple, df.collect()))

    a = run(3)
    b = run(13)
    assert a == b
    assert len(a) > 0


@pytest.mark.parametrize("layout", ["nanos", "parts"])
def test_watermark_late_matches_across_fixture_layouts(spark, sf_dir, tmp_path, layout):
    """The stream path reads any events fixture the catalog reads: the
    same rows with ``ts`` written as parquet TIMESTAMP(NANOS)
    (``nanos``, the reader's ns branch), or split into a directory of
    three part files (``parts``, still replayed as ONE micro-batch, so
    no row arrives behind the watermark), give the same
    stream_watermark_late rows as the one-file µs fixture."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from frinesis_spark.catalog import events_ts_unit
    from frinesis_spark.streaming.windows import q_stream_watermark_late

    ev = pq.read_table(os.path.join(sf_dir, "events.parquet"))
    out = tmp_path / "sf"
    out.mkdir()
    if layout == "nanos":
        i = ev.schema.get_field_index("ts")
        ev = ev.set_column(i, "ts", ev.column("ts").cast(pa.timestamp("ns")))
        pq.write_table(ev, str(out / "events.parquet"), version="2.6")
        assert events_ts_unit(str(out / "events.parquet")) == "ns"
    else:
        (out / "events.parquet").mkdir()
        step = -(-ev.num_rows // 3)
        for k in range(3):
            pq.write_table(
                ev.slice(k * step, step),
                str(out / "events.parquet" / f"part-{k}.parquet"),
            )

    want = sorted(tuple(r) for r in q_stream_watermark_late(spark, sf_dir).collect())
    try:
        got = sorted(
            tuple(r) for r in q_stream_watermark_late(spark, str(out)).collect()
        )
    finally:
        spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
    assert want and got == want
