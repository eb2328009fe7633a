"""Unit + end-to-end tests for the Kinesis sink port.

Ports the reference's unit-test scenarios (SURVEY.md §5.1,
batchproducer/batchproducer_test.go) onto :class:`BatchProducer` /
:class:`KinesisBatchWriter` with the same mocked-client tricks: the
``should_err`` whole-call failure knob, latency injection on a fake
clock, and the magic ``"fail"`` partition key for per-record errors
(batchproducer_test.go:810-842). The end-to-end test mirrors the
integration tests' order-insensitive multiset comparison of sent vs
received (integration_test.go:151-157).
"""

from __future__ import annotations

import pytest

from frinesis_spark.sinks.kinesis import (
    BACKOFF_INITIAL_S,
    BACKOFF_MAX_S,
    MAX_KINESIS_BATCH_SIZE,
    BatchProducer,
    BufferFullError,
    ConfigError,
    KinesisBatchWriter,
    KinesisSinkConfig,
)
from frinesis_spark.sinks.mock import (
    FAIL_KEY,
    MockClientFactory,
    MockKinesisClient,
    read_back,
)


class FakeClock:
    def __init__(self):
        self.t = 0.0

    def __call__(self):
        return self.t

    def advance(self, s):
        self.t += s


def make_producer(client=None, clock=None, **cfg_kwargs):
    client = client if client is not None else MockKinesisClient()
    clock = clock or FakeClock()
    cfg = KinesisSinkConfig(**cfg_kwargs)
    prod = BatchProducer(
        client, "test-stream", cfg, clock=clock, sleep=clock.advance
    )
    return prod, client, clock


# -- config validation (batchproducer_test.go:22-74) -------------------

@pytest.mark.parametrize(
    "kwargs",
    [
        {"batch_size": 0},
        {"batch_size": MAX_KINESIS_BATCH_SIZE + 1},
        {"buffer_size": 0},
        {"flush_timeout_s": -1.0},
        {"max_attempts_per_record": 0},
    ],
)
def test_config_validation_rejects(kwargs):
    with pytest.raises(ConfigError):
        KinesisSinkConfig(**kwargs).validate()


def test_config_from_env():
    cfg = KinesisSinkConfig.from_env(
        {"KINESIS_FLUSH_TIMEOUT": "5", "KINESIS_BATCH_SIZE": "100"}
    )
    assert cfg.flush_timeout_s == 5.0
    assert cfg.batch_size == 100
    # defaults mirror the reference (batchproducer.go:118-121, sink.go:19)
    d = KinesisSinkConfig()
    assert (d.buffer_size, d.max_attempts_per_record, d.flush_timeout_s) == (
        10_000, 10, 30.0,
    )


# -- happy path: size-chunked egress (A4/A6) ---------------------------

def test_flush_chunks_at_500():
    prod, client, _ = make_producer(buffer_size=2000)
    for i in range(1200):
        prod.add(f"m{i}".encode())
    sent, remaining = prod.flush()
    assert (sent, remaining) == (1200, 0)
    # ≤500-record PutRecords chunks (batchproducer.go:15)
    assert client.calls == [500, 500, 200]
    assert prod.stats.records_sent == 1200


# -- A3: buffer-full policy (batchproducer_test.go:659-702) ------------

def test_add_errors_when_buffer_full():
    prod, _, _ = make_producer(buffer_size=3)
    for i in range(3):
        prod.add(b"x")
    with pytest.raises(BufferFullError):
        prod.add(b"overflow")


def test_add_blocks_drains_when_buffer_full():
    prod, client, _ = make_producer(
        buffer_size=3, batch_size=2, add_blocks_when_buffer_full=True
    )
    for i in range(10):
        prod.add(b"x")
    # inline drains made room; nothing lost
    sent, remaining = prod.flush()
    assert prod.stats.records_sent == 10
    assert remaining == 0


# -- A7: whole-batch error + exponential backoff (test.go:312-356) -----

def test_whole_batch_error_backoff_and_requeue():
    prod, client, clock = make_producer(buffer_size=100)
    client.should_err = True
    for i in range(5):
        prod.add(b"x")
    t0 = clock()
    assert prod._send_batch(500) == 0  # requeued, nothing left for good
    assert prod.consecutive_errors == 1
    assert prod.stats.kinesis_errors == 1
    assert len(prod._buffer) == 5  # requeued at the back
    prod._send_batch(500)  # second failure → 50ms backoff slept
    assert prod.consecutive_errors == 2
    assert clock() - t0 == pytest.approx(0.05)
    prod._send_batch(500)  # third → 100ms more (50 * 2^1)
    assert clock() - t0 == pytest.approx(0.15)
    # recovery resets the error run (batchproducer.go:367-368)
    client.should_err = False
    prod._send_batch(500)
    assert prod.consecutive_errors == 0
    assert prod.stats.records_sent == 5


# -- A8: per-record retry then drop (test.go:358-383) ------------------

def test_partial_failure_retries_then_drops():
    prod, client, _ = make_producer(max_attempts_per_record=3)
    prod.add(b"good1")
    prod.add(b"poison", partition_key="fail")
    prod.add(b"good2")
    sent, remaining = prod.flush()
    assert remaining == 0
    assert prod.stats.records_sent == 2
    assert prod.stats.records_dropped == 1
    # retried (max_attempts - 1) times before the drop
    assert prod.stats.retries == 2
    assert any("dropped record" in e for e in prod.stats.events)


# -- A9: overload shedding (batchproducer.go:354-357) ------------------

def test_shed_after_persistent_errors_with_full_buffer():
    prod, client, _ = make_producer(buffer_size=20, batch_size=5)
    client.should_err = True
    prod.consecutive_errors = 5  # already in a persistent error run
    for i in range(20):  # buffer exactly full → ≥95%
        prod._buffer.append((b"x", "pk", 0))
    done = prod._send_batch(5)
    assert done == 5  # in-flight batch shed, not requeued
    assert prod.stats.records_shed == 5
    assert len(prod._buffer) == 15


# -- A10: flush deadline (test.go:704-808) -----------------------------

def test_flush_timeout_leaves_remainder():
    clock = FakeClock()
    client = MockKinesisClient(sleep_for_s=1.0, advance_clock=clock.advance)
    prod, _, _ = make_producer(client=client, clock=clock, buffer_size=5000)
    for i in range(1500):
        prod.add(b"x")
    # each 500-chunk put costs 1s of fake time; 2s budget → 2 chunks
    sent, remaining = prod.flush(timeout_s=2.0)
    assert sent == 1000
    assert remaining == 500


def test_flush_no_timeout_drains_fully():
    prod, _, _ = make_producer(buffer_size=5000)
    for i in range(1234):
        prod.add(b"x")
    sent, remaining = prod.flush()
    assert (sent, remaining) == (1234, 0)


# -- A15: stats emission ----------------------------------------------

def test_stats_receiver_called_on_flush():
    seen = []
    clock = FakeClock()
    cfg = KinesisSinkConfig()
    prod = BatchProducer(
        MockKinesisClient(), "s", cfg,
        stat_receiver=seen.append, clock=clock, sleep=clock.advance,
    )
    prod.add(b"x")
    prod.flush(send_stats=True)
    assert len(seen) == 1 and seen[0].records_sent == 1


# -- end-to-end over Spark (A1/A2/A11 + multiset delivery check) -------

def test_writer_end_to_end_multiset(spark, tmp_path):
    store = str(tmp_path / "delivered")
    df = spark.range(0, 1000).selectExpr(
        "concat('topic_', id % 3) AS topic",
        "cast(concat('payload_', id) as binary) AS data",
        "uuid() AS partition_key",
    )
    writer = KinesisBatchWriter(MockClientFactory(store_dir=store))
    stats = {r["topic"]: r for r in writer.write_batch(df).collect()}
    assert sum(r["n_sent"] for r in stats.values()) == 1000
    assert all(r["n_remaining"] == 0 for r in stats.values())
    # order-insensitive multiset compare (integration_test.go:151-157)
    delivered = read_back(store)
    assert sorted(d["data"].decode() for d in delivered) == sorted(
        f"payload_{i}" for i in range(1000)
    )
    # per-topic stream routing (A1): payload i went to stream i%3
    assert {(d["stream"], d["data"].decode()) for d in delivered} == {
        (f"topic_{i % 3}", f"payload_{i}") for i in range(1000)
    }


def test_writer_raises_on_undelivered(spark):
    df = spark.range(0, 10).selectExpr(
        "'t' AS topic",
        "cast(cast(id as string) as binary) AS data",
        "uuid() AS partition_key",
    )
    # every call errors; tiny deadline → records remain → batch must fail
    writer = KinesisBatchWriter(
        MockClientFactory(should_err=True),
        KinesisSinkConfig(
            flush_timeout_s=0.2,
            # the writer REQUIRES the blocking policy (it rejects a
            # guaranteed-failure non-blocking config at construction)
            add_blocks_when_buffer_full=True,
        ),
    )
    with pytest.raises(Exception, match="undelivered"):
        writer(df, epoch_id=0)


def test_streaming_restart_from_checkpoint(spark, tmp_path):
    """A12: restart a stopped query from the same checkpoint and keep
    delivering (sink.go:130-140 ≙ checkpoint-restart, SURVEY §1.3)."""
    src = str(tmp_path / "src")
    store = str(tmp_path / "delivered")
    ckpt = str(tmp_path / "ckpt")
    df0 = spark.range(0, 50).selectExpr(
        "'t' AS topic",
        "cast(cast(id as string) as binary) AS data",
        "uuid() AS partition_key",
    )
    df0.write.parquet(src + "/b0")

    writer = KinesisBatchWriter(MockClientFactory(store_dir=store))
    schema = "topic string, data binary, partition_key string"

    def run_once():
        q = (
            spark.readStream.schema(schema).parquet(src + "/*")
            .writeStream.foreachBatch(writer)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    assert len(read_back(store)) == 50
    # new data lands while "stopped"; restart picks up only the delta
    spark.range(50, 80).selectExpr(
        "'t' AS topic",
        "cast(cast(id as string) as binary) AS data",
        "uuid() AS partition_key",
    ).write.parquet(src + "/b1")
    run_once()
    assert len(read_back(store)) == 80


def test_stats_ticker_emits_during_slow_drain():
    """A15 periodic emission (StatInterval, batchproducer.go:235-239,
    :458-470): a long drain surfaces >= 2 snapshots WHILE running, not
    just the end-of-flush one — ported from the stats-timing scenarios
    of batchproducer_test.go:385-571."""
    snapshots = []
    clock = FakeClock()
    client = MockKinesisClient(sleep_for_s=0.7, advance_clock=clock.advance)
    cfg = KinesisSinkConfig(buffer_size=5000, stat_interval_s=1.0)
    prod = BatchProducer(
        client,
        "t",
        cfg,
        stat_receiver=lambda s: snapshots.append(s.records_sent),
        clock=clock,
        sleep=clock.advance,
    )
    for i in range(3000):  # 6 put calls x 0.7s = 4.2s of drain
        prod.add(b"x")
    sent, remaining = prod.flush()  # no end-of-flush emission (send_stats off)
    assert (sent, remaining) == (3000, 0)
    # ticks at t>=1.0, >=2.1, >=3.5 → at least 2 mid-drain snapshots,
    # with strictly growing progress visible to the consumer
    assert len(snapshots) >= 2
    assert snapshots == sorted(snapshots)
    assert snapshots[-1] < 3000 or len(snapshots) > 1


def test_backoff_is_capped():
    """Uncapped 0.05*2^(n-1) reaches 25.6s at n=10; the cap bounds any
    single backoff sleep at BACKOFF_MAX_S."""
    prod, client, clock = make_producer(buffer_size=100)
    client.should_err = True
    prod.add(b"x")
    for _ in range(12):
        prod._send_batch(500)
    t0 = clock()
    prod._send_batch(500)  # 13th failure: uncapped would be ~204s
    assert clock() - t0 == pytest.approx(BACKOFF_MAX_S)


def test_backoff_clamped_to_flush_deadline():
    """A deep error run must not sleep past the drain deadline: flush()
    with timeout_s returns within ~the budget even while every call
    fails (the deadline is real, not advisory)."""
    prod, client, clock = make_producer(buffer_size=100)
    client.should_err = True
    prod.consecutive_errors = 10  # next delay: the BACKOFF_MAX_S cap
    for i in range(5):
        prod.add(b"x")
    timeout_s = BACKOFF_MAX_S * 0.75  # below the cap: the clamp binds
    t0 = clock()
    sent, remaining = prod.flush(timeout_s=timeout_s)
    assert sent == 0 and remaining == 5
    # one backoff, clamped to end exactly at the deadline
    assert clock() - t0 == pytest.approx(timeout_s)


def test_malformed_response_requeues_batch():
    """PutRecords answering fewer results than request records is a
    broken client contract: the batch must be requeued (counted as a
    call failure), never zip-truncated into silent loss."""

    class ShortResponseClient:
        def __init__(self):
            self.calls = 0

        def put_records(self, Records, StreamName):  # noqa: N803
            self.calls += 1
            if self.calls == 1:
                return {
                    "FailedRecordCount": 1,
                    "Records": [
                        {"ErrorCode": "InternalFailure", "ErrorMessage": "x"}
                    ],  # 1 result for len(Records) records
                }
            return {
                "FailedRecordCount": 0,
                "Records": [
                    {"SequenceNumber": "1", "ShardId": "shard-0"}
                    for _ in Records
                ],
            }

    clock = FakeClock()
    client = ShortResponseClient()
    prod = BatchProducer(
        client, "t", KinesisSinkConfig(), clock=clock, sleep=clock.advance
    )
    for i in range(5):
        prod.add(f"m{i}".encode())
    assert prod._send_batch(500) == 0  # malformed → whole-call failure
    assert prod.stats.kinesis_errors == 1
    assert prod.consecutive_errors == 1
    assert len(prod._buffer) == 5  # all requeued, nothing lost
    assert any("malformed" in e for e in prod.stats.events)
    sent, remaining = prod.flush()
    assert (sent, remaining) == (5, 0)  # healthy retry delivers all


# -- observed-log assertions (batchproducer_test.go:573-657) -----------
# The reference pins its zap log text with an observed logger; the
# Python port pins the same three messages through caplog on the
# frinesis_spark.sinks.kinesis logger (r6 verdict "missing" #4).


def test_log_message_when_kinesis_succeeds(caplog):
    """≙ TestLogMessageWhenKinesisSucceeds (test:573-589)."""
    import logging

    prod, client, _ = make_producer()
    for _ in range(20):
        prod.add(b"payload")
    # Debug, matching the reference's level for the hot-path success
    # line (batchproducer.go:372).
    with caplog.at_level(logging.DEBUG, logger="frinesis_spark.sinks.kinesis"):
        sent, remaining = prod.flush(timeout_s=5)
    assert sent == 20 and remaining == 0
    assert any(
        "PutRecords request succeeded: sent 20 records to Kinesis stream"
        in r.message
        for r in caplog.records
    ), [r.message for r in caplog.records]


def test_log_message_when_kinesis_errors(caplog):
    """≙ TestReturnEventWhenKinesisReturnsError (test:592-607): the
    'oh noes' failure surfaces on BOTH channels — the stats events
    list (already covered elsewhere) and the log line pinned here."""
    import logging

    prod, client, _ = make_producer(
        client=MockKinesisClient(should_err=True),
        max_attempts_per_record=1,
        flush_timeout_s=1,
    )
    prod.add(b"payload")
    with caplog.at_level(logging.ERROR, logger="frinesis_spark.sinks.kinesis"):
        prod.flush(timeout_s=1)
    assert any(
        "PutRecords request failed" in r.message and "oh noes" in r.message
        for r in caplog.records
    ), [r.message for r in caplog.records]


def test_log_message_when_some_records_fail(caplog):
    """≙ TestLogMessageWhenSomeRecordsFail (test:609-642): a batch with
    one magic fail-key record logs the partial-success line with the
    split counts."""
    import logging

    prod, client, _ = make_producer(max_attempts_per_record=2)
    for _ in range(19):
        prod.add(b"payload")
    prod.add(b"payload", partition_key=FAIL_KEY)
    with caplog.at_level(
        logging.DEBUG, logger="frinesis_spark.sinks.kinesis"
    ):
        prod.flush(timeout_s=5)
    assert any(
        "Partial success when sending a PutRecords request" in r.message
        and "19 succeeded, 1 failed" in r.message
        for r in caplog.records
    ), [r.message for r in caplog.records]


def test_log_message_when_record_dropped(caplog):
    """≙ the reference's pinned drop message (batchproducer.go:450-452,
    test:609-657): permanent data loss must reach the LOG, not only
    stats.events."""
    import logging

    prod, client, _ = make_producer(max_attempts_per_record=1)
    prod.add(b"payload", partition_key=FAIL_KEY)
    with caplog.at_level(logging.ERROR, logger="frinesis_spark.sinks.kinesis"):
        prod.flush(timeout_s=5)
    assert prod.stats.records_dropped == 1
    assert any(
        "Dropping failed record; it has hit 1 attempts which is the maximum"
        in r.message
        for r in caplog.records
    ), [r.message for r in caplog.records]


def test_flush_timeout_zero_means_no_deadline():
    """The reference contract: 'A timeout value of 0 means no timeout'
    (batchproducer.go:39) — flush(0) drains FULLY instead of creating
    an already-expired deadline that sends nothing."""
    prod, client, _ = make_producer()
    for _ in range(7):
        prod.add(b"payload")
    sent, remaining = prod.flush(timeout_s=0)
    assert sent == 7 and remaining == 0


def test_writer_rejects_non_blocking_config():
    """A custom config without the blocking buffer policy is a
    guaranteed-failure setup in the synchronous writer (no concurrent
    drainer) — rejected at construction like the reference's New()
    validation (batchproducer.go:147-149)."""
    import pytest as _pytest

    from frinesis_spark.sinks.kinesis import ConfigError

    with _pytest.raises(ConfigError, match="add_blocks_when_buffer_full"):
        KinesisBatchWriter(
            MockClientFactory(), KinesisSinkConfig(batch_size=100)
        )


def test_stat_snapshots_do_not_alias():
    """Each stats emission is a BY-VALUE snapshot: a monitoring
    consumer that stores every snapshot must see the per-emit values,
    not three references to one mutating object."""
    snaps = []
    prod, client, _ = make_producer()
    prod.stat_receiver = snaps.append
    prod.add(b"a")
    prod.flush(timeout_s=5, send_stats=True)
    prod.add(b"b")
    prod.add(b"c")
    prod.flush(timeout_s=5, send_stats=True)
    assert len(snaps) == 2
    assert snaps[0].records_sent == 1  # frozen at first emission
    assert snaps[1].records_sent == 3


def test_payload_type_dispatch():
    """String payloads encode UTF-8; integer columns fail loudly
    instead of fabricating zero bytes."""
    import pytest as _pytest

    from frinesis_spark.sinks.kinesis import _payload_bytes

    assert _payload_bytes(None) == b""
    assert _payload_bytes("héllo") == "héllo".encode()
    assert _payload_bytes(b"\x00raw") == b"\x00raw"
    assert _payload_bytes(bytearray(b"ba")) == b"ba"
    with _pytest.raises(TypeError, match="int"):
        _payload_bytes(7)


# -- concurrent per-topic drain, one delivery job per batch ------------

def _timed_client_factory(log_path, latency_s=0.0, fail=False):
    """Factory for a client whose ``put_records`` sleeps ``latency_s``
    and appends ``stream start end`` (wall clock) to ``log_path``, then
    succeeds, or raises when ``fail`` is set. Defined in a function so
    that Spark tasks get the class by value."""
    import time

    class TimedClient:
        def put_records(self, Records, StreamName):  # noqa: N803
            start = time.time()
            time.sleep(latency_s)
            with open(log_path, "a") as fh:
                fh.write(f"{StreamName} {start} {time.time()}\n")
            if fail:
                raise RuntimeError("oh noes")
            return {
                "FailedRecordCount": 0,
                "Records": [{"SequenceNumber": "1"} for _ in Records],
            }

    return TimedClient


def _logged_calls(log_path):
    """``(start, end, stream)`` of every logged call, by start time."""
    with open(log_path) as fh:
        calls = [line.split() for line in fh]
    return sorted((float(a), float(b), s) for s, a, b in calls)


def test_task_flushes_its_topics_concurrently(tmp_path):
    """Five topics in one task: their PutRecords calls overlap, like
    the reference's goroutine per topic (sink.go:26, :96-100), instead
    of running one topic after another."""
    from pyspark.sql import Row

    log = str(tmp_path / "calls.log")
    writer = KinesisBatchWriter(_timed_client_factory(log, latency_s=0.05))
    rows = [Row(topic=f"t{i % 5}", data=b"x") for i in range(50)]
    stats = list(writer._write_partition(iter(rows)))
    calls = _logged_calls(log)
    assert len(calls) == 5
    assert any(b[0] < a[1] for a, b in zip(calls, calls[1:])), calls
    assert sorted(r.topic for r in stats) == [f"t{i}" for i in range(5)]
    assert sum(r.n_sent for r in stats) == 50


def test_failing_topics_share_one_drain_deadline(spark, tmp_path):
    """Three topics whose every call fails: the batch fails as
    undelivered, and all three drain under one deadline — the last
    call starts within one deadline (plus one backoff step) of the
    first, not one deadline per topic later."""
    log = str(tmp_path / "calls.log")
    cfg = KinesisSinkConfig(
        flush_timeout_s=0.3,
        add_blocks_when_buffer_full=True,
    )
    writer = KinesisBatchWriter(_timed_client_factory(log, fail=True), cfg)
    df = spark.range(0, 30).selectExpr(
        "concat('t', id % 3) AS topic",
        "cast(cast(id as string) as binary) AS data",
    )
    with pytest.raises(Exception, match="undelivered"):
        writer(df, 0)
    calls = _logged_calls(log)
    assert {s for *_, s in calls} == {"t0", "t1", "t2"}
    span = calls[-1][0] - calls[0][0]
    assert span <= cfg.flush_timeout_s + BACKOFF_INITIAL_S, calls


def test_writer_runs_one_delivery_job_per_batch(spark):
    """A micro-batch collects its stats once. AQE runs the topic
    shuffle's map stage as a job of its own, so the writer must run
    exactly the jobs of one bare action over that shuffle: one job
    besides the shuffle's."""
    import uuid

    sc = spark.sparkContext
    df = spark.range(0, 200).selectExpr(
        "concat('t', id % 5) AS topic",
        "cast(cast(id as string) as binary) AS data",
    )

    def jobs(action):
        group = f"jobs-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            action()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return sc.statusTracker().getJobIdsForGroup(group)

    shuffle_and_action = jobs(
        lambda: df.repartition("topic")
        .rdd.mapPartitions(lambda rows: iter(()))
        .collect()
    )
    writer = KinesisBatchWriter(MockClientFactory())
    assert len(jobs(lambda: writer(df, 0))) == len(shuffle_and_action)
    assert len(shuffle_and_action) <= 2


def test_more_topics_than_flush_threads_share_one_client():
    """More topics than flush threads (and cores) on one shared client,
    with the interpreter switching threads every microsecond: every
    record is sent exactly once and every topic reports its stats."""
    import sys

    from pyspark.sql import Row

    from frinesis_spark.sinks.kinesis import (
        MAX_FLUSH_THREADS,
        deliver_partition,
    )

    client = MockKinesisClient()
    topics = MAX_FLUSH_THREADS + 2
    rows = [Row(topic=f"t{i % topics}", data=b"x") for i in range(700 * topics)]
    cfg = KinesisSinkConfig(add_blocks_when_buffer_full=True)
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        results = deliver_partition(
            rows, lambda: client, cfg, "topic", "data", None
        )
    finally:
        sys.setswitchinterval(old)
    assert sorted(t for t, *_ in results) == sorted(
        f"t{i}" for i in range(topics)
    )
    assert [left for *_, left in results] == [0] * topics
    assert sum(p.stats.records_sent for _, p, _ in results) == len(rows)
    assert sorted(client.calls) == [200] * topics + [500] * topics


@pytest.mark.parametrize("topic", [None, ""])
def test_writer_rejects_row_without_topic(tmp_path, topic):
    """A row whose topic is null or empty, with no default topic, fails
    the task with an error naming the topic column, before a client is
    built: nothing is put to a stream named ``None``."""
    from pyspark.sql import Row

    store = str(tmp_path / "store")
    built = []

    def factory():
        built.append(1)
        return MockKinesisClient(store_dir=store)

    writer = KinesisBatchWriter(factory, topic_col="dest")
    rows = [Row(dest=topic, data=b"x", partition_key="k")]
    with pytest.raises(ValueError, match="null or empty 'dest'"):
        list(writer._write_partition(iter(rows)))
    assert built == []
    assert read_back(store) == []
