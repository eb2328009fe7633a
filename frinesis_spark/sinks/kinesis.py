"""Kinesis batched sink — the PySpark port of the reference library's
entire capability surface (SURVEY.md §2A, A1–A17).

The reference is a Go Kinesis sink for the Frizzle bus: per-topic
producers buffer opaque byte records and flush them via ``PutRecords``
with size+time batching, retry, backoff, shedding and a drain deadline
(/root/reference/sink.go, /root/reference/batchproducer/batchproducer.go).

Spark mapping (SURVEY.md §1.3, §3.4):

- the hand-rolled run loop (A13) → Structured Streaming's micro-batch
  loop + executor parallelism;
- one goroutine per topic (sink.go:26, :96-100) → one flush thread per
  topic inside each task (:func:`deliver_partition`), so the topics'
  ``PutRecords`` round-trips overlap;
- time-triggered flush (A5) → ``trigger(processingTime=...)``;
- everything PutRecords-specific (A4, A6–A11) lives in
  :class:`BatchProducer` below — plain Python running inside
  ``foreachPartition``-style tasks, because Spark task retry cannot
  express per-record retry/backoff/shedding semantics;
- partition-key generation (A16) → ``uuid()`` column;
- client construction + endpoint override (A17) → env-configured
  boto3 factory with a localstack-style ``endpoint_url``.

Delivery semantics are the reference's: **at-least-once, unordered**
(random partition keys + requeue-at-back, batchproducer.go:360,
:425-426); foreachBatch replays on failure give exactly the same
guarantee — documented, not fought.
"""

from __future__ import annotations

import logging
import os
import time
import uuid
from collections.abc import Callable, Iterable, Iterator
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from itertools import chain

from pyspark.sql import Row

# Task-local logger mirroring the reference's zap logger surface
# (batchproducer.go logs alongside the Events channel; its observed-
# logger tests pin the message text — batchproducer_test.go:573-657).
# The three pinned messages below keep the same key phrases so an
# operator grepping either engine's logs finds the same lines.
_LOG = logging.getLogger(__name__)

# Kinesis hard API cap, mirrored by the reference
# (batchproducer.go:15, validated :143-145).
MAX_KINESIS_BATCH_SIZE = 500

# PutRecords API byte limits: 1 MiB per record (data + partition key),
# 5 MiB per request. Without byte accounting an oversize batch fails
# ValidationException on EVERY attempt and is requeued with attempts
# unchanged — a deterministic retry livelock the record-count cap
# cannot prevent (r9 review wave 8). A single record over the 1 MiB
# limit can never be delivered at all: it is dropped with the same
# data-loss logging as the max-attempts drop path.
MAX_RECORD_BYTES = 1_048_576
MAX_REQUEST_BYTES = 5 * 1_048_576

# A9 shedding, hardcoded in the reference (batchproducer.go:354-357):
# an in-flight batch is shed after this many consecutive whole-call
# errors while the buffer is at least this full.
SHED_AFTER_CONSECUTIVE_ERRORS = 5
SHED_BUFFER_RATIO = 0.95

# A7 backoff (batchproducer.go:334-344): 50 ms doubling per consecutive
# error. Capped: uncapped doubling reaches 25.6 s at 10 consecutive
# errors and would blow straight through any drain deadline.
BACKOFF_INITIAL_S = 0.05
BACKOFF_MAX_S = 2.0

# Most topic producers one task flushes at once. botocore's default
# connection pool holds 10 connections (``max_pool_connections``), so
# more threads on the task's one client would only queue for a socket.
MAX_FLUSH_THREADS = 10


class BufferFullError(RuntimeError):
    """Raised by Add when the buffer is full and AddBlocksWhenBufferFull
    is false (batchproducer.go:197-202)."""


class ConfigError(ValueError):
    """Invalid producer configuration (batchproducer.go:143-153)."""


@dataclass
class KinesisSinkConfig:
    """Producer configuration: the reference's ``batchproducer.Config``
    knobs with its defaults (batchproducer.go:74-121), plus the
    sink-level flush timeout (sink.go:19, :44-47).

    Where the reference's settings live in this port:

    - BatchSize, BufferSize, MaxAttemptsPerRecord,
      AddBlocksWhenBufferFull, StatInterval → the fields below, and
      the sink's flush timeout → ``flush_timeout_s``;
    - FlushInterval → ``stream_to_kinesis(trigger_seconds=...)``, the
      micro-batch trigger (A5);
    - the StatReceiver → ``BatchProducer(stat_receiver=...)``; the
      injected logger → this module's logger;
    - shedding and backoff, hardcoded in the reference → the module
      constants ``SHED_*`` and ``BACKOFF_*``;
    - the per-record UUIDv4 partition key (A16) → ``BatchProducer.add``
      when the caller passes no key.
    """

    batch_size: int = MAX_KINESIS_BATCH_SIZE
    buffer_size: int = 10_000
    max_attempts_per_record: int = 10
    add_blocks_when_buffer_full: bool = False
    flush_timeout_s: float = 30.0
    # A15: periodic stats emission during drains (StatInterval,
    # batchproducer.go:235-239, :458-470).
    stat_interval_s: float = 1.0

    def validate(self) -> None:
        if not 1 <= self.batch_size <= MAX_KINESIS_BATCH_SIZE:
            raise ConfigError(
                f"batch_size must be in [1, {MAX_KINESIS_BATCH_SIZE}]"
            )
        if self.buffer_size < 1:
            raise ConfigError("buffer_size must be >= 1")
        if self.max_attempts_per_record < 1:
            raise ConfigError("max_attempts_per_record must be >= 1")
        if self.flush_timeout_s < 0:
            raise ConfigError(
                "flush_timeout_s must be >= 0 (0 = no deadline, the "
                "reference's 'timeout value of 0 means no timeout')"
            )
        if self.stat_interval_s <= 0:
            raise ConfigError("stat_interval_s must be > 0")

    @classmethod
    def from_env(cls, env: dict | None = None) -> "KinesisSinkConfig":
        """Env-based config mirroring the reference's Viper keys
        (utils.go:23-46; README.md config table)."""
        e = os.environ if env is None else env
        cfg = cls()
        if "KINESIS_FLUSH_TIMEOUT" in e:
            cfg.flush_timeout_s = float(e["KINESIS_FLUSH_TIMEOUT"])
        if "KINESIS_BATCH_SIZE" in e:
            cfg.batch_size = int(e["KINESIS_BATCH_SIZE"])
        if "KINESIS_BUFFER_SIZE" in e:
            cfg.buffer_size = int(e["KINESIS_BUFFER_SIZE"])
        if "KINESIS_MAX_ATTEMPTS" in e:
            cfg.max_attempts_per_record = int(e["KINESIS_MAX_ATTEMPTS"])
        cfg.validate()
        return cfg


def make_boto3_client_factory(env: dict | None = None) -> Callable[[], object]:
    """A17 port: build a boto3 kinesis client from env config.

    ``AWS_REGION_NAME`` is required (utils.go:24-26); an optional
    ``KINESIS_ENDPOINT`` (localstack) gets ``http://`` defaulting and
    dummy credentials (utils.go:33-37, :57-73). Returned as a factory
    so each executor task builds its own client lazily; the task's
    topic producers share it from their flush threads (boto3 clients
    are thread-safe).
    """
    e = dict(os.environ if env is None else env)

    def factory():
        try:
            import boto3  # noqa: PLC0415
        except ImportError as exc:  # pragma: no cover - env without boto3
            raise RuntimeError(
                "boto3 is not installed; inject a client_factory (e.g. the "
                "mock in frinesis_spark.sinks.mock) instead"
            ) from exc

        region = e.get("AWS_REGION_NAME")
        if not region:
            raise ConfigError("AWS_REGION_NAME is required")
        endpoint = e.get("KINESIS_ENDPOINT")
        kwargs: dict = {"region_name": region}
        if endpoint:
            if "://" not in endpoint:
                endpoint = "http://" + endpoint
            kwargs.update(
                endpoint_url=endpoint,
                aws_access_key_id="dummy",
                aws_secret_access_key="dummy",
            )
        return boto3.client("kinesis", **kwargs)

    return factory


def generate_partition_key() -> str:
    """A16 port: fresh UUIDv4 per record (utils.go:16-19)."""
    return str(uuid.uuid4())


@dataclass
class ProducerStats:
    """StatsBatch port (batchproducer.go:58-66) + event log (A14/A15)."""

    records_sent: int = 0
    records_dropped: int = 0
    records_shed: int = 0
    kinesis_errors: int = 0
    put_calls: int = 0
    retries: int = 0
    buffer_size: int = 0
    events: list = field(default_factory=list)


class BatchProducer:
    """Synchronous port of the reference's buffered batch producer
    (batchproducer/batchproducer.go).

    The Go original runs a background goroutine with a select loop
    (A13); under Spark the micro-batch scheduler plays that role, so
    this port drains synchronously: ``add`` buffers (A3), ``flush``
    drains with an optional deadline (A10), ``_send_batch`` implements
    batched egress with partial-failure split (A6), exponential backoff
    (A7), per-record retry/drop (A8) and overload shedding (A9).

    ``clock``/``sleep`` are injectable for deterministic tests — the
    same trick as the reference's mocked client + latency knobs
    (batchproducer_test.go:810-842).
    """

    def __init__(
        self,
        client,
        stream_name: str,
        config: KinesisSinkConfig | None = None,
        stat_receiver: Callable[[ProducerStats], None] | None = None,
        clock: Callable[[], float] = time.monotonic,
        sleep: Callable[[float], None] = time.sleep,
    ):
        self.config = config or KinesisSinkConfig()
        self.config.validate()
        self.client = client
        self.stream_name = stream_name
        self.stat_receiver = stat_receiver
        self.clock = clock
        self.sleep = sleep
        # buffered records: (data: bytes, partition_key: str, attempts: int)
        self._buffer: list[tuple[bytes, str, int]] = []
        self.consecutive_errors = 0
        self.stats = ProducerStats()
        # A15 ticker: last periodic stats emission (clock units).
        self._last_stat_emit = self.clock()

    # -- A3: buffered ingest with backpressure policy ------------------
    def add(self, data: bytes, partition_key: str | None = None) -> None:
        if partition_key is None:
            partition_key = generate_partition_key()
        if len(self._buffer) >= self.config.buffer_size:
            if not self.config.add_blocks_when_buffer_full:
                raise BufferFullError(
                    f"buffer full ({self.config.buffer_size} records)"
                )
            # "Blocking" in the synchronous port = drain one batch inline
            # (the goroutine that would drain concurrently is replaced by
            # the caller's thread; semantics: add() returns only once
            # capacity exists, same as batchproducer.go:199-201).
            while len(self._buffer) >= self.config.buffer_size:
                self._send_batch(self.config.batch_size)
        self._buffer.append((data, partition_key, 0))

    # -- A10: drain with deadline --------------------------------------
    def flush(
        self, timeout_s: float | None = None, send_stats: bool = False
    ) -> tuple[int, int]:
        """Send max-size batches until empty or deadline; returns
        (records_sent_now, records_remaining) — Flush's contract
        (batchproducer.go:290-319). A timeout of 0 — like None — means
        NO deadline (the reference: 'A timeout value of 0 means no
        timeout', batchproducer.go:39); an un-deadlined flush retries
        with backoff indefinitely under persistent failure, exactly
        like the reference's drain loop, with the A9 shed path as the
        only give-up (callers wanting bounded time pass a deadline,
        as the Spark writer always does)."""
        deadline = None if not timeout_s else self.clock() + timeout_s
        sent_before = self.stats.records_sent
        while self._buffer:
            if deadline is not None and self.clock() >= deadline:
                break
            self._send_batch(MAX_KINESIS_BATCH_SIZE, deadline=deadline)
        if send_stats:
            self._emit_stats()
        return self.stats.records_sent - sent_before, len(self._buffer)

    # -- A4/A6/A7/A8/A9: one batched PutRecords round-trip --------------
    def _send_batch(self, batch_size: int, deadline: float | None = None) -> int:
        """Send ≤batch_size records; returns how many left the buffer
        for good (sent or dropped). ``deadline`` (clock units) bounds
        the backoff sleep so a drain deadline stays a real deadline."""
        if not self._buffer:
            return 0

        # A7: exponential backoff while in an error run
        # (batchproducer.go:334-344): 50ms doubling per consecutive
        # error, capped at BACKOFF_MAX_S, and clamped to the remaining
        # flush deadline — a deep error run must not sleep past it.
        if self.consecutive_errors > 0:
            delay = min(
                BACKOFF_INITIAL_S * (2 ** (self.consecutive_errors - 1)),
                BACKOFF_MAX_S,
            )
            if deadline is not None:
                delay = min(delay, max(0.0, deadline - self.clock()))
            self.stats.events.append(
                f"backoff {delay * 1000:.0f}ms after "
                f"{self.consecutive_errors} consecutive errors"
            )
            if delay > 0:
                self.sleep(delay)

        # A15: tick on every drain iteration (success or error run), so
        # slow AND failing drains both surface periodic snapshots.
        self._tick_stats()

        # Byte-aware take (r9 review wave 8): respect BOTH PutRecords
        # limits while taking — ≤500 records AND ≤5 MiB per request;
        # an over-1-MiB record is undeliverable and drops here with
        # the data-loss log line (the ValidationException it would
        # cause fails the WHOLE call and livelocks the retry loop).
        take_n = min(batch_size, len(self._buffer), MAX_KINESIS_BATCH_SIZE)
        batch: list = []
        consumed = 0
        used_bytes = 0
        for data, pk, attempts in self._buffer[:take_n]:
            rec_bytes = len(data) + len(pk or "")
            if rec_bytes > MAX_RECORD_BYTES:
                consumed += 1
                self.stats.records_dropped += 1
                self.stats.events.append(
                    f"dropped oversize record ({rec_bytes} bytes > "
                    f"{MAX_RECORD_BYTES} PutRecords limit)"
                )
                _LOG.error(
                    "Dropping undeliverable record: %d bytes exceeds "
                    "the %d-byte PutRecords record limit (stream %s)",
                    rec_bytes,
                    MAX_RECORD_BYTES,
                    self.stream_name,
                )
                continue
            if batch and used_bytes + rec_bytes > MAX_REQUEST_BYTES:
                break  # request full — the rest stays buffered
            batch.append((data, pk, attempts))
            used_bytes += rec_bytes
            consumed += 1
        self._buffer = self._buffer[consumed:]
        if not batch:
            # Everything taken was oversize: nothing to send, but the
            # drops left the buffer for good.
            return consumed
        entries = [
            {"Data": data, "PartitionKey": pk} for data, pk, _ in batch
        ]
        self.stats.put_calls += 1
        try:
            resp = self.client.put_records(
                Records=entries, StreamName=self.stream_name
            )
        except Exception as exc:  # whole-call failure (A7 path)
            self.stats.kinesis_errors += 1
            self.consecutive_errors += 1
            self.stats.events.append(f"put_records error: {exc}")
            # ≙ TestReturnEventWhenKinesisReturnsError (test:592-607):
            # the failure surfaces on the event/log channel, verbatim.
            _LOG.error("PutRecords request failed: %s", exc)
            # A9: shed the in-flight batch under persistent failure with
            # a (nearly) full buffer (batchproducer.go:354-357, :387-389).
            # Fullness counts the in-flight batch — it came out of the
            # buffer and would go right back on requeue.
            if (
                self.consecutive_errors >= SHED_AFTER_CONSECUTIVE_ERRORS
                and len(self._buffer) + len(batch)
                >= SHED_BUFFER_RATIO * self.config.buffer_size
            ):
                self.stats.records_shed += len(batch)
                self.stats.events.append(f"shed {len(batch)} records")
                # Data loss MUST hit the log, not just stats.events
                # (the reference's shed path logs at Error,
                # batchproducer.go:354-357).
                _LOG.error(
                    "Shedding %d records: %d consecutive errors with a "
                    "nearly full buffer (stream %s)",
                    len(batch),
                    self.consecutive_errors,
                    self.stream_name,
                )
                return len(batch)
            self._requeue(batch)
            return 0

        self.consecutive_errors = 0  # reset on success (:367-368)

        failed = resp.get("FailedRecordCount", 0)
        records = resp.get("Records", [])
        if not failed:
            self.stats.records_sent += len(batch)
            # ≙ TestLogMessageWhenKinesisSucceeds (test:573-589) —
            # Debug like the reference (batchproducer.go:372): success
            # lines on the hot path scale with throughput.
            _LOG.debug(
                "PutRecords request succeeded: sent %d records to "
                "Kinesis stream %s",
                len(batch),
                self.stream_name,
            )
            return len(batch)

        # API contract guard: PutRecords must answer one result per
        # request record. zip() would silently truncate on a short
        # Records array — records that already left the buffer would be
        # neither sent, dropped, nor requeued (silent loss). Treat a
        # malformed response as a whole-call failure and requeue.
        if len(records) != len(batch):
            self.stats.kinesis_errors += 1
            self.consecutive_errors += 1
            self.stats.events.append(
                f"malformed put_records response: {len(records)} results "
                f"for {len(batch)} records; requeued batch"
            )
            self._requeue(batch)
            return 0

        # A6/A8: partial failure — split success/failed, requeue failed
        # with attempt accounting, drop at max attempts
        # (batchproducer.go:370-381, :438-456).
        # ≙ TestLogMessageWhenSomeRecordsFail (test:609-642) — Debug
        # like the reference (batchproducer.go:377).
        _LOG.debug(
            "Partial success when sending a PutRecords request: "
            "%d succeeded, %d failed (stream %s)",
            len(batch) - failed,
            failed,
            self.stream_name,
        )
        done = 0
        requeue: list[tuple[bytes, str, int]] = []
        for (data, pk, attempts), result in zip(batch, records):
            if result.get("ErrorCode"):
                attempts += 1
                if attempts >= self.config.max_attempts_per_record:
                    self.stats.records_dropped += 1
                    self.stats.events.append(
                        f"dropped record after {attempts} attempts: "
                        f"{result.get('ErrorCode')}"
                    )
                    # ≙ the reference's pinned drop message
                    # (batchproducer.go:450-452, test:609-657) — the
                    # OTHER data-loss path that must reach the log.
                    _LOG.error(
                        "Dropping failed record; it has hit %d attempts "
                        "which is the maximum (stream %s, error %s)",
                        attempts,
                        self.stream_name,
                        result.get("ErrorCode"),
                    )
                    done += 1
                else:
                    self.stats.retries += 1
                    requeue.append((data, pk, attempts))
            else:
                self.stats.records_sent += 1
                done += 1
        self._requeue(requeue)
        return done

    def _requeue(self, records: Iterable[tuple[bytes, str, int]]) -> None:
        # Requeue at the back — explicitly ordering-unsafe, like the
        # reference (batchproducer.go:360, :425-426, :434-437).
        self._buffer.extend(records)

    def _tick_stats(self) -> None:
        """A15 periodic ticker: emit a stats snapshot once per
        ``stat_interval_s`` while batches are moving, so a monitoring
        consumer sees progress DURING a long drain, not only at its end
        (StatInterval loop, batchproducer.go:235-239, :458-470)."""
        now = self.clock()
        if now - self._last_stat_emit >= self.config.stat_interval_s:
            self._last_stat_emit = now
            self._emit_stats()

    def _emit_stats(self) -> None:
        self.stats.buffer_size = len(self._buffer)
        if self.stat_receiver is not None:
            # BY-VALUE snapshot: the reference sends a StatsBatch copy
            # per Receive (batchproducer.go:467-469); handing out the
            # live object would alias every stored snapshot to one
            # mutating instance. Deviation: counters stay CUMULATIVE
            # (the reference resets after each send) — deltas are
            # derivable from consecutive snapshots, the reverse is not.
            import dataclasses

            snap = dataclasses.replace(self.stats)
            snap.events = list(self.stats.events)
            self.stat_receiver(snap)


def _payload_bytes(data) -> bytes:
    """Typed payload conversion: bytes-like passes through, str encodes
    UTF-8, None is empty. A bare ``bytes(data)`` raised a cryptic
    TypeError on string columns and — worse — fabricated n ZERO BYTES
    from an integer column; anything else now fails with the column
    type named."""
    if data is None:
        return b""
    if isinstance(data, (bytes, bytearray, memoryview)):
        return bytes(data)
    if isinstance(data, str):
        return data.encode("utf-8")
    raise TypeError(
        f"data column must be binary or string, got {type(data).__name__}"
    )


def deliver_partition(
    rows: Iterable,
    client_factory: Callable[[], object],
    config: KinesisSinkConfig,
    topic_col: str,
    data_col: str,
    partition_key_col: str | None,
    default_topic: str | None = None,
) -> list[tuple[str, BatchProducer, int]]:
    """One task's delivery loop, shared by both Spark writers.

    Every row is buffered into one :class:`BatchProducer` per topic
    (A1/A2, created on first use; sink.go:79-104's double-checked
    registry collapses to a dict filled by this one thread). Then all
    producers flush at once, one thread per topic — the reference's
    goroutine per topic (sink.go:26, :96-100) — at most
    ``MAX_FLUSH_THREADS`` at a time, all on the task's one client. Each
    producer keeps its own retry, backoff and shedding; one drain
    deadline, taken when the flush starts, bounds them all.

    A row's topic is its ``topic_col`` value, or ``default_topic`` when
    that is null or empty or the column is absent; a row left with no
    topic raises ``ValueError`` before a client is built for it.
    Returns ``(topic, producer, records remaining)`` per topic, in
    first-seen order.
    """
    rows = iter(rows)
    first = next(rows, None)
    if first is None:
        # An empty partition builds no client and imports no boto3.
        return []
    # Column positions, resolved once per partition (Row[name] searches
    # the field list on every access). A missing partition_key_col
    # falls back to A16 key generation instead of failing (r9 review
    # wave 8); a missing topic column needs a default topic.
    fields = list(first.__fields__)
    topic_i, pk_i = (
        fields.index(c) if c in fields else None
        for c in (topic_col, partition_key_col)
    )
    data_i = fields.index(data_col)
    if topic_i is None and default_topic is None:
        raise ValueError(f"rows have no {topic_col!r} column")
    client = None  # A2: one per task, built with its first producer
    producers: dict[str, BatchProducer] = {}
    for row in chain((first,), rows):
        topic = row[topic_i] if topic_i is not None else None
        topic = topic or default_topic
        prod = producers.get(topic)
        if prod is None:
            if not topic:
                # No stream to put to: boto3 would reject every call
                # until the drain deadline, and the mock would accept it.
                raise ValueError(
                    f"a row has a null or empty {topic_col!r} and there "
                    "is no default topic"
                )
            if client is None:
                client = client_factory()
            prod = producers[topic] = BatchProducer(client, topic, config)
        pk = row[pk_i] if pk_i is not None else None
        prod.add(_payload_bytes(row[data_i]), pk)  # A3 (+A16 inside add)

    deadline = (
        time.monotonic() + config.flush_timeout_s
        if config.flush_timeout_s
        else None
    )

    def drain(prod: BatchProducer) -> int:
        left = None
        if deadline is not None:
            # A producer that waited for a thread past the deadline gets
            # a negative budget and returns at once; only exactly 0
            # would mean "no deadline".
            left = deadline - time.monotonic() or -1.0
        return prod.flush(timeout_s=left, send_stats=True)[1]

    with ThreadPoolExecutor(
        min(len(producers), MAX_FLUSH_THREADS),
        thread_name_prefix="kinesis-flush",
    ) as pool:
        remaining = list(pool.map(drain, producers.values()))  # A11
    return [
        (topic, prod, left)
        for (topic, prod), left in zip(producers.items(), remaining)
    ]


#: One per-topic stats row per task, in ``STATS_SCHEMA`` order.
_TopicStats = Row(
    "topic", "n_sent", "n_dropped", "n_shed", "n_retries", "n_put_calls",
    "n_remaining",
)


class KinesisBatchWriter:
    """foreachBatch writer: A1/A2's per-topic producer registry over a
    micro-batch DataFrame.

    The batch shuffles once on the topic column, so each topic's
    records meet in one task and feed one :class:`BatchProducer`. Each
    task runs :func:`deliver_partition`: it flushes its topics
    concurrently, one thread per topic, so the task waits on the wire
    for about one flush instead of one per topic, however many topics
    AQE coalesced into it. Tasks return per-topic delivery stats as
    rows. A micro-batch costs one Spark job for the delivery, after
    the job AQE runs for the shuffle's map stage.
    """

    #: schema of the stats rows returned by write_batch
    STATS_SCHEMA = (
        "topic string, n_sent long, n_dropped long, n_shed long, "
        "n_retries long, n_put_calls long, n_remaining long"
    )

    def __init__(
        self,
        client_factory: Callable[[], object],
        config: KinesisSinkConfig | None = None,
        topic_col: str = "topic",
        data_col: str = "data",
        partition_key_col: str | None = "partition_key",
    ):
        self.client_factory = client_factory
        # Spark-writer default: BLOCKING buffer policy. The reference's
        # non-blocking default works because a concurrent goroutine
        # drains the buffer (batchproducer.go:199-201 vs :244-261); a
        # synchronous foreachBatch task has no concurrent drainer, so
        # the equivalent composition is add() draining inline when full
        # — otherwise any task with >buffer_size rows dies on
        # BufferFullError (seen at sf0.1: 100k events, 10k buffer).
        if config is None:
            config = KinesisSinkConfig(add_blocks_when_buffer_full=True)
        elif not config.add_blocks_when_buffer_full:
            # The reference validates guaranteed-failure configs at
            # New() (batchproducer.go:147-149); the synchronous-writer
            # analogue is a non-blocking buffer, which deterministically
            # dies on any task with >buffer_size rows and then crash-
            # loops on foreachBatch replay.
            raise ConfigError(
                "KinesisBatchWriter requires "
                "add_blocks_when_buffer_full=True: the synchronous "
                "foreachBatch task has no concurrent drainer, so a "
                "non-blocking buffer guarantees BufferFullError on any "
                "task with more than buffer_size rows"
            )
        config.validate()
        self.config = config
        self.topic_col = topic_col
        self.data_col = data_col
        self.partition_key_col = partition_key_col

    def _write_partition(self, rows: Iterator) -> Iterator[Row]:
        for topic, prod, remaining in deliver_partition(
            rows,
            self.client_factory,
            self.config,
            self.topic_col,
            self.data_col,
            self.partition_key_col,
        ):
            s = prod.stats
            yield _TopicStats(
                topic,
                s.records_sent,
                s.records_dropped,
                s.records_shed,
                s.retries,
                s.put_calls,
                remaining,
            )

    def _deliver(self, batch_df) -> list[Row]:
        """Deliver one micro-batch; returns the collected per-topic
        stats rows.

        Scale: records shuffle once on the topic key (so one task owns
        a topic's traffic, mirroring the per-topic producer) and the
        only driver-side data is the tiny stats rows. EAGER (r9 review
        wave 8): the side effect must not ride on lazy evaluation — an
        un-actioned return value silently sent nothing, and every
        re-evaluation re-sent every record.
        """
        routed = batch_df.repartition(self.topic_col)
        return routed.rdd.mapPartitions(self._write_partition).collect()

    def write_batch(self, batch_df, epoch_id: int | None = None):
        """Run one micro-batch; returns the per-topic stats DataFrame,
        a local relation that can be re-used freely."""
        return batch_df.sparkSession.createDataFrame(
            self._deliver(batch_df), self.STATS_SCHEMA
        )

    def __call__(self, batch_df, epoch_id):
        """foreachBatch entry point (A5's time trigger is configured on
        the StreamingQuery; A11's close-with-error surfaces here)."""
        stats = self._deliver(batch_df)
        undelivered = sum(r.n_remaining for r in stats)
        if undelivered:
            # Close() errors when messages remain (sink.go:121-123);
            # raising fails the micro-batch → at-least-once replay.
            raise RuntimeError(
                f"{undelivered} records undelivered after flush deadline"
            )
        return stats


def stream_to_kinesis(
    stream_df,
    client_factory: Callable[[], object],
    config: KinesisSinkConfig | None = None,
    checkpoint_dir: str | None = None,
    trigger_seconds: float = 1.0,
    **writer_cols,
):
    """writeStream wiring: A5's 1-second flush interval becomes the
    processing-time trigger; A12 (Restart) is checkpoint-restart."""
    writer = KinesisBatchWriter(client_factory, config, **writer_cols)
    builder = (
        stream_df.writeStream.foreachBatch(writer)
        .outputMode("update")
        .trigger(processingTime=f"{trigger_seconds} seconds")
    )
    if checkpoint_dir:
        builder = builder.option("checkpointLocation", checkpoint_dir)
    return builder.start()
