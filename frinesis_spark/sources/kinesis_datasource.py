"""First-class `kinesis_frinesis` format via Spark 4's Python Data
Source API: ``spark.read`` / ``df.write`` / ``spark.readStream`` all
speak the sink+source pair natively after one
``spark.dataSource.register(KinesisDataSource)``.

This packages the engine's Kinesis surface (the reference's whole
capability re-expressed, SURVEY.md §2A) behind Spark's own connector
contract instead of helper functions:

- **batch read** — one ``InputPartition`` per shard; each executor
  task drains its shard with a task-local client (the shard IS the
  parallelism unit, 1 MB/s each; read loop ≙ the reference's
  read-back loop, /root/reference/integration_test.go:112-143).
- **batch write** — each task runs the sink's per-task delivery loop
  (``sinks.kinesis.deliver_partition``): one :class:`BatchProducer`
  per stream (A3–A11: ≤500-record chunks, backoff, per-record
  retry/drop, shedding, drain deadline), flushed concurrently, and
  fails the task if records remain after the deadline —
  Close-with-error semantics (sink.go:112-126).
- **streaming read** — a :class:`SimpleDataSourceStreamReader` whose
  offsets are per-shard sequence positions; each micro-batch reads
  (start, caught-up], exactly the incremental form of the batch
  drain, through the same :func:`read_shard` loop. Simple readers
  fetch on the driver, so each micro-batch holds at most
  ``maxRecordsPerBatch`` records there; a deeper backlog is read by
  the following batches.

Client selection (A17): option ``mock_store_dir`` → the file-backed
mock (tests, same role as the reference's localstack); otherwise boto3
from env (``AWS_REGION_NAME``, ``KINESIS_ENDPOINT``).
"""

from __future__ import annotations

import logging

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamWriter,
    DataSourceWriter,
    InputPartition,
    SimpleDataSourceStreamReader,
    WriterCommitMessage,
)

#: rows produced by the readers — ONE record-schema contract shared
#: with the shard-parallel reader (r9 review wave 10: two verbatim
#: copies could drift and break the roundtrip unionByName)
from frinesis_spark.sources.kinesis import SCHEMA as READ_SCHEMA  # noqa: E402
from frinesis_spark.sources.kinesis import list_shard_ids, read_shard

FORMAT_NAME = "kinesis_frinesis"

_LOG = logging.getLogger(__name__)


def _client_factory(options: dict):
    """Picklable client factory per the A17 config rules.

    Client selection precedence: ``mock_store_dir`` option → file-
    backed mock; ``endpoint`` option (+ optional ``region``) → real
    boto3 against that HTTP endpoint — options serialize to the Python
    workers, so this is the deterministic way to point EXECUTOR-side
    clients at a test/localstack endpoint (worker processes may have
    forked before a driver-side env var was set); otherwise boto3 from
    the ambient env (``AWS_REGION_NAME``, ``KINESIS_ENDPOINT``).
    """
    store = options.get("mock_store_dir")
    if store:
        from frinesis_spark.sinks.mock import MockClientFactory

        return MockClientFactory(store_dir=store)
    from frinesis_spark.sinks.kinesis import make_boto3_client_factory

    endpoint = options.get("endpoint")
    if endpoint:
        return make_boto3_client_factory(
            {
                "AWS_REGION_NAME": options.get("region", "us-east-1"),
                "KINESIS_ENDPOINT": endpoint,
            }
        )
    return make_boto3_client_factory()


def _stream_name(options: dict) -> str:
    name = options.get("stream")
    if not name:
        raise ValueError(
            f"{FORMAT_NAME}: required option 'stream' (stream name) missing"
        )
    return name


class _ShardPartition(InputPartition):
    def __init__(self, shard_id: str):
        self.shard_id = shard_id


class KinesisBatchReader(DataSourceReader):
    def __init__(self, options: dict):
        self.options = dict(options)
        self.stream = _stream_name(self.options)
        self.factory = _client_factory(self.options)

    def partitions(self):
        shard_ids = list_shard_ids(self.factory(), self.stream)
        return [_ShardPartition(s) for s in shard_ids] or [_ShardPartition("")]

    def read(self, partition: _ShardPartition):
        if not partition.shard_id:
            return
        yield from read_shard(self.factory(), self.stream, partition.shard_id)


class KinesisDataSourceWriter(DataSourceWriter):
    """Input rows need a binary ``data`` column; ``partition_key`` and
    ``stream`` columns are honored when present (per-topic routing,
    A1), else the option stream + a fresh UUID key (A16)."""

    def __init__(self, options: dict):
        from frinesis_spark.sinks.kinesis import KinesisSinkConfig

        self.options = dict(options)
        self.default_stream = _stream_name(self.options)
        self.factory = _client_factory(self.options)
        # Config resolves on the DRIVER and pickles to tasks: reading
        # env on the executor silently ignores driver-side tuning (the
        # same worker-fork hazard the endpoint option exists for), and
        # diverges from KinesisBatchWriter, which takes driver config.
        cfg = KinesisSinkConfig.from_env()
        # Synchronous writer task → blocking buffer policy (drain
        # inline when full); see KinesisBatchWriter.__init__.
        cfg.add_blocks_when_buffer_full = True
        cfg.validate()
        self.config = cfg

    def write(self, iterator):
        from frinesis_spark.sinks.kinesis import deliver_partition

        for stream, _prod, remaining in deliver_partition(
            iterator,
            self.factory,
            self.config,
            topic_col="stream",
            data_col="data",
            partition_key_col="partition_key",
            default_topic=self.default_stream,
        ):
            if remaining:
                raise RuntimeError(
                    f"{FORMAT_NAME}: {remaining} records undelivered to "
                    f"{stream!r} at drain deadline"
                )
        return WriterCommitMessage()

    def commit(self, messages):
        return None

    def abort(self, messages):  # at-least-once: nothing to roll back
        return None


class KinesisSimpleStreamReader(SimpleDataSourceStreamReader):
    """Micro-batch incremental reads; offset = {shard_id: last-read
    sequence number, or "" before any read}.

    Kinesis sequence numbers are **opaque and non-contiguous**, so the
    offset stores the last sequence number actually read and resumes
    with ``AFTER_SEQUENCE_NUMBER`` — never seq+1 arithmetic (which only
    holds for log-offset mocks and is an ``InvalidArgumentException``
    against the real API). Shards are re-listed at every ``read`` so a
    resharded stream's new shards enter the offset map (from
    TRIM_HORIZON) on the next micro-batch.
    """

    def __init__(self, options: dict):
        self.options = dict(options)
        self.stream = _stream_name(self.options)
        self.factory = _client_factory(self.options)
        # Per-batch record budget (option maxRecordsPerBatch) — bounds
        # the driver-side buffer on a deep backlog; unread records are
        # simply the next batch's start.
        self.max_records = int(
            self.options.get("maxrecordsperbatch", 10_000)
        )
        self._turn = 0

    def initialOffset(self) -> dict:
        return {s: "" for s in list_shard_ids(self.factory(), self.stream)}

    def read(self, start: dict):
        client = self.factory()
        end = dict(start)
        # Resharding pickup: new shards start from TRIM_HORIZON.
        for shard_id in list_shard_ids(client, self.stream):
            end.setdefault(shard_id, "")
        rows: list = []
        # Per-batch record budget, shared across shards: an unbounded
        # drain-to-tip buffers the ENTIRE retained backlog in this
        # driver-side list on the first batch (and against sustained
        # ingest may never catch the tip). Each pass offers every shard
        # that may still hold records an equal share of what is left
        # (at least one record); a shard that returns less than its
        # share is caught up, and its unused share goes to the others
        # on the next pass. The batch never exceeds the budget, and
        # unread backlog is simply the next batch's starting offset.
        # The pass order rotates batch by batch, so a budget smaller
        # than the shard count does not always favour the same shards.
        shards = list(end)
        turn = self._turn % max(1, len(shards))
        self._turn += 1
        active = shards[turn:] + shards[:turn]
        while active and len(rows) < self.max_records:
            share = max(1, (self.max_records - len(rows)) // len(active))
            behind = []
            for shard_id in active:
                want = min(share, self.max_records - len(rows))
                if not want:
                    break
                got = self._read_shard(client, shard_id, end[shard_id], want)
                if got is None:
                    del end[shard_id]  # retired
                    continue
                rows.extend(got)
                if got:
                    end[shard_id] = got[-1][2]  # last-read sequence number
                if len(got) == want:
                    behind.append(shard_id)
            active = behind
        return iter(rows), end

    def _read_shard(self, client, shard_id: str, pos: str, n: int):
        """Up to ``n`` records of one shard after ``pos``, or None when
        the shard has been retired."""
        try:
            return list(
                read_shard(client, self.stream, shard_id, pos, max_records=n)
            )
        except Exception as exc:  # noqa: BLE001 — boto3 client error
            # A resharded-away shard that has aged past retention
            # vanishes from the stream; keeping it in the offset map
            # would fail THIS and every retried batch forever. Retire
            # it — but only on the SPECIFIC AWS error code, and only
            # after confirming the shard (not the whole stream) is what
            # vanished: a stream-level ResourceNotFound (stream
            # deleted/renamed mid-run) must surface, not silently retire
            # every shard and read empty batches forever (ADVICE r7).
            code = (
                getattr(exc, "response", None) or {}
            ).get("Error", {}).get("Code", "")
            if code != "ResourceNotFoundException":
                raise
            live = list_shard_ids(client, self.stream)  # raises if
            # the stream itself is gone — the failure we must keep
            if shard_id in live:
                raise  # shard exists; the error was about the
                # stream/iterator state, not shard retirement
            _LOG.warning(
                "kinesis shard %s/%s vanished (aged past "
                "retention after reshard); retiring its offset",
                self.stream,
                shard_id,
            )
            return None

    def readBetweenOffsets(self, start: dict, end: dict):
        client = self.factory()
        rows: list = []
        for shard_id, stop in end.items():
            pos = start.get(shard_id, "")
            if not stop or stop == pos:
                continue  # shard had no data in this batch
            rows.extend(
                read_shard(
                    client, self.stream, shard_id, pos, stop_seq=str(stop)
                )
            )
        return iter(rows)

    def commit(self, end: dict) -> None:
        return None


class KinesisDataSourceStreamWriter(DataSourceStreamWriter):
    """``writeStream.format('kinesis_frinesis')`` — the reference's
    actual deployment shape (unbounded stream → Kinesis egress,
    sink.go:66-77) under the connector contract: every micro-batch's
    tasks run the same BatchProducer path as the batch writer
    (chunking/backoff/retry/shed/drain, A3–A11), commit/abort are
    per-epoch no-ops because delivery is at-least-once by design
    (requeue-at-back, batchproducer.go:360, :425-426 — replays after a
    failed epoch re-send, exactly the reference's semantics)."""

    def __init__(self, options: dict):
        self._batch = KinesisDataSourceWriter(options)

    def write(self, iterator):
        return self._batch.write(iterator)

    def commit(self, messages, batchId) -> None:
        return None

    def abort(self, messages, batchId) -> None:
        return None


class KinesisDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return FORMAT_NAME

    def schema(self) -> str:
        return READ_SCHEMA

    def reader(self, schema) -> KinesisBatchReader:
        return KinesisBatchReader(self.options)

    def writer(self, schema, overwrite: bool) -> KinesisDataSourceWriter:
        if overwrite:
            # A stream cannot be truncated; silently treating
            # mode('overwrite') as append would hand back duplicated
            # data with no error.
            raise ValueError(
                f"{FORMAT_NAME} supports only append mode "
                "(a Kinesis stream cannot be overwritten)"
            )
        return KinesisDataSourceWriter(self.options)

    def streamWriter(self, schema, overwrite: bool) -> KinesisDataSourceStreamWriter:
        return KinesisDataSourceStreamWriter(self.options)

    def simpleStreamReader(self, schema) -> KinesisSimpleStreamReader:
        return KinesisSimpleStreamReader(self.options)


def register(spark) -> None:
    """Make the format available: ``spark.read.format('kinesis_frinesis')``."""
    spark.dataSource.register(KinesisDataSource)
