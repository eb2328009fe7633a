"""The `kinesis_frinesis` Python Data Source: batch write → batch read
round-trip, per-row stream routing, and incremental streaming reads —
the data-source-API packaging of the reference's delivery tests
(integration_test.go:159-198, multiset comparison :151-157)."""

from __future__ import annotations

import pytest

from frinesis_spark.sources.kinesis_datasource import (
    FORMAT_NAME,
    KinesisDataSource,
)


@pytest.fixture()
def registered(spark):
    spark.dataSource.register(KinesisDataSource)
    return spark


def _write(spark, store, payloads, stream="events-out"):
    df = spark.createDataFrame(
        [(p.encode(), f"pk{i}") for i, p in enumerate(payloads)],
        "data binary, partition_key string",
    )
    (
        df.write.format(FORMAT_NAME)
        .option("stream", stream)
        .option("mock_store_dir", store)
        .mode("append")
        .save()
    )


def test_write_read_roundtrip_multiset(registered, tmp_path):
    spark = registered
    store = str(tmp_path / "store")
    payloads = [f"msg-{i}" for i in range(37)]
    _write(spark, store, payloads)

    back = (
        spark.read.format(FORMAT_NAME)
        .option("stream", "events-out")
        .option("mock_store_dir", store)
        .load()
    )
    rows = back.collect()
    assert sorted(bytes(r.data).decode() for r in rows) == sorted(payloads)
    assert {r.stream for r in rows} == {"events-out"}


def test_write_routes_per_row_stream(registered, tmp_path):
    spark = registered
    store = str(tmp_path / "store")
    df = spark.createDataFrame(
        [(f"m{i}".encode(), None, f"topic-{i % 2}") for i in range(10)],
        "data binary, partition_key string, stream string",
    )
    (
        df.write.format(FORMAT_NAME)
        .option("stream", "default-unused")
        .option("mock_store_dir", store)
        .mode("append")
        .save()
    )
    for topic, expect in [("topic-0", 5), ("topic-1", 5)]:
        n = (
            spark.read.format(FORMAT_NAME)
            .option("stream", topic)
            .option("mock_store_dir", store)
            .load()
            .count()
        )
        assert n == expect, topic


def test_write_fails_task_on_undelivered_records():
    """Close-with-error (sink.go:121-123): records still buffered at
    the drain deadline fail the write task, naming the stream; rows
    without a ``stream`` column go to the option stream."""
    from pyspark.sql import Row

    from frinesis_spark.sinks.mock import MockClientFactory
    from frinesis_spark.sources.kinesis_datasource import (
        KinesisDataSourceWriter,
    )

    writer = KinesisDataSourceWriter({"stream": "events-out"})
    writer.factory = MockClientFactory(should_err=True)
    writer.config.flush_timeout_s = 0.2
    rows = [Row(data=b"x", partition_key=None) for _ in range(3)]
    with pytest.raises(
        RuntimeError,
        match="3 records undelivered to 'events-out' at drain deadline",
    ):
        writer.write(iter(rows))


def test_stream_writer_end_to_end(registered, tmp_path, sf_dir):
    """readStream(events) → writeStream.format(kinesis) — the
    reference's deployment shape; delivery multiset checked via the
    store."""
    spark = registered
    store = str(tmp_path / "wstore")
    from pyspark.sql import functions as F

    from frinesis_spark.sinks.mock import read_back
    from frinesis_spark.streaming.windows import events_stream

    msgs = events_stream(spark, sf_dir).select(
        F.col("event_type").alias("stream"),
        F.encode(F.col("props"), "utf-8").alias("data"),
        F.expr("uuid()").alias("partition_key"),
    )
    q = (
        msgs.writeStream.format(FORMAT_NAME)
        .option("stream", "unused-default")
        .option("mock_store_dir", store)
        .option("checkpointLocation", str(tmp_path / "wckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    delivered = read_back(store)
    import duckdb

    n_events = duckdb.sql(
        f"SELECT count(*) FROM read_parquet('{sf_dir}/events.parquet')"
    ).fetchone()[0]
    assert len(delivered) == n_events
    assert {d["stream"] for d in delivered} == {
        "view", "click", "purchase", "signup", "error"
    }


def test_stream_reader_incremental(registered, tmp_path):
    spark = registered
    store = str(tmp_path / "store")
    _write(spark, store, [f"a{i}" for i in range(5)], stream="s1")

    q = (
        spark.readStream.format(FORMAT_NAME)
        .option("stream", "s1")
        .option("mock_store_dir", store)
        .load()
        .writeStream.format("memory")
        .queryName("kds_sink")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        first = spark.sql("SELECT data FROM kds_sink").count()
        assert first == 5

        _write(spark, store, [f"b{i}" for i in range(3)], stream="s1")
        q.processAllAvailable()
        rows = spark.sql("SELECT data FROM kds_sink").collect()
        assert len(rows) == 8  # no re-delivery of the first five
        got = sorted(bytes(r.data).decode() for r in rows)
        assert got == sorted([f"a{i}" for i in range(5)] + [f"b{i}" for i in range(3)])
    finally:
        q.stop()


def test_binary_payload_roundtrip(registered, tmp_path):
    """`data binary` means arbitrary bytes: non-UTF-8 payloads must
    survive the store roundtrip exactly (base64 JSONL store — a
    utf-8/replace store corrupts them silently)."""
    spark = registered
    store = str(tmp_path / "bstore")
    payloads = [bytes([0xFF, 0x00, 0x9C, i]) for i in range(8)]
    df = spark.createDataFrame(
        [(p, f"pk{i}") for i, p in enumerate(payloads)],
        "data binary, partition_key string",
    )
    (
        df.write.format(FORMAT_NAME)
        .option("stream", "bin")
        .option("mock_store_dir", store)
        .mode("append")
        .save()
    )
    back = (
        spark.read.format(FORMAT_NAME)
        .option("stream", "bin")
        .option("mock_store_dir", store)
        .load()
    )
    assert sorted(bytes(r.data) for r in back.collect()) == sorted(payloads)


def test_stream_reader_restart_resumes_after_last_seq(registered, tmp_path):
    """Checkpoint restart: the offset stores the last-READ sequence
    number (opaque-string contract, resumed AFTER_SEQUENCE_NUMBER) —
    a restarted query delivers only records appended after it."""
    spark = registered
    store = str(tmp_path / "rstore")
    ckpt = str(tmp_path / "rckpt")
    out = str(tmp_path / "rout")
    _write(spark, store, [f"a{i}" for i in range(4)], stream="s3")

    def run_until_available():
        # File sink: the memory sink can't recover from a checkpoint.
        q = (
            spark.readStream.format(FORMAT_NAME)
            .option("stream", "s3")
            .option("mock_store_dir", store)
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    run_until_available()
    assert spark.read.parquet(out).count() == 4

    _write(spark, store, ["b0", "b1"], stream="s3")
    run_until_available()
    rows = spark.read.parquet(out).select("data").collect()
    got = sorted(bytes(r.data).decode() for r in rows)
    # exactly-once across the restart: no horizon re-read, no dupes
    assert got == sorted([f"a{i}" for i in range(4)] + ["b0", "b1"])


def test_wire_roundtrip_through_stub(registered):
    """The connector's REAL wire path (r7): executor-side boto3
    clients against the in-process HTTP Kinesis stub via the
    `endpoint` option — batch write (PutRecords from worker tasks,
    2-shard routing) then batch read (per-shard drain from worker
    tasks), multiset-equal. Complements the producer-level wire tests
    (test_kinesis_integration.py) by running the same protocol through
    the Data Source API's serialize-to-worker path."""
    pytest.importorskip("boto3")
    from frinesis_spark.sinks.kinesis import make_boto3_client_factory
    from tests.kinesis_stub import KinesisStub

    spark = registered
    payloads = [f"wire payload {i}" for i in range(25)]
    with KinesisStub() as stub:
        kin = make_boto3_client_factory(
            {"AWS_REGION_NAME": "us-east-1", "KINESIS_ENDPOINT": stub.endpoint}
        )()
        kin.create_stream(StreamName="wire.topic", ShardCount=2)
        df = spark.createDataFrame(
            [(p.encode(), f"pk{i}") for i, p in enumerate(payloads)],
            "data binary, partition_key string",
        )
        (
            df.write.format(FORMAT_NAME)
            .option("stream", "wire.topic")
            .option("endpoint", stub.endpoint)
            .mode("append")
            .save()
        )
        back = (
            spark.read.format(FORMAT_NAME)
            .option("stream", "wire.topic")
            .option("endpoint", stub.endpoint)
            .load()
        )
        rows = back.collect()
        assert sorted(bytes(r.data).decode() for r in rows) == sorted(payloads)
        # Both shards participated (the md5 key routing splits 25 keys).
        assert len({r.shard_id for r in rows}) == 2


def test_stream_reader_caps_each_batch_at_max_records(tmp_path):
    """``maxRecordsPerBatch`` bounds each micro-batch's driver-side
    read: no GetRecords asks for more than the budget, the next batch
    resumes after the last record read, and a replay of a batch's
    offsets returns exactly that batch."""
    from frinesis_spark.sinks.mock import MockKinesisClient
    from frinesis_spark.sources.kinesis_datasource import (
        KinesisSimpleStreamReader,
    )

    limits = []

    class LimitLog(MockKinesisClient):
        def get_records(self, ShardIterator, Limit=10_000):  # noqa: N803
            limits.append(Limit)
            return super().get_records(ShardIterator, Limit)

    store = str(tmp_path / "store")
    client = LimitLog(store_dir=store)
    client.put_records(
        Records=[
            {"Data": f"m{i}".encode(), "PartitionKey": f"p{i}"}
            for i in range(10)
        ],
        StreamName="s",
    )
    reader = KinesisSimpleStreamReader(
        {"stream": "s", "mock_store_dir": store, "maxrecordsperbatch": "4"}
    )
    reader.factory = lambda: client

    def data(rows):
        return [bytes(r[4]).decode() for r in rows]

    start = reader.initialOffset()
    rows, end = reader.read(start)
    assert data(rows) == ["m0", "m1", "m2", "m3"]
    assert limits and max(limits) <= 4
    rows2, _ = reader.read(end)
    assert data(rows2) == ["m4", "m5", "m6", "m7"]
    assert data(reader.readBetweenOffsets(start, end)) == [
        "m0", "m1", "m2", "m3"
    ]


class _ShardedClient:
    """Fake multi-shard stream: ``logs`` maps shard id → payloads. A
    record's sequence number is its index in its shard, and
    GetRecords honours ``Limit``."""

    def __init__(self, logs):
        self.logs = logs

    def list_shards(self, **kw):
        return {"Shards": [{"ShardId": s} for s in self.logs]}

    def get_shard_iterator(self, ShardId, ShardIteratorType, **kw):  # noqa: N803
        pos = 0
        if ShardIteratorType == "AFTER_SEQUENCE_NUMBER":
            pos = int(kw["StartingSequenceNumber"]) + 1
        return {"ShardIterator": f"{ShardId}|{pos}"}

    def get_records(self, ShardIterator, Limit):  # noqa: N803
        sid, pos = ShardIterator.rsplit("|", 1)
        pos = int(pos)
        chunk = self.logs[sid][pos : pos + Limit]
        return {
            "Records": [
                {"SequenceNumber": str(pos + i), "PartitionKey": "pk", "Data": d}
                for i, d in enumerate(chunk)
            ],
            "NextShardIterator": f"{sid}|{pos + len(chunk)}",
            "MillisBehindLatest": 0,
        }


def _budget_reader(logs, budget):
    from frinesis_spark.sources.kinesis_datasource import (
        KinesisSimpleStreamReader,
    )

    r = KinesisSimpleStreamReader(
        {"stream": "s", "mock_store_dir": "/x", "maxrecordsperbatch": str(budget)}
    )
    r.factory = lambda: _ShardedClient(logs)
    return r


def test_stream_reader_budget_holds_across_many_shards():
    """More shards than budget: 10 shards of 3 records each and
    ``maxRecordsPerBatch=4`` read exactly 4 rows, and the replay of the
    batch's offsets returns exactly those rows."""
    logs = {
        f"shard-{k}": [f"s{k}r{i}".encode() for i in range(3)] for k in range(10)
    }
    reader = _budget_reader(logs, 4)
    start = reader.initialOffset()
    rows, end = reader.read(start)
    rows = list(rows)
    assert len(rows) == 4
    assert sorted(reader.readBetweenOffsets(start, end)) == sorted(rows)
    # The shard order rotates per batch, so no shard waits for the
    # first four to drain; every record is read exactly once.
    batches = [rows]
    while rows:
        rows, end = reader.read(end)
        rows = list(rows)
        batches.append(rows)
    assert len({r[1] for b in batches[:3] for r in b}) > 4
    got = [bytes(r[4]) for b in batches for r in b]
    assert sorted(got) == sorted(d for log in logs.values() for d in log)


def test_stream_reader_budget_moves_to_backlogged_shard():
    """Budget a caught-up shard leaves unused goes to the shard that
    still holds records, in the same batch: one backlogged shard (not
    the first) among nine idle ones gets the whole budget."""
    logs = {f"shard-{k}": [] for k in range(10)}
    logs["shard-3"] = [f"r{i}".encode() for i in range(10)]
    reader = _budget_reader(logs, 4)
    start = reader.initialOffset()
    rows, end = reader.read(start)
    rows = list(rows)
    assert [bytes(r[4]) for r in rows] == [b"r0", b"r1", b"r2", b"r3"]
    assert {r[1] for r in rows} == {"shard-3"}
    assert sorted(reader.readBetweenOffsets(start, end)) == sorted(rows)


# --- shard retirement specificity (ADVICE r7) ------------------------------


class _RNF(Exception):
    """Duck-typed botocore ClientError with the AWS error code."""

    response = {"Error": {"Code": "ResourceNotFoundException"}}


class _OtherErr(Exception):
    response = {"Error": {"Code": "ProvisionedThroughputExceededException"}}


class _FakeClient:
    """Shards in `live` list + serve one record each; ids in `broken`
    raise `err` from get_shard_iterator. `fail_list_after` makes
    list_shards itself raise _RNF from the Nth call on (stream
    deleted mid-batch)."""

    def __init__(self, live, broken=(), err=_RNF, fail_list_after=None):
        self.live = list(live)
        self.broken = set(broken)
        self.err = err
        self.fail_list_after = fail_list_after
        self._list_calls = 0

    def list_shards(self, **kw):
        self._list_calls += 1
        if (
            self.fail_list_after is not None
            and self._list_calls > self.fail_list_after
        ):
            raise _RNF("stream deleted")
        return {"Shards": [{"ShardId": s} for s in self.live]}

    def get_shard_iterator(self, **kw):
        sid = kw["ShardId"]
        if sid in self.broken:
            raise self.err(sid)
        return {"ShardIterator": f"it-{sid}"}

    def get_records(self, ShardIterator, Limit):
        sid = ShardIterator.split("-", 1)[1]
        return {
            "Records": [
                {
                    "SequenceNumber": f"{sid}-seq1",
                    "PartitionKey": "pk",
                    "Data": sid.encode(),
                }
            ],
            "MillisBehindLatest": 0,
        }


def _reader(client):
    from frinesis_spark.sources.kinesis_datasource import (
        KinesisSimpleStreamReader,
    )

    r = KinesisSimpleStreamReader({"stream": "s", "mock_store_dir": "/x"})
    r.factory = lambda: client
    return r


def test_vanished_shard_is_retired_and_batch_continues():
    """A shard absent from a live list_shards AND raising the specific
    AWS code is retired; the other shard's records still flow."""
    client = _FakeClient(live=["B"], broken=["A"])
    rows, end = _reader(client).read({"A": "old-seq", "B": ""})
    assert [r[1] for r in rows] == ["B"]
    assert "A" not in end and end["B"] == "B-seq1"


def test_rnf_on_live_shard_surfaces():
    """ResourceNotFound while the shard is still listed (iterator/
    state weirdness, or an error message merely containing the text)
    must raise, not retire."""
    client = _FakeClient(live=["A", "B"], broken=["A"])
    with pytest.raises(_RNF):
        _reader(client).read({"A": "old-seq", "B": ""})


def test_stream_deleted_mid_batch_surfaces():
    """If the existence re-check finds the whole stream gone, the
    original failure propagates instead of retiring every shard into
    silent empty batches forever."""
    client = _FakeClient(live=["A", "B"], broken=["A"], fail_list_after=1)
    with pytest.raises(_RNF):
        _reader(client).read({"A": "old-seq", "B": ""})


def test_non_rnf_codes_never_retire():
    client = _FakeClient(live=["B"], broken=["A"], err=_OtherErr)
    with pytest.raises(_OtherErr):
        _reader(client).read({"A": "old-seq", "B": ""})


# --- mid-stream resharding (r10, r9 verdict item 4) ------------------------


def _moto_available() -> bool:
    try:
        import moto.server  # noqa: F401

        return True
    except ImportError:
        return False


@pytest.mark.parametrize("backend", ["stub", "moto"])
def test_midstream_shard_split_no_loss_no_dup(
    registered, tmp_path, backend
):
    """The reference's order-insensitive delivery contract
    (integration_test.go:151-157) across a RESHARD happening between
    micro-batches of an active streaming query: the parent shard is
    drained to its end, the children enter the offset map from
    TRIM_HORIZON on the next batch, and the delivered multiset equals
    the sent multiset — no loss, no duplicate. Runs against the
    in-process stub's SplitShard and against moto's (an independent
    Kinesis implementation over real sockets)."""
    pytest.importorskip("boto3")
    from frinesis_spark.sinks.kinesis import make_boto3_client_factory

    spark = registered
    if backend == "moto":
        if not _moto_available():
            pytest.skip("moto not installed")
        from moto.server import ThreadedMotoServer

        server = ThreadedMotoServer(port=0, verbose=False)
        server.start()
        host, port = server.get_host_and_port()
        endpoint = f"{host}:{port}"
        stop = server.stop
    else:
        from tests.kinesis_stub import KinesisStub

        stub = KinesisStub()
        stub.__enter__()
        endpoint = stub.endpoint
        stop = lambda: stub.__exit__()  # noqa: E731

    try:
        kin = make_boto3_client_factory(
            {"AWS_REGION_NAME": "us-east-1", "KINESIS_ENDPOINT": endpoint}
        )()
        stream = f"reshard-{backend}"
        kin.create_stream(StreamName=stream, ShardCount=1)

        def put(payloads):
            resp = kin.put_records(
                StreamName=stream,
                Records=[
                    {"Data": p.encode(), "PartitionKey": f"pk{i}"}
                    for i, p in enumerate(payloads)
                ],
            )
            assert resp["FailedRecordCount"] == 0

        pre = [f"pre-split-{i}" for i in range(20)]
        put(pre)

        q = (
            spark.readStream.format(FORMAT_NAME)
            .option("stream", stream)
            .option("endpoint", endpoint)
            .load()
            .writeStream.format("memory")
            .queryName(f"reshard_sink_{backend}")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .start()
        )
        try:
            q.processAllAvailable()

            # split the (single) parent shard mid-query
            desc = kin.describe_stream(StreamName=stream)
            parent = desc["StreamDescription"]["Shards"][0]
            rng = parent["HashKeyRange"]
            mid = (
                int(rng["StartingHashKey"]) + int(rng["EndingHashKey"])
            ) // 2
            kin.split_shard(
                StreamName=stream,
                ShardToSplit=parent["ShardId"],
                NewStartingHashKey=str(mid),
            )

            post = [f"post-split-{i}" for i in range(20)]
            put(post)
            q.processAllAvailable()

            rows = spark.sql(
                f"SELECT shard_id, data FROM reshard_sink_{backend}"
            ).collect()
            got = sorted(bytes(r.data).decode() for r in rows)
            assert got == sorted(pre + post)  # multiset: no loss, no dup

            # the post-split records came from CHILD shards, the
            # pre-split ones from the (now closed) parent. moto has a
            # fidelity gap here — its put_records keeps routing to the
            # CLOSED parent (probed r10; the real service routes to
            # the children covering the key's hash range) — so the
            # routing assertions run against the stub, which models
            # the real post-split behavior; the delivery contract
            # above (no loss, no dup, across the reshard) is asserted
            # against BOTH backends.
            by_payload = {
                bytes(r.data).decode(): r.shard_id for r in rows
            }
            parent_id = parent["ShardId"]
            assert all(by_payload[p] == parent_id for p in pre)
            live = {
                s["ShardId"]
                for s in kin.list_shards(StreamName=stream)["Shards"]
            }
            children = {by_payload[p] for p in post}
            assert children <= live
            if backend == "stub":
                assert parent_id not in children

            # a further batch after the split keeps flowing (children
            # offsets advance, the closed parent contributes nothing)
            more = [f"steady-{i}" for i in range(5)]
            put(more)
            q.processAllAvailable()
            got2 = sorted(
                bytes(r.data).decode()
                for r in spark.sql(
                    f"SELECT data FROM reshard_sink_{backend}"
                ).collect()
            )
            assert got2 == sorted(pre + post + more)
        finally:
            q.stop()
    finally:
        stop()
