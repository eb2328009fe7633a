"""Tests for the Kinesis shard-parallel source.

Round-trip assertions mirror the reference's integration tests: write
through the sink, read back through the source, compare unordered
multisets of payloads (integration_test.go:151-157, :159-173).
"""

from __future__ import annotations

from frinesis_spark.sinks.kinesis import KinesisBatchWriter
from frinesis_spark.sinks.mock import MockClientFactory, MockKinesisClient
from frinesis_spark.sources.kinesis import (
    list_shard_ids,
    read_kinesis,
    read_shard,
)


def _fill(store, stream, payloads):
    client = MockKinesisClient(store_dir=store)
    client.put_records(
        Records=[
            {"Data": p.encode(), "PartitionKey": f"pk{i}"}
            for i, p in enumerate(payloads)
        ],
        StreamName=stream,
    )
    return client


def test_drain_shard_pages_through(tmp_path):
    store = str(tmp_path / "store")
    client = _fill(store, "s1", [f"m{i}" for i in range(25)])
    [shard] = list_shard_ids(client, "s1")
    recs = list(read_shard(client, "s1", shard, limit=10))
    assert len(recs) == 25  # 3 GetRecords pages
    assert sorted(r[4].decode() for r in recs) == sorted(
        f"m{i}" for i in range(25)
    )


def test_mock_pages_decode_each_store_file_once(tmp_path, monkeypatch):
    """Paging a 2,000-record stream at ``Limit=100`` decodes each mock
    store file exactly once (the store used to be re-read and decoded
    on every GetRecords, quadratic in the stream length), and the rows
    are the stored log in order."""
    from collections import Counter

    from frinesis_spark.sinks import mock

    store = str(tmp_path / "store")
    writer = MockKinesisClient(store_dir=store)
    for call in range(20):
        writer.put_records(
            Records=[
                {"Data": f"m{call * 100 + i}".encode(), "PartitionKey": "k"}
                for i in range(100)
            ],
            StreamName="s1",
        )
    want = [r["data"] for r in mock.read_back(store)]
    assert len(want) == 2000

    decoded = Counter()
    read_file = mock._read_file

    def counting(path):
        decoded[path] += 1
        return read_file(path)

    monkeypatch.setattr(mock, "_read_file", counting)
    client = MockKinesisClient(store_dir=store)
    [shard] = list_shard_ids(client, "s1")
    recs = list(read_shard(client, "s1", shard, limit=100))
    assert [r[4] for r in recs] == want
    assert len(decoded) == 20 and set(decoded.values()) == {1}


def test_read_kinesis_empty_stream(spark, tmp_path):
    factory = MockClientFactory(store_dir=str(tmp_path / "store"))
    df = read_kinesis(spark, factory, "nothing-here")
    assert df.count() == 0
    assert df.columns == [
        "stream", "shard_id", "sequence_number", "partition_key", "data",
    ]


def test_sink_source_roundtrip_multiset(spark, tmp_path):
    """TestSend analog: Spark write → Spark read → multiset equality."""
    store = str(tmp_path / "store")
    df = spark.range(0, 500).selectExpr(
        "concat('stream_', id % 2) AS topic",
        "cast(concat('payload_', id) as binary) AS data",
        "uuid() AS partition_key",
    )
    factory = MockClientFactory(store_dir=store)
    KinesisBatchWriter(factory).write_batch(df).collect()

    got = []
    for stream in ("stream_0", "stream_1"):
        rows = read_kinesis(spark, factory, stream).collect()
        got += [(r["stream"], bytes(r["data"]).decode()) for r in rows]
    assert sorted(got) == sorted(
        (f"stream_{i % 2}", f"payload_{i}") for i in range(500)
    )
