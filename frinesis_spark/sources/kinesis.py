"""Kinesis source: shard-parallel bounded reader.

The reference library is egress-only — its integration tests read
streams back with a hand-rolled shard-iterator loop to verify delivery
(/root/reference/integration_test.go:112-143). This module lifts that
read path into the engine as a first-class source: shards are listed
once on the driver (one cheap control-plane call), then **each shard is
drained by one executor task** with its own client — shard count is the
parallelism unit, exactly how Kinesis scales (1 MB/s per shard).

:func:`read_shard` is the one shard-read loop. Bounded (batch) reads
(`read_kinesis`, the ``kinesis_frinesis`` batch reader) drain each
shard from ``TRIM_HORIZON`` until it reports caught-up. Unbounded
reads are the ``kinesis_frinesis`` streaming reader
(``spark.readStream``, sources/kinesis_datasource.py): its offsets
are the last-read sequence number per shard, and each micro-batch
resumes after them through the same loop, on the driver, at most
``maxRecordsPerBatch`` records per batch.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

from pyspark.sql import DataFrame, SparkSession

#: result schema of read_kinesis
SCHEMA = (
    "stream string, shard_id string, sequence_number string, "
    "partition_key string, data binary"
)


def list_shard_ids(client, stream_name: str) -> list[str]:
    """All shard ids of a stream (driver-side control-plane call)."""
    out: list[str] = []
    kwargs: dict = {"StreamName": stream_name}
    while True:
        resp = client.list_shards(**kwargs)
        out.extend(s["ShardId"] for s in resp.get("Shards", []))
        token = resp.get("NextToken")
        if not token:
            return out
        kwargs = {"NextToken": token}


def _seq_after(a: str, b: str) -> bool:
    """True iff sequence number ``a`` is strictly beyond ``b``.
    Kinesis sequence numbers are big-integer strings that increase
    within a shard; non-numeric values (an exotic mock) fall back to
    False, preserving the equality-stop behavior."""
    try:
        return int(a) > int(b)
    except (TypeError, ValueError):
        return False


def read_shard(
    client,
    stream: str,
    shard_id: str,
    after: str = "",
    stop_seq: str | None = None,
    max_records: int | None = None,
    limit: int = 10_000,
) -> Iterator[tuple]:
    """One shard's records as ``SCHEMA`` tuples, until the shard reports
    caught-up — the reference's read-back loop
    (integration_test.go:112-143).

    ``after`` is the last sequence number already read: "" starts at
    ``TRIM_HORIZON``, anything else resumes with
    ``AFTER_SEQUENCE_NUMBER`` (sequence numbers are opaque and
    non-contiguous, so never seq+1). ``stop_seq`` is an inclusive
    bound: the read ends after that record. ``max_records`` caps the
    rows, and each ``GetRecords`` asks for at most the remaining budget.
    """
    kwargs = {"StreamName": stream, "ShardId": shard_id}
    if after:
        kwargs.update(
            ShardIteratorType="AFTER_SEQUENCE_NUMBER",
            StartingSequenceNumber=str(after),
        )
    else:
        kwargs["ShardIteratorType"] = "TRIM_HORIZON"
    it = client.get_shard_iterator(**kwargs)["ShardIterator"]
    budget = max_records
    while it and (budget is None or budget > 0):
        # Budget-aware Limit (r9 review wave 8): a check between calls
        # alone let ONE get_records overshoot the budget by up to 10k
        # records.
        n = limit if budget is None else min(limit, budget)
        resp = client.get_records(ShardIterator=it, Limit=n)
        for rec in resp.get("Records", []):
            seq = str(rec["SequenceNumber"])
            # Replay bound safety (r9 review wave 8): if the stop
            # record itself is gone (aged past retention), the equality
            # stop never fires and a replay would drain to the live
            # tip. Sequence numbers increase within a shard, so a
            # record numerically beyond the bound ends the read WITHOUT
            # being included.
            if stop_seq is not None and _seq_after(seq, stop_seq):
                return
            yield (
                stream,
                shard_id,
                seq,
                rec.get("PartitionKey"),
                bytes(rec.get("Data") or b""),
            )
            if stop_seq is not None and seq == stop_seq:
                return
            if budget is not None:
                budget -= 1
        it = resp.get("NextShardIterator")
        if not resp.get("Records") and not resp.get("MillisBehindLatest"):
            return  # caught up (empty batch at stream head)


def read_kinesis(
    spark: SparkSession,
    client_factory: Callable[[], object],
    stream_name: str,
    limit_per_call: int = 10_000,
) -> DataFrame:
    """Bounded read of a whole stream as a DataFrame.

    Scale shape: ``parallelize(shards)`` then one task drains one shard
    with an executor-local client — no data ever moves through the
    driver, and adding shards adds parallelism linearly. The records
    DataFrame is unordered across shards (Kinesis guarantees order only
    within a partition key; the reference's delivery model is unordered
    anyway, SURVEY.md §1.1).
    """
    shard_ids = list_shard_ids(client_factory(), stream_name)
    if not shard_ids:
        return spark.createDataFrame([], SCHEMA)

    def read_partition(shard_id_iter) -> Iterator[tuple]:
        client = client_factory()  # lazy, one per task
        for shard_id in shard_id_iter:
            yield from read_shard(
                client, stream_name, shard_id, limit=limit_per_call
            )

    rdd = spark.sparkContext.parallelize(shard_ids, len(shard_ids))
    return spark.createDataFrame(rdd.mapPartitions(read_partition), SCHEMA)
