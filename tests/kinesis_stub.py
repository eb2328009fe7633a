"""Minimal in-process Kinesis HTTP endpoint for the wire-path tests.

The reference proves its delivery guarantees against a live Kinesis
API via docker-compose + localstack (docker-compose.yml:1-10,
integration_test.go:159-198); this sandbox has no container runtime or
network, so this module serves the same AWS JSON-1.1 protocol surface
(``X-Amz-Target: Kinesis_20131202.<Op>`` over HTTP POST) from a
threading HTTP server inside the test process. boto3 talks to it
exactly as it would to localstack — real request signing headers,
real base64 blob encoding/decoding, real ``Records`` /
``FailedRecordCount`` casing — so the layer the mock-client unit
tests are silent on (the wire shape) actually executes.

Operations implemented (the set the engine's sink + shard-drain loop
touches): CreateStream, DescribeStream, DeleteStream, ListShards,
PutRecords, GetShardIterator, GetRecords, SplitShard. Streams become
ACTIVE immediately. Shard iterators are stateless base64 tokens of
(stream, shard, offset), so GetRecords pagination and the
TRIM_HORIZON catch-up contract (read_shard, sources/kinesis.py)
behave like the real service's.

Resharding model (r10, r9 verdict item 4): ``SplitShard`` CLOSES the
parent (new puts route only among open shards; a drained closed shard
returns ``NextShardIterator: null`` — the real service's
end-of-closed-shard signal) and appends two open children carrying
``ParentShardId``, so a streaming reader observes the real mid-stream
reshard sequence: parent drains to its end, children appear in
ListShards and start from TRIM_HORIZON.

Optional fault injection: ``fail_first_puts=N`` makes the first N
PutRecords calls report every record as
``ProvisionedThroughputExceededException`` in the per-record
``Records`` array (FailedRecordCount > 0, HTTP 200) — the partial-
failure shape the reference's retry path is built around
(batchproducer.go's sendBatch split).
"""

from __future__ import annotations

import base64
import binascii
import hashlib
import json
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer


_MAX_HASH = (1 << 128) - 1


class _Shard:
    """One shard: records are (sequence, partition_key, data, ts);
    ``open`` flips False on SplitShard (closed shards take no new
    records and signal end-of-shard to a fully-caught-up reader).
    ``start_hash``/``end_hash`` are the shard's MD5 hash-key range —
    disjoint across open shards, exactly like the real service (a
    split carves the parent's range at NewStartingHashKey)."""

    def __init__(
        self,
        start_hash: int = 0,
        end_hash: int = _MAX_HASH,
        parent: str | None = None,
    ):
        self.records: list[tuple] = []
        self.open = True
        self.parent = parent
        self.start_hash = start_hash
        self.end_hash = end_hash


class _KinesisState:
    def __init__(
        self,
        fail_first_puts: int = 0,
        fail_every_nth_record: int = 0,
        call_latency_s: float = 0.0,
    ):
        self.lock = threading.Lock()
        self.streams: dict[str, list[_Shard]] = {}
        self.seq = 0
        self.fail_first_puts = fail_first_puts
        # Simulated per-PutRecords wire latency (r10 verdict item 7):
        # the stub answers in µs, so the CPU envelope alone overstates
        # what a user sees against real AWS (~10-20 ms in-region).
        # Slept OUTSIDE the state lock, before the op handler runs.
        self.call_latency_s = call_latency_s
        # steady-state partial-failure injection: every Nth record
        # (counted across calls) gets a per-record throttle entry —
        # the 10%-failure envelope the sink throughput bench drives
        self.fail_every_nth_record = fail_every_nth_record
        self.rec_counter = 0
        self.put_calls = 0

    def next_seq(self) -> str:
        self.seq += 1
        return str(self.seq)


def _err(code: str, msg: str) -> tuple[int, dict]:
    return 400, {"__type": code, "message": msg}


def _shard_id(i: int) -> str:
    return f"shardId-{i:012d}"


def _route(partition_key: str, shards: list[_Shard]) -> int:
    """The real service's routing: MD5 of the partition key as a
    128-bit integer, delivered to the OPEN shard whose hash-key range
    contains it (open ranges partition the keyspace — CreateStream
    splits it contiguously and SplitShard carves a parent's range into
    two disjoint children)."""
    h = int.from_bytes(hashlib.md5(partition_key.encode()).digest(), "big")
    for i, sh in enumerate(shards):
        if sh.open and sh.start_hash <= h <= sh.end_hash:
            return i
    raise AssertionError("open shard ranges must cover the keyspace")


class _Handler(BaseHTTPRequestHandler):
    state: _KinesisState  # set by serve()

    def log_message(self, *a):  # quiet
        pass

    def do_POST(self):  # noqa: N802 - http.server API
        length = int(self.headers.get("Content-Length") or 0)
        body = json.loads(self.rfile.read(length) or b"{}")
        target = self.headers.get("X-Amz-Target", "")
        op = target.split(".")[-1]
        handler = getattr(self, f"_op_{op}", None)
        if handler is None:
            status, resp = _err(
                "UnknownOperationException", f"unsupported op {op!r}"
            )
        else:
            if self.state.call_latency_s and op == "PutRecords":
                # outside the lock: concurrent producers overlap their
                # wire waits exactly as real sockets would
                time.sleep(self.state.call_latency_s)
            with self.state.lock:
                status, resp = handler(body)
        payload = json.dumps(resp).encode()
        self.send_response(status)
        self.send_header("Content-Type", "application/x-amz-json-1.1")
        self.send_header("Content-Length", str(len(payload)))
        self.end_headers()
        self.wfile.write(payload)

    # -- control plane ------------------------------------------------
    def _op_CreateStream(self, body):  # noqa: N802
        name = body["StreamName"]
        if name in self.state.streams:
            return _err("ResourceInUseException", name)
        n = int(body.get("ShardCount", 1))
        bounds = [(_MAX_HASH + 1) * i // n for i in range(n + 1)]
        self.state.streams[name] = [
            _Shard(start_hash=bounds[i], end_hash=bounds[i + 1] - 1)
            for i in range(n)
        ]
        return 200, {}

    def _op_DeleteStream(self, body):  # noqa: N802
        name = body["StreamName"]
        if name not in self.state.streams:
            return _err("ResourceNotFoundException", name)
        del self.state.streams[name]
        return 200, {}

    def _shard_descriptions(self, shards: list[_Shard]) -> list[dict]:
        out = []
        for i, sh in enumerate(shards):
            desc: dict = {
                "ShardId": _shard_id(i),
                "HashKeyRange": {
                    "StartingHashKey": str(sh.start_hash),
                    "EndingHashKey": str(sh.end_hash),
                },
                "SequenceNumberRange": {
                    "StartingSequenceNumber": (
                        sh.records[0][0] if sh.records else "0"
                    )
                },
            }
            if sh.parent is not None:
                desc["ParentShardId"] = sh.parent
            if not sh.open:
                # closed shard: the range carries an end (the real
                # service's marker that no further records will land)
                desc["SequenceNumberRange"]["EndingSequenceNumber"] = (
                    sh.records[-1][0] if sh.records else "0"
                )
            out.append(desc)
        return out

    def _op_DescribeStream(self, body):  # noqa: N802
        name = body["StreamName"]
        shards = self.state.streams.get(name)
        if shards is None:
            return _err("ResourceNotFoundException", name)
        return 200, {
            "StreamDescription": {
                "StreamName": name,
                "StreamARN": f"arn:aws:kinesis:stub:000000000000:stream/{name}",
                "StreamStatus": "ACTIVE",
                "RetentionPeriodHours": 24,
                "EnhancedMonitoring": [],
                "HasMoreShards": False,
                "Shards": self._shard_descriptions(shards),
            }
        }

    def _op_ListShards(self, body):  # noqa: N802
        name = body.get("StreamName")
        if name is None:
            return _err("InvalidArgumentException", "NextToken unsupported")
        shards = self.state.streams.get(name)
        if shards is None:
            return _err("ResourceNotFoundException", name)
        return 200, {"Shards": self._shard_descriptions(shards)}

    def _op_SplitShard(self, body):  # noqa: N802
        name = body["StreamName"]
        shards = self.state.streams.get(name)
        if shards is None:
            return _err("ResourceNotFoundException", name)
        sid = body.get("ShardToSplit", "")
        try:
            idx = int(sid.rsplit("-", 1)[1])
        except (IndexError, ValueError):
            return _err("InvalidArgumentException", sid)
        if not 0 <= idx < len(shards):
            return _err("ResourceNotFoundException", sid)
        if not shards[idx].open:
            return _err(
                "InvalidArgumentException", f"{sid} is already closed"
            )
        parent = shards[idx]
        try:
            split_at = int(body["NewStartingHashKey"])
        except (KeyError, ValueError):
            return _err("InvalidArgumentException", "NewStartingHashKey")
        if not parent.start_hash < split_at <= parent.end_hash:
            return _err(
                "InvalidArgumentException",
                "NewStartingHashKey must fall inside the shard's range",
            )
        parent.open = False
        shards.append(
            _Shard(parent.start_hash, split_at - 1, parent=sid)
        )
        shards.append(_Shard(split_at, parent.end_hash, parent=sid))
        return 200, {}

    # -- data plane ---------------------------------------------------
    def _op_PutRecords(self, body):  # noqa: N802
        name = body["StreamName"]
        shards = self.state.streams.get(name)
        if shards is None:
            return _err("ResourceNotFoundException", name)
        records = body.get("Records", [])
        if not 1 <= len(records) <= 500:
            return _err(
                "ValidationException", f"{len(records)} records per call"
            )
        self.state.put_calls += 1
        if self.state.put_calls <= self.state.fail_first_puts:
            return 200, {
                "FailedRecordCount": len(records),
                "Records": [
                    {
                        "ErrorCode": "ProvisionedThroughputExceededException",
                        "ErrorMessage": "stub-injected throttle",
                    }
                    for _ in records
                ],
            }
        if not any(sh.open for sh in shards):
            return _err("ResourceNotFoundException", "no open shards")
        out = []
        failed = 0
        for rec in records:
            try:
                data = base64.b64decode(rec["Data"], validate=True)
            except (KeyError, binascii.Error):
                return _err("SerializationException", "bad Data blob")
            self.state.rec_counter += 1
            nth = self.state.fail_every_nth_record
            if nth and self.state.rec_counter % nth == 0:
                failed += 1
                out.append(
                    {
                        "ErrorCode": "ProvisionedThroughputExceededException",
                        "ErrorMessage": "stub-injected per-record throttle",
                    }
                )
                continue
            pk = rec.get("PartitionKey", "")
            idx = _route(pk, shards)
            seq = self.state.next_seq()
            shards[idx].records.append((seq, pk, data, time.time()))
            out.append({"SequenceNumber": seq, "ShardId": _shard_id(idx)})
        return 200, {"FailedRecordCount": failed, "Records": out}

    def _op_GetShardIterator(self, body):  # noqa: N802
        name = body["StreamName"]
        shards = self.state.streams.get(name)
        if shards is None:
            return _err("ResourceNotFoundException", name)
        shard = body["ShardId"]
        idx = int(shard.rsplit("-", 1)[1])
        if not 0 <= idx < len(shards):
            return _err("ResourceNotFoundException", shard)
        it_type = body.get("ShardIteratorType", "TRIM_HORIZON")
        recs = shards[idx].records
        if it_type == "TRIM_HORIZON":
            offset = 0
        elif it_type == "LATEST":
            offset = len(recs)
        elif it_type in ("AT_SEQUENCE_NUMBER", "AFTER_SEQUENCE_NUMBER"):
            want = body.get("StartingSequenceNumber")
            if want is None:
                return _err(
                    "InvalidArgumentException", "StartingSequenceNumber"
                )
            # Sequence numbers increase within a shard; an aged-out
            # start lands on the first record strictly after it (the
            # real service resumes from the trim horizon likewise).
            offset = len(recs)
            for i, (seq, *_rest) in enumerate(recs):
                if int(seq) >= int(want):
                    # Numeric equality, consistent with the >= search
                    # above (ADVICE r10): a client-supplied sequence
                    # with leading zeros matched numerically but not
                    # as a string, yielding a duplicate record.
                    offset = i + (
                        1
                        if it_type == "AFTER_SEQUENCE_NUMBER"
                        and int(seq) == int(want)
                        else 0
                    )
                    break
        else:
            return _err(
                "InvalidArgumentException", f"iterator type {it_type}"
            )
        token = base64.b64encode(
            json.dumps({"s": name, "i": idx, "o": offset}).encode()
        ).decode()
        return 200, {"ShardIterator": token}

    def _op_GetRecords(self, body):  # noqa: N802
        token = json.loads(base64.b64decode(body["ShardIterator"]))
        name, idx, offset = token["s"], token["i"], token["o"]
        shards = self.state.streams.get(name)
        if shards is None:
            return _err("ResourceNotFoundException", name)
        shard = shards[idx]
        limit = min(int(body.get("Limit", 10_000)), 10_000)
        chunk = shard.records[offset : offset + limit]
        new_offset = offset + len(chunk)
        resp = {
            "Records": [
                {
                    "SequenceNumber": seq,
                    "ApproximateArrivalTimestamp": ts,
                    "PartitionKey": pk,
                    "Data": base64.b64encode(data).decode(),
                }
                for seq, pk, data, ts in chunk
            ],
            "MillisBehindLatest": 0,
        }
        if shard.open or new_offset < len(shard.records):
            resp["NextShardIterator"] = base64.b64encode(
                json.dumps({"s": name, "i": idx, "o": new_offset}).encode()
            ).decode()
        else:
            # fully-drained CLOSED shard: null iterator — the real
            # service's "this shard will never have more" signal
            resp["NextShardIterator"] = None
        return 200, resp


class KinesisStub:
    """Context manager owning the server thread; ``endpoint`` is the
    ``host:port`` string to export as ``KINESIS_ENDPOINT``."""

    def __init__(
        self,
        fail_first_puts: int = 0,
        fail_every_nth_record: int = 0,
        call_latency_s: float = 0.0,
    ):
        state = _KinesisState(
            fail_first_puts, fail_every_nth_record, call_latency_s
        )
        handler = type("BoundHandler", (_Handler,), {"state": state})
        self.state = state
        self.server = ThreadingHTTPServer(("127.0.0.1", 0), handler)
        self.thread = threading.Thread(
            target=self.server.serve_forever, daemon=True
        )

    @property
    def endpoint(self) -> str:
        host, port = self.server.server_address[:2]
        return f"{host}:{port}"

    def __enter__(self) -> "KinesisStub":
        self.thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self.server.shutdown()
        self.server.server_close()
        self.thread.join(timeout=5)
