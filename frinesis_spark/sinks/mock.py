"""Mock Kinesis client — port of the reference's test double
(`mockBatchingClient`, batchproducer_test.go:810-842) with the same
knobs:

- ``should_err``      — every put_records call raises ("oh noes",
  batchproducer_test.go:823-825);
- ``sleep_for_s``     — per-call latency injection (:827), advanced on
  an injectable clock so timeout tests are wall-clock free;
- magic partition key ``"fail"`` — per-record ErrorCode/ErrorMessage
  entries (:831-836), driving the retry-then-drop paths.

Delivered records are appended to ``store_dir`` (one JSON-lines file
per call, unique name → safe under concurrent executor tasks), which
is the read-back channel for delivery-multiset assertions — the same
role localstack's GetRecords plays in the reference's integration
tests (integration_test.go:112-143).
"""

from __future__ import annotations

import base64
import json
import os
import time
import uuid
from dataclasses import dataclass, field

FAIL_KEY = "fail"


@dataclass
class MockKinesisClient:
    store_dir: str | None = None
    should_err: bool = False
    sleep_for_s: float = 0.0
    fail_key: str = FAIL_KEY
    # injectables (kept local to the process; unit tests only)
    advance_clock: object = None
    calls: list = field(default_factory=list)
    _decoded: dict = field(default_factory=dict, repr=False)

    def put_records(self, Records, StreamName):  # noqa: N803 (boto3 API)
        self.calls.append(len(Records))
        if self.sleep_for_s and self.advance_clock is not None:
            self.advance_clock(self.sleep_for_s)
        if self.should_err:
            raise RuntimeError("oh noes")

        results = []
        failed = 0
        delivered = []
        for rec in Records:
            if rec["PartitionKey"] == self.fail_key:
                failed += 1
                results.append(
                    {
                        "ErrorCode": "ProvisionedThroughputExceededException",
                        "ErrorMessage": "injected failure",
                    }
                )
            else:
                results.append({"SequenceNumber": "1", "ShardId": "shard-0"})
                delivered.append(rec)
        if self.store_dir and delivered:
            os.makedirs(self.store_dir, exist_ok=True)
            # Monotonic time prefix: read_back sorts filenames, so the
            # log position of already-written records never changes as
            # later calls append — required for the streaming reader's
            # positional offsets (uuid-only names reshuffled the log).
            path = os.path.join(
                self.store_dir,
                f"call_{time.time_ns():020d}_{uuid.uuid4().hex}.jsonl",
            )
            # Written under a temp name and renamed into place, so a
            # reader never sees (and caches) a half-written file.
            with open(path + ".tmp", "w") as f:
                for rec in delivered:
                    f.write(
                        json.dumps(
                            {
                                "stream": StreamName,
                                "partition_key": rec["PartitionKey"],
                                # base64, not utf-8-replace: the source
                                # schema advertises `data binary`, so
                                # the store must roundtrip arbitrary
                                # bytes, not just text payloads.
                                "data_b64": base64.b64encode(
                                    bytes(rec["Data"])
                                ).decode("ascii"),
                            }
                        )
                        + "\n"
                    )
            os.replace(path + ".tmp", path)
        return {"FailedRecordCount": failed, "Records": results}

    # -- read side (GetRecords surface, integration_test.go:112-143) ---
    # The store_dir files double as the shard log: records land in
    # arrival order per call-file; a shard iterator is an offset into
    # that log. One shard per stream (the mock's put path doesn't
    # split by partition key). Cross-file order is by filename — the
    # mock, like the reference, guarantees delivery, not order.

    def _shard_log(self, stream: str) -> list[dict]:
        # Store files are write-once and uniquely named, so each one is
        # decoded once per client and cached by name; re-reading the
        # whole store per call made paging a shard quadratic.
        out: list[dict] = []
        for name in _store_files(self.store_dir):
            recs = self._decoded.get(name)
            if recs is None:
                recs = self._decoded[name] = _read_file(
                    os.path.join(self.store_dir, name)
                )
            out.extend(r for r in recs if r["stream"] == stream)
        return out

    def list_shards(self, StreamName):  # noqa: N803 (boto3 API)
        return {"Shards": [{"ShardId": "shardId-000000000000"}]}

    def get_shard_iterator(
        self, StreamName, ShardId, ShardIteratorType, **kw
    ):  # noqa: N803
        if ShardIteratorType == "TRIM_HORIZON":
            pos = 0
        elif ShardIteratorType == "AFTER_SEQUENCE_NUMBER":
            # Real Kinesis resume semantics: sequence numbers are
            # opaque, so a restart says "after the last one I read" —
            # the streaming readers store that, never seq+1 arithmetic.
            pos = int(kw["StartingSequenceNumber"]) + 1
        else:
            raise AssertionError(f"unsupported {ShardIteratorType}")
        return {"ShardIterator": f"{StreamName}|{ShardId}|{pos}"}

    def get_records(self, ShardIterator, Limit=10_000):  # noqa: N803
        stream, shard, off = ShardIterator.rsplit("|", 2)
        log = self._shard_log(stream)
        start = int(off)
        chunk = log[start : start + Limit]
        nxt = start + len(chunk)
        return {
            "Records": [
                {
                    "SequenceNumber": str(start + i),
                    "PartitionKey": r["partition_key"],
                    "Data": r["data"],
                }
                for i, r in enumerate(chunk)
            ],
            "NextShardIterator": f"{stream}|{shard}|{nxt}",
            "MillisBehindLatest": 0,
        }


@dataclass
class MockClientFactory:
    """Picklable factory for executor-side client creation (mirrors the
    lazy per-task boto3 client of the real path)."""

    store_dir: str | None = None
    should_err: bool = False
    fail_key: str = FAIL_KEY

    def __call__(self) -> MockKinesisClient:
        return MockKinesisClient(
            store_dir=self.store_dir,
            should_err=self.should_err,
            fail_key=self.fail_key,
        )


def _store_files(store_dir: str | None) -> list[str]:
    """Store file names in log order. Sorted so shard-iterator offsets
    are stable across calls."""
    if not store_dir or not os.path.isdir(store_dir):
        return []
    return sorted(n for n in os.listdir(store_dir) if n.endswith(".jsonl"))


def _read_file(path: str) -> list[dict]:
    """One store file's records, ``data`` decoded to bytes."""
    out: list[dict] = []
    with open(path) as f:
        for line in f:
            if not line.strip():
                continue
            rec = json.loads(line)
            rec["data"] = base64.b64decode(rec.pop("data_b64"))
            out.append(rec)
    return out


def read_back(store_dir: str) -> list[dict]:
    """All records 'delivered' to the mock, any order — the multiset
    the reference compares against sent messages
    (integration_test.go:151-157). ``data`` is returned as the exact
    ``bytes`` that were sent (base64 store roundtrip)."""
    out: list[dict] = []
    for name in _store_files(store_dir):
        out.extend(_read_file(os.path.join(store_dir, name)))
    return out
