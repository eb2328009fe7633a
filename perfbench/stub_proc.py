"""The Kinesis stub (``tests/kinesis_stub.KinesisStub``) in its own
process, so the sink under test does not share an interpreter lock with
it.

    python3 perfbench/stub_proc.py CTRL_DIR TOPICS LATENCY_S FAIL_EVERY

Writes ``CTRL_DIR/endpoint`` once it serves. When ``CTRL_DIR/stop``
appears it writes ``CTRL_DIR/stub.json`` (the first arrival time of
every delivered record id, plus request counters) and exits.
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

from tests.kinesis_stub import KinesisStub


def _call(endpoint: str, op: str, body: dict) -> None:
    req = urllib.request.Request(
        f"http://{endpoint}/", data=json.dumps(body).encode(),
        headers={"X-Amz-Target": f"Kinesis_20131202.{op}",
                 "Content-Type": "application/x-amz-json-1.1"})
    with urllib.request.urlopen(req, timeout=10) as resp:
        resp.read()


def _dump(state, path: str) -> None:
    first: dict[int, float] = {}
    delivered = 0
    with state.lock:
        for shards in state.streams.values():
            for shard in shards:
                for _seq, _pk, data, ts in shard.records:
                    delivered += 1
                    rid = json.loads(data)["id"]
                    if rid not in first or ts < first[rid]:
                        first[rid] = ts
        counters = {"put_calls": state.put_calls,
                    "records_attempted": state.rec_counter,
                    "records_delivered": delivered}
    ids = sorted(first)
    with open(path + ".tmp", "w") as fh:
        json.dump({"ids": ids, "arrivals": [first[i] for i in ids],
                   **counters}, fh)
    os.replace(path + ".tmp", path)


def main() -> None:
    ctrl, topics, latency, fail_every = sys.argv[1:5]
    with KinesisStub(fail_every_nth_record=int(fail_every),
                     call_latency_s=float(latency)) as stub:
        for t in range(int(topics)):
            _call(stub.endpoint, "CreateStream",
                  {"StreamName": f"t{t}", "ShardCount": 2})
        with open(os.path.join(ctrl, "endpoint.tmp"), "w") as fh:
            fh.write(stub.endpoint)
        os.replace(os.path.join(ctrl, "endpoint.tmp"),
                   os.path.join(ctrl, "endpoint"))
        stop = os.path.join(ctrl, "stop")
        while not os.path.exists(stop):
            time.sleep(0.05)
        _dump(stub.state, os.path.join(ctrl, "stub.json"))


if __name__ == "__main__":
    main()
