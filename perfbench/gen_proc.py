"""Open-loop event generator for the egress workload, run as its own
process so its schedule does not slow when the system under test does.

    python3 perfbench/gen_proc.py CTRL_DIR INPUT_DIR SEED TOPICS SCHEDULE_JSON

``SCHEDULE_JSON`` is a list of ``{"name", "rate", "seconds"}`` rungs.
After ``CTRL_DIR/go`` appears, every 100 ms tick writes one JSON-lines
file holding the records due in that tick. Each record carries its id,
a topic drawn uniformly from ``t0 .. t{TOPICS-1}`` and ``due``, the epoch second
it was due to be sent; latency is measured from ``due``. Files are
written under a hidden name and renamed, so the file source never reads
a partial file. At the end it writes ``CTRL_DIR/gen.json`` (the id
range and due window of each rung, and the generator's worst lateness)
and then ``CTRL_DIR/gen_done``.
"""

from __future__ import annotations

import json
import os
import random
import sys
import time

TICK_S = 0.1
LEAD_S = 0.2


def main() -> None:
    ctrl, input_dir, seed, topics, schedule = sys.argv[1:6]
    rungs = json.loads(schedule)
    topics = int(topics)
    rng = random.Random(int(seed))
    pads = ["".join(rng.choice("abcdefghijklmnopqrstuvwxyz")
                    for _ in range(48)) for _ in range(256)]
    go = os.path.join(ctrl, "go")
    while not os.path.exists(go):
        time.sleep(0.02)
    t = time.time() + LEAD_S
    next_id = 0
    late = 0.0
    file_no = 0
    summary = []
    for rung in rungs:
        rate, start = float(rung["rate"]), t
        n_total = int(round(rate * float(rung["seconds"])))
        first_id = next_id
        emitted = 0
        tick = 0
        while emitted < n_total:
            tick += 1
            tick_end = start + tick * TICK_S
            n = min(n_total, int(round(rate * tick * TICK_S))) - emitted
            lines = []
            for j in range(emitted, emitted + n):
                lines.append(json.dumps({
                    "id": first_id + j,
                    "topic": f"t{rng.randrange(topics)}",
                    "due": start + j / rate,
                    "pad": pads[rng.randrange(256)],
                }))
            emitted += n
            delay = tick_end - time.time()
            if delay > 0:
                time.sleep(delay)
            name = f"part-{file_no:06d}.json"
            tmp = os.path.join(input_dir, f".{name}.tmp")
            with open(tmp, "w") as fh:
                fh.write("\n".join(lines) + "\n")
            os.replace(tmp, os.path.join(input_dir, name))
            late = max(late, time.time() - tick_end)
            file_no += 1
        next_id = first_id + n_total
        t = start + n_total / rate
        summary.append({"name": rung["name"], "rate": rate,
                        "first_id": first_id, "end_id": next_id,
                        "start": start, "end": t})
    with open(os.path.join(ctrl, "gen.json"), "w") as fh:
        json.dump({"rungs": summary, "late_ms": late * 1000.0,
                   "files": file_no}, fh)
    open(os.path.join(ctrl, "gen_done"), "w").close()


if __name__ == "__main__":
    main()
