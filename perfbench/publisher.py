"""Open-loop WAL publisher for the live_tail workload.

Runs as its own process so that its schedule never waits on the engine
under test. Segment ``i`` is due at ``start + i * interval``; at its due
time it is hard-linked under a hidden name into the tailed directory and
renamed into place, so the tailer sees it whole and the staged copy stays
for a later phase. The link keeps the segment's mtime, which the WAL
writer made monotonic. At exit the due and actual publish times
(epoch seconds) are written as JSON to ``--log``.

    python3 perfbench/publisher.py --plan plan.json --log times.json
"""

from __future__ import annotations

import argparse
import json
import os
import time


def publish(segments: list[str], dst: str, start: float, interval: float):
    times = []
    for i, src in enumerate(segments):
        due = start + i * interval
        delay = due - time.time()
        if delay > 0:
            time.sleep(delay)
        name = os.path.basename(src)
        tmp = os.path.join(dst, f".{name}.part")
        os.link(src, tmp)
        os.rename(tmp, os.path.join(dst, name))
        times.append([due, time.time()])
    return times


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--plan", required=True,
                    help="JSON: segments, dst, start, interval")
    ap.add_argument("--log", required=True)
    args = ap.parse_args()
    # wake up on time while the engine keeps every core busy; without the
    # right to raise priority the schedule is kept as well as it can be
    try:
        os.setpriority(os.PRIO_PROCESS, 0, -10)
    except OSError:
        pass
    with open(args.plan) as f:
        plan = json.load(f)
    times = publish(
        plan["segments"], plan["dst"], plan["start"], plan["interval"]
    )
    tmp = args.log + ".tmp"
    with open(tmp, "w") as f:
        json.dump(times, f)
    os.rename(tmp, args.log)


if __name__ == "__main__":
    main()
