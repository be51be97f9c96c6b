"""Open-loop load generator, run as its own process.

Reads a plan of ``[due_offset_s, [[src, dst], ...]]`` entries and, at
``t0 + due_offset_s``, moves each staged file into the directory the
engine watches (a rename, so a reader never sees a half-written file).
The schedule never waits for the engine: a slow engine meets a growing
backlog, not a slower feed. Each delivery's actual time is logged, so
the benchmark can report how late the generator itself ran.

Usage: python3 feed.py PLAN_JSON T0_EPOCH LOG_JSON
"""

from __future__ import annotations

import json
import os
import sys
import time


def main() -> None:
    plan_path, t0, log_path = sys.argv[1], float(sys.argv[2]), sys.argv[3]
    with open(plan_path) as fh:
        plan = json.load(fh)
    log = []
    for due_offset, moves in plan:
        due = t0 + due_offset
        delay = due - time.time()
        if delay > 0:
            time.sleep(delay)
        for src, dst in moves:
            os.rename(src, dst)
        log.append({"due": due, "delivered": time.time()})
    tmp = log_path + ".part"
    with open(tmp, "w") as fh:
        json.dump(log, fh)
    os.rename(tmp, log_path)


if __name__ == "__main__":
    main()
