"""Open-loop file dropper: renames pre-rendered drop files from a staging
directory into a landing directory on a fixed schedule, whatever the
consumer is doing.

File i is due at `start + i / rate`. The generator sleeps until each due
time, renames the file (atomic within one filesystem, so the stream never
sees a half-written file), and records due and actual times so the
consumer's latency can be measured from the due time and the
generator's own lateness reported.

    python3 perfbench/loadgen.py STAGING LANDING RATE START REPORT_JSON
"""

from __future__ import annotations

import json
import os
import sys
import time


def drop(staging: str, landing: str, rate: float, start: float) -> list[dict]:
    names = sorted(n for n in os.listdir(staging) if n.endswith(".json"))
    log = []
    for i, name in enumerate(names):
        due = start + i / rate
        wait = due - time.time()
        if wait > 0:
            time.sleep(wait)
        os.rename(os.path.join(staging, name), os.path.join(landing, name))
        log.append({"file": name, "due": due, "actual": time.time()})
    return log


def main(argv: list[str]) -> int:
    staging, landing, rate, start, report = argv
    log = drop(staging, landing, float(rate), float(start))
    tmp = report + ".tmp"
    with open(tmp, "w") as f:
        json.dump(log, f)
    os.replace(tmp, report)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
