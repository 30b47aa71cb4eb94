"""Open-loop click generator: a process of its own that writes seeded
wire files into a directory on a fixed schedule, whatever the system
under test is doing.

The stream continues after the first ``--skip`` events of the seeded
sequence (written beforehand by the caller). File ``k`` (from 1) holds
the events due in ``[(k-1)*tick, k*tick)`` after ``--start`` and is
written at ``start + k*tick``, until ``--seconds`` have passed or the
file ``--stop`` appears. One JSON line
per file goes to ``--log``: its name, first event index, line count and
how late the write ran against its schedule.

    python3 perfbench/wiregen.py --dir D --log L --seed N --rate R \
        --tick T --skip K --start EPOCH --seconds S --stop PATH
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from inputs import EPOCH_2024_MS, ClickSource, write_wire_file  # noqa: E402

#: Event time advances this many times faster than wall time, so that
#: minute windows close (and the exact rollup emits) within a run.
EVENT_TIME_SPEEDUP = 10


def live_source(seed: int, rate: float) -> ClickSource:
    return ClickSource(seed, EPOCH_2024_MS, 1000.0 * EVENT_TIME_SPEEDUP / rate)


def main() -> None:
    ap = argparse.ArgumentParser()
    for name, typ in (("dir", str), ("log", str), ("seed", int),
                      ("rate", float), ("tick", float), ("skip", int), ("start", float),
                      ("seconds", float), ("stop", str)):
        ap.add_argument(f"--{name}", type=typ, required=True)
    a = ap.parse_args()
    src = live_source(a.seed, a.rate)
    src.take(a.skip)
    n_files = int(round(a.seconds / a.tick))
    written = 0
    with open(a.log, "w") as log:
        for k in range(1, n_files + 1):
            if os.path.exists(a.stop):
                break
            due = a.start + k * a.tick
            wait = due - time.time()
            if wait > 0:
                time.sleep(wait)
            upto = int(round(k * a.tick * a.rate))
            lines = src.take(upto - written)
            name = f"clicks-{k:06d}.json"
            write_wire_file(a.dir, name, lines)
            log.write(json.dumps({
                "file": name, "first": a.skip + written, "n": len(lines),
                "late_s": time.time() - due,
            }) + "\n")
            log.flush()
            written = upto


if __name__ == "__main__":
    main()
