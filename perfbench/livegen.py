"""Open-loop live feed writer, run as its own process.

``python perfbench/livegen.py SEED VEHICLES SECONDS READY PATH REPORT``

Regenerates the seeded two-feed HFP feed (``hfpgen.generate``), writes
``{}`` to ``REPORT``, waits until the file ``READY`` exists (the reader
has started), and from then on appends to ``PATH`` every ``TICK_S``
the lines that have fallen due: a line is due at the start time plus
its arrival offset.  The schedule never waits for the reader.
``REPORT`` then gets ``{"start": t}``; on exit (end of feed or SIGTERM)
it is rewritten with ``"writes"``, a list of ``[first line, end line,
write time]`` per append, from which the parent computes how late each
line was written.
"""

from __future__ import annotations

import bisect
import json
import os
import signal
import sys
import time

import hfpgen

#: append interval; a line is written up to this late (plus scheduling
#: delay), which the parent reports as generator lateness
TICK_S = 0.01


def main() -> int:
    seed, vehicles, seconds = (int(a) for a in sys.argv[1:4])
    ready, path, report = sys.argv[4:7]
    feed = hfpgen.generate(seed, vehicles, seconds)
    _dump(report, {})
    while not os.path.exists(ready):
        time.sleep(0.02)
    start = time.time()
    _dump(report, {"start": start})
    due = [start + d for d in feed.due]
    writes: list[list] = []

    def stop(*_):
        raise SystemExit(0)

    signal.signal(signal.SIGTERM, stop)
    fd = os.open(path, os.O_WRONLY | os.O_APPEND | os.O_CREAT, 0o644)
    try:
        i = 0
        while i < len(due):
            now = time.time()
            j = bisect.bisect_right(due, now, lo=i)
            if j > i:
                os.write(fd, b"".join(feed.lines[i:j]))
                writes.append([i, j, time.time()])
                i = j
            if i < len(due):
                time.sleep(max(due[i] - time.time(), TICK_S))
    finally:
        os.close(fd)
        _dump(report, {"start": start, "writes": writes})
    return 0


def _dump(path: str, obj: dict) -> None:
    """Write JSON so that a reader never sees a partial file."""
    with open(path + ".tmp", "w", encoding="utf-8") as f:
        json.dump(obj, f)
    os.replace(path + ".tmp", path)


if __name__ == "__main__":
    sys.exit(main())
