"""Background sampler of a process tree's CPU time and memory.

Reads ``/proc`` every ``interval`` seconds and keeps, per role (jvm,
pyworker, driver), the cumulative CPU seconds and the resident memory.
CPU over a window is then the difference of the interpolated cumulative
series at the window's ends, so the window may be fixed after the run
from checkpoint timestamps.
"""

from __future__ import annotations

import os
import threading
import time

import measure

ROLES = ("jvm", "pyworker", "driver")
_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def snapshot() -> dict[int, dict]:
    """``{pid: parsed /proc/<pid>/stat}`` for every process."""
    procs = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", encoding="utf-8") as f:
                procs[int(name)] = measure.parse_stat(f.read())
        except (OSError, ValueError, IndexError):
            continue  # the process exited while we read it
    return procs


class TreeSampler(threading.Thread):
    def __init__(self, root: int, interval: float = 0.5):
        super().__init__(daemon=True)
        self.root = root
        self.interval = interval
        self.cpu: list[tuple[float, dict[str, float]]] = []
        self.rss_peak_mb = {r: 0.0 for r in ROLES}
        self._halt = threading.Event()

    def _role(self, pid: int) -> str:
        # read each time: a child starts as the spark-submit shell script
        # and execs into the JVM under the same pid
        if pid == self.root:
            return "driver"
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read().replace(b"\0", b" ").decode(errors="replace")
        except OSError:
            cmd = ""
        return measure.role_of_cmdline(cmd)

    def sample(self) -> None:
        t = time.time()
        procs = snapshot()
        if self.root not in procs:
            return  # exited: later samples would read as zero
        ticks = measure.tree_cpu_ticks(procs, self.root, self._role)
        self.cpu.append((t, {r: ticks.get(r, 0) / _TICK for r in ROLES}))
        rss: dict[str, float] = {}
        for pid in measure.tree_pids(procs, self.root):
            role = self._role(pid)
            rss[role] = rss.get(role, 0.0) + procs[pid]["rss_pages"] * _PAGE / 2**20
        for r, mb in rss.items():
            self.rss_peak_mb[r] = max(self.rss_peak_mb[r], mb)

    def run(self) -> None:
        while not self._halt.is_set():
            self.sample()
            self._halt.wait(self.interval)

    def stop(self) -> None:
        self._halt.set()
        self.join(timeout=5)

    def cpu_between(self, t0: float, t1: float) -> dict[str, float]:
        """CPU seconds per role spent in ``[t0, t1]``."""
        out = {}
        for r in ROLES:
            series = [(t, v[r]) for t, v in self.cpu]
            out[r] = measure.interpolate(series, t1) - measure.interpolate(series, t0)
        return out
