"""Pure measurement logic: latency from checkpoint commits, tail
percentile choice, truth diff and CPU accounting over a process tree.

Nothing here touches Spark; the tests in ``perfbench/tests`` cover it.
"""

from __future__ import annotations

import bisect
import json
import os
from collections.abc import Iterable, Sequence

#: a tail percentile must have at least this many batches beyond it
MIN_BATCHES_BEYOND = 10


def percentile(values: Sequence[float], p: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    if not values:
        raise ValueError("percentile of no values")
    xs = sorted(values)
    k = (len(xs) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def tail_percentile(
    values: Sequence[float], batch_of: Sequence[int], min_beyond: int = MIN_BATCHES_BEYOND
) -> tuple[float, float]:
    """(p, value): the highest latency that samples of at least
    ``min_beyond`` distinct batches reach, and its percentile rank.

    Samples of one batch share its commit, so a tail set by one slow
    batch is one observation, not many.  The value is the
    ``min_beyond``-th largest of the per-batch maxima, which moves
    smoothly with the data, where a fixed ladder of percentiles would
    jump between rungs from run to run.  When no value above the median
    qualifies (fewer than ``min_beyond`` batches, or batches of one
    sample each), the median is reported."""
    if not values:
        raise ValueError("no samples")
    worst: dict[int, float] = {}
    for x, b in zip(values, batch_of):
        if x > worst.get(b, float("-inf")):
            worst[b] = x
    median = percentile(values, 50)
    if len(worst) < min_beyond:
        return 50.0, median
    v = sorted(worst.values(), reverse=True)[min_beyond - 1]
    if v <= median:
        return 50.0, median
    below = sum(1 for x in values if x < v)
    return 100.0 * below / len(values), v


def read_offsets(ckpt_query_dir: str) -> dict[int, int]:
    """batchId -> the source's end byte offset, from ``offsets/<id>``.

    The first line is the log version, the second the batch metadata,
    the third the ``hfp_text`` source offset ``{"pos": N}``."""
    out = {}
    d = os.path.join(ckpt_query_dir, "offsets")
    for name in os.listdir(d) if os.path.isdir(d) else ():
        if not name.isdigit():
            continue
        with open(os.path.join(d, name), encoding="utf-8") as f:
            lines = f.read().splitlines()
        if len(lines) >= 3 and lines[2].strip():
            out[int(name)] = int(json.loads(lines[2])["pos"])
    return out


def read_commit_times(ckpt_query_dir: str) -> dict[int, float]:
    """batchId -> wall time the batch's commit record was written."""
    d = os.path.join(ckpt_query_dir, "commits")
    out = {}
    for name in os.listdir(d) if os.path.isdir(d) else ():
        if name.isdigit():
            out[int(name)] = os.stat(os.path.join(d, name)).st_mtime
    return out


def committed_batches(
    offsets: dict[int, int], commits: dict[int, float]
) -> list[tuple[int, int, float]]:
    """(batchId, end offset, commit time) for every committed batch,
    in batch order."""
    return sorted(
        (b, offsets[b], commits[b]) for b in commits if b in offsets
    )


def line_batches(
    line_ends: Sequence[int], batches: Sequence[tuple[int, int, float]]
) -> list[int | None]:
    """Index into ``batches`` of the batch that contains each line, or
    None if no committed batch does.

    A line ending at byte ``e`` is in the first batch whose end offset
    is at least ``e``: the source's offsets always fall on line
    boundaries, so a batch holds exactly the lines ending in
    ``(previous end, end]``."""
    ends = [end for _, end, _ in batches]
    out: list[int | None] = []
    for e in line_ends:
        i = bisect.bisect_left(ends, e)
        out.append(i if i < len(batches) else None)
    return out


def latencies_ms(
    due: Sequence[float],
    batch_idx: Sequence[int | None],
    batches: Sequence[tuple[int, int, float]],
) -> tuple[list[float], list[int]]:
    """Due-to-commit latency in ms of every committed line, and the
    index of the batch that carried it."""
    lat, of = [], []
    for d, i in zip(due, batch_idx):
        if i is not None:
            lat.append((batches[i][2] - d) * 1000.0)
            of.append(i)
    return lat, of


def latency_summary(lat_ms: Sequence[float], batch_of: Sequence[int]) -> dict:
    """Median and tail of per-sample latency, with the sample and batch
    counts the tail percentile was chosen from."""
    p, tail = tail_percentile(lat_ms, batch_of)
    return {
        "p50_ms": percentile(lat_ms, 50),
        "tail_ms": tail,
        "tail_pct": p,
        "samples": len(lat_ms),
        "batches": len(set(batch_of)),
    }


def truth_diff(
    truth: Iterable[tuple[str, str]],
    forwarded: Iterable[tuple[str, str]],
    expected: Iterable[tuple[str, str]] | None = None,
) -> dict:
    """Compare forwarded ``(topic, payload)`` rows with the planted truth.

    ``lost`` counts truth uniques never forwarded and ``duplicates``
    counts forwarded rows beyond the first copy of a key; both are
    failures.  ``foreign`` counts forwarded keys that are not in the
    truth at all.  When ``expected`` is given (the uniques inside the
    byte range the program reports it consumed), ``lost_consumed``
    counts those of them that were not forwarded.
    """
    truth_set = set(truth)
    seen: set[tuple[str, str]] = set()
    rows = dups = 0
    for key in forwarded:
        rows += 1
        if key in seen:
            dups += 1
        else:
            seen.add(key)
    out = {
        "truth": len(truth_set),
        "forwarded": rows,
        "duplicates": dups,
        "foreign": len(seen - truth_set),
        "lost": len(truth_set - seen),
    }
    if expected is not None:
        out["lost_consumed"] = len(set(expected) - seen)
    return out


# -- process-tree CPU ------------------------------------------------------


def parse_stat(text: str) -> dict:
    """Fields of ``/proc/<pid>/stat`` the tree accounting needs, in
    clock ticks.  The command name is in parentheses and may contain
    spaces, so fields are counted from the last ``)``."""
    rest = text[text.rindex(")") + 2 :].split()
    # rest[0] is field 3 (state); utime is field 14
    return {
        "ppid": int(rest[1]),
        "utime": int(rest[11]),
        "stime": int(rest[12]),
        "cutime": int(rest[13]),
        "cstime": int(rest[14]),
        "rss_pages": int(rest[21]),
    }


def tree_pids(procs: dict[int, dict], root: int) -> list[int]:
    """``root`` and every live descendant in a ``{pid: {"ppid": ...}}``
    snapshot."""
    kids: dict[int, list[int]] = {}
    for pid, p in procs.items():
        kids.setdefault(p["ppid"], []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid in procs:
            out.append(pid)
            todo.extend(kids.get(pid, ()))
    return out


def tree_cpu_ticks(procs: dict[int, dict], root: int, role_of) -> dict[str, int]:
    """CPU ticks of the tree under ``root`` by role.

    Each live process contributes its own time plus that of the children
    it has already reaped (``cutime``/``cstime``).  A reaped child has
    left the snapshot, so nothing is counted twice, and a child's time
    stays with its parent's role after the child exits."""
    out: dict[str, int] = {}
    for pid in tree_pids(procs, root):
        p = procs[pid]
        ticks = p["utime"] + p["stime"] + p["cutime"] + p["cstime"]
        role = role_of(pid)
        out[role] = out.get(role, 0) + ticks
    return out


def role_of_cmdline(cmdline: str) -> str:
    """jvm or pyworker for a process below the driver: the JVM, or a
    Python worker (UDF daemon and workers, data source runners)."""
    exe = os.path.basename(cmdline.split(" ", 1)[0])
    return "jvm" if exe == "java" else "pyworker"


def interpolate(samples: Sequence[tuple[float, float]], t: float) -> float:
    """Value of a cumulative series ``[(time, value), ...]`` at ``t``."""
    if not samples:
        return 0.0
    times = [s[0] for s in samples]
    i = bisect.bisect_left(times, t)
    if i == 0:
        return samples[0][1]
    if i >= len(samples):
        return samples[-1][1]
    (t0, v0), (t1, v1) = samples[i - 1], samples[i]
    if t1 == t0:
        return v1
    return v0 + (v1 - v0) * (t - t0) / (t1 - t0)


# -- query results -----------------------------------------------------------


def _cell(v):
    """A result cell in a form both engines agree on: numbers as float
    reprs, NULL and NaN as None, arrays as tuples, timestamps as text."""
    if v is None:
        return None
    if isinstance(v, (str, bool)):
        return v
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, dict):
        return tuple(sorted((str(k), _cell(x)) for k, x in v.items()))
    if hasattr(v, "tolist") and not isinstance(v, (int, float)):
        v = v.tolist()  # numpy scalars and arrays
        if isinstance(v, list):
            return tuple(_cell(x) for x in v)
        return _cell(v)
    if isinstance(v, (list, tuple)):
        return tuple(_cell(x) for x in v)
    try:
        f = float(v)
    except (TypeError, ValueError):
        s = str(v)
        return None if s in ("NaT", "nan", "<NA>") else s
    return None if f != f else repr(f)


def frame_digest(pdf) -> str:
    """Order-insensitive digest of a pandas result: column names, row
    count and every cell, with rows sorted."""
    import hashlib

    cols = sorted(pdf.columns)
    rows = sorted(
        json.dumps([_cell(v) for v in row], default=str)
        for row in pdf[cols].itertuples(index=False, name=None)
    )
    h = hashlib.sha1(json.dumps(cols).encode())
    for r in rows:
        h.update(r.encode())
        h.update(b"\n")
    return h.hexdigest()
