"""Benchmark of the HFP dedup application and its query library.

    python3 perfbench/run.py --workload {live,library} --seed N \
        --seconds S --trace {0,1}

Run from the root of a checkout.  Inputs are generated from ``--seed``
into ``.perfbench_work/``; the program sees only those files.  The
workloads and their metrics are described in ``perfbench/layers.json``.
The last stdout line is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``.
"""

from __future__ import annotations

import argparse
import bisect
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

import hfpgen
import measure
import proctree
import tablegen
from proctree import TreeSampler

PKG = "transitdata_hfp_deduplicator_spark"
ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
WORK = os.path.join(ROOT, ".perfbench_work")
RESULTS = os.path.join(WORK, "results.jsonl")

VEHICLES = 1000  # one message per vehicle per second per feed: 2,000 msg/s
LIVE_WARMUP_S = 6.0  # feed time after the first commit before the window
LIVE_SETUP_ALLOWANCE_S = 60  # the CLI must start its query within this
LIVE_FIRST_BATCH_S = 20  # feed time reserved for the first, cold batch
# task slots (and state-store partitions) of the live CLI.  Its JVM runs
# two streaming queries back to back and, with its JIT compilers still
# busy well into the window, keeps 3-3.5 of 4 vCPUs busy whatever the
# slot count.  Fewer slots leave fewer runnable threads than cores: in four
# alternating pairs on a 4-vCPU host, 1 slot gave a due-to-commit p50 of
# 0.72-0.77 s against 0.77-0.91 s with 2 slots (and 2 slots beat 4)
LIVE_CPUS = 1

E2E = (
    ("setup_s", "s"),
    ("throughput_per_s", "1/s"),
    ("latency_p50_ms", "ms"),
    ("latency_tail_ms", "ms"),
    ("cpu_s", "s"),
)


def cpus() -> int:
    return max(1, min(4, len(os.sched_getaffinity(0))))


def child_env(work: str) -> dict[str, str]:
    """Environment for program processes: the checkout on the path, a
    small driver heap, and every temporary file inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env.update(
        {
            "PYTHONPATH": os.pathsep.join([ROOT, HERE]),
            "PYSPARK_PYTHON": sys.executable,
            "SPARK_DRIVER_MEM": "2g",
            "SPARK_GRAFT_CPUS": str(cpus()),
            "SPARK_LOCAL_DIRS": tmp,
            "SPARK_GRAFT_WAREHOUSE": os.path.join(work, "warehouse"),
            "TMPDIR": tmp,
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "PYTHONUNBUFFERED": "1",
        }
    )
    return env


class Proc:
    """A child in its own process group, stopped with everything it
    started."""

    def __init__(self, argv: list[str], work: str, name: str, sample: bool = False):
        self.spawn = time.time()
        env = child_env(work)
        env["PERFBENCH_SPAWN"] = repr(self.spawn)
        self.stdout_path = os.path.join(work, f"{name}.out")
        self.stderr_path = os.path.join(work, f"{name}.err")
        self._out = open(self.stdout_path, "wb")
        self._err = open(self.stderr_path, "wb")
        self.p = subprocess.Popen(
            argv, cwd=ROOT, env=env, stdout=self._out, stderr=self._err,
            stdin=subprocess.DEVNULL, start_new_session=True,
        )
        self.sampler = TreeSampler(self.p.pid) if sample else None
        if self.sampler:
            self.sampler.start()

    def stop(self, graceful: bool = False) -> None:
        """Kill the process and its descendants and wait for them.

        Spark processes are killed outright: everything the benchmark
        reads from them is committed to disk by then.  Descendants are
        found by parent links, since PySpark's worker daemon leaves the
        process group; any that outlive their parent are re-parented to
        this process and reaped by ``reap_orphans``."""
        if self._out.closed:
            return
        if self.sampler:
            self.sampler.stop()
        if graceful:
            self.p.terminate()
            try:
                self.p.wait(timeout=5)
            except subprocess.TimeoutExpired:
                pass
        kill_tree(self.p.pid)
        self.p.wait()
        self._out.close()
        self._err.close()

    def wait_for(self, ready, timeout: float) -> bool:
        """Poll ``ready()`` until it holds, the process exits or time runs out."""
        deadline = time.time() + timeout
        while time.time() < deadline:
            if ready():
                return True
            if self.p.poll() is not None:
                return ready()
            time.sleep(0.1)
        return False

    def stdout(self) -> str:
        with open(self.stdout_path, encoding="utf-8", errors="replace") as f:
            return f.read()

    def stderr_tail(self, n: int = 30) -> str:
        with open(self.stderr_path, encoding="utf-8", errors="replace") as f:
            return "".join(f.readlines()[-n:])


def become_subreaper() -> None:
    """Adopt orphaned descendants (PR_SET_CHILD_SUBREAPER), so that a
    JVM whose Python parent was killed is re-parented here and can be
    waited for."""
    import ctypes

    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl.argtypes = [ctypes.c_int, ctypes.c_ulong, ctypes.c_ulong, ctypes.c_ulong, ctypes.c_ulong]
    libc.prctl.restype = ctypes.c_int
    if libc.prctl(36, 1, 0, 0, 0) != 0:  # PR_SET_CHILD_SUBREAPER
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER) failed")


def _alive(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat", encoding="utf-8") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def kill_tree(root: int, timeout: float = 10.0) -> set[int]:
    """SIGKILL ``root`` and its descendants; wait until none runs."""
    pids = set(measure.tree_pids(proctree.snapshot(), root))
    for q in pids:
        try:
            os.kill(q, signal.SIGKILL)
        except ProcessLookupError:
            pass
    deadline = time.time() + timeout
    while any(_alive(q) for q in pids) and time.time() < deadline:
        time.sleep(0.02)
    return pids


def reap_orphans() -> None:
    """Kill and reap every process re-parented to this one."""
    me = os.getpid()
    while True:
        orphans = [pid for pid, p in proctree.snapshot().items() if p["ppid"] == me]
        if not orphans:
            return
        for pid in orphans:
            kill_tree(pid)
            try:
                os.waitpid(pid, 0)
            except ChildProcessError:
                pass


class Run:
    """Processes and spans of one benchmark run."""

    def __init__(self, workload: str, seed: int, seconds: int, trace: bool):
        self.workload, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.work = os.path.join(WORK, f"{workload}-{seed}-{os.getpid()}")
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(self.work)
        self.procs: list[Proc] = []
        self.spans: list[dict] = []
        self.setup_samples: list[float] = []

    def start(self, argv: list[str], name: str, sample: bool = False) -> Proc:
        p = Proc(argv, self.work, name, sample)
        self.procs.append(p)
        return p

    def span(self, name: str, start: float, end: float, parent: str | None) -> None:
        self.spans.append({"name": name, "start": start, "end": end, "parent": parent})

    def close(self) -> None:
        for p in self.procs:
            p.stop()
        reap_orphans()
        if self.trace and self.spans:
            os.makedirs(WORK, exist_ok=True)
            path = os.path.join(WORK, f"spans-{self.workload}-{self.seed}.json")
            with open(path, "w", encoding="utf-8") as f:
                json.dump(self.spans, f)
        shutil.rmtree(self.work, ignore_errors=True)

    @property
    def events_path(self) -> str:
        return os.path.join(self.work, "events.jsonl")

    @property
    def stop_path(self) -> str:
        return os.path.join(self.work, "stop")

    def cli_argv(self, source: str, out: str, ckpt: str) -> list[str]:
        args = ["--source", source, "--out", out, "--checkpoint", ckpt,
                "--cpus", str(LIVE_CPUS), "--follow"]
        if self.trace:
            return [sys.executable, os.path.join(HERE, "traced_app.py"), self.events_path,
                    self.stop_path, "--", *args]
        return [sys.executable, "-m", PKG, *args]


def forwarded_keys(out_dir: str) -> list[tuple[str, str]]:
    """(topic, payload) of every row in the parquet files the file sink
    committed, from its ``_spark_metadata`` log."""
    import pyarrow.parquet as pq

    log = os.path.join(out_dir, "_spark_metadata")
    files: set[str] = set()
    for name in os.listdir(log) if os.path.isdir(log) else ():
        if name.startswith("."):
            continue
        with open(os.path.join(log, name), encoding="utf-8") as f:
            for line in f.read().splitlines()[1:]:
                entry = json.loads(line)
                if entry.get("action", "add") == "add":
                    files.add(entry["path"].removeprefix("file://"))
    keys: list[tuple[str, str]] = []
    for path in sorted(files):
        t = pq.read_table(path, columns=["topic", "payload"])
        keys.extend(zip(t.column("topic").to_pylist(), t.column("payload").to_pylist()))
    return keys


def read_json(path: str) -> dict:
    with open(path, encoding="utf-8") as f:
        return json.load(f)


def read_events(path: str) -> list[dict]:
    if not os.path.exists(path):
        return []
    out = []
    with open(path, encoding="utf-8") as f:
        for line in f:
            try:
                out.append(json.loads(line))
            except json.JSONDecodeError:
                pass  # a line cut off when the process was stopped
    return out


def _p(values: list[float], p: float) -> float:
    return measure.percentile(values, p) if values else 0.0


def stream_layers(
    events: list[dict], out_dir: str, t0: float, t1: float, run: Run, parent: str
) -> dict[str, float]:
    """Per-layer metrics of the CLI's forward query (file sink into
    ``out_dir``) and stats query (foreachBatch) from the progress events
    received in ``[t0, t1]``."""
    fwd, stats = [], []
    for e in events:
        if e["kind"] != "progress" or not (t0 <= e["t"] <= t1):
            continue
        sink = e["progress"].get("sink", {}).get("description", "")
        if sink.startswith("FileSink") and out_dir in sink:
            fwd.append(e)
        elif sink.startswith("ForeachBatchSink"):
            stats.append(e)
    m: dict[str, float] = {}
    dur = lambda evs, k: [float(e["progress"]["durationMs"].get(k, 0)) for e in evs]  # noqa: E731
    for key, name in (
        ("triggerExecution", "trigger_ms"),
        ("addBatch", "add_batch_ms"),
        ("queryPlanning", "query_planning_ms"),
        ("walCommit", "wal_commit_ms"),
        ("commitOffsets", "commit_offsets_ms"),
    ):
        v = dur(fwd, key)
        m[f"streaming.{name}.p50"] = _p(v, 50)
        m[f"streaming.{name}.tail"] = _p(v, 90)
    m["sources.latest_offset_ms"] = _p(dur(fwd, "latestOffset"), 50)
    m["sources.get_batch_ms"] = _p(dur(fwd, "getBatch"), 50)
    rows = [float(e["progress"]["numInputRows"]) for e in fwd]
    m["streaming.batches"] = float(len(fwd))
    m["streaming.rows_per_batch"] = _p(rows, 50)
    m["sources.rows_read"] = sum(rows)
    ops = [e["progress"]["stateOperators"][0] for e in fwd if e["progress"].get("stateOperators")]
    m["streaming.state_update_ms"] = _p([float(o.get("allUpdatesTimeMs", 0)) for o in ops], 50)
    m["streaming.state_commit_ms"] = _p([float(o.get("commitTimeMs", 0)) for o in ops], 50)
    m["streaming.state_rows"] = float(ops[-1]["numRowsTotal"]) if ops else 0.0
    m["streaming.state_mem_mb"] = float(ops[-1]["memoryUsedBytes"]) / 2**20 if ops else 0.0
    m["streaming.dropped_by_watermark"] = float(sum(o.get("numRowsDroppedByWatermark", 0) for o in ops))
    lags = []
    for e in fwd:
        end = e["progress"]["sources"][0].get("endOffset")
        if e.get("file_size") is not None and end:
            pos = json.loads(end)["pos"] if isinstance(end, str) else end["pos"]
            lags.append(float(e["file_size"] - int(pos)))
    m["sources.lag_bytes"] = max(lags) if lags else 0.0
    sops = [e["progress"]["stateOperators"][0] for e in stats if e["progress"].get("stateOperators")]
    m["analytics.batches"] = float(len(stats))
    m["analytics.add_batch_ms"] = _p(dur(stats, "addBatch"), 50)
    m["analytics.state_rows"] = float(sops[-1]["numRowsTotal"]) if sops else 0.0
    # one span per micro-batch and per phase, in the order a trigger runs
    # them, ending when the listener heard of the batch
    for q, evs in (("forward", fwd), ("stats", stats)):
        for e in evs:
            d = e["progress"]["durationMs"]
            name = f"{q}.batch.{e['progress']['batchId']}"
            at = e["t"] - d.get("triggerExecution", 0) / 1000.0
            run.span(name, at, e["t"], parent)
            for phase in ("latestOffset", "getBatch", "queryPlanning", "addBatch",
                          "walCommit", "commitOffsets"):
                run.span(phase, at, at + d.get(phase, 0) / 1000.0, name)
                at += d.get(phase, 0) / 1000.0
    return m


def cli_layers(
    run: Run, cli: Proc, out: str, ready: float, events_window: tuple[float, float],
    cpu_window: tuple[float, float], rows_out: int,
) -> dict[str, float]:
    """Per-layer metrics of a traced CLI run."""
    events = read_events(run.events_path)
    layers = stream_layers(events, out, *events_window, run, parent=run.workload)
    layers.update(cpu_layers(cli.sampler, *cpu_window))
    session = next(e["t"] for e in events if e["kind"] == "session_ready")
    layers["session.start_s"] = session - cli.spawn
    layers["session.warmup_s"] = ready - session
    run.span("session.start", cli.spawn, session, "setup")
    run.span("session.warmup", session, ready, "setup")
    layers["sinks.rows_out"] = float(rows_out)
    for e in events:
        if e["kind"] == "layer":
            run.span(e["name"], e["t"] - e["s"], e["t"], None)
            if e["name"] == "sources.read":
                layers["sources.read_rows_per_s"] = e["rows"] / e["s"]
            else:
                layers[f"{e['name']}_s"] = e["s"]
    return layers


def cpu_layers(sampler: TreeSampler, t0: float, t1: float) -> dict[str, float]:
    cpu = sampler.cpu_between(t0, t1)
    return {
        "cpu.jvm_s": cpu["jvm"],
        "cpu.pyworker_s": cpu["pyworker"],
        "cpu.driver_s": cpu["driver"],
        "mem.jvm_rss_peak_mb": sampler.rss_peak_mb["jvm"],
        "mem.pyworker_rss_peak_mb": sampler.rss_peak_mb["pyworker"],
    }


# -- workloads -----------------------------------------------------------------


def live(run: Run) -> dict:
    feed_s = int(LIVE_FIRST_BATCH_S + LIVE_WARMUP_S + run.seconds + 10)
    src = os.path.join(run.work, "live.txt")
    open(src, "wb").close()
    out, ckpt = os.path.join(run.work, "out"), os.path.join(run.work, "ckpt")
    fwd = os.path.join(ckpt, "forward")
    report = os.path.join(run.work, "gen.json")
    # the feed starts when the forward query has started
    gen = run.start(
        [sys.executable, os.path.join(HERE, "livegen.py"), str(run.seed), str(VEHICLES),
         str(feed_s), os.path.join(fwd, "metadata"), src, report],
        "gen",
    )
    feed = hfpgen.generate(run.seed, VEHICLES, feed_s)
    # both feeds are generated before the CLI starts, so that its set-up
    # does not share the cores with them
    if not gen.wait_for(lambda: os.path.exists(report), LIVE_SETUP_ALLOWANCE_S):
        raise RuntimeError("the feed generator did not start")
    cli = run.start(run.cli_argv(src, out, ckpt), "cli", sample=True)
    if not cli.wait_for(lambda: "start" in read_json(report), LIVE_SETUP_ALLOWANCE_S):
        raise RuntimeError(f"the CLI did not start its query:\n{cli.stderr_tail()}")
    start = read_json(report)["start"]
    due = [start + d for d in feed.due]

    first = None
    while first is None:
        if cli.p.poll() is not None:
            raise RuntimeError(f"CLI exited {cli.p.returncode}:\n{cli.stderr_tail()}")
        first = measure.read_commit_times(fwd).get(0)
        if time.time() > start + LIVE_SETUP_ALLOWANCE_S:
            raise RuntimeError(f"CLI committed nothing in {LIVE_SETUP_ALLOWANCE_S}s")
        time.sleep(0.1)
    w0 = first + LIVE_WARMUP_S
    w1 = w0 + run.seconds
    lo, hi = bisect.bisect_left(due, w0), bisect.bisect_left(due, w1)
    need = feed.ends[hi - 1]
    # until the window ends, only check that the CLI is alive, so that
    # this process takes no CPU from it
    while time.time() < w1 and cli.p.poll() is None:
        time.sleep(0.5)
    deadline = w1 + 30.0
    while time.time() < deadline:
        batches = measure.committed_batches(measure.read_offsets(fwd), measure.read_commit_times(fwd))
        if batches and batches[-1][1] >= need:
            break
        time.sleep(0.1)
    stop_at = time.time()
    if run.trace:
        # the traced app stops its queries, then times the layers'
        # public functions over the fixed file
        gen.stop(graceful=True)
        open(run.stop_path, "w").close()
        if not cli.wait_for(
            lambda: any(e["kind"] == "done" for e in read_events(run.events_path)), 120
        ):
            raise RuntimeError(f"traced CLI did not finish:\n{cli.stderr_tail()}")
    cli.stop()
    gen.stop(graceful=True)
    ready = os.stat(os.path.join(fwd, "metadata")).st_mtime
    run.setup_samples.append(ready - cli.spawn)
    run.span("setup", cli.spawn, ready, None)
    run.span("warmup", first, w0, None)
    run.span("live", w0, w1, None)

    batches = measure.committed_batches(measure.read_offsets(fwd), measure.read_commit_times(fwd))
    idx = measure.line_batches(feed.ends[lo:hi], batches)
    lat, of = measure.latencies_ms(due[lo:hi], idx, batches)
    # a line no batch committed by the stop waited at least that long
    unsent = [(stop_at - d) * 1000.0 for d, i in zip(due[lo:hi], idx) if i is None]
    lat += unsent
    of += [-1] * len(unsent)
    summary = measure.latency_summary(lat, of)

    # rows committed between the first and the last commit in the window
    inside = [b for b in batches if w0 <= b[2] <= w1]
    if len(inside) < 2:
        raise RuntimeError(f"fewer than two commits in the {run.seconds}s window")
    (_, pos_a, ca), (_, pos_b, cb) = inside[0], inside[-1]
    rows = bisect.bisect_right(feed.ends, pos_b) - bisect.bisect_right(feed.ends, pos_a)

    writes = read_json(report)["writes"]
    late = [0.0]
    for i, j, at in writes:
        if j > lo and i < hi:
            late.append((at - due[max(i, lo)]) * 1000.0)

    keys = forwarded_keys(out)
    consumed = bisect.bisect_right(feed.ends, batches[-1][1]) if batches else 0
    diff = measure.truth_diff(
        feed.keys, keys, expected={feed.keys[k] for k in feed.key_of[:consumed]}
    )
    window_keys = {feed.keys[k] for k in feed.key_of[lo:hi]}
    lost = len(window_keys - set(keys))
    result = {
        "throughput_per_s": rows / (cb - ca),
        "latency": summary,
        "cpu_s": sum(cli.sampler.cpu_between(w0, w1).values()),
        "attempted": len(window_keys),
        "failed": lost + diff["duplicates"],
        "correct": diff["duplicates"] == 0 and diff["foreign"] == 0 and diff["lost_consumed"] == 0,
        "detail": {"truth": diff, "window_lost": lost, "gen_late_ms_max": max(late),
                   "commits_after_first_s": [round(b[2] - first, 2) for b in batches],
                   "batches_committed": len(batches), "stop_after_window_s": stop_at - w1},
    }
    if run.trace:
        result["layers"] = cli_layers(run, cli, out, ready, (w0, w1), (w0, w1), len(keys))
        result["layers"]["gen.late_ms"] = max(late)
    return result


def library(run: Run) -> dict:
    sf_dir = os.path.join(run.work, "sf")
    t = time.time()
    tablegen.write_all(run.seed, sf_dir)
    run.span("input.generate", t, time.time(), None)
    lib = run.start(
        [sys.executable, os.path.join(HERE, "library.py"), "--sf-dir", sf_dir,
         "--seconds", str(run.seconds), "--cpus", str(cpus()),
         "--scratch", os.path.join(run.work, "eph"), "--trace", str(int(run.trace))],
        "library", sample=True,
    )
    if not lib.wait_for(lambda: lib.stdout().endswith("}\n"), 170):
        raise RuntimeError(f"library process gave no result:\n{lib.stderr_tail()}")
    r = json.loads(lib.stdout().strip().splitlines()[-1])
    lib.sampler.stop()
    run.setup_samples.append(r["t_ready"] - r["t_spawn"])
    run.span("setup", r["t_spawn"], r["t_ready"], None)
    run.span("check", r["t_ready"], r["t_checked"], None)
    run.span("library", r["t_w0"], r["t_w1"], None)
    for s in r.get("spans", ()):
        run.spans.append(s)
    # one sample per round: the mean wall time of the round's completed
    # queries, and the queries it completed per second of its wall time.
    # The set's queries differ by up to 3x, so a percentile over single
    # query runs would fall in a gap between two queries' clusters and
    # swing with either; the median over rounds keeps a slow spell of the
    # host in a few rounds from moving the result
    per_round: dict[int, list[float]] = {}
    span: dict[int, tuple[float, float]] = {}
    for x in r["runs"]:
        a, b = span.get(x["round"], (x["t"], x["t"]))
        span[x["round"]] = (min(a, x["t"]), max(b, x["t"] + x["s"]))
        if x["ok"]:
            per_round.setdefault(x["round"], []).append(x["s"] * 1000.0)
    ok = [statistics.fmean(v) for v in per_round.values()]
    rates = [len(v) / (span[i][1] - span[i][0]) for i, v in per_round.items()]
    round_cpu = [sum(lib.sampler.cpu_between(a, b).values()) for a, b in span.values()]
    failed = set(r["errored"]) | set(r["mismatched"]) | {x["query"] for x in r["runs"] if not x["ok"]}
    result = {
        "throughput_per_s": statistics.median(rates) if rates else 0.0,
        # each round is its own sample unit
        "latency": measure.latency_summary(ok, range(len(ok))) if ok else None,
        # the window's CPU seconds: the median round's times the rounds
        "cpu_s": statistics.median(round_cpu) * len(round_cpu),
        "attempted": len(r["runs"]) // r["rounds"],
        "failed": len(failed),
        "correct": not r["mismatched"],
        "detail": {"errored": r["errored"], "mismatched": r["mismatched"],
                   "unchecked": r["unchecked"], "rounds": r["rounds"],
                   "check_s": r["t_checked"] - r["t_ready"],
                   "check_query_s": {k: round(v, 3) for k, v in r["check_s"].items()},
                   "query_s": {q: [round(x["s"], 3) for x in r["runs"] if x["query"] == q]
                               for q in dict.fromkeys(x["query"] for x in r["runs"])}},
    }
    if run.trace:
        names = {
            "queries.construct_s": "construct_s",
            "queries.eager_jobs": "eager_jobs",
            "queries.action_s": "action_s",
            "queries.action_jobs": "action_jobs",
            "queries.action_tasks": "action_tasks",
            "tables.read_calls": "tables_read_calls",
            "tables.read_s": "tables_read_s",
            "streaming.replay_batches": "replay_batches",
            "streaming.replay_s": "replay_s",
        }
        layers = {k: float(r["layer"][v]) for k, v in names.items()}
        layers.update(cpu_layers(lib.sampler, r["t_w0"], r["t_w1"]))
        layers["session.start_s"] = r["t_session"] - r["t_spawn"]
        layers["session.warmup_s"] = r["t_ready"] - r["t_session"]
        run.span("session.start", r["t_spawn"], r["t_session"], "setup")
        run.span("session.warmup", r["t_session"], r["t_ready"], "setup")
        layers["queries.failed"] = float(len(failed))
        result["layers"] = layers
    return result


WORKLOADS = {"live": live, "library": library}


# -- reporting -----------------------------------------------------------------


def per_layer_units() -> dict[str, str]:
    """name -> unit of every per-layer metric, in BENCHMARK.json order."""
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


def e2e_values(run: Run, r: dict) -> dict[str, float]:
    lat = r["latency"]
    return {
        "setup_s": statistics.median(run.setup_samples),
        "throughput_per_s": r["throughput_per_s"],
        "latency_p50_ms": lat["p50_ms"],
        "latency_tail_ms": lat["tail_ms"],
        "cpu_s": r["cpu_s"],
    }


def untraced_medians(workload: str) -> tuple[int, dict[str, float]]:
    rows = []
    if os.path.exists(RESULTS):
        with open(RESULTS, encoding="utf-8") as f:
            for line in f:
                rec = json.loads(line)
                if rec["workload"] == workload and not rec["trace"]:
                    rows.append(rec["e2e"])
    if not rows:
        return 0, {}
    return len(rows), {k: statistics.median([r[k] for r in rows]) for k in rows[0]}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, PKG, "__main__.py")):
        print(f"error: run from the root of a checkout; {PKG}/ not found in {ROOT}",
              file=sys.stderr)
        return 2
    os.makedirs(WORK, exist_ok=True)
    become_subreaper()
    # stop the children on SIGTERM too, not only on normal exit or ^C
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    run = Run(args.workload, args.seed, args.seconds, bool(args.trace))
    try:
        r = WORKLOADS[args.workload](run)
    finally:
        run.close()
    if r["latency"] is None:
        print("error: no message or query completed in the window", file=sys.stderr)
        return 3
    e2e = e2e_values(run, r)
    with open(RESULTS, "a", encoding="utf-8") as f:
        f.write(json.dumps({"workload": args.workload, "seed": args.seed,
                            "trace": bool(args.trace), "e2e": e2e}) + "\n")

    lat = r["latency"]
    print(f"workload {args.workload} seed {args.seed} trace {args.trace}")
    for name, unit in E2E:
        print(f"  {name:18s} {e2e[name]:14.4f} {unit}")
    print(f"  latency samples {lat['samples']} in {lat['batches']} batches; "
          f"tail = p{lat['tail_pct']}; setup samples {len(run.setup_samples)}")
    print(f"  attempted {r['attempted']} failed {r['failed']} correct {r['correct']}")
    print(f"  detail {json.dumps(r['detail'], default=str)}")

    if args.trace:
        layers = dict(r["layers"])
        n, base = untraced_medians(args.workload)
        for name, _ in E2E:
            layers[f"trace.{name}"] = e2e[name]
            layers[f"trace.overhead.{name}"] = e2e[name] - base[name] if n else 0.0
        layers["trace.overhead.baseline_runs"] = float(n)
        metrics = {k: {"value": float(layers.get(k, 0.0)), "unit": unit}
                   for k, unit in per_layer_units().items()}
    else:
        units = dict(E2E)
        metrics = {k: {"value": e2e[k], "unit": units[k]} for k, _ in E2E}
    print(json.dumps({"correct": bool(r["correct"]), "attempted": int(r["attempted"]),
                      "failed": int(r["failed"]), "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
