"""Library workload process: registry queries in one Spark session.

Run by ``run.py`` as a fresh process.  It sets up a session, runs every
query of ``QUERIES`` once to check it against its DuckDB oracle and
``WARM_ROUNDS`` more times to warm it up (untimed), then times whole
rounds of the set until ``--seconds`` have passed, one query at a time,
each result to the noop sink.  It prints one JSON object on its last stdout line.

With ``--trace 1`` it also puts construction and action in their own
job groups, times the public ``tables`` read functions and the
streaming replay helper, and counts replay micro-batches with a
streaming listener.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys
import time

T_SPAWN = float(os.environ.get("PERFBENCH_SPAWN", time.time()))

#: the registry queries this workload runs, in sorted order.  A subset
#: of the 36 dedup/stream/HFP registry queries: the whole 36 take about
#: 60 s warm on 4 cores, and q_dup_stats_stream alone (the Python
#: stateful dedup_tag_stream replay) 5 s warm and 9 s cold, more than a
#: run's budget allows.  It keeps batch dedup and stats over ``events``
#: and ``documents``, a stream-static join replay, and the two HFP
#: corpus queries, which fail without the reference corpus.
QUERIES = (
    "q_dedup_exact",
    "q_dedup_norm",
    "q_dup_stats",
    "q_hfp_domain",
    "q_hfp_golden",
    "q_stream_static_join",
)


#: untimed rounds after the checked one, before the timed rounds
WARM_ROUNDS = 1


class Timers:
    """Call counts and outermost-call seconds of wrapped functions."""

    def __init__(self) -> None:
        self.calls: dict[str, int] = {}
        self.seconds: dict[str, float] = {}
        self._depth: dict[str, int] = {}

    def wrap(self, layer: str, fn):
        def timed(*args, **kwargs):
            depth = self._depth.get(layer, 0)
            self._depth[layer] = depth + 1
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                self._depth[layer] = depth
                if depth == 0:
                    self.calls[layer] = self.calls.get(layer, 0) + 1
                    self.seconds[layer] = (
                        self.seconds.get(layer, 0.0) + time.perf_counter() - t0
                    )

        return timed


def install_timers(timers: Timers) -> None:
    """Time the public table readers and the streaming replay driver.

    Queries reach them as module attributes (``tables.table``) or by
    imports executed at call time, so replacing the attributes catches
    every call."""
    from transitdata_hfp_deduplicator_spark import streaming, tables
    from transitdata_hfp_deduplicator_spark.streaming import runner

    tables.read_parquet = timers.wrap("tables", tables.read_parquet)
    tables.table = timers.wrap("tables", tables.table)
    replay = timers.wrap("replay", runner.run_to_memory)
    runner.run_to_memory = replay
    streaming.run_to_memory = replay


def job_stats(sc, group: str) -> tuple[int, int]:
    """(jobs, tasks) Spark ran under a job group."""
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    tasks = 0
    for jid in jobs:
        info = tracker.getJobInfo(jid)
        for sid in info.stageIds if info else ():
            stage = tracker.getStageInfo(sid)
            if stage:
                tasks += stage.numTasks
    return len(jobs), tasks


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--cpus", type=int, required=True)
    ap.add_argument("--scratch", required=True)
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()

    import duckdb

    import measure
    from transitdata_hfp_deduplicator_spark import queries
    from transitdata_hfp_deduplicator_spark.session import get_spark
    from transitdata_hfp_deduplicator_spark.streaming import runner

    # streaming replays spool to ephemeral_dir(), which prefers
    # /dev/shm; keep every file the run writes inside the checkout
    os.makedirs(args.scratch, exist_ok=True)
    runner._EPHEMERAL_ROOT = args.scratch

    spark = get_spark("perfbench-library", cpus=args.cpus)
    t_session = time.time()
    spark.range(1).count()
    t_ready = time.time()

    timers = Timers()
    replay_batches = [0]
    if args.trace:
        from pyspark.sql.streaming import StreamingQueryListener

        class Count(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                replay_batches[0] += 1

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        spark.streams.addListener(Count())
        install_timers(timers)

    # -- untimed: warm every query and check it against its oracle ----
    con = duckdb.connect()
    for t in os.listdir(args.sf_dir):
        if t.endswith(".parquet"):
            path = os.path.join(args.sf_dir, t)
            con.sql(f"CREATE VIEW {t[:-8]} AS SELECT * FROM read_parquet('{path}')")
    errored: dict[str, str] = {}
    mismatched: list[str] = []
    unchecked: list[str] = []
    check_s: dict[str, float] = {}
    for name in QUERIES:
        t0 = time.time()
        try:
            got = queries.QUERIES[name](spark, args.sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001 - a failing query is a counted failure
            errored[name] = f"{type(e).__name__}: {str(e).splitlines()[0][:200]}"
            continue
        if name not in queries.ORACLES:
            unchecked.append(name)
            continue
        want = con.sql(queries.ORACLES[name]).df()
        if measure.frame_digest(got) != measure.frame_digest(want):
            mismatched.append(name)
        check_s[name] = time.time() - t0
    # the JIT keeps speeding queries up for several rounds (q_dedup_exact
    # 0.65 s in the first warm round, 0.35 s by the fourth); a run has
    # time for one untimed round, and the median over the timed rounds
    # keeps the slower early ones from setting the result
    for _ in range(WARM_ROUNDS):
        for name in QUERIES:
            if name not in errored:
                queries.QUERIES[name](spark, args.sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
    t_checked = time.time()

    # -- timed: whole rounds of the set for --seconds --------------------
    sc = spark.sparkContext
    layer = {"construct_s": 0.0, "action_s": 0.0, "eager_jobs": 0,
             "action_jobs": 0, "action_tasks": 0}
    tables0 = (timers.calls.get("tables", 0), timers.seconds.get("tables", 0.0))
    replay0 = (replay_batches[0], timers.seconds.get("replay", 0.0))
    runs: list[dict] = []
    spans: list[dict] = []
    t_w0 = time.time()
    rounds = 0
    while rounds == 0 or time.time() < t_w0 + args.seconds:
        for i, name in enumerate(QUERIES):
            group = f"perfbench-{rounds}-{i}"
            a = time.time()
            ok = True
            b = a
            try:
                if args.trace:
                    sc.setJobGroup(group + "-construct", name)
                df = queries.QUERIES[name](spark, args.sf_dir)
                b = time.time()
                if args.trace:
                    sc.setJobGroup(group + "-action", name)
                df.write.format("noop").mode("overwrite").save()
            except Exception:  # noqa: BLE001 - counted, as in the check pass
                ok = False
            c = time.time()
            runs.append({"query": name, "round": rounds, "ok": ok, "t": a, "s": c - a})
            if args.trace:
                cj, _ = job_stats(sc, group + "-construct")
                aj, at = job_stats(sc, group + "-action")
                layer["construct_s"] += b - a
                layer["action_s"] += c - b
                layer["eager_jobs"] += cj
                layer["action_jobs"] += aj
                layer["action_tasks"] += at
                spans.append({"name": f"query.{name}", "start": a, "end": c, "parent": "library"})
                spans.append({"name": "construct", "start": a, "end": b, "parent": f"query.{name}"})
                spans.append({"name": "action", "start": b, "end": c, "parent": f"query.{name}"})
        rounds += 1
    t_w1 = time.time()

    out = {
        "t_spawn": T_SPAWN,
        "t_session": t_session,
        "t_ready": t_ready,
        "t_checked": t_checked,
        "t_w0": t_w0,
        "t_w1": t_w1,
        "rounds": rounds,
        "runs": runs,
        "errored": errored,
        "mismatched": mismatched,
        "unchecked": unchecked,
        "check_s": check_s,
    }
    if args.trace:
        layer["tables_read_calls"] = timers.calls.get("tables", 0) - tables0[0]
        layer["tables_read_s"] = timers.seconds.get("tables", 0.0) - tables0[1]
        layer["replay_batches"] = replay_batches[0] - replay0[0]
        layer["replay_s"] = timers.seconds.get("replay", 0.0) - replay0[1]
        out["layer"] = layer
        out["spans"] = spans
    sys.stdout.write(json.dumps(out) + "\n")
    sys.stdout.flush()
    # the parent stops the whole process tree once it has the result
    signal.pause()
    return 0


if __name__ == "__main__":
    sys.exit(main())
