"""Per-stage time attribution for one or more registered queries.

Runs each named query through the noop sink with the Spark event log
enabled, then parses the log: one line per stage with submit-to-complete
wall time, task count, and the stage's callsite / first RDD scope name —
enough to tell which part of a multi-job plan (eager localCheckpoints,
broadcast builds, the final noop write) the seconds are going to,
without the UI (disabled in this image).

Usage: python tools/profile_stages.py q_name [q_name ...] [--sf DIR]

Methodology matches bench.py where it matters for attribution: one
untimed sf0.001 warm-up pass per query (janino/codegen), then the timed
run at the target SF.  Numbers here are single-run (attribution, not
benchmarking) — use bench.py SPARK_GRAFT_BENCH_ONLY for A/B totals.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def parse_events(log_dir: str) -> list[dict]:
    evs = []
    for root, _dirs, files in os.walk(log_dir):
        for f in files:
            if f.startswith(".") or f.endswith(".crc"):
                continue
            with open(os.path.join(root, f)) as fh:
                for line in fh:
                    try:
                        evs.append(json.loads(line))
                    except json.JSONDecodeError:
                        pass
    return evs


def stage_report(evs: list[dict], t0_ms: float, t1_ms: float) -> list[tuple]:
    rows = []
    for e in evs:
        if e.get("Event") != "SparkListenerStageCompleted":
            continue
        si = e["Stage Info"]
        sub = si.get("Submission Time")
        comp = si.get("Completion Time")
        if sub is None or comp is None or comp < t0_ms or sub > t1_ms:
            continue
        rows.append(
            (
                sub,
                (comp - sub) / 1000.0,
                si["Stage ID"],
                si["Number of Tasks"],
                si.get("Stage Name", "?"),
            )
        )
    rows.sort()
    return rows


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    sf_dir = "/root/testdata/sf0.1"
    for i, a in enumerate(sys.argv[1:]):
        if a == "--sf" and i + 2 < len(sys.argv) + 1:
            sf_dir = sys.argv[1:][i + 1]
            args = [x for x in args if x != sf_dir]
    if not args:
        raise SystemExit("usage: profile_stages.py q_name [q_name ...] [--sf DIR]")

    log_dir = tempfile.mkdtemp(prefix="spark_graft_eventlog_")
    from transitdata_hfp_deduplicator_spark.queries import QUERIES
    from transitdata_hfp_deduplicator_spark.session import get_spark

    spark = get_spark(
        "profile-stages",
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": log_dir,
            "spark.cleaner.periodicGC.interval": "3600min",
        },
    )
    warm_sf = "/root/testdata/sf0.001"
    windows = {}
    for name in args:
        fn = QUERIES[name]
        for _ in range(2):  # janino + C2 warm-up, untimed
            try:
                fn(spark, warm_sf).write.format("noop").mode("overwrite").save()
            except Exception as e:  # noqa: BLE001
                print(f"warm-up {name}: {e}", file=sys.stderr)
        try:
            spark.sparkContext._jvm.System.gc()
        except Exception:  # noqa: BLE001
            pass
        spark.sparkContext.setJobDescription(f"profile:{name}")
        t0 = time.time() * 1000
        w0 = time.perf_counter()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        wall = time.perf_counter() - w0
        t1 = time.time() * 1000
        spark.sparkContext.setJobDescription(None)
        windows[name] = (t0, t1, wall)
        spark.catalog.clearCache()

    # flush the event log by stopping the session before parsing
    spark.stop()
    evs = parse_events(log_dir)
    for name, (t0, t1, wall) in windows.items():
        rows = stage_report(evs, t0, t1)
        stage_sum = sum(r[1] for r in rows)
        print(f"\n=== {name}: wall {wall:.2f}s, {len(rows)} stages, "
              f"stage-time sum {stage_sum:.2f}s (gap {wall - stage_sum:.2f}s) ===")
        for sub, dur, sid, ntasks, sname in rows:
            print(f"  {dur:7.3f}s  stage {sid:4d}  {ntasks:4d} tasks  {sname[:110]}")


if __name__ == "__main__":
    main()
