"""Config-driven application entrypoint — the reference's operational
surface (Main.java:12-30: config → broker connections → Analytics →
Deduplicator → blocking pump) as one runnable module:

    python -m transitdata_hfp_deduplicator_spark \
        --source /path/to/hfp-lines.txt --out /tmp/dedup_out

Runs ONE streaming query: source (`hfp_text` custom format — a file of
``ts topic json`` lines) → first-wins dedup on (topic, payload)
identity (`streaming.dedup_stream.stream_dedup`) → unique messages to a
parquet sink (exactly-once via ``<checkpoint>/forward``).  The state
TTL runs on ``arrived``, the wall-clock time the source read the
message's micro-batch (the reference's only clock is wall time,
Deduplicator.java:51).  The source logs that time in the batch's
offset ``{"pos", "at"}``, so a replay after a crash re-stamps it, and
the plan holds no per-batch literal that would recompile generated
code every batch.  The query observes its exact per-batch prime count,
and `streaming.listener` folds it into processing-time
``APPLICATION_ALERT_POLL_INTERVAL`` windows, printing one JSON
feed-health record per window with the reference's alert bands
(Analytics.java:47-67).  Without ``--follow`` the app drains the file
until it is caught up and exits; with it, it keeps tailing appended
lines.  A last line without its newline yet is held back until the
newline is written.  All thresholds and the state TTL come from the
same env-var surface the reference used (config.DedupConfig /
environment.conf names).
"""

from __future__ import annotations

import argparse
import sys


def forward_stream(spark, source: str, cfg):
    """The forward query's plan: ``hfp_text`` rows, first-wins dedup on
    (topic, payload) over the source's ``arrived`` stamp with the
    config's TTL, and the observed per-batch prime count."""
    from pyspark.sql import functions as F

    from transitdata_hfp_deduplicator_spark.sources.hfp_datasource import (
        HfpTextDataSource,
    )
    from transitdata_hfp_deduplicator_spark.streaming.dedup_stream import stream_dedup
    from transitdata_hfp_deduplicator_spark.streaming.listener import OBSERVATION

    spark.dataSource.register(HfpTextDataSource)
    parsed = spark.readStream.format("hfp_text").option("path", source).load()
    ttl = f"{max(cfg.cache_ttl_ms // 1000, 1)} seconds"
    return stream_dedup(parsed, ["topic", "payload"], "arrived", ttl).observe(
        OBSERVATION, F.count(F.lit(1)).alias("primes")
    )


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(
        prog="transitdata_hfp_deduplicator_spark",
        description="HFP stream deduplicator (Spark) — Main.java analog",
    )
    ap.add_argument("--source", required=True, help="hfp line file (ts topic json)")
    ap.add_argument("--out", required=True, help="output dir (parquet uniques)")
    ap.add_argument("--checkpoint", default=None, help="checkpoint dir")
    ap.add_argument(
        "--follow",
        action="store_true",
        help="keep tailing the source for appended lines (live mode); "
        "default drains what exists and exits",
    )
    ap.add_argument("--cpus", type=int, default=None)
    args = ap.parse_args(argv)

    from transitdata_hfp_deduplicator_spark.config import DedupConfig
    from transitdata_hfp_deduplicator_spark.session import get_spark
    from transitdata_hfp_deduplicator_spark.streaming.listener import DedupQueryListener
    from transitdata_hfp_deduplicator_spark.streaming.runner import ephemeral_dir

    cfg = DedupConfig()
    spark = get_spark("hfp-deduplicator", cpus=args.cpus)

    uniques = forward_stream(spark, args.source, cfg)

    ckpt = args.checkpoint or ephemeral_dir("app_ckpt_")
    listener = DedupQueryListener(cfg)
    spark.streams.addListener(listener)
    q = None
    try:
        q = (
            uniques.writeStream.format("parquet")
            .option("path", args.out)
            .option("checkpointLocation", f"{ckpt}/forward")
            .outputMode("append")
            .start()
        )
        if args.follow:
            q.awaitTermination()
        else:
            q.processAllAvailable()
    finally:
        if q is not None:
            q.stop()
            # the last window is flushed by the (asynchronous) terminated event
            listener.terminated.wait(60)
        spark.streams.removeListener(listener)
    n = spark.read.parquet(args.out).count()
    print(f"[done] unique messages forwarded: {n}", flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
