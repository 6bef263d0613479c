"""Traced run of the application: the CLI's ``main`` with a listener.

``python perfbench/traced_app.py EVENTS_JSONL STOP_FILE -- <CLI arguments>``

Builds the session the CLI would build (``get_spark`` with the CLI's
app name and ``--cpus``), attaches a ``StreamingQueryListener`` that
appends every progress event to ``EVENTS_JSONL``, then calls
``transitdata_hfp_deduplicator_spark.__main__.main`` with the given
arguments; the CLI's own ``get_spark`` returns the same session.  Each
event line is flushed as it is written.

Once ``STOP_FILE`` exists it stops the session's streaming queries, so
that a ``--follow`` run's ``main`` returns.  After ``main`` returns it
times the layers' public functions directly over the same input: the
``hfp_text`` reader's ``read``, a ``payload_digest`` projection and a
parquet write of the uniques through ``sinks.write_stream_parquet``.
"""

from __future__ import annotations

import json
import os
import signal
import sys
import threading
import time

T_SPAWN = float(os.environ.get("PERFBENCH_SPAWN", time.time()))


class EventLog:
    def __init__(self, path: str):
        self._f = open(path, "a", encoding="utf-8", buffering=1)

    def write(self, kind: str, **fields) -> None:
        self._f.write(json.dumps({"kind": kind, "t": time.time(), **fields}) + "\n")


def _arg(argv: list[str], flag: str) -> str | None:
    return argv[argv.index(flag) + 1] if flag in argv else None


def direct_layers(spark, log: EventLog, source: str, uniques_dir: str, scratch: str) -> None:
    from transitdata_hfp_deduplicator_spark.operators.dedup import payload_digest
    from transitdata_hfp_deduplicator_spark.sinks import write_stream_parquet
    from transitdata_hfp_deduplicator_spark.sources.hfp_datasource import (
        HfpByteRange,
        HfpTextReader,
    )
    from transitdata_hfp_deduplicator_spark.streaming import parquet_stream

    # the reader over the whole file, in one partition
    reader = HfpTextReader({"path": source})
    t0 = time.perf_counter()
    n = sum(1 for _ in reader.read(HfpByteRange(source, 0, os.path.getsize(source))))
    log.write("layer", name="sources.read", rows=n, s=time.perf_counter() - t0)

    rows = spark.read.format("hfp_text").option("path", source).load()
    rows = rows.localCheckpoint(eager=True)
    t0 = time.perf_counter()
    rows.select(payload_digest("topic", "payload").alias("d")).write.format(
        "noop"
    ).mode("overwrite").save()
    log.write("layer", name="operators.digest", s=time.perf_counter() - t0)

    out = os.path.join(scratch, "sink_out")
    t0 = time.perf_counter()
    q = write_stream_parquet(
        parquet_stream(spark, uniques_dir), out, checkpoint=os.path.join(scratch, "sink_ckpt")
    )
    q.awaitTermination()
    log.write("layer", name="sinks.write", s=time.perf_counter() - t0)


def stop_streams_on(spark, stop_file: str, returned: threading.Event) -> None:
    """Stop every active streaming query once ``stop_file`` exists,
    until ``main`` has returned."""
    while not os.path.exists(stop_file):
        time.sleep(0.1)
    while not returned.is_set():
        for q in spark.streams.active:
            q.stop()
        returned.wait(0.5)


def main() -> int:
    events_path, stop_file = sys.argv[1:3]
    argv = sys.argv[sys.argv.index("--") + 1 :]
    log = EventLog(events_path)
    log.write("spawn", at=T_SPAWN)

    from pyspark.sql.streaming import StreamingQueryListener

    from transitdata_hfp_deduplicator_spark.__main__ import main as cli_main
    from transitdata_hfp_deduplicator_spark.session import get_spark

    cpus = _arg(argv, "--cpus")
    spark = get_spark("hfp-deduplicator", cpus=int(cpus) if cpus else None)
    log.write("session_ready")
    source = _arg(argv, "--source")

    class Progress(StreamingQueryListener):
        def onQueryStarted(self, event):
            log.write("started", id=str(event.id))

        def onQueryProgress(self, event):
            try:
                size = os.path.getsize(source)
            except OSError:
                size = None
            log.write("progress", progress=json.loads(event.progress.json), file_size=size)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            log.write("terminated", id=str(event.id), exception=event.exception)

    spark.streams.addListener(Progress())
    returned = threading.Event()
    threading.Thread(
        target=stop_streams_on, args=(spark, stop_file, returned), daemon=True
    ).start()
    rc = cli_main(argv)
    returned.set()
    log.write("main_returned", rc=rc)
    scratch = os.path.join(os.path.dirname(os.path.abspath(events_path)), "direct")
    direct_layers(spark, log, source, _arg(argv, "--out"), scratch)
    log.write("done", rc=rc)
    # the parent stops the whole process tree once it has read the log
    signal.pause()
    return rc


if __name__ == "__main__":
    sys.exit(main())
