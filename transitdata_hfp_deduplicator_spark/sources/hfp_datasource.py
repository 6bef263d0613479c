"""Custom Spark DataSource for the HFP line corpus (Spark 4 Python
DataSource API): ``spark.read.format("hfp_text")`` yields parsed
(server_ts, topic, payload, arrived) rows directly from
``ts topic json`` lines (hfp-5000.txt format; parse rule
ITDeduplicatorTest.java:138-148 — first space ends the timestamp, first
'{' starts the payload, because topics may contain spaces).  ``arrived`` is the wall-clock time the
source read the line (the reference's only clock, Deduplicator.java:51):
one stamp per stream micro-batch, one per partition in a batch read.

This is the engine's own connector: it registers a new format with the
planner, and the application reads its input through it.  Splits are
byte ranges with the Hadoop text-input boundary rule (a range owns the
lines that START inside it; the first partial line belongs to the
predecessor), so no central line index is needed — the same contract
that lets a 1000-executor cluster scan a 100 TB text dump.  A batch
read always cuts the file into at most ``numPartitions`` equal ranges
(default 8), whatever its size; parallelism does not grow with it.  The stream reader uses the same rule from its
offset to the byte after the file's last newline, so its offsets always
bound whole lines.  A stream offset is ``{"pos": <byte>, "at": <µs>}``:
``at`` is the batch's arrival stamp, so a replay of a logged batch
yields the same rows as its first read.  Stamping in the source keeps
the query plan free of a per-batch literal such as
``current_timestamp()``, which Spark would inline into generated code
and recompile every batch.
"""

from __future__ import annotations

import datetime as dt
import os
import time
from collections.abc import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)


class HfpByteRange(InputPartition):
    def __init__(self, path: str, start: int, end: int):
        self.path = path
        self.start = start
        self.end = end


def parse_hfp_line(line: str) -> tuple[str, str, str]:
    """ts topic json, exactly as ``hfp.parse_lines`` (the column-expression
    twin) splits it, on every line.  With Spark's ``substring`` clamping
    spelled out: the timestamp is everything before the first space
    (empty if none); the topic is what lies between that space and the
    first '{' with spaces trimmed (empty unless the '{' comes later);
    the payload runs from the first '{', or is the whole line if there
    is none.  So a malformed line keeps its text in its identity."""
    sp = line.find(" ")
    brace = line.find("{")
    topic = line[sp + 1 : brace].strip(" ") if brace > sp + 1 else ""
    return line[: max(sp, 0)], topic, line[max(brace, 0) :]


_EPOCH = dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc)


def _now_us() -> int:
    return time.time_ns() // 1000


def read_lines(path: str, start: int, end: int, at_us: int) -> Iterator[tuple]:
    """Parsed rows of the lines that start in ``[start, end)``, each
    stamped ``arrived`` = ``at_us`` microseconds since the epoch.

    Boundary rule: discard the line containing byte ``start - 1``; if
    that byte is a newline the discarded chunk is exactly the predecessor's
    final line, so the line starting AT ``start`` survives.  The last
    owned line is read to its end even past ``end``."""
    with open(path, "rb") as f:
        if start > 0:
            f.seek(start - 1)
            f.readline()
        pos = f.tell()
        arrived = _EPOCH + dt.timedelta(microseconds=at_us)
        for raw in f:
            if pos >= end:
                break
            pos += len(raw)
            line = raw.decode("utf-8", errors="replace").rstrip("\r\n")
            if line:
                yield (*parse_hfp_line(line), arrived)


def complete_end(path: str, start: int) -> int:
    """The byte after the file's last newline at or after ``start``, or
    ``start`` when no line after it is complete yet: an append still
    in flight stays unread until its newline lands."""
    with open(path, "rb") as f:
        hi = f.seek(0, os.SEEK_END)
        while hi > start:
            lo = max(start, hi - (64 << 10))
            f.seek(lo)
            nl = f.read(hi - lo).rfind(b"\n")
            if nl >= 0:
                return lo + nl + 1
            hi = lo
    return start


class HfpTextReader(DataSourceReader):
    def __init__(self, options):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("hfp_text requires .option('path', ...)")
        self.n_splits = int(options.get("numPartitions", "8"))

    def partitions(self):
        size = os.path.getsize(self.path)
        if size == 0:
            return [HfpByteRange(self.path, 0, 0)]
        step = max(1, (size + self.n_splits - 1) // self.n_splits)
        return [
            HfpByteRange(self.path, s, min(s + step, size))
            for s in range(0, size, step)
        ]

    def read(self, partition: HfpByteRange) -> Iterator[tuple]:
        return read_lines(partition.path, partition.start, partition.end, _now_us())


class HfpTextStreamReader(SimpleDataSourceStreamReader):
    """Tail-like streaming ingest of an HFP line file: the offset's
    ``pos`` is a BYTE position at a line start.  Each micro-batch takes
    every complete line from the last offset to the byte after the
    file's last newline — the whole backlog, since an ``availableNow``
    run asks for one latest offset and stops there — and stamps them
    all with one arrival time, kept as the end offset's ``at``.  A read
    with no new complete line returns its start offset unchanged, so an
    idle feed runs no batch.  ``readBetweenOffsets`` replays any logged
    range deterministically, stamp included (exactly the
    replayability contract a broker offset gives the checkpoint) — this
    is the engine's live-feed analog of the reference's Pulsar consumer
    (Deduplicator.java:43), growing file standing in for growing topic.
    The read runs on the driver; bulk files go through the
    split-parallel batch reader instead.
    """

    def __init__(self, options):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("hfp_text requires .option('path', ...)")

    def initialOffset(self) -> dict:
        return {"pos": 0}

    def read(self, start: dict) -> tuple[Iterator[tuple], dict]:
        pos = int(start["pos"])
        end = complete_end(self.path, pos)
        if end == pos:
            # the same offset back: Spark runs no batch
            return iter(()), start
        at = _now_us()
        # a list: Spark's prefetch cache copies the iterator
        return iter(list(read_lines(self.path, pos, end, at))), {"pos": end, "at": at}

    def readBetweenOffsets(self, start: dict, end: dict) -> Iterator[tuple]:
        return read_lines(self.path, int(start["pos"]), int(end["pos"]), int(end["at"]))

    def commit(self, end: dict) -> None:
        pass  # nothing to release; the file is the retention


class HfpTextDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "hfp_text"

    def schema(self) -> str:
        return "server_ts string, topic string, payload string, arrived timestamp"

    def reader(self, schema) -> HfpTextReader:
        return HfpTextReader(self.options)

    def simpleStreamReader(self, schema) -> HfpTextStreamReader:
        return HfpTextStreamReader(self.options)
