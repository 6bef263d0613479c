"""Custom Spark DataSource for the HFP line corpus (Spark 4 Python
DataSource API): ``spark.read.format("hfp_text")`` yields parsed
(server_ts, topic, payload) rows directly from ``ts topic json`` lines
(hfp-5000.txt format; parse rule ITDeduplicatorTest.java:138-148 —
first space ends the timestamp, first '{' starts the payload, because
topics may contain spaces).

This is the engine's "own connector" surface: where `sources/broker.py`
maps an EXISTING source's columns, this registers a NEW format with the
planner.  Splits are byte ranges with the Hadoop text-input boundary
rule (a range owns the lines that START inside it; the first partial
line belongs to the predecessor), so parallelism scales with file size
and no central line index is needed — the same contract that lets a
1000-executor cluster scan a 100 TB text dump.  The stream reader uses
the same rule from its offset to the byte after the file's last
newline, so its offsets always bound whole lines.
"""

from __future__ import annotations

import os
from collections.abc import Iterator

import uuid
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamWriter,
    InputPartition,
    SimpleDataSourceStreamReader,
    WriterCommitMessage,
)


class HfpByteRange(InputPartition):
    def __init__(self, path: str, start: int, end: int):
        self.path = path
        self.start = start
        self.end = end


def parse_hfp_line(line: str) -> tuple[str, str, str]:
    """ts topic json — identical semantics to hfp.parse_lines (the
    column-expression twin); a line with no space or no '{' degrades to
    empty fields rather than erroring, like the raw-bytes fallback."""
    sp = line.find(" ")
    brace = line.find("{")
    if sp < 0 or brace < 0 or brace < sp:
        return line, "", ""
    return line[:sp], line[sp + 1 : brace].strip(), line[brace:]


def read_lines(path: str, start: int, end: int) -> Iterator[tuple]:
    """Parsed rows of the lines that start in ``[start, end)``.

    Boundary rule: discard the line containing byte ``start - 1``; if
    that byte is a newline the discarded chunk is exactly the predecessor's
    final line, so the line starting AT ``start`` survives.  The last
    owned line is read to its end even past ``end``."""
    with open(path, "rb") as f:
        if start > 0:
            f.seek(start - 1)
            f.readline()
        pos = f.tell()
        for raw in f:
            if pos >= end:
                break
            pos += len(raw)
            line = raw.decode("utf-8", errors="replace").rstrip("\r\n")
            if line:
                yield parse_hfp_line(line)


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
        if os.path.isdir(self.path):  # a sink-written batch dir of parts
            files = sorted(
                os.path.join(self.path, f)
                for f in os.listdir(self.path)
                if not f.startswith((".", "_"))
                and os.path.isfile(os.path.join(self.path, f))
            )
        else:
            files = [self.path]
        total = sum(os.path.getsize(f) for f in files)
        if total == 0:
            return [HfpByteRange(files[0] if files else self.path, 0, 0)]
        step = max(1, (total + self.n_splits - 1) // self.n_splits)
        parts = []
        for f in files:
            size = os.path.getsize(f)
            parts.extend(
                HfpByteRange(f, s, min(s + step, size))
                for s in range(0, size, step)
            )
        return parts

    def read(self, partition: HfpByteRange) -> Iterator[tuple]:
        return read_lines(partition.path, partition.start, partition.end)


class HfpTextStreamReader(SimpleDataSourceStreamReader):
    """Tail-like streaming ingest of an HFP line file: the offset is a
    BYTE position at a line start.  Each micro-batch takes every
    complete line from the last offset to the byte after the file's
    last newline — the whole backlog, since an ``availableNow`` run asks
    for one latest offset and stops there.  ``readBetweenOffsets``
    replays any committed range deterministically (exactly the
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
        # a list: Spark's prefetch cache copies the iterator
        return iter(list(read_lines(self.path, pos, end))), {"pos": end}

    def readBetweenOffsets(self, start: dict, end: dict) -> Iterator[tuple]:
        return read_lines(self.path, int(start["pos"]), int(end["pos"]))

    def commit(self, end: dict) -> None:
        pass  # nothing to release; the file is the retention


@dataclass
class _StagedFile(WriterCommitMessage):
    staged: str
    rows: int


class HfpTextStreamWriter(DataSourceStreamWriter):
    """Streaming sink half of the format: serialize rows back to
    ``ts topic json`` lines — the reference's forward-to-output-topic
    (A7, Deduplicator.java:117-129) with STRONGER delivery semantics.
    Each task writes to a staged file; ``commit`` moves the batch's
    staged files into ``<dir>/batch=<id>/`` only after every task
    reported success, and a replayed batch OVERWRITES its own directory
    — write-ahead staging + idempotent rename = exactly-once into the
    file sink, where the reference acked after async-send *initiation*
    and could both drop (send failed, already acked) and re-emit."""

    def __init__(self, options):
        self.dir = options.get("path")
        if not self.dir:
            raise ValueError("hfp_text sink requires .option('path', ...)")

    def write(self, iterator) -> _StagedFile:
        os.makedirs(os.path.join(self.dir, "_staging"), exist_ok=True)
        staged = os.path.join(self.dir, "_staging", uuid.uuid4().hex)
        n = 0
        with open(staged, "w", encoding="utf-8") as f:
            for row in iterator:
                f.write(f"{row.server_ts} {row.topic} {row.payload}\n")
                n += 1
        return _StagedFile(staged=staged, rows=n)

    def commit(self, messages, batchId: int) -> None:
        import shutil

        batch_dir = os.path.join(self.dir, f"batch={batchId}")
        if os.path.isdir(batch_dir):  # replayed batch: idempotent redo
            shutil.rmtree(batch_dir)
        os.makedirs(batch_dir)
        for i, m in enumerate(messages):
            if m is not None and m.rows > 0:
                os.replace(m.staged, os.path.join(batch_dir, f"part-{i:05d}.txt"))
            elif m is not None:
                os.unlink(m.staged)

    def abort(self, messages, batchId: int) -> None:
        for m in messages:
            if m is not None and os.path.exists(m.staged):
                os.unlink(m.staged)


class HfpTextDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "hfp_text"

    def schema(self) -> str:
        return "server_ts string, topic string, payload string"

    def reader(self, schema) -> HfpTextReader:
        return HfpTextReader(self.options)

    def simpleStreamReader(self, schema) -> HfpTextStreamReader:
        return HfpTextStreamReader(self.options)

    def streamWriter(self, schema, overwrite: bool) -> HfpTextStreamWriter:
        return HfpTextStreamWriter(self.options)


def register(spark) -> None:
    spark.dataSource.register(HfpTextDataSource)
