"""Custom Python DataSource (`format("hfp_text")`): split-boundary
correctness against the column-expression parser and the live tail on
the seeded two-feed fixture (tests/conftest.py), and golden corpus
parity where the reference corpus exists.
"""

from __future__ import annotations

import datetime as dt
import os
import time

import pytest

from transitdata_hfp_deduplicator_spark.sources.hfp import read_corpus
from transitdata_hfp_deduplicator_spark.sources.hfp_datasource import (
    HfpTextDataSource,
    HfpTextStreamReader,
    complete_end,
    parse_hfp_line,
)

CORPUS = "/root/reference/src/integration-test/resources/hfp-5000.txt"
PARSED = ["server_ts", "topic", "payload"]  # the columns parsed from the line


@pytest.fixture(scope="module", autouse=True)
def _register(spark):
    spark.dataSource.register(HfpTextDataSource)


def _load(spark, path, **opts):
    r = spark.read.format("hfp_text").option("path", path)
    for k, v in opts.items():
        r = r.option(k, v)
    return r.load()


def _keys(df) -> set[tuple[str, str]]:
    return {(r.topic, r.payload) for r in df.select("topic", "payload").collect()}


def test_reads_all_lines(spark, hfp_feed):
    before = time.time()
    rows = _load(spark, hfp_feed.path).collect()
    after = time.time()
    assert len(rows) == hfp_feed.messages
    # each partition stamps the time it read its lines
    assert all(before <= r.arrived.timestamp() <= after for r in rows)


def test_matches_column_expression_parser(spark, hfp_feed):
    """The DataSource rows equal hfp.parse_lines' output exactly —
    two independent implementations of ITDeduplicatorTest.java:138-148."""
    via_ds = set(map(tuple, _load(spark, hfp_feed.path).select(PARSED).collect()))
    via_expr = set(map(tuple, read_corpus(spark, hfp_feed.path).collect()))
    assert via_ds == via_expr
    assert len(via_ds) == hfp_feed.messages


@pytest.mark.parametrize("n", [1, 3, 7, 32])
def test_split_boundaries_lose_nothing(spark, hfp_feed, n):
    """Any byte-range split count yields every line once — the
    partial-line ownership rule at work (a wrong rule drops or
    duplicates boundary lines)."""
    df = _load(spark, hfp_feed.path, numPartitions=str(n))
    assert df.count() == hfp_feed.messages
    assert _keys(df) == hfp_feed.uniques


@pytest.mark.skipif(not os.path.exists(CORPUS), reason="reference corpus absent")
def test_golden_unique_count_through_datasource(spark):
    """The reference's golden oracle (5000 → 4956 uniques by
    topic + ' ' + payload, ITDeduplicatorTest.java:80-93) through the
    custom format."""
    df = _load(spark, CORPUS)
    assert df.count() == 5000
    assert df.select("topic", "payload").distinct().count() == 4956


def test_parse_rule_degrades_gracefully():
    # a malformed line keeps its text as the payload, so distinct
    # malformed lines stay distinct identities
    assert parse_hfp_line("noseparator") == ("", "", "noseparator")
    assert parse_hfp_line("ts topic-no-json") == ("ts", "", "ts topic-no-json")
    ts, topic, payload = parse_hfp_line('t /a/b {"x": 1}')
    assert (ts, topic, payload) == ("t", "/a/b", '{"x": 1}')
    # topic with spaces: json starts at first '{'
    ts, topic, payload = parse_hfp_line('t /a b c {"x": 1}')
    assert topic == "/a b c"


def test_streaming_tail_ingests_live_appends(spark, hfp_feed, tmp_path):
    """`readStream.format("hfp_text")`: a live byte-offset tail of a
    growing HFP feed — half the lines at start, half appended while
    the query runs; every message arrives and the planted uniques hold
    end-to-end.  The growing file stands in for the growing broker
    topic (Deduplicator.java:43); the byte offset in the checkpoint is
    the replayable consumer position."""
    import time

    half = hfp_feed.messages // 2
    hfp_feed.write(hfp_feed.lines[:half])
    outd, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    sdf = (
        spark.readStream.format("hfp_text")
        .option("path", hfp_feed.path)
        .load()
    )
    q = (
        sdf.writeStream.foreachBatch(
            lambda b, _i: b.write.mode("append").parquet(outd)
        )
        .option("checkpointLocation", ck)
        .trigger(processingTime="500 milliseconds")
        .start()
    )

    def _count() -> int:
        try:
            return spark.read.parquet(outd).count()
        except Exception:  # noqa: BLE001 - sink dir not created yet
            return 0

    try:
        deadline = time.time() + 90
        while _count() < half and time.time() < deadline:
            time.sleep(0.5)
        assert _count() == half, "first half never fully ingested"
        hfp_feed.write(hfp_feed.lines[half:], mode="a")
        while _count() < hfp_feed.messages and time.time() < deadline:
            time.sleep(0.5)
    finally:
        q.stop()
        q.awaitTermination()
    out = spark.read.parquet(outd)
    assert out.count() == hfp_feed.messages
    assert _keys(out) == hfp_feed.uniques


def _write_torn(feed, n: int) -> int:
    """Write ``n`` whole lines of ``feed`` plus the first half of the
    next one; returns the byte length of the whole lines."""
    whole = "".join(feed.lines[:n])
    torn = feed.lines[n]
    with open(feed.path, "w", encoding="utf-8") as f:
        f.write(whole + torn[: len(torn) // 2])
    return len(whole.encode())


def test_stream_reader_offsets_bound_whole_lines(hfp_feed):
    """A stream batch ends after the last '\n': the torn last line is
    left for the next batch.  The end offset carries the batch's
    arrival stamp, so replaying the logged range yields the same rows,
    ``arrived`` included, and a read with no new complete line hands
    back its start offset, so Spark runs no batch."""
    whole = _write_torn(hfp_feed, 2)
    reader = HfpTextStreamReader({"path": hfp_feed.path})
    rows, end = reader.read({"pos": 0})
    rows = list(rows)
    assert set(end) == {"pos", "at"} and end["pos"] == whole
    arrived = dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc) + dt.timedelta(
        microseconds=end["at"]
    )
    expected = [(*parse_hfp_line(ln.rstrip("\n")), arrived) for ln in hfp_feed.lines[:2]]
    assert rows == expected
    assert list(reader.readBetweenOffsets({"pos": 0}, end)) == rows
    idle, again = reader.read(end)
    assert list(idle) == [] and again is end

    with open(hfp_feed.path, "a", encoding="utf-8") as f:
        f.write(hfp_feed.lines[2][len(hfp_feed.lines[2]) // 2 :])
    rows, end3 = reader.read(end)
    rows = list(rows)
    assert [r[:3] for r in rows] == [parse_hfp_line(hfp_feed.lines[2].rstrip("\n"))]
    assert end3["pos"] == os.path.getsize(hfp_feed.path) and end3["at"] >= end["at"]
    assert list(reader.readBetweenOffsets(end, end3)) == rows


def test_complete_end_scans_back_across_chunks(tmp_path):
    p = tmp_path / "lines.txt"
    p.write_bytes(b"a {}\n" + b"x" * 200_000)  # torn tail over 3 read chunks
    assert complete_end(str(p), 0) == 5
    assert complete_end(str(p), 5) == 5  # nothing complete after 5
    p.write_bytes(b"")
    assert complete_end(str(p), 0) == 0


def test_stream_forwards_line_torn_by_append_whole(spark, hfp_feed, tmp_path):
    """Two lines plus half a third, then the rest of the third: exactly
    three rows, none of them split (a read that stops at the file size
    would emit the halves as two corrupt rows)."""
    _write_torn(hfp_feed, 2)
    q = (
        spark.readStream.format("hfp_text")
        .option("path", hfp_feed.path)
        .load()
        .writeStream.format("memory")
        .queryName("torn_line")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    try:
        q.processAllAvailable()
        with open(hfp_feed.path, "a", encoding="utf-8") as f:
            f.write(hfp_feed.lines[2][len(hfp_feed.lines[2]) // 2 :])
        q.processAllAvailable()
    finally:
        q.stop()
    got = sorted(map(tuple, spark.table("torn_line").select(PARSED).collect()))
    assert got == sorted(parse_hfp_line(ln.rstrip("\n")) for ln in hfp_feed.lines[:3])


def test_run_to_memory_drains_stream_over_1mib(spark, make_hfp_feed):
    """An availableNow run asks the source for one latest offset, so
    that offset has to cover the whole backlog."""
    from transitdata_hfp_deduplicator_spark.streaming.runner import run_to_memory

    feed = make_hfp_feed("big.txt", pad=4_000)
    assert os.path.getsize(feed.path) > 1 << 20
    out = run_to_memory(
        spark.readStream.format("hfp_text").option("path", feed.path).load()
    )
    assert out.count() == feed.messages
    assert _keys(out) == feed.uniques


def test_empty_file_yields_no_rows(spark, tmp_path):
    p = str(tmp_path / "empty.txt")
    open(p, "w").close()
    df = spark.read.format("hfp_text").option("path", p).load()
    assert df.count() == 0


def test_missing_path_option_raises(spark):
    import pytest as _pytest

    with _pytest.raises(Exception, match="path"):
        spark.read.format("hfp_text").load().count()


def test_line_split_parity_with_read_corpus(spark, tmp_path):
    """hfp.read_corpus splits a file into lines exactly as the app's
    hfp_text reader does: only at '\n', trailing '\r' stripped, empty
    lines skipped."""
    p = tmp_path / "line-endings.txt"
    p.write_bytes(
        b'1 /hfp/a {"VP":{"veh":1}}\r\n'  # CRLF
        b'2 /hfp/b {"VP":{"desi":"x\ry"}}\n'  # bare \r inside the payload
        b'3 /hfp/c {"VP":{"veh":3}}\r\r\n'
        b'4 /hfp/d {"VP":{"veh":4}}\n'
        b"\r\n"
        b'5 /hfp/e {"VP":{"veh":5}}'  # no final newline
    )
    via_ds = sorted(map(tuple, _load(spark, str(p)).select(PARSED).collect()))
    via_corpus = sorted(map(tuple, read_corpus(spark, str(p)).collect()))
    assert via_corpus == via_ds
    assert [r[0] for r in via_ds] == ["1", "2", "3", "4", "5"]
    assert ("2", "/hfp/b", '{"VP":{"desi":"x\ry"}}') in via_ds
    assert all(not r[2].endswith("\r") for r in via_ds)


def test_parse_parity_on_adversarial_lines(spark):
    """parse_hfp_line (Python, DataSource) vs hfp.parse_lines (SQL
    expressions) agree on every line, malformed ones included — two
    independent implementations of the same split rule."""
    from transitdata_hfp_deduplicator_spark.sources import hfp

    lines = [
        "ts topic {json}",
        "ts topic with spaces {json}",
        "ts {json-immediately}",
        "braces{inside}topic {x}",
        "no-braces-at-all",
        "ts topic {nested {deep} json}",
        "ts  double-space  {x}",
        "{leading-brace}",
        "ts trailing-space- {x} ",
        "a {}",
        "ts /topic\t{x}",  # Spark's trim strips spaces only, not the tab
        "ts\t/topic {x}",
        "nospace{x}",
        "{}",
        "ts topic-no-json",
        '{"VP":{"veh":2}} no-topic',
    ]
    via_py = [parse_hfp_line(ln) for ln in lines]
    df = spark.createDataFrame([(ln,) for ln in lines], "value string")
    via_sql = [tuple(r) for r in hfp.parse_lines(df).collect()]
    for ln, a, b in zip(lines, via_py, via_sql):
        assert a == b, f"parsers disagree on {ln!r}: {a} vs {b}"
