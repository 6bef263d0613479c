"""The runnable application (`python -m transitdata_hfp_deduplicator_spark`)
— Main.java's operational surface: config-driven source → dedup →
forward, with per-window feed-health records, end-to-end on a seeded
two-feed HFP file whose truth is planted (tests/conftest.py)."""

from __future__ import annotations

import json
import os

import pytest

from tests.test_hfp import CORPUS


@pytest.fixture(autouse=True)
def _one_window(monkeypatch):
    # no window boundary can split a test's counts
    monkeypatch.setenv("APPLICATION_ALERT_POLL_INTERVAL", "1 hour")


def _run(capsys, source: str, out: str, ckpt: str) -> list[dict]:
    from transitdata_hfp_deduplicator_spark.__main__ import main

    assert main(["--source", source, "--out", out, "--checkpoint", ckpt]) == 0
    printed = capsys.readouterr().out.splitlines()
    assert printed[-1].startswith("[done]")
    return [json.loads(ln) for ln in printed if ln.startswith("{")]


def _assert_forwarded_once(spark, out: str, feed) -> None:
    keys = [(r.topic, r.payload) for r in spark.read.parquet(out).collect()]
    assert len(keys) == len(feed.uniques)
    assert set(keys) == feed.uniques


def test_app_drains_fixture_to_planted_uniques(spark, tmp_path, capsys, hfp_feed):
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    records = _run(capsys, hfp_feed.path, out, ckpt)
    assert {"server_ts", "topic", "payload"} <= set(spark.read.parquet(out).columns)
    _assert_forwarded_once(spark, out, hfp_feed)
    # one query, one checkpoint: no side-channel stats query
    assert os.listdir(ckpt) == ["forward"]

    (rec,) = records
    assert (rec["messages"], rec["primes"], rec["duplicates"]) == (600, 300, 300)
    assert (rec["dup_ratio"], rec["alert"]) == (1.0, None)
    assert rec["window_start"] < rec["window_end"]


def test_app_one_feed_raises_feed_down(spark, tmp_path, capsys, make_hfp_feed):
    feed = make_hfp_feed("one_feed.txt", feeds=1)
    records = _run(capsys, feed.path, str(tmp_path / "out"), str(tmp_path / "ckpt"))
    assert [(r["primes"], r["duplicates"], r["alert"]) for r in records] == [
        (feed.messages, 0, "FEED_DOWN")
    ]


def test_app_restart_forwards_no_duplicate_and_loses_no_unique(
    spark, tmp_path, capsys, make_hfp_feed
):
    """Drain half the feed, append the rest, drain again on the same
    checkpoint: the dedup state carries over the restart."""
    feed = make_hfp_feed()
    half = feed.messages // 2
    first, second = set(feed.keys[:half]), set(feed.keys[half:])
    # some uniques have a copy in each half
    assert first & second
    feed.write(feed.lines[:half])
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    (rec1,) = _run(capsys, feed.path, out, ckpt)
    assert (rec1["messages"], rec1["primes"]) == (half, len(first))

    feed.write(feed.lines[half:], mode="a")
    (rec2,) = _run(capsys, feed.path, out, ckpt)
    assert (rec2["messages"], rec2["primes"]) == (feed.messages - half, len(second - first))
    _assert_forwarded_once(spark, out, feed)


def test_app_drains_file_larger_than_one_batch(spark, tmp_path, capsys, make_hfp_feed):
    """A file over 64 MiB, the most one micro-batch once read, is
    forwarded whole: the drain takes the backlog in one batch."""
    feed = make_hfp_feed("big.txt", vehicles=40, seconds=30, pad=32_000)
    assert os.path.getsize(feed.path) > 64 << 20
    out = str(tmp_path / "out")
    records = _run(capsys, feed.path, out, str(tmp_path / "ckpt"))
    _assert_forwarded_once(spark, out, feed)
    assert sum(r["messages"] for r in records) == feed.messages
    assert sum(r["primes"] for r in records) == len(feed.uniques)


def test_app_forwards_each_distinct_malformed_line(spark, tmp_path, capsys):
    """A malformed line keeps its text in its (topic, payload) identity,
    so distinct malformed lines are distinct uniques, not one shared
    empty identity that turns the rest into duplicates."""
    topic = "/hfp/v1/journey/ongoing/vp/bus/0012/01234/1057/1/Kamppi/7:20/1040/3/60;24/19/73/47"
    payload = '{"VP":{"veh":1}}'
    source = tmp_path / "malformed.txt"
    source.write_text(
        f"2018-10-09T04:32:52.549Z {topic} {payload}\n"
        f"2018-10-09T04:32:52.601Z {topic} {payload}\n"
        "garbage line one\n"
        "garbage line two\n"
        '{"VP":{"veh":2}} no-topic\n'
    )
    out = str(tmp_path / "out")
    (rec,) = _run(capsys, str(source), out, str(tmp_path / "ckpt"))
    assert spark.read.parquet(out).count() == 4
    assert (rec["messages"], rec["primes"], rec["duplicates"]) == (5, 4, 1)
    assert rec["alert"] == "FEED_DOWN"


@pytest.mark.skipif(not os.path.exists(CORPUS), reason="reference corpus absent")
def test_app_golden_corpus(spark, tmp_path, capsys):
    """Reference parity on the one wiring: the reference's 5,000-message
    corpus forwards 4,956 uniques (ITDeduplicatorTest.java:92-93), and
    its 44 duplicates (ratio 44/4,956, far below 0.97) read FEED_DOWN."""
    out = str(tmp_path / "out")
    (rec,) = _run(capsys, CORPUS, out, str(tmp_path / "ckpt"))
    assert spark.read.parquet(out).count() == 4956
    assert (rec["messages"], rec["primes"], rec["alert"]) == (5000, 4956, "FEED_DOWN")


def test_forward_plan_compiles_at_most_once_per_batch(spark, tmp_path, make_hfp_feed):
    """Generated code is reused across micro-batches: from the third
    data batch on, each compiles at most one class, the watermark
    eviction predicate Spark builds per batch.  A per-batch literal in
    the plan (``current_timestamp()``) is inlined into the generated
    source, so every batch would compile its whole-stage classes anew
    (three compiles per data batch)."""
    from transitdata_hfp_deduplicator_spark.__main__ import forward_stream
    from transitdata_hfp_deduplicator_spark.config import DedupConfig

    feed = make_hfp_feed()
    rounds = 8
    step = feed.messages // rounds
    feed.write([])
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    q = (
        forward_stream(spark, feed.path, DedupConfig())
        .writeStream.format("parquet")
        .option("path", str(tmp_path / "out"))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    seen = []  # (data batches, compiles) after each appended round
    try:
        for i in range(rounds):
            feed.write(feed.lines[i * step : (i + 1) * step], mode="a")
            q.processAllAvailable()
            # Spark follows a data batch with a no-data one that moves
            # the watermark; only the data batches are counted
            batches = sum(1 for p in q.recentProgress if p.numInputRows)
            seen.append((batches, compiles.getCount()))
    finally:
        q.stop()
    assert seen[-1][0] >= rounds, seen
    per_batch = [(c1 - c0) / (b1 - b0) for (b0, c0), (b1, c1) in zip(seen, seen[1:])]
    assert max(per_batch[1:]) <= 1, per_batch
