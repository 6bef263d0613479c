"""Feed-health windows of streaming/listener.py, driven by synthetic
listener events on a fake clock: window closing, the termination flush,
the alert band and the A11 failure log — plus the config it reads and
one real query whose batch raises."""

from __future__ import annotations

import logging
from types import SimpleNamespace as NS

import pytest

from transitdata_hfp_deduplicator_spark.config import DedupConfig
from transitdata_hfp_deduplicator_spark.streaming.listener import (
    FEED_DOWN,
    MORE_DUPLICATES,
    OBSERVATION,
    DedupQueryListener,
    alert_code,
    interval_seconds,
)

T0 = 1_700_000_000.0
LISTENER_LOGGER = "transitdata_hfp_deduplicator_spark.streaming.listener"


def _listener(**cfg):
    clock, records = NS(t=T0), []
    lst = DedupQueryListener(
        DedupConfig(**{"poll_interval": "1 minute", **cfg}),
        emit=records.append,
        clock=lambda: clock.t,
    )
    lst.onQueryStarted(NS(id="q"))
    return lst, clock, records


def _progress(lst, clock, at, rows, primes, qid="q"):
    clock.t = T0 + at
    metrics = {} if primes is None else {OBSERVATION: {"primes": primes}}
    lst.onQueryProgress(NS(progress=NS(id=qid, numInputRows=rows, observedMetrics=metrics)))


def _counts(records):
    keys = ("messages", "primes", "duplicates", "dup_ratio", "alert")
    return [tuple(r[k] for k in keys) for r in records]


def test_windows_close_on_first_event_after_their_end():
    lst, clock, records = _listener()
    _progress(lst, clock, 10, rows=10, primes=5)
    _progress(lst, clock, 50, rows=8, primes=4)
    assert records == []
    clock.t = T0 + 61
    lst.onQueryIdle(NS(id="q"))
    assert _counts(records) == [(18, 9, 9, 1.0, None)]
    assert records[0]["window_start"] == "2023-11-14T22:13:20.000+00:00"
    assert records[0]["window_end"] == "2023-11-14T22:14:20.000+00:00"

    _progress(lst, clock, 70, rows=6, primes=6)
    # the next event comes two windows later: the empty one is emitted too
    _progress(lst, clock, 185, rows=4, primes=1)
    assert _counts(records[1:]) == [(6, 6, 0, 0.0, "FEED_DOWN"), (0, 0, 0, None, None)]

    clock.t = T0 + 190
    assert not lst.terminated.is_set()
    lst.onQueryTerminated(NS(id="q", exception=None))
    assert lst.terminated.is_set()
    # the open window is flushed, ending at the termination
    assert _counts(records[3:]) == [(4, 1, 3, 3.0, "MORE_DUPLICATES_THAN_PRIMARIES")]
    assert records[3]["window_end"] == "2023-11-14T22:16:30.000+00:00"


@pytest.mark.parametrize("alert_on_threshold,alert", [(True, "FEED_DOWN"), (False, None)])
def test_other_queries_and_unobserved_batches_are_ignored(alert_on_threshold, alert):
    lst, clock, records = _listener(alert_on_threshold=alert_on_threshold)
    _progress(lst, clock, 1, rows=10, primes=5, qid="other")
    _progress(lst, clock, 2, rows=7, primes=None)
    _progress(lst, clock, 3, rows=2, primes=2)
    lst.onQueryTerminated(NS(id="other", exception=None))
    assert records == [] and not lst.terminated.is_set()
    lst.onQueryTerminated(NS(id="q", exception=None))
    assert _counts(records) == [(2, 2, 0, 0.0, alert)]


def _failures(caplog):
    return [
        r.getMessage()
        for r in caplog.records
        if r.name == LISTENER_LOGGER and r.levelno == logging.ERROR
    ]


def test_failure_flushes_then_logs_error_once(caplog):
    lst, clock, records = _listener()
    _progress(lst, clock, 5, rows=4, primes=2)
    with caplog.at_level(logging.ERROR, logger=LISTENER_LOGGER):
        lst.onQueryTerminated(NS(id="q", exception="boom"))
    assert _counts(records) == [(4, 2, 2, 1.0, None)]
    assert _failures(caplog) == ["streaming query q failed: boom"]
    assert lst.terminated.is_set()


@pytest.mark.parametrize(
    "text,seconds",
    [("1 minute", 60), ("1 minutes", 60), ("1 hour", 3600), ("500 milliseconds", 0.5),
     ("", None), ("minute", None), ("1 fortnight", None), ("0 seconds", None)],
)
def test_interval_seconds(text, seconds):
    if seconds is None:
        with pytest.raises(ValueError):
            interval_seconds(text)
    else:
        assert interval_seconds(text) == seconds


def test_config_defaults_and_env_override(monkeypatch):
    cfg = DedupConfig()
    assert cfg.cache_ttl_ms == 4 * 3600 * 1000  # environment.conf:24
    assert cfg.duplicate_ratio_threshold == 0.97  # environment.conf:29
    monkeypatch.setenv("APPLICATION_CACHE_TTL_SECONDS", "60")
    monkeypatch.setenv("APPLICATION_ALERT_RATIO_THRESHOLD", "0.5")
    cfg2 = DedupConfig()
    assert cfg2.cache_ttl_ms == 60_000
    assert cfg2.duplicate_ratio_threshold == 0.5


@pytest.mark.parametrize(
    "value,expected",
    [("true", True), ("yes", True), ("on", True),
     ("false", False), ("no", False), ("off", False)],
)
def test_alert_on_threshold_reads_hocon_booleans(monkeypatch, value, expected):
    monkeypatch.setenv("APPLICATION_ALERT_ON_THRESHOLD", value)
    assert DedupConfig().alert_on_threshold is expected


@pytest.mark.parametrize("value", ["True", "1", "enabled", ""])
def test_alert_on_threshold_rejects_other_values(monkeypatch, value):
    monkeypatch.setenv("APPLICATION_ALERT_ON_THRESHOLD", value)
    with pytest.raises(ValueError, match="APPLICATION_ALERT_ON_THRESHOLD"):
        DedupConfig()


# ratio -> (alert with alert_on_threshold, alert without), at the
# default threshold 0.97; both edges are exclusive
BAND = {
    None: (None, None),
    0.5: (FEED_DOWN, None),
    0.9699: (FEED_DOWN, None),
    0.97: (None, None),
    1.0: (None, None),
    1.0001: (MORE_DUPLICATES, MORE_DUPLICATES),
    1.01: (MORE_DUPLICATES, MORE_DUPLICATES),
}


@pytest.mark.parametrize("alert_on_threshold", [True, False])
@pytest.mark.parametrize("ratio", list(BAND))
def test_alert_code_band(ratio, alert_on_threshold):
    on, off = BAND[ratio]
    assert alert_code(ratio, 0.97, alert_on_threshold) == (on if alert_on_threshold else off)


def test_listener_captures_failure(spark, tmp_path, caplog):
    """A real query whose foreachBatch raises flushes its (empty) window
    and logs its failure once."""
    records = []
    listener = DedupQueryListener(emit=records.append)
    spark.streams.addListener(listener)
    caplog.set_level(logging.ERROR, logger=LISTENER_LOGGER)
    try:
        src = str(tmp_path / "src")
        spark.createDataFrame([(1, "x")], "id long, s string").write.parquet(src)
        stream = spark.readStream.schema("id long, s string").parquet(src)

        def explode_in_batch(df, _):
            raise RuntimeError("boom")

        q = (
            stream.writeStream.foreachBatch(explode_in_batch)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        with pytest.raises(Exception):
            q.awaitTermination()
        # listener events are asynchronous
        assert listener.terminated.wait(10)
        assert _counts(records) == [(0, 0, 0, None, None)]
        failures = _failures(caplog)
        assert len(failures) == 1 and "boom" in failures[0]
    finally:
        spark.streams.removeListener(listener)


def test_listener_reads_real_progress_from_json(spark, tmp_path, hfp_feed):
    """A real query's progress reaches the listener rebuilt from the
    event's JSON (one py4j call per event), holding no JVM handle, with
    the observed prime count intact."""
    from transitdata_hfp_deduplicator_spark.__main__ import forward_stream

    progress, records = [], []

    class Recording(DedupQueryListener):
        def onQueryProgress(self, event):
            progress.append(event.progress)
            super().onQueryProgress(event)

    listener = Recording(DedupConfig(poll_interval="1 hour"), emit=records.append)
    spark.streams.addListener(listener)
    try:
        q = (
            forward_stream(spark, hfp_feed.path, DedupConfig())
            .writeStream.format("parquet")
            .option("path", str(tmp_path / "out"))
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .start()
        )
        q.processAllAvailable()
        q.stop()
        assert listener.terminated.wait(30)
    finally:
        spark.streams.removeListener(listener)
    assert progress and all(p._jdict is not None and p._jprogress is None for p in progress)
    primes = sum(p.observedMetrics[OBSERVATION]["primes"] for p in progress if p.numInputRows)
    assert primes == len(hfp_feed.uniques)
    assert _counts(records) == [(hfp_feed.messages, primes, primes, 1.0, None)]
