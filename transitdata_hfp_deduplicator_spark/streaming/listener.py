"""Feed-health monitor and error path — the reference's analytics
scheduler (Analytics.java:35-67) and A11 (Deduplicator.java:61-65,
Main.java:25-29: on a handler exception, flush the stats once, log,
tear down).

The forward query observes its exact per-batch prime count
(``DataFrame.observe`` under ``OBSERVATION``), so the progress event
carries ``primes`` and ``duplicates = numInputRows - primes`` with no
extra job or query.  The listener folds them into tumbling
processing-time windows anchored at its construction, like the
reference's fixed-rate scheduler.  A window closes on the first
progress or idle event after its end; the open window is flushed, up
to that moment, when the query terminates.

Each event crosses from the JVM as one JSON string (``event.json()``)
and is rebuilt with PySpark's ``Query*Event.fromJson``, the path Spark
Connect clients take: one py4j call per event.  PySpark's default
bridge reads every field of a progress, its sources, sink and state
operators through its own py4j round trip.  The JSON bridge belongs to
this listener only; other listeners keep PySpark's.

Alert band (Analytics.java:50-60; thresholds environment.conf:29-34):
  ratio > 1.0                         -> more duplicates than primaries
  alert_on && ratio < ratio_threshold -> feed down / one feed missing
"""

from __future__ import annotations

import datetime as dt
import json
import logging
import threading
import time
from collections.abc import Callable

from pyspark.sql.streaming import StreamingQueryListener
from pyspark.sql.streaming.listener import (
    QueryIdleEvent,
    QueryProgressEvent,
    QueryStartedEvent,
    QueryTerminatedEvent,
)

from transitdata_hfp_deduplicator_spark.config import DedupConfig

logger = logging.getLogger(__name__)

OBSERVATION = "dedup"  # name of the forward query's observed prime count

MORE_DUPLICATES = "MORE_DUPLICATES_THAN_PRIMARIES"
FEED_DOWN = "FEED_DOWN"

_UNIT_S = {"millisecond": 1e-3, "second": 1.0, "minute": 60.0, "hour": 3600.0, "day": 86400.0}


def interval_seconds(interval: str) -> float:
    """Seconds in a ``"<n> <unit>"`` interval (``"1 minute"``, ``"1 minutes"``)."""
    n, unit = interval.lower().split()
    seconds = float(n) * _UNIT_S.get(unit.removesuffix("s"), 0.0)
    if seconds <= 0:
        raise ValueError(f"not a positive interval: {interval!r}")
    return seconds


def alert_code(
    ratio: float | None, ratio_threshold: float, alert_on_threshold: bool
) -> str | None:
    """The alert band for one window's ratio; a None ratio (no primes)
    raises nothing."""
    if ratio is not None and ratio > 1.0:
        return MORE_DUPLICATES
    if ratio is not None and alert_on_threshold and ratio < ratio_threshold:
        return FEED_DOWN
    return None


def _iso(t: float) -> str:
    return dt.datetime.fromtimestamp(t, dt.timezone.utc).isoformat(timespec="milliseconds")


def _print_json(record: dict) -> None:
    print(json.dumps(record), flush=True)


def _from_json(event_cls, jevent):
    return event_cls.fromJson(json.loads(jevent.json()))


class _JsonEvents:
    """py4j callback for ``PythonStreamingQueryListener`` that hands each
    event to ``listener`` rebuilt from the event's JSON."""

    def __init__(self, listener: StreamingQueryListener):
        self._listener = listener

    def onQueryStarted(self, jevent) -> None:
        self._listener.onQueryStarted(_from_json(QueryStartedEvent, jevent))

    def onQueryProgress(self, jevent) -> None:
        self._listener.onQueryProgress(_from_json(QueryProgressEvent, jevent))

    def onQueryIdle(self, jevent) -> None:
        self._listener.onQueryIdle(_from_json(QueryIdleEvent, jevent))

    def onQueryTerminated(self, jevent) -> None:
        self._listener.onQueryTerminated(_from_json(QueryTerminatedEvent, jevent))

    class Java:
        implements = ["org.apache.spark.sql.streaming.PythonStreamingQueryListener"]


class DedupQueryListener(StreamingQueryListener):
    """Emits one JSON feed-health record per ``cfg.poll_interval`` window
    and logs an error once when a query dies with an exception.
    Follows the queries started after it was added; ``terminated`` is
    set once the last of them has ended and its window was flushed."""

    def __init__(
        self,
        cfg: DedupConfig | None = None,
        emit: Callable[[dict], None] = _print_json,
        clock: Callable[[], float] = time.time,
    ):
        self._cfg = cfg or DedupConfig()
        self._window_s = interval_seconds(self._cfg.poll_interval)
        self.terminated = threading.Event()
        self._emit = emit
        self._clock = clock
        self._queries: set[str] = set()
        self._start, self._messages, self._primes = clock(), 0, 0

    @property
    def _jlistener(self):
        # what ``spark.streams.addListener`` registers: the JSON bridge
        # in place of PySpark's field-by-field one
        from pyspark import SparkContext

        if not hasattr(self, "_jlistenerobj"):
            self._jlistenerobj = SparkContext._jvm.PythonStreamingQueryListenerWrapper(
                _JsonEvents(self)
            )
        return self._jlistenerobj

    def _close(self, end: float) -> None:
        primes, dups = self._primes, self._messages - self._primes
        ratio = dups / primes if primes else None
        cfg = self._cfg
        self._emit(
            {
                "window_start": _iso(self._start),
                "window_end": _iso(end),
                "messages": self._messages,
                "primes": primes,
                "duplicates": dups,
                "dup_ratio": ratio,
                "alert": alert_code(ratio, cfg.duplicate_ratio_threshold, cfg.alert_on_threshold),
            }
        )
        self._start, self._messages, self._primes = end, 0, 0

    def _close_elapsed(self, now: float) -> None:
        while now >= self._start + self._window_s:
            self._close(self._start + self._window_s)

    def onQueryStarted(self, event) -> None:
        self._queries.add(str(event.id))
        self.terminated.clear()

    def onQueryProgress(self, event) -> None:
        p = event.progress
        if str(p.id) not in self._queries:
            return
        self._close_elapsed(self._clock())
        seen = (p.observedMetrics or {}).get(OBSERVATION)
        if seen is not None:
            self._messages += p.numInputRows
            self._primes += seen["primes"]

    def onQueryIdle(self, event) -> None:
        if str(event.id) in self._queries:
            self._close_elapsed(self._clock())

    def onQueryTerminated(self, event) -> None:
        qid = str(event.id)
        if qid not in self._queries:
            return
        self._queries.discard(qid)
        now = self._clock()
        self._close_elapsed(now)
        self._close(now)
        if event.exception is not None:
            logger.error("streaming query %s failed: %s", qid, event.exception)
        if not self._queries:
            self.terminated.set()
