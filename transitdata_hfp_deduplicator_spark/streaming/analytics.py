"""Streaming analytics + alerting — the reference's side channel
(Analytics.java), in event time.

Reference (Analytics.java:35-67): a scheduler thread fires every
``pollInterval`` (1 min), computes dup ratio / percentage / avg
inter-duplicate delay from three synchronized counters, logs alerts
when the ratio leaves the healthy band, resets the counters — i.e. a
processing-time tumbling window.  The Spark mapping is a windowed
aggregation in EVENT time (the intended metric: "how duplicated was
the minute the data belongs to", not "the minute the thread woke up"),
with the trigger loop playing the scheduler.

Alert predicates (Analytics.java:50-60; thresholds environment.conf:29-34):
  ratio > 1.0               -> more duplicates than primaries
  alert_on && ratio < 0.97  -> feed down / one feed missing
Per-duplicate alert (Analytics.java:69-75; environment.conf:33-34):
  alertOnDuplicate          -> one alert PER duplicate, with its
                               inter-duplicate delay
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEFAULT_RATIO_THRESHOLD = 0.97  # environment.conf:29


def stream_dup_stats(
    tagged: DataFrame,
    ts_col: str = "ts",
    is_prime_col: str = "is_prime",
    delay_col: str = "delay_ms",
    window_duration: str = "1 minute",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Tumbling-window dedup metrics over a prime/duplicate-tagged
    stream: primes, duplicates, dup_ratio, avg inter-duplicate delay —
    `calcStats()` (Analytics.java:47-67) as a windowed aggregate."""
    return (
        tagged.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window_duration).alias("win"))
        .agg(
            F.count_if(F.col(is_prime_col)).alias("primes"),
            F.count_if(~F.col(is_prime_col)).alias("duplicates"),
            F.avg(F.when(~F.col(is_prime_col), F.col(delay_col))).alias(
                "avg_delay_ms"
            ),
        )
        .select(
            F.unix_timestamp(F.col("win.start")).alias("window_start"),
            "primes",
            "duplicates",
            F.round(
                F.col("duplicates") / F.nullif(F.col("primes"), F.lit(0)), 6
            ).alias("dup_ratio"),
            F.round("avg_delay_ms", 4).alias("avg_delay_ms"),
        )
    )


MORE_DUPLICATES = "MORE_DUPLICATES_THAN_PRIMARIES"
FEED_DOWN = "FEED_DOWN"


def alert_code(
    ratio: float | None,
    ratio_threshold: float = DEFAULT_RATIO_THRESHOLD,
    alert_on_threshold: bool = True,
) -> str | None:
    """``with_alerts``' band for one ratio, in plain Python; a None
    ratio (no primes) raises nothing, as a NULL does there."""
    if ratio is not None and ratio > 1.0:
        return MORE_DUPLICATES
    if ratio is not None and alert_on_threshold and ratio < ratio_threshold:
        return FEED_DOWN
    return None


def with_alerts(
    stats: DataFrame,
    ratio_threshold: float = DEFAULT_RATIO_THRESHOLD,
    alert_on_threshold: bool = True,
) -> DataFrame:
    """Attach the reference's alert predicates to a stats frame.
    Route to a log/alert sink via foreachBatch in production."""
    over = F.col("dup_ratio") > 1.0
    under = F.lit(alert_on_threshold) & (F.col("dup_ratio") < ratio_threshold)
    return stats.withColumn(
        "alert",
        F.when(over, F.lit(MORE_DUPLICATES))
        .when(under, F.lit(FEED_DOWN))
        .otherwise(F.lit(None).cast("string")),
    )


def duplicate_alerts(
    tagged: DataFrame,
    is_prime_col: str = "is_prime",
    delay_col: str = "delay_ms",
) -> DataFrame:
    """One alert row PER duplicate, carrying its inter-duplicate delay —
    ``reportDuplicate``'s ``ALERT_ON_DUPLICATE_ENABLED`` branch
    (Analytics.java:69-75: "Alert, received a duplicate with {} ms in
    between!").  A stateless filter on the dedup-tagged stream — the
    tag already carries everything the alert needs; route to a log/
    alert sink via foreachBatch.  Callers gate on
    ``DedupConfig.alert_on_duplicate`` (environment.conf:33-34,
    default false)."""
    return tagged.filter(~F.col(is_prime_col)).withColumn(
        "alert", F.lit("DUPLICATE_RECEIVED")
    )
