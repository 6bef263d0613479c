"""Batch deduplication operators — the reference's core semantics.

Reference semantics (Deduplicator.java:43-66): identity is a digest of
the *canonicalized payload bytes* only (key/eventTime/properties never
affect identity — ITDeduplicatorTest.java:37-42); the FIRST occurrence
wins and is forwarded with its original metadata; every later duplicate
is dropped and reports ``elapsedSinceHit = now - firstSeenMillis``
(Deduplicator.java:51-57) into the analytics window (Analytics.java).

Spark-first design notes (scale, not translation):

* **No window-over-everything.** The naive first-wins plan is
  ``row_number() OVER (PARTITION BY identity ORDER BY ts) = 1`` — that
  shuffles and *sorts* every row.  ``dedup_exact`` instead aggregates
  ``min(struct(order_cols..., payload_cols...))`` per identity: struct
  comparison is lexicographic, so the minimum IS the first occurrence,
  and HashAggregate gets a map-side partial-aggregation pass (each
  input partition pre-collapses its local duplicates before the
  shuffle).  At a 100 TB / ~2x-duplicated feed (the reference's steady
  state, environment.conf:29) the shuffle moves roughly *unique* rows,
  not *all* rows.
* **Identity digests are for state, not for the batch shuffle.** The
  reference hashes to 128 bits so the cache key is small
  (Deduplicator.java:27-28).  Batch Spark already hash-partitions the
  group-by key; a pre-digest would only add collision risk.  Streaming
  dedup (streaming/dedup_stream.py) DOES digest — state-store keys
  should be fixed-width.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def payload_digest(*cols: str | Column) -> Column:
    """Collision-resistant digest of the canonical record fields.

    Plays the role of murmur3_128(seed=42) over canonical payload bytes
    (Deduplicator.java:27-28,46).  Bit-parity with Guava is a non-goal
    (documented in SURVEY.md §7): any deterministic collision-resistant
    digest of identical canonical content has identical dedup
    semantics.  ``sha2`` gives a 256-bit externalizable form (the
    reference pinned its seed so hashes could live in Redis — same
    property: the digest is a pure function of the data).

    The hashed serialization is prefix-free decodable — per field
    ``N;`` for NULL, else ``S<charlen>:<value>`` — so distinct records
    can NEVER collide by construction (a bare separator-join merges
    e.g. ("ab","c") with ("a","bc"), and a NULL sentinel merges NULL
    with a value equal to the sentinel).  The reference gets the same
    property from re-serialized protobuf's length-delimited wire
    format (Deduplicator.java:96-106).
    """

    def _enc(c: str | Column) -> Column:
        s = (F.col(c) if isinstance(c, str) else c).cast("string")
        return F.when(s.isNull(), F.lit("N;")).otherwise(
            F.concat(F.lit("S"), F.length(s).cast("string"), F.lit(":"), s)
        )

    return F.sha2(F.concat(*[_enc(c) for c in cols]), 256)


def dedup_exact(
    df: DataFrame,
    identity_cols: Sequence[str],
    order_cols: Sequence[str],
) -> DataFrame:
    """First-occurrence-wins exact dedup (reference A4+A5, batch form).

    ``identity_cols`` — the canonical-payload analog: columns that define
    record identity.  ``order_cols`` — arrival order; MUST be a total
    order within an identity group (append a unique id) or "first" is
    nondeterministic.

    Plan: ``groupBy(identity).agg(min_by(row, order))`` —
    partial-aggregates map-side, shuffles ~unique rows.  (The
    row_number() formulation lives in ``with_dup_rank``, where every
    duplicate must survive with its own delay.)
    Output column order matches the input.
    """
    # min_by(row, order) rather than min(struct(order, row)): the struct
    # comparison in min() forces per-row struct allocation + full
    # lexicographic compares; min_by compares only the order key
    # (measured ~3.7x on events\@sf0.1). Both partial-aggregate map-side.
    first = F.min_by(
        F.struct(*[F.col(c) for c in df.columns]),
        F.struct(*[F.col(c) for c in order_cols]),
    ).alias("__first")
    out = df.groupBy(*identity_cols).agg(first)
    return out.select(*[F.col(f"__first.{c}").alias(c) for c in df.columns])


def with_dup_rank(
    df: DataFrame,
    identity_cols: Sequence[str],
    order_cols: Sequence[str],
) -> DataFrame:
    """Tag each row prime/duplicate and compute the inter-duplicate delay.

    Adds ``is_prime`` (first occurrence of its identity) and
    ``delay_ms`` (ms since the identity's first occurrence — the
    reference's ``elapsedSinceHit``, Deduplicator.java:56; NULL for
    primes).  This is the window formulation on purpose: every row must
    survive with its own delay, so there is nothing to pre-collapse.
    """
    order_cols = list(order_cols)
    ts = order_cols[0]
    w = Window.partitionBy(*identity_cols).orderBy(*order_cols)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .withColumn("__first_ts", F.first(ts).over(w))
        .withColumn("is_prime", F.col("__rn") == 1)
        .withColumn(
            "delay_ms",
            F.when(
                F.col("__rn") > 1,
                F.unix_millis(F.col(ts)) - F.unix_millis(F.col("__first_ts")),
            ),
        )
        .drop("__rn", "__first_ts")
    )


def dup_stats_tumbling(
    df: DataFrame,
    identity_cols: Sequence[str],
    order_cols: Sequence[str],
    window_duration: str = "1 minute",
) -> DataFrame:
    """Batch mirror of the reference analytics job (Analytics.java:47-67).

    Per tumbling window: ``primes`` (first occurrences), ``duplicates``,
    ``dup_ratio = duplicates/primes``, ``dup_pct``, ``avg_delay_ms``
    (mean elapsed-since-first over duplicates).  The reference windows
    on processing time (scheduler-driven, Analytics.java:41-44); the
    batch mirror windows on event time — the *intended* semantics.

    Window keyed by ``window_start`` epoch-seconds so the oracle
    comparison is integer-exact.
    """
    ts = list(order_cols)[0]
    tagged = with_dup_rank(df, identity_cols, order_cols)
    win = F.window(F.col(ts), window_duration)
    return (
        tagged.groupBy(F.unix_timestamp(win.getField("start")).alias("window_start"))
        .agg(
            F.count_if(F.col("is_prime")).alias("primes"),
            F.count_if(~F.col("is_prime")).alias("duplicates"),
            F.sum(F.when(~F.col("is_prime"), F.col("delay_ms"))).alias("sum_delay_ms"),
        )
        .withColumn(
            "dup_ratio",
            F.round(F.col("duplicates") / F.nullif(F.col("primes"), F.lit(0)), 6),
        )
        .withColumn("dup_pct", F.round(F.col("dup_ratio") * 100, 4))
        .withColumn(
            "avg_delay_ms",
            F.round(
                F.col("sum_delay_ms") / F.nullif(F.col("duplicates"), F.lit(0)), 4
            ),
        )
    )


def dup_ratio_anomaly(
    stats: DataFrame,
    baseline_windows: int = 10,
    z_threshold: float = 2.0,
) -> DataFrame:
    """Flag windows whose duplicate ratio is a z-score outlier against
    the trailing ``baseline_windows`` windows — the statistical upgrade
    of the reference's fixed alert bands (Analytics.java:50-60, A10):
    instead of "ratio in [low, high)", "ratio surprising given THIS
    feed's recent behaviour".

    Takes the ``dup_stats_tumbling`` output.  Cross-engine-exact by
    construction: the ratio becomes an INTEGER (dup_ppm, parts per
    million, floored), and mean/variance over the trailing frame are
    assembled from integer sums (sum x, sum x², count — all < 2⁵³, so
    every value entering a float op is exact and every float op is
    correctly-rounded IEEE, identical in any engine):

        z = (x·n − sx) / sqrt((n·sxx − sx²)·n / (n−1))

    z is NULL (and is_anomaly false) until a full baseline exists or
    when the baseline has zero variance.  The trailing window is a
    GLOBAL order-by (no partition): its input is the already-aggregated
    per-minute stats table — thousands of rows per day, not raw events
    — so the single-partition sort is a non-issue at any scale.
    """
    n = baseline_windows
    x = F.floor(
        F.col("duplicates") * F.lit(1_000_000)
        / (F.col("primes") + F.col("duplicates"))
    ).alias("dup_ppm")
    base = stats.select("window_start", "primes", "duplicates").withColumn(
        "dup_ppm", x
    )
    frame = (
        Window.orderBy("window_start").rowsBetween(-n, -1)
    )
    base = base.select(
        "window_start",
        "dup_ppm",
        F.count("dup_ppm").over(frame).alias("base_n"),
        F.sum("dup_ppm").over(frame).alias("sx"),
        F.sum(F.col("dup_ppm") * F.col("dup_ppm")).over(frame).alias("sxx"),
    )
    var_scaled = F.lit(n) * F.col("sxx") - F.col("sx") * F.col("sx")
    z = F.round(
        (F.col("dup_ppm") * F.lit(n) - F.col("sx"))
        / F.sqrt((var_scaled * F.lit(n)) / F.lit(n - 1)),
        6,
    )
    return base.select(
        "window_start",
        "dup_ppm",
        "base_n",
        F.when((F.col("base_n") == n) & (var_scaled > 0), z).alias("z"),
        (
            F.when((F.col("base_n") == n) & (var_scaled > 0), F.abs(z))
            .otherwise(F.lit(0.0))
            >= F.lit(z_threshold)
        ).alias("is_anomaly"),
    )
