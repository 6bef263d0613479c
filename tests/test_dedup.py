"""Dedup operator semantics — mirrors the reference's two integration
tests (ITDeduplicatorTest.java:25-56 first-wins identity; :64-113
golden-count oracle), re-expressed over DataFrames."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from transitdata_hfp_deduplicator_spark.operators.dedup import (
    dedup_exact,
    dup_stats_tumbling,
    with_dup_rank,
)
from transitdata_hfp_deduplicator_spark.tables import table


def _synthetic_envelope(spark):
    """Mirror of ITDeduplicatorTest.java:33-52: payload ``testme{n}``
    sent n+1 times with VARYING key and eventTime."""
    rows = []
    seq = 0
    base = dt.datetime(2024, 1, 1)
    for n in range(10):
        for i in range(n + 1):
            rows.append(
                (
                    f"key-{seq}",
                    f"testme{n}",
                    base + dt.timedelta(seconds=seq),
                    seq,
                )
            )
            seq += 1
    return spark.createDataFrame(rows, "key string, payload string, ts timestamp, seq long")


def test_first_wins_payload_only_identity(spark):
    df = _synthetic_envelope(spark)
    out = dedup_exact(df, ["payload"], ["ts", "seq"]).collect()
    assert len(out) == 10
    # first copy of each payload wins: its ORIGINAL key/ts preserved
    by_payload = {r.payload: r for r in out}
    seq = 0
    for n in range(10):
        first = by_payload[f"testme{n}"]
        assert first.key == f"key-{seq}", "first-seen metadata must be preserved"
        assert first.seq == seq
        seq += n + 1


def test_payload_digest_is_unambiguous(spark):
    """The digest serialization is prefix-free: records that a naive
    separator-join would merge must digest differently — field-boundary
    shifts, NULL vs separator-byte strings, NULL vs its old sentinel."""
    from transitdata_hfp_deduplicator_spark.operators.dedup import payload_digest

    rows = [
        ("ab", "c"),
        ("a", "bc"),  # boundary shift
        ("a\x1fb", "c"),  # embedded legacy separator
        (None, "c"),
        ("\x00", "c"),  # NULL vs old NULL-sentinel string
        ("N;", "c"),  # literal new NULL marker as data
        ("a", None),
        ("ab", None),
    ]
    df = spark.createDataFrame(rows, "f1 string, f2 string")
    digests = [
        r.d for r in df.select(payload_digest("f1", "f2").alias("d")).collect()
    ]
    assert len(set(digests)) == len(rows), "all distinct records must digest apart"


def test_window_and_agg_formulations_agree(spark):
    df = _synthetic_envelope(spark)
    a = {tuple(r) for r in dedup_exact(df, ["payload"], ["ts", "seq"]).collect()}
    # the row_number() formulation, as with_dup_rank runs it
    primes = with_dup_rank(df, ["payload"], ["ts", "seq"]).filter("is_prime")
    b = {tuple(r) for r in primes.select(*df.columns).collect()}
    assert a == b


def test_events_dedup_golden_count(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    n = ev.count()
    uniq = dedup_exact(ev, ["user_id", "event_type", "props"], ["ts", "event_id"]).count()
    # independent oracle: groupBy identity (the reference's in-test
    # HashMap oracle, ITDeduplicatorTest.java:80-93)
    expected = ev.groupBy("user_id", "event_type", "props").count().count()
    assert uniq == expected
    assert uniq <= n


def test_dup_rank_delays_nonnegative(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    tagged = with_dup_rank(ev, ["user_id", "event_type", "props"], ["ts", "event_id"])
    bad = tagged.filter(
        (~F.col("is_prime")) & (F.col("delay_ms") < 0)
    ).count()
    assert bad == 0
    primes_with_delay = tagged.filter(
        F.col("is_prime") & F.col("delay_ms").isNotNull()
    ).count()
    assert primes_with_delay == 0


def test_dup_stats_totals(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    stats = dup_stats_tumbling(ev, ["user_id", "event_type", "props"], ["ts", "event_id"])
    agg = stats.agg(
        F.sum("primes").alias("p"), F.sum("duplicates").alias("d")
    ).collect()[0]
    assert agg.p + agg.d == ev.count()
    uniq = ev.groupBy("user_id", "event_type", "props").count().count()
    assert agg.p == uniq


def test_incremental_dedup_excludes_history(spark, sf_dir):
    from transitdata_hfp_deduplicator_spark.queries import QUERIES
    from pyspark.sql import functions as F

    out = QUERIES["q_dedup_incremental"](spark, sf_dir)
    rows = out.collect()
    # survivors are unique identities within the incoming batch...
    ids = [(r.user_id, r.event_type, r.props) for r in rows]
    assert len(ids) == len(set(ids))
    # ...and none of them occurs in the historical half
    ev = table(spark, sf_dir, "events")
    mn, mx = ev.agg(F.unix_millis(F.min("ts")), F.unix_millis(F.max("ts"))).collect()[0]
    cut = (mn + mx) // 2
    hist = {
        (r.user_id, r.event_type, r.props)
        for r in ev.filter(F.unix_millis("ts") < cut)
        .select("user_id", "event_type", "props")
        .distinct()
        .collect()
    }
    assert not (set(ids) & hist)


def test_dup_ratio_anomaly_flags_planted_spike(spark):
    """Flat 10% dup ratio, one window spiking to 50%: the spike (and
    only the spike) must flag, and no z exists until a full baseline."""
    from transitdata_hfp_deduplicator_spark.operators.dedup import (
        dup_ratio_anomaly,
    )

    rows = []
    for w in range(30):
        dups = 50 if w == 20 else (10 + (w % 3))  # mild jitter, one spike
        rows.append((w * 60, 100 - dups, dups))
    stats = spark.createDataFrame(
        rows, "window_start long, primes long, duplicates long"
    )
    out = {r.window_start // 60: r for r in dup_ratio_anomaly(stats).collect()}
    assert all(out[w].z is None and not out[w].is_anomaly for w in range(10))
    flagged = {w for w in range(30) if out[w].is_anomaly}
    assert 20 in flagged, f"spike not flagged: {out[20]}"
    assert flagged <= {20, 21}, f"false alarms: {flagged}"  # 21: spike in baseline
    assert abs(out[15].z) < 2
