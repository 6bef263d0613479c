"""Tests for operators/timeseries.py and operators/sampling.py."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from transitdata_hfp_deduplicator_spark.operators.sampling import (
    hash_split,
)
from transitdata_hfp_deduplicator_spark.operators.timeseries import (
    gapfill,
    session_stats,
    sessionize,
)

T0 = dt.datetime(2024, 1, 1, 0, 0, 0)


def _ev(spark, rows):
    return spark.createDataFrame(
        [(u, T0 + dt.timedelta(seconds=s), float(v)) for u, s, v in rows],
        "user_id long, ts timestamp, value double",
    )


def test_sessionize_splits_at_gap(spark):
    # user 1: events at 0s, 60s (same session), 1000s (> 10min gap? no,
    # 10min = 600s, so 1000-60=940 > 600 -> new session)
    df = _ev(spark, [(1, 0, 1), (1, 60, 2), (1, 1000, 3), (2, 5, 4)])
    out = sessionize(df, ["user_id"], "ts", gap="10 minutes").collect()
    sess = {(r.user_id, int(r.ts.timestamp() - T0.timestamp())): r.session_id for r in out}
    assert sess[(1, 0)] == 1 and sess[(1, 60)] == 1
    assert sess[(1, 1000)] == 2
    assert sess[(2, 5)] == 1  # numbering restarts per entity


def test_session_stats_rollup(spark):
    df = _ev(spark, [(1, 0, 1), (1, 60, 2), (1, 1000, 3)])
    out = session_stats(
        df, ["user_id"], "ts", gap="10 minutes",
        aggs=[F.sum("value").alias("sum_value")],
    )
    rows = {r.session_id: r for r in out.collect()}
    assert rows[1].n_events == 2 and rows[1].sum_value == 3.0
    assert rows[1].session_end_ms - rows[1].session_start_ms == 60_000
    assert rows[2].n_events == 1


def test_gapfill_densifies_and_fills(spark):
    # hours 0 and 3 have data; 1 and 2 are gaps
    df = _ev(spark, [(1, 0, 10), (1, 3 * 3600, 20)])
    out = gapfill(
        df, [], "ts", bucket="1 hour",
        aggs=[F.count(F.lit(1)).alias("n"), F.avg("value").alias("v")],
        zero_fill=["n"], ffill=["v"],
    ).orderBy("_bucket")
    rows = out.collect()
    assert len(rows) == 4  # dense grid hours 0..3
    assert [r.n for r in rows] == [1, 0, 0, 1]
    assert [r.v for r in rows] == [10.0, 10.0, 10.0, 20.0]  # locf


def test_gapfill_multi_quantity_bucket(spark):
    """Bucket widths with quantity != 1 ("30 minutes") must align the
    data bucketing with the grid — events land in their floored bucket
    and empty buckets between them densify (a unit-only date_trunc put
    the data on :00 buckets while the grid stepped :30s, dropping real
    aggregates on the join)."""
    df = _ev(spark, [(1, 5 * 60, 10), (1, 70 * 60, 20)])  # 00:05 and 01:10
    out = gapfill(
        df, [], "ts", bucket="30 minutes",
        aggs=[F.count(F.lit(1)).alias("n")],
        zero_fill=["n"],
    ).orderBy("_bucket")
    rows = out.collect()
    # grid: 00:00, 00:30, 01:00 — data in the first and last
    assert [int((r._bucket - T0).total_seconds()) for r in rows] == [0, 1800, 3600]
    assert [r.n for r in rows] == [1, 0, 1]


def test_gapfill_rejects_multi_quantity_calendar(spark):
    import pytest

    df = _ev(spark, [(1, 0, 1)])
    with pytest.raises(ValueError, match="calendar"):
        gapfill(df, [], "ts", bucket="2 months", aggs=[F.count(F.lit(1)).alias("n")])


def test_hash_split_is_deterministic_and_partition_independent(spark):
    df = spark.range(0, 1000).withColumn("k2", F.col("id") % 7)
    a = hash_split(df, ["id", "k2"]).groupBy("split").count().collect()
    b = (
        hash_split(df.repartition(13), ["id", "k2"])
        .groupBy("split").count().collect()
    )
    assert {r.split: r["count"] for r in a} == {r.split: r["count"] for r in b}
    counts = {r.split: r["count"] for r in a}
    assert set(counts) == {"train", "valid", "test"}
    # weights 80/10/10 within a loose tolerance
    assert 700 < counts["train"] < 900


def test_stratified_quota_shrink_stable_and_partition_invariant(spark):
    """quota=q's picks must be a SUBSET of quota=q+2's (bottom-k by hash
    is shrink-stable — the property that lets a pipeline lower a domain
    quota without resampling everything), and the picked set must not
    depend on physical partitioning."""
    from pyspark.sql import functions as F

    from transitdata_hfp_deduplicator_spark.operators.sampling import (
        stratified_quota_sample,
    )

    rows = [(i, f"lang{i % 3}", f"src{i % 5}") for i in range(400)]
    df = spark.createDataFrame(rows, "doc_id long, lang string, source string")

    def picks(frame, quota):
        return {
            (r.doc_id, r.pick_rank)
            for r in stratified_quota_sample(
                frame, ["lang", "source"], ["doc_id"], quota
            ).collect()
        }

    p3, p5 = picks(df, 3), picks(df, 5)
    assert {d for d, _ in p3} < {d for d, _ in p5}
    assert all(r <= 3 for _, r in p3) and all(r <= 5 for _, r in p5)
    # same data, different physical layout: identical picks AND ranks
    assert picks(df.repartition(17, "doc_id"), 3) == p3
    assert picks(df.coalesce(1), 3) == p3
    # every stratum fills its quota when it has enough members
    from collections import Counter

    per_stratum = Counter(
        (r.lang, r.source)
        for r in stratified_quota_sample(
            df, ["lang", "source"], ["doc_id"], 3
        ).collect()
    )
    assert set(per_stratum.values()) == {3}  # 400 rows / 15 strata >= 3


def test_systematic_pps_total_picks_and_heavy_multi_hit(spark):
    # k pointers always land somewhere: sum(n_picks) == k; a row heavier
    # than W/k MUST be hit at least floor(w*k/W) times (true PPS)
    from transitdata_hfp_deduplicator_spark.operators.sampling import (
        systematic_pps_sample,
    )

    rows = [(i, 10) for i in range(100)] + [(100, 500)]  # W=1500, heavy=500
    df = spark.createDataFrame(rows, "doc_id bigint, w bigint")
    out = systematic_pps_sample(df, "doc_id", "w", k=15)
    got = {r.doc_id: r.n_picks for r in out.collect()}
    assert sum(got.values()) == 15
    # heavy row: w*k/W = 500*15/1500 = 5 -> at least 5 picks
    assert got.get(100, 0) >= 5


def test_systematic_pps_partition_invariant(spark):
    from transitdata_hfp_deduplicator_spark.operators.sampling import (
        systematic_pps_sample,
    )

    rows = [(i, (i * 37) % 90 + 1) for i in range(400)]
    df1 = spark.createDataFrame(rows, "doc_id bigint, w bigint")
    df2 = df1.repartition(13)
    a = {(r.doc_id, r.n_picks) for r in systematic_pps_sample(df1, "doc_id", "w", k=40).collect()}
    b = {(r.doc_id, r.n_picks) for r in systematic_pps_sample(df2, "doc_id", "w", k=40).collect()}
    assert a == b and sum(n for _, n in a) == 40


def test_systematic_pps_extreme_hash_ids_and_null_ids(spark):
    """Same bucketing hardening as sharded_prefix_sum: full-int64-range
    ids must not wrap the shard multiply (a non-monotone shard function
    silently corrupts every cumulative sum), and NULL ids join the
    layout in the first-ordered shard instead of vanishing while their
    weights still shift every pointer — sum(n_picks) == k regardless."""
    from transitdata_hfp_deduplicator_spark.operators.sampling import (
        systematic_pps_sample,
    )

    lo, hi = -(2**63), 2**63 - 1
    ids = sorted(
        {lo, lo + 3, -7, 0, 11, hi - 5, hi}
        | {((i * 0x9E3779B97F4A7C15) % 2**64) - 2**63 for i in range(150)}
    )
    rows = [(i, (abs(i) % 90) + 1) for i in ids]
    df = spark.createDataFrame(rows, "doc_id bigint, w bigint")
    k = 25
    got = {
        r.doc_id: r.n_picks
        for r in systematic_pps_sample(df, "doc_id", "w", k=k).collect()
    }
    assert sum(got.values()) == k
    # cross-check against a driver-side reference layout in id order
    W = sum(w for _, w in rows)
    cum, want = 0, {}
    ptrs = [(2 * j + 1) * W for j in range(k)]  # scaled by 2k: test below
    for i, w in rows:
        lo_c, cum = cum, cum + w
        n = sum(1 for t in ptrs if 2 * k * lo_c <= t < 2 * k * cum)
        if n:
            want[i] = n
    assert got == want
    # NULL id: participates (first in order), total picks still k
    rows_n = [(None, 40)] + [(i, 10) for i in range(30)]
    dfn = spark.createDataFrame(rows_n, "doc_id bigint, w bigint")
    got_n = {
        r.doc_id: r.n_picks
        for r in systematic_pps_sample(dfn, "doc_id", "w", k=17).collect()
    }
    assert sum(got_n.values()) == 17
    # the heavy NULL row (40/340 of the mass) is hit ~2 times
    assert got_n.get(None, 0) >= 2


def test_sharded_prefix_sum_matches_single_window(spark):
    """The range-sharded two-pass exclusive prefix sum must equal the
    naive single-task window within every group, for any shard count
    (shard boundaries never change the sum), sparse ids included."""
    from pyspark.sql.window import Window as W

    from transitdata_hfp_deduplicator_spark.operators.sampling import (
        sharded_prefix_sum,
    )

    rows = [
        (i * 7 + (i % 3), f"g{i % 4}", (i * 31) % 50)  # sparse, non-dense ids
        for i in range(500)
    ]
    df = spark.createDataFrame(rows, "id bigint, grp string, w bigint").repartition(9)
    naive = df.withColumn(
        "prior",
        F.coalesce(
            F.sum("w").over(
                W.partitionBy("grp").orderBy("id").rowsBetween(
                    W.unboundedPreceding, -1
                )
            ),
            F.lit(0),
        ),
    )
    want = {(r.grp, r.id): r.prior for r in naive.collect()}
    for shards in (1, 5, 32):
        got = {
            (r.grp, r.id): r.prior
            for r in sharded_prefix_sum(
                df, "id", "w", part_cols=("grp",), shards=shards
            ).collect()
        }
        assert got == want, f"shards={shards}"


def test_sharded_prefix_sum_null_keys_match_window(spark):
    """NULL group keys and NULL ids must flow through like the naive
    window treats them (NULL group = its own partition, NULL ids first
    in order) — not get silently dropped by an inner equi-join."""
    from pyspark.sql.window import Window as W

    from transitdata_hfp_deduplicator_spark.operators.sampling import (
        sharded_prefix_sum,
    )

    rows = (
        [(i, "g0", 2) for i in range(40)]
        + [(i, None, 3) for i in range(25)]  # NULL group
        + [(None, "g0", 5)] * 1  # NULL id (one per group: tie order
        + [(None, None, 7)] * 1  # among NULL ids is arbitrary in BOTH
    )  # forms, so keep them unique)
    df = spark.createDataFrame(rows, "id bigint, grp string, w bigint")
    naive = df.withColumn(
        "prior",
        F.coalesce(
            F.sum("w").over(
                W.partitionBy("grp").orderBy("id").rowsBetween(
                    W.unboundedPreceding, -1
                )
            ),
            F.lit(0),
        ),
    )
    want = {(r.grp, r.id): r.prior for r in naive.collect()}
    got = {
        (r.grp, r.id): r.prior
        for r in sharded_prefix_sum(
            df, "id", "w", part_cols=("grp",), shards=7
        ).collect()
    }
    assert got == want
    # the NULL id really did land first: its prior is 0 in each group
    assert got[("g0", None)] == 0 and got[(None, None)] == 0


def test_sharded_prefix_sum_extreme_hash_ids(spark):
    """Hash-derived ids spanning the full int64 range: the shard
    bucketing must stay monotone (no silent int64 wrap in id*shards),
    so the two-pass sum still equals the naive window."""
    from pyspark.sql.window import Window as W

    from transitdata_hfp_deduplicator_spark.operators.sampling import (
        sharded_prefix_sum,
    )

    lo, hi = -(2**63), 2**63 - 1
    ids = sorted(
        {lo, lo + 1, -5, 0, 3, hi - 7, hi - 1, hi}
        | {((i * 0x9E3779B97F4A7C15) % 2**64) - 2**63 for i in range(200)}
    )
    df = spark.createDataFrame(
        [(i, (abs(i) % 97) + 1) for i in ids], "id bigint, w bigint"
    ).repartition(5)
    naive = df.withColumn(
        "prior",
        F.coalesce(
            F.sum("w").over(
                W.orderBy("id").rowsBetween(W.unboundedPreceding, -1)
            ),
            F.lit(0),
        ),
    )
    want = {r.id: r.prior for r in naive.collect()}
    for shards in (3, 32):
        got = {
            r.id: r.prior
            for r in sharded_prefix_sum(df, "id", "w", shards=shards).collect()
        }
        assert got == want, f"shards={shards}"


def test_sharded_prefix_sum_superset_max_df(spark):
    """max(id) from a SUPERSET source (the cheap raw scan) only moves
    shard boundaries — the sums are unchanged."""
    from transitdata_hfp_deduplicator_spark.operators.sampling import (
        sharded_prefix_sum,
    )

    full = spark.createDataFrame(
        [(i, 1) for i in range(1000)], "id bigint, w bigint"
    )
    sub = full.filter(F.col("id") < 100)
    got = {
        r.id: r.prior
        for r in sharded_prefix_sum(sub, "id", "w", max_df=full).collect()
    }
    assert got == {i: i for i in range(100)}
