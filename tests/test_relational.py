"""Semantics tests for queries whose driver check is rows-only, plus
operator-level relational invariants."""

from __future__ import annotations

from pyspark.sql import functions as F

from transitdata_hfp_deduplicator_spark.queries import QUERIES
from transitdata_hfp_deduplicator_spark.tables import table


def test_approx_distinct_within_bounds(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem")
    exact = {
        r.l_returnflag: r.n
        for r in li.groupBy("l_returnflag")
        .agg(F.countDistinct("l_orderkey").alias("n"))
        .collect()
    }
    approx = {
        r.l_returnflag: r.approx_orders
        for r in QUERIES["q_agg_approx"](spark, sf_dir).collect()
    }
    for k, n in exact.items():
        rel_err = abs(approx[k] - n) / max(n, 1)
        assert rel_err < 0.1, f"HLL error {rel_err} for {k}"


def test_approx_quantiles_ordered(spark, sf_dir):
    for r in QUERIES["q_agg_approx"](spark, sf_dir).collect():
        q = [r.qty_p25, r.qty_p50, r.qty_p75, r.qty_p99]
        assert q == sorted(q), "quantiles must be monotonic"


def test_udtf_chunks_cover_document(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    chunks = QUERIES["q_udtf"](spark, sf_dir)
    recon = (
        chunks.groupBy("doc_id")
        .agg(
            F.sum("n_tokens").alias("total_tokens"),
            F.count(F.lit(1)).alias("n_chunks"),
            F.max("n_tokens").alias("max_chunk"),
        )
    )
    orig = d.select(
        "doc_id", F.size(F.split(F.col("text"), r"\s+")).alias("n_tok")
    )
    joined = recon.join(orig, "doc_id")
    bad = joined.filter(F.col("total_tokens") != F.col("n_tok")).count()
    assert bad == 0, "UDTF chunks must partition every document's tokens"
    assert joined.filter(F.col("max_chunk") > 32).count() == 0


def test_asof_join_never_future(spark, sf_dir):
    out = QUERIES["q_join_asof"](spark, sf_dir)
    bad = out.filter(F.col("signup_ms") > F.col("purchase_ms")).count()
    assert bad == 0, "as-of match must be at-or-before the left timestamp"


def test_session_windows_gap_property(spark, sf_dir):
    """No two sessions of one user may be closer than the 5-minute gap."""
    out = QUERIES["q_session_window"](spark, sf_dir)
    from pyspark.sql.window import Window as W

    w = W.partitionBy("user_id").orderBy("session_start_ms")
    gaps = out.withColumn("prev_end", F.lag("last_event_ms").over(w)).filter(
        F.col("prev_end").isNotNull()
    )
    too_close = gaps.filter(
        F.col("session_start_ms") - F.col("prev_end") < 5 * 60 * 1000
    ).count()
    assert too_close == 0


def test_exact_flag_percentiles_bit_identical_to_percentile(spark, sf_dir):
    """q_agg_approx_check's distributed exact-percentile rewrite
    (_exact_flag_percentiles) must reproduce Catalyst F.percentile
    BIT-identically — including the integral-position and equal-key
    fast paths, which skip interpolation entirely (an interpolated
    v*(hi-lo) differs from v by an ulp)."""
    import random

    from pyspark.sql import Row

    from transitdata_hfp_deduplicator_spark.queries import (
        _exact_flag_percentiles,
        _t,
    )

    def ref_vs_new(li):
        ref = (
            li.groupBy("l_returnflag")
            .agg(
                F.percentile(
                    F.col("l_extendedprice"), F.array(F.lit(0.45), F.lit(0.55))
                ).alias("x_price"),
                F.percentile(
                    F.col("l_quantity"),
                    F.array(F.lit(0.45), F.lit(0.55), F.lit(0.98)),
                ).alias("x_qty"),
            )
            .collect()
        )
        new = _exact_flag_percentiles(li).collect()
        return (
            {r.l_returnflag: (r.x_price, r.x_qty) for r in ref},
            {r.l_returnflag: (r.x_price, r.x_qty) for r in new},
        )

    refd, newd = ref_vs_new(_t(spark, sf_dir, "lineitem"))
    assert refd == newd

    # adversarial shape: heavy duplicate values (integral + equal-key
    # positions), a 1-row group, a tiny group
    random.seed(7)
    rows = []
    for flag, n in (("A", 11), ("N", 1), ("R", 400)):
        for _ in range(n):
            rows.append(
                Row(
                    l_returnflag=flag,
                    l_extendedprice=float(
                        random.choice([1.5, 2.25, 2.25, 9.75, 100.0])
                    ),
                    l_quantity=float(random.randint(1, 5)),
                )
            )
    refd, newd = ref_vs_new(spark.createDataFrame(rows))
    assert refd == newd


_NULL_FLAG_ROWS = [
    ("A", 1, 10, 1.5, 1.0),
    ("A", 2, 11, 2.5, 3.0),
    ("N", 3, 12, None, None),  # both columns all NULL
    ("R", 4, 13, None, 2.0),  # prices all NULL
    ("R", 5, 14, None, 4.0),
]
_NULL_FLAG_SCHEMA = (
    "l_returnflag string, l_orderkey long, l_partkey long, "
    "l_extendedprice double, l_quantity double"
)


def test_exact_flag_percentiles_null_groups(spark):
    """The contract on NULLs, pinned against F.percentile: a flag whose
    two columns are all NULL has no row, and a column with no non-NULL
    value reads as an array of NULLs where F.percentile gives NULL."""
    from transitdata_hfp_deduplicator_spark.queries import _exact_flag_percentiles

    li = spark.createDataFrame(_NULL_FLAG_ROWS, _NULL_FLAG_SCHEMA)
    ref = {
        r.l_returnflag: (r.x_price, r.x_qty)
        for r in li.groupBy("l_returnflag")
        .agg(
            F.percentile("l_extendedprice", F.array(F.lit(0.45), F.lit(0.55))).alias(
                "x_price"
            ),
            F.percentile(
                "l_quantity", F.array(F.lit(0.45), F.lit(0.55), F.lit(0.98))
            ).alias("x_qty"),
        )
        .collect()
    }
    new = {
        r.l_returnflag: (r.x_price, r.x_qty)
        for r in _exact_flag_percentiles(li).collect()
    }
    assert ref["N"] == (None, None) and "N" not in new
    assert ref["R"][0] is None and new["R"][0] == [None, None]
    assert new["R"][1] == ref["R"][1]
    assert new["A"] == ref["A"]


def test_agg_approx_check_keeps_all_null_flag(spark, tmp_path):
    """q_agg_approx_check keeps a group whose percentile columns are all
    NULL: its percentiles join on the left."""
    spark.createDataFrame(_NULL_FLAG_ROWS, _NULL_FLAG_SCHEMA).write.parquet(
        str(tmp_path / "lineitem.parquet")
    )
    out = QUERIES["q_agg_approx_check"](spark, str(tmp_path)).collect()
    assert {(r.l_returnflag, r.n) for r in out} == {("A", 2), ("N", 1), ("R", 2)}
