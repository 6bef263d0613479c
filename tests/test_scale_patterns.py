"""Scale-pattern demos with correctness + plan assertions: bucketed
co-located joins (no shuffle), salted joins (skew), sinks."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from transitdata_hfp_deduplicator_spark.operators.skew import salted_join
from transitdata_hfp_deduplicator_spark.plans import physical_plan
from transitdata_hfp_deduplicator_spark.tables import table


def test_bucketed_join_has_no_shuffle(spark, sf_dir, tmp_path):
    """Pre-bucketing both sides on the join key removes the exchange —
    the layout strategy for repeated 100 TB fact-fact joins."""
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    li.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey").mode("overwrite").saveAsTable("li_b")
    o.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey").mode("overwrite").saveAsTable("o_b")
    try:
        j = (
            spark.table("li_b")
            .join(
                spark.table("o_b"),
                F.col("l_orderkey") == F.col("o_orderkey"),
            )
            .groupBy("o_orderstatus")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        plan = physical_plan(j)
        n_exchanges = plan.count("Exchange hashpartitioning")
        # only the final aggregation may shuffle (1 exchange), never the join inputs
        assert n_exchanges <= 1, f"bucketed join still shuffles:\n{plan[:3000]}"
        expected = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderstatus")
            .count()
            .collect()
        )
        got = {r.o_orderstatus: r.n for r in j.collect()}
        assert got == {r.o_orderstatus: r["count"] for r in expected}
    finally:
        spark.sql("DROP TABLE IF EXISTS li_b")
        spark.sql("DROP TABLE IF EXISTS o_b")


def test_salted_join_matches_plain_join(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    plain = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderstatus")
        .count()
        .collect()
    )
    salted = (
        salted_join(li, o, [("l_orderkey", "o_orderkey")], salt_buckets=8)
        .groupBy("o_orderstatus")
        .count()
        .collect()
    )
    assert {r.o_orderstatus: r["count"] for r in plain} == {
        r.o_orderstatus: r["count"] for r in salted
    }


def test_streaming_parquet_sink_exactly_once(spark, sf_dir, tmp_path):
    from transitdata_hfp_deduplicator_spark.sinks import write_stream_parquet
    from transitdata_hfp_deduplicator_spark.streaming import parquet_stream, stream_dedup

    src = os.path.join(sf_dir, "events.parquet")
    out_dir, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    stream = stream_dedup(
        parquet_stream(spark, src), ["user_id", "event_type", "props"], "ts"
    )
    q = write_stream_parquet(stream, out_dir, checkpoint=ckpt)
    q.awaitTermination()
    n1 = spark.read.parquet(out_dir).count()
    # re-running against the same checkpoint must be a no-op (no new data)
    stream2 = stream_dedup(
        parquet_stream(spark, src), ["user_id", "event_type", "props"], "ts"
    )
    q2 = write_stream_parquet(stream2, out_dir, checkpoint=ckpt)
    q2.awaitTermination()
    n2 = spark.read.parquet(out_dir).count()
    assert n1 == n2, "checkpointed sink must not duplicate output on replay"
    expected = (
        table(spark, sf_dir, "events")
        .select("user_id", "event_type", "props")
        .distinct()
        .count()
    )
    assert n1 == expected


def test_incremental_dedup_over_bucketed_index_is_shuffle_free(spark, sf_dir):
    """The production layout for q_dedup_incremental: the historical
    digest index and today's batch both bucketed on the digest — the
    anti-join co-locates with ZERO exchanges, so daily dedup reads the
    index without reshuffling 100 TB of history."""
    from transitdata_hfp_deduplicator_spark.operators.dedup import (
        dedup_exact,
        payload_digest,
    )

    ev = table(spark, sf_dir, "events")
    identity = ["user_id", "event_type", "props"]
    mn, mx = ev.agg(
        F.unix_millis(F.min("ts")), F.unix_millis(F.max("ts"))
    ).collect()[0]
    cut = (mn + mx) // 2
    digest = payload_digest(*identity)
    hist = ev.filter(F.unix_millis("ts") < cut).select(digest.alias("d")).distinct()
    inc = dedup_exact(ev.filter(F.unix_millis("ts") >= cut), identity, ["ts", "event_id"]).withColumn("d", digest)
    hist.write.bucketBy(8, "d").sortBy("d").mode("overwrite").saveAsTable("hist_idx_b")
    inc.write.bucketBy(8, "d").sortBy("d").mode("overwrite").saveAsTable("inc_b")
    try:
        j = spark.table("inc_b").join(spark.table("hist_idx_b"), "d", "left_anti")
        plan = physical_plan(j)
        assert "Exchange hashpartitioning" not in plan, (
            f"bucketed anti-join still shuffles:\n{plan[:3000]}"
        )
        # co-located result == the plain shuffled anti-join
        expected = {r.event_id for r in inc.join(hist, "d", "left_anti").collect()}
        got = {r.event_id for r in j.collect()}
        assert got == expected
    finally:
        spark.sql("DROP TABLE IF EXISTS hist_idx_b")
        spark.sql("DROP TABLE IF EXISTS inc_b")
