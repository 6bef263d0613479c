"""The declared query registry — driver contract (SURVEY.md §2 Part B).

Every entry is a named query ``(spark, sf_dir) -> DataFrame`` plus (where
SQL-expressible) a DuckDB oracle string over the same parquet tables.
Registered via the ``@query`` decorator; ``__spark_entry__.py`` re-exports
``QUERIES`` / ``ORACLES``.

Determinism rules (the driver hash-compares values, order-insensitive,
columns matched by name):

* Every aggregate / computed column is aliased identically in Spark and
  SQL.
* Sums/avgs over ``double`` columns go through ``DECIMAL`` so the result
  is independent of partial-aggregation order (double addition is not
  associative; Spark and DuckDB would otherwise differ in the last ulp).
  Helper: ``dsum`` / its SQL macro ``DSUM``.
* Timestamps are emitted as epoch integers (``unix_millis`` /
  ``epoch_ms``) or formatted strings — never raw timestamp columns.
* Every window ``ORDER BY`` and every ``LIMIT`` has a unique tiebreaker.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from transitdata_hfp_deduplicator_spark import tables
from transitdata_hfp_deduplicator_spark.operators.dedup import (
    dedup_exact,
    dup_stats_tumbling,
)

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}

# the reference's dedup identity = canonical payload bytes
# (Deduplicator.java:69-106); on the synthetic `events` table the
# payload-analog is (user_id, event_type, props) — `value`/`ts`/`key`
# vary per duplicate just like eventTime/key in ITDeduplicatorTest.java:37-42.
EVENT_IDENTITY = ["user_id", "event_type", "props"]
EVENT_ORDER = ["ts", "event_id"]


def query(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = " ".join(oracle.split())
        return fn

    return deco


def dsum(col: Column, scale: int = 4) -> Column:
    """Order-independent sum of a double expression (via decimal)."""
    return F.sum(col.cast(f"decimal(30,{scale})")).cast("double")


def davg(col: Column, count: Column, scale: int = 4) -> Column:
    return dsum(col, scale) / count


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return tables.table(spark, sf_dir, name)


#: stage intermediates persisted by composed queries (q_corpus_curate's
#: exact-dedup survivors), tracked exactly like the heavy-hitter fold caches
#: (operators/heavyhitters.py::_FOLD_CACHES): each query build releases
#: the previous build's caches, so a full gate/bench sweep never holds
#: more than one query's worth; an early release just recomputes, never
#: changes results.
_STAGE_CACHES: list[DataFrame] = []


def _release_stage_caches() -> None:
    while _STAGE_CACHES:
        try:
            _STAGE_CACHES.pop().unpersist()
        except Exception:  # noqa: BLE001 - session may already be gone
            pass


def _stage_cache(df: DataFrame) -> DataFrame:
    """Persist a stage boundary, releasing the previous query's caches
    first."""
    _release_stage_caches()
    out = df.persist()
    _STAGE_CACHES.append(out)
    return out


# ---------------------------------------------------------------------------
# Reference core, batch (SURVEY.md §2 A3-A5, A9-A10)
# ---------------------------------------------------------------------------


@query(
    "q_dedup_exact",
    oracle="""
    SELECT event_id, user_id, event_type, value, props, epoch_ms(ts) AS ts_ms
    FROM events
    QUALIFY row_number() OVER (
        PARTITION BY user_id, event_type, props ORDER BY ts, event_id) = 1
    """,
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-occurrence-wins dedup of `events` (Deduplicator.java:43-66)."""
    ev = _t(spark, sf_dir, "events")
    out = dedup_exact(ev, EVENT_IDENTITY, EVENT_ORDER)
    return out.select(
        "event_id",
        "user_id",
        "event_type",
        "value",
        "props",
        F.unix_millis("ts").alias("ts_ms"),
    )


@query(
    "q_dup_stats",
    oracle="""
    WITH tagged AS (
        SELECT ts,
               row_number() OVER (
                   PARTITION BY user_id, event_type, props
                   ORDER BY ts, event_id) AS rn,
               epoch_ms(ts) - min(epoch_ms(ts)) OVER (
                   PARTITION BY user_id, event_type, props) AS delay_ms
        FROM events
    )
    SELECT CAST(epoch(date_trunc('minute', ts)) AS BIGINT) AS window_start,
           count(*) FILTER (rn = 1) AS primes,
           count(*) FILTER (rn > 1) AS duplicates,
           CAST(sum(delay_ms) FILTER (rn > 1) AS BIGINT) AS sum_delay_ms,
           round(count(*) FILTER (rn > 1)
                 / nullif(count(*) FILTER (rn = 1), 0), 6) AS dup_ratio,
           round(round(count(*) FILTER (rn > 1)
                 / nullif(count(*) FILTER (rn = 1), 0), 6) * 100, 4) AS dup_pct,
           round(CAST(sum(delay_ms) FILTER (rn > 1) AS DOUBLE)
                 / nullif(count(*) FILTER (rn > 1), 0), 4) AS avg_delay_ms
    FROM tagged
    GROUP BY 1
    """,
)
def q_dup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-minute duplicate-ratio analytics (Analytics.java:47-67, batch)."""
    ev = _t(spark, sf_dir, "events")
    return dup_stats_tumbling(ev, EVENT_IDENTITY, EVENT_ORDER, "1 minute")


@query(
    "q_dup_anomaly",
    oracle="""
    WITH tagged AS (
        SELECT ts,
               row_number() OVER (
                   PARTITION BY user_id, event_type, props
                   ORDER BY ts, event_id) AS rn
        FROM events
    ),
    stats AS (
        SELECT CAST(epoch(date_trunc('minute', ts)) AS BIGINT) AS window_start,
               count(*) FILTER (rn = 1) AS primes,
               count(*) FILTER (rn > 1) AS duplicates
        FROM tagged
        GROUP BY 1
    ),
    ppm AS (
        SELECT window_start,
               CAST(floor(duplicates * 1000000 / (primes + duplicates)) AS BIGINT)
                   AS dup_ppm
        FROM stats
    ),
    base AS (
        SELECT window_start, dup_ppm,
               count(dup_ppm) OVER w AS base_n,
               sum(dup_ppm) OVER w AS sx,
               sum(dup_ppm * dup_ppm) OVER w AS sxx
        FROM ppm
        WINDOW w AS (ORDER BY window_start
                     ROWS BETWEEN 10 PRECEDING AND 1 PRECEDING)
    )
    SELECT window_start, dup_ppm, base_n,
           CASE WHEN base_n = 10 AND (10 * sxx - sx * sx) > 0
                THEN round((dup_ppm * 10 - sx)
                           / sqrt(((10 * sxx - sx * sx) * 10) / 9), 6)
           END AS z,
           coalesce(
               CASE WHEN base_n = 10 AND (10 * sxx - sx * sx) > 0
                    THEN abs(round((dup_ppm * 10 - sx)
                             / sqrt(((10 * sxx - sx * sx) * 10) / 9), 6))
               END, 0.0) >= 2.0 AS is_anomaly
    FROM base
    """,
)
def q_dup_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-ratio anomaly detection: z-score of each minute's dup
    ratio against the trailing-10-window baseline — the statistical
    upgrade of the reference's fixed alert bands (Analytics.java:50-60,
    A10).  HASH-CHECKED: the ratio is floored to integer ppm and the
    baseline mean/variance are assembled from integer window sums, so
    every float op consumes exact integers and both engines round
    identically (operators/dedup.py::dup_ratio_anomaly).  The ONLINE
    chain is the same function applied to q_dup_stats_stream's spooled
    stats — the scoring is a pure batch transform over the aggregated
    minute table, so it composes with either the batch or the streaming
    stats producer unchanged."""
    from transitdata_hfp_deduplicator_spark.operators.dedup import (
        dup_ratio_anomaly,
    )

    ev = _t(spark, sf_dir, "events")
    stats = dup_stats_tumbling(ev, EVENT_IDENTITY, EVENT_ORDER, "1 minute")
    return dup_ratio_anomaly(stats, baseline_windows=10, z_threshold=2.0)


# ---------------------------------------------------------------------------
# Relational core (SURVEY.md §7 step 2)
# ---------------------------------------------------------------------------


@query(
    "q_scan_project",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice,
           round(l_extendedprice * (1 - l_discount), 4) AS disc_price
    FROM lineitem
    """,
)
def q_scan_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet scan + projection; Catalyst prunes the read schema."""
    li = _t(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        "l_quantity",
        "l_extendedprice",
        F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias(
            "disc_price"
        ),
    )


@query(
    "q_filter_pred",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity, l_discount,
           strftime(l_shipdate, '%Y-%m-%d') AS ship_date
    FROM lineitem
    WHERE l_shipdate >= DATE '1995-01-01'
      AND l_shipdate <  DATE '1996-01-01'
      AND l_returnflag IN ('R', 'A')
      AND l_discount BETWEEN 0.02 AND 0.08
      AND l_quantity IS NOT NULL
    """,
)
def q_filter_pred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range + IN + BETWEEN + null predicates, pushed to the parquet scan."""
    li = _t(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1995-01-01").cast("date"))
        & (F.col("l_shipdate") < F.lit("1996-01-01").cast("date"))
        & F.col("l_returnflag").isin("R", "A")
        & F.col("l_discount").between(0.02, 0.08)
        & F.col("l_quantity").isNotNull()
    ).select(
        "l_orderkey",
        "l_linenumber",
        "l_returnflag",
        "l_quantity",
        "l_discount",
        F.date_format("l_shipdate", "yyyy-MM-dd").alias("ship_date"),
    )


@query(
    "q_agg_hash",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(30,4))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,4))) AS DOUBLE) AS sum_base_price,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6))) AS DOUBLE) AS sum_disc_price,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(30,6))) AS DOUBLE) AS sum_charge,
           round(CAST(SUM(CAST(l_quantity AS DECIMAL(30,4))) AS DOUBLE) / count(*), 6) AS avg_qty,
           round(CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,4))) AS DOUBLE) / count(*), 6) AS avg_price,
           round(CAST(SUM(CAST(l_discount AS DECIMAL(30,6))) AS DOUBLE) / count(*), 6) AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= DATE '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q_agg_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: partial+final HashAggregate (map-side combine)."""
    from transitdata_hfp_deduplicator_spark.tables import spread

    # spread(): the 8-sum DECIMAL partial aggregation is the whole query
    # and runs on the scan's splits — ONE working split on a one-row-
    # group file (guide §2.5; measured 1.8s single-worker at sf0.1).
    # DECIMAL sums are partial-order-independent by the dsum convention.
    li = spread(_t(spark, sf_dir, "lineitem"))
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    n = F.count(F.lit(1))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("date"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum(F.col("l_quantity")).alias("sum_qty"),
            dsum(F.col("l_extendedprice")).alias("sum_base_price"),
            dsum(disc_price, 6).alias("sum_disc_price"),
            dsum(charge, 6).alias("sum_charge"),
            F.round(davg(F.col("l_quantity"), n), 6).alias("avg_qty"),
            F.round(davg(F.col("l_extendedprice"), n), 6).alias("avg_price"),
            F.round(davg(F.col("l_discount"), n, 6), 6).alias("avg_disc"),
            n.alias("count_order"),
        )
    )


@query(
    "q_agg_distinct",
    oracle="""
    SELECT o_orderpriority,
           count(DISTINCT o_custkey) AS n_custs,
           count(DISTINCT o_orderstatus) AS n_statuses,
           count(*) AS n_orders
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def q_agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct aggregation (expand + two-phase agg under the hood)."""
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.countDistinct("o_custkey").alias("n_custs"),
        F.countDistinct("o_orderstatus").alias("n_statuses"),
        F.count(F.lit(1)).alias("n_orders"),
    )


@query(
    "q_sort_limit",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 25
    """,
)
def q_sort_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k: Spark plans TakeOrderedAndProject (no global sort)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(25)
    )


@query(
    "q_set_ops",
    oracle="""
    SELECT c_custkey AS custkey, 'both' AS tag
    FROM customer
    WHERE c_custkey IN (SELECT o_custkey FROM orders)
      AND c_mktsegment = 'BUILDING'
    UNION ALL
    SELECT c_custkey AS custkey, 'no_orders' AS tag
    FROM customer
    WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_custkey IS NOT NULL)
    """,
)
def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """union / intersect / except over key sets."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    custs = c.select(F.col("c_custkey").alias("custkey"))
    order_custs = o.select(F.col("o_custkey").alias("custkey"))
    building = c.filter(F.col("c_mktsegment") == "BUILDING").select(
        F.col("c_custkey").alias("custkey")
    )
    both = building.intersect(order_custs).withColumn("tag", F.lit("both"))
    no_orders = custs.exceptAll(order_custs).withColumn("tag", F.lit("no_orders"))
    return both.unionAll(no_orders)


@query(
    "q_scalar_string",
    oracle="""
    SELECT p_partkey,
           upper(p_brand) AS brand_u,
           substring(p_name, 1, 8) AS name8,
           length(p_name) AS name_len,
           instr(p_type, 'BRASS') AS brass_pos,
           concat(p_brand, ':', p_type) AS brand_type,
           trim(replace(p_name, 'a', ' ')) AS name_repl,
           regexp_extract(p_type, '([A-Z]+)$', 1) AS last_word,
           split_part(p_type, ' ', 1) AS first_tok
    FROM part
    """,
)
def q_scalar_string(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String function surface (mirrors topic parsing, A12)."""
    p = _t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper("p_brand").alias("brand_u"),
        F.substring("p_name", 1, 8).alias("name8"),
        F.length("p_name").cast("bigint").alias("name_len"),
        F.instr(F.col("p_type"), "BRASS").cast("bigint").alias("brass_pos"),
        F.concat_ws(":", "p_brand", "p_type").alias("brand_type"),
        F.trim(F.replace(F.col("p_name"), F.lit("a"), F.lit(" "))).alias("name_repl"),
        F.regexp_extract("p_type", r"([A-Z]+)$", 1).alias("last_word"),
        F.split(F.col("p_type"), " ").getItem(0).alias("first_tok"),
    )


@query(
    "q_scalar_datetime",
    oracle="""
    SELECT event_id,
           CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_epoch,
           CAST(year(ts) AS BIGINT) AS y,
           CAST(month(ts) AS BIGINT) AS m,
           CAST(dayofweek(ts) AS BIGINT) AS dow,
           epoch_ms(ts) AS ts_ms,
           CAST(date_diff('day', CAST(ts AS DATE), DATE '2024-01-01') * -1 AS BIGINT) AS days_since,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_str
    FROM events
    """,
)
def q_scalar_datetime(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time surface (mirrors HFP tst/tsi duality)."""
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.unix_timestamp(F.date_trunc("hour", F.col("ts"))).alias("hour_epoch"),
        F.year("ts").cast("bigint").alias("y"),
        F.month("ts").cast("bigint").alias("m"),
        (F.dayofweek("ts") - 1).cast("bigint").alias("dow"),
        F.unix_millis("ts").alias("ts_ms"),
        F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date")).cast("bigint").alias("days_since"),
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_str"),
    )


@query(
    "q_scalar_math",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           round(abs(l_discount - 0.05), 4) AS adj,
           round(power(l_quantity, 2), 4) AS qty_sq,
           round(ln(l_extendedprice + 1), 8) AS log_price,
           round(sqrt(l_extendedprice), 8) AS sqrt_price,
           CAST(ceil(l_quantity / 7) AS BIGINT) AS qty_bucket,
           CAST(floor(l_extendedprice / 1000) AS BIGINT) AS price_kilo,
           l_linenumber % 3 AS ln_mod
    FROM lineitem
    """,
)
def q_scalar_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math function surface (mirrors A9 derived-metric arithmetic)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.abs(F.col("l_discount") - 0.05), 4).alias("adj"),
        F.round(F.pow("l_quantity", F.lit(2)), 4).alias("qty_sq"),
        F.round(F.log(F.col("l_extendedprice") + 1), 8).alias("log_price"),
        F.round(F.sqrt("l_extendedprice"), 8).alias("sqrt_price"),
        F.ceil(F.col("l_quantity") / 7).alias("qty_bucket"),
        F.floor(F.col("l_extendedprice") / 1000).alias("price_kilo"),
        (F.col("l_linenumber") % 3).alias("ln_mod"),
    )


@query(
    "q_json_extract",
    oracle="""
    SELECT event_id,
           CAST(json_extract(props, '$.k') AS BIGINT) AS k_val,
           CAST(json_extract(props, '$.k') AS BIGINT) % 10 AS k_mod
    FROM events
    WHERE CAST(json_extract(props, '$.k') AS BIGINT) IS NOT NULL
    """,
)
def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON extraction (mirrors the HFP VP payload decode, §1.3)."""
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    return ev.select(
        "event_id", k.alias("k_val"), (k % 10).alias("k_mod")
    ).filter(F.col("k_val").isNotNull())


# ---------------------------------------------------------------------------
# Joins (SURVEY.md §7 step 3)
# ---------------------------------------------------------------------------


@query(
    "q_join_broadcast",
    oracle="""
    SELECT o.o_orderkey, c.c_name, c.c_mktsegment, o.o_totalprice, n.n_name
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE o.o_orderstatus = 'O'
    """,
)
def q_join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact ⋈ broadcast(dim) ⋈ broadcast(dim): no shuffle of the fact
    side — the plan must show BroadcastHashJoin (tested in
    tests/test_plans.py)."""
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "O")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .select("o_orderkey", "c_name", "c_mktsegment", "o_totalprice", "n_name")
    )


@query(
    "q_join_multiway",
    oracle="""
    SELECT n.n_name,
           CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(30,6))) AS DOUBLE) AS revenue,
           count(*) AS n_items
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name IN ('ASIA', 'EUROPE')
    GROUP BY n.n_name
    """,
)
def q_join_multiway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 5-way join, dims broadcast, one shuffle for the
    final aggregate."""
    l = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name").isin("ASIA", "EUROPE"))
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(
            dsum(revenue, 6).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@query(
    "q_promo_share",
    oracle="""
    SELECT strftime(date_trunc('month', l_shipdate), '%Y-%m') AS ship_month,
           CAST(SUM(CAST(CASE WHEN p_type = 'PROMO'
                     THEN l_extendedprice * (1 - l_discount) ELSE 0 END
                     AS DECIMAL(30,6))) AS DOUBLE) AS promo_revenue,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                     AS DECIMAL(30,6))) AS DOUBLE) AS total_revenue,
           round(CAST(SUM(CAST(CASE WHEN p_type = 'PROMO'
                     THEN l_extendedprice * (1 - l_discount) ELSE 0 END
                     AS DECIMAL(30,6))) AS DECIMAL(30,6))
                 / SUM(CAST(l_extendedprice * (1 - l_discount)
                     AS DECIMAL(30,6))), 6) AS promo_share
    FROM lineitem JOIN part ON l_partkey = p_partkey
    GROUP BY 1
    """,
)
def q_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: promo revenue share per ship month — the
    conditional-aggregate-over-broadcast-join pattern (part is the
    dimension; lineitem never shuffles before the month aggregate)."""
    l = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0.0))
    promo_dec = F.sum(promo.cast("decimal(30,6)"))
    total_dec = F.sum(rev.cast("decimal(30,6)"))
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .groupBy(F.date_format(F.date_trunc("month", "l_shipdate"), "yyyy-MM").alias("ship_month"))
        .agg(
            promo_dec.cast("double").alias("promo_revenue"),
            total_dec.cast("double").alias("total_revenue"),
            F.round(promo_dec / total_dec, 6).cast("double").alias("promo_share"),
        )
    )


@query(
    "q_top_supplier",
    oracle="""
    WITH rev AS (
        SELECT l_suppkey,
               CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                         AS DECIMAL(30,6))) AS DOUBLE) AS total_revenue
        FROM lineitem GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, n_name, total_revenue
    FROM rev
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation ON s_nationkey = n_nationkey
    WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
    """,
)
def q_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: per-supplier revenue, keep the max-revenue
    supplier(s) via a 1-row aggregate crossJoin (never a collect), then
    decorate with the broadcast supplier/nation dims.  The fact table
    is aggregated FIRST — the joins see #suppliers rows, not line
    items."""
    l = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    rev = (
        l.groupBy("l_suppkey")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 6).alias("total_revenue"))
    )
    mx = rev.agg(F.max("total_revenue").alias("mx"))
    return (
        rev.crossJoin(F.broadcast(mx))
        .filter(F.col("total_revenue") == F.col("mx"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "s_name", "n_name", "total_revenue")
    )


@query(
    "q_join_semi_anti",
    oracle="""
    SELECT c_custkey, c_name, 'has_urgent' AS tag
    FROM customer
    WHERE EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
    UNION ALL
    SELECT c_custkey, c_name, 'no_orders' AS tag
    FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
)
def q_join_semi_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """left_semi (EXISTS) + left_anti (NOT EXISTS)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    urgent = o.filter(F.col("o_orderpriority") == "1-URGENT")
    semi = (
        c.join(urgent, c.c_custkey == urgent.o_custkey, "left_semi")
        .select("c_custkey", "c_name")
        .withColumn("tag", F.lit("has_urgent"))
    )
    anti = (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .select("c_custkey", "c_name")
        .withColumn("tag", F.lit("no_orders"))
    )
    return semi.unionAll(anti)


@query(
    "q_join_outer",
    oracle="""
    SELECT c.c_custkey, c.c_name,
           count(o.o_orderkey) AS n_orders,
           CAST(coalesce(SUM(CAST(o.o_totalprice AS DECIMAL(30,4))), 0) AS DOUBLE) AS total_spend
    FROM customer c
    LEFT OUTER JOIN orders o ON c.c_custkey = o.o_custkey
    GROUP BY c.c_custkey, c.c_name
    """,
)
def q_join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join preserving unmatched customers (count=0 rows)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_outer")
        .groupBy("c_custkey", "c_name")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.coalesce(dsum(F.col("o_totalprice")), F.lit(0.0)).alias("total_spend"),
        )
    )


@query(
    "q_join_theta_range",
    oracle="""
    SELECT e1.event_id AS purchase_id, e2.event_id AS error_id,
           e1.user_id, epoch_ms(e2.ts) - epoch_ms(e1.ts) AS gap_ms
    FROM events e1
    JOIN events e2
      ON e1.user_id = e2.user_id
     AND e2.ts > e1.ts
     AND e2.ts <= e1.ts + INTERVAL 30 MINUTE
    WHERE e1.event_type = 'purchase' AND e2.event_type = 'error'
    """,
)
def q_join_theta_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join with an equi prefix: errors within 30min after a
    purchase, per user. The equi key keeps the plan a hash join with a
    range residual — never a nested loop."""
    ev = _t(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id"),
        F.col("ts").alias("p_ts"),
    )
    e = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("error_id"),
        F.col("user_id").alias("e_user_id"),
        F.col("ts").alias("e_ts"),
    )
    return (
        p.join(
            e,
            (p.user_id == e.e_user_id)
            & (e.e_ts > p.p_ts)
            & (e.e_ts <= p.p_ts + F.expr("INTERVAL 30 MINUTES")),
        )
        .select(
            "purchase_id",
            "error_id",
            "user_id",
            (F.unix_millis("e_ts") - F.unix_millis("p_ts")).alias("gap_ms"),
        )
    )


@query(
    "q_join_asof",
    oracle="""
    WITH p AS (SELECT * FROM events WHERE event_type = 'purchase'),
         s AS (SELECT * FROM events WHERE event_type = 'signup')
    SELECT p.event_id AS purchase_id, p.user_id,
           epoch_ms(p.ts) AS purchase_ms,
           s.event_id AS signup_event_id,
           epoch_ms(s.ts) AS signup_ms
    FROM p LEFT JOIN s ON s.user_id = p.user_id AND s.ts <= p.ts
    QUALIFY row_number() OVER (
        PARTITION BY p.event_id
        ORDER BY s.ts DESC NULLS LAST, s.event_id DESC) = 1
    """,
)
def q_join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of join: latest signup at-or-before each purchase,
    per user — union+running-last, linear (operators/joins.asof_join)."""
    from transitdata_hfp_deduplicator_spark.operators.joins import asof_join

    ev = _t(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", "ts"
    )
    s = ev.filter(F.col("event_type") == "signup").select(
        F.col("event_id").alias("signup_event_id"),
        F.col("user_id"),
        F.col("ts").alias("s_ts"),
    )
    joined = asof_join(
        p, s, ["user_id"], "ts", "s_ts", ["signup_event_id", "s_ts"], suffix=""
    )
    return joined.select(
        "purchase_id",
        "user_id",
        F.unix_millis("ts").alias("purchase_ms"),
        F.col("signup_event_id"),
        F.unix_millis("s_ts").alias("signup_ms"),
    )


# ---------------------------------------------------------------------------
# Windows & grouping (SURVEY.md §7 step 4)
# ---------------------------------------------------------------------------


@query(
    "q_window_rank",
    oracle="""
    SELECT o_orderkey, o_orderpriority, o_totalprice,
           row_number() OVER w AS rn,
           rank() OVER w AS rnk,
           dense_rank() OVER w AS drnk,
           ntile(4) OVER w AS quartile
    FROM orders
    WINDOW w AS (PARTITION BY o_orderpriority
                 ORDER BY o_totalprice DESC, o_orderkey)
    """,
)
def q_window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking window functions over a total order."""
    o = _t(spark, sf_dir, "orders")
    w = W.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return o.select(
        "o_orderkey",
        "o_orderpriority",
        "o_totalprice",
        F.row_number().over(w).cast("bigint").alias("rn"),
        F.rank().over(w).cast("bigint").alias("rnk"),
        F.dense_rank().over(w).cast("bigint").alias("drnk"),
        F.ntile(4).over(w).cast("bigint").alias("quartile"),
    )


@query(
    "q_window_analytic",
    oracle="""
    SELECT event_id, user_id, epoch_ms(ts) AS ts_ms,
           lag(event_id) OVER w AS prev_event,
           lead(event_id) OVER w AS next_event,
           first_value(event_id) OVER w AS first_event,
           epoch_ms(ts) - lag(epoch_ms(ts)) OVER w AS gap_ms,
           CAST(SUM(CAST(value AS DECIMAL(30,4)))
                OVER (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_value
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def q_window_analytic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead/first + running sum with an explicit frame."""
    ev = _t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    wrun = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    return ev.select(
        "event_id",
        "user_id",
        F.unix_millis("ts").alias("ts_ms"),
        F.lag("event_id").over(w).alias("prev_event"),
        F.lead("event_id").over(w).alias("next_event"),
        F.first("event_id").over(w).alias("first_event"),
        (F.unix_millis("ts") - F.lag(F.unix_millis("ts")).over(w)).alias("gap_ms"),
        F.sum(F.col("value").cast("decimal(30,4)"))
        .over(wrun)
        .cast("double")
        .alias("running_value"),
    )


@query(
    "q_window_distribution",
    oracle="""
    SELECT o_orderkey, o_orderpriority, o_totalprice,
           round(percent_rank() OVER w, 8) AS pct_rank,
           round(cume_dist() OVER w, 8) AS cume,
           CAST(ntile(4) OVER w AS INTEGER) AS quartile
    FROM orders
    WINDOW w AS (PARTITION BY o_orderpriority
                 ORDER BY o_totalprice, o_orderkey)
    """,
)
def q_window_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions — percent_rank / cume_dist /
    ntile(4) per order-priority stratum (the quantile-banding step of
    corpus quality bucketing: 'keep the top quartile by score').
    percent_rank's (rank-1)/(n-1) and cume_dist's n_le/n are single
    IEEE divisions — bit-identical across engines; the window order
    carries the usual unique tiebreaker."""
    o = _t(spark, sf_dir, "orders")
    w = W.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    return o.select(
        "o_orderkey",
        "o_orderpriority",
        "o_totalprice",
        F.round(F.percent_rank().over(w), 8).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 8).alias("cume"),
        F.ntile(4).over(w).alias("quartile"),
    )


@query(
    "q_topk_per_group",
    oracle="""
    SELECT o_orderpriority, o_orderkey, o_totalprice, rn
    FROM (
        SELECT o_orderpriority, o_orderkey, o_totalprice,
               row_number() OVER (PARTITION BY o_orderpriority
                                  ORDER BY o_totalprice DESC, o_orderkey) AS rn
        FROM orders
    ) WHERE rn <= 5
    """,
)
def q_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group top-k (window rank ≤ k; AQE prunes the sort per group)."""
    o = _t(spark, sf_dir, "orders")
    w = W.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        o.select(
            "o_orderpriority",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).cast("bigint").alias("rn"),
        )
        .filter(F.col("rn") <= 5)
    )


@query(
    "q_grouping_sets",
    oracle="""
    SELECT coalesce(l_returnflag, '(all)') AS returnflag,
           coalesce(l_linestatus, '(all)') AS linestatus,
           GROUPING(l_returnflag, l_linestatus) AS gid,
           count(*) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(30,4))) AS DOUBLE) AS sum_qty
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP with grouping_id — Expand + single-pass aggregate."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.grouping_id().alias("gid"),
            F.count(F.lit(1)).alias("n"),
            dsum(F.col("l_quantity")).alias("sum_qty"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("(all)")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("(all)")).alias("linestatus"),
            "gid",
            "n",
            "sum_qty",
        )
    )


# ---------------------------------------------------------------------------
# Text analysis (north star; SURVEY.md §7 step 6)
# ---------------------------------------------------------------------------


@query(
    "q_text_tokens",
    oracle="""
    WITH tok AS (
        SELECT doc_id, unnest(string_split(lower(trim(text)), ' ')) AS token
        FROM documents
    )
    SELECT token,
           count(*) AS tf,
           count(DISTINCT doc_id) AS df
    FROM tok
    WHERE token <> ''
    GROUP BY token
    """,
)
def q_text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus term/document frequency via tokenize + explode."""
    from transitdata_hfp_deduplicator_spark.functions import text as TXT

    d = _t(spark, sf_dir, "documents")
    return (
        d.select("doc_id", F.explode(TXT.tokenize(F.col("text"))).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(
            F.count(F.lit(1)).alias("tf"),
            F.countDistinct("doc_id").alias("df"),
        )
    )


@query(
    "q_token_colloc",
    oracle="""
    WITH toks AS (
        SELECT doc_id, string_split(lower(trim(text)), ' ') AS ts
        FROM documents
    ),
    uni AS (
        SELECT t, count(*) AS c
        FROM (SELECT unnest(ts) AS t FROM toks)
        WHERE t <> '' GROUP BY t
    ),
    big AS (
        SELECT ts[i] AS t1, ts[i+1] AS t2, count(*) AS c12
        FROM toks, unnest(generate_series(1, len(ts) - 1)) AS u(i)
        WHERE ts[i] <> '' AND ts[i+1] <> ''
        GROUP BY 1, 2
    ),
    tot AS (
        SELECT CAST((SELECT sum(c) FROM uni) AS DOUBLE) AS t_total,
               CAST((SELECT sum(c12) FROM big) AS DOUBLE) AS b_total
    )
    SELECT t1, t2, c12, u1.c AS c1, u2.c AS c2,
           round((c12 / b_total) / ((u1.c / t_total) * (u2.c / t_total)), 6)
               AS lift
    FROM big
    JOIN uni u1 ON u1.t = big.t1
    JOIN uni u2 ON u2.t = big.t2
    CROSS JOIN tot
    WHERE c12 >= 5
    """,
)
def q_token_colloc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining (Church & Hanks association-style): adjacent
    bigram lift = p(t1,t2) / (p(t1)·p(t2)) over occurrence counts —
    lift >> 1 marks phrases ("new york"), lift << 1 marks
    anti-collocations.  Lift instead of log-PMI on purpose: +,-,*,/ are
    IEEE-exact-rounded and therefore bit-identical across engines,
    while ln() is implementation-defined in the last ulp and would
    break the oracle's value hash.

    Scale shape: bigrams come from zipping two shifted slices of the
    per-doc token array (no position explode, no self-join — the
    shingles() trick at multiplicity); unigram and bigram counting are
    two token-keyed partial-agg shuffles whose exchanges carry at most
    |vocab| and |vocab|² rows per task; the corpus totals are 1-row
    aggregates crossJoined back (never collected) and the unigram table
    broadcasts onto the bigram side twice.  The corpus itself is never
    shuffled — at 100 TB this is three scans' worth of map-side work
    and three tiny exchanges."""
    from transitdata_hfp_deduplicator_spark.functions import text as TXT

    d = _t(spark, sf_dir, "documents")
    toks = d.select(TXT.tokenize(F.col("text")).alias("ts"))
    uni = (
        toks.select(F.explode("ts").alias("t"))
        .filter(F.col("t") != "")
        .groupBy("t")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    length = F.size("ts") - 1
    pairs = F.zip_with(
        F.slice("ts", 1, length),
        F.slice("ts", 2, length),
        lambda x, y: F.struct(x.alias("t1"), y.alias("t2")),
    )
    big = (
        toks.select(F.explode(pairs).alias("p"))
        .select("p.t1", "p.t2")
        .filter((F.col("t1") != "") & (F.col("t2") != ""))
        .groupBy("t1", "t2")
        .agg(F.count(F.lit(1)).alias("c12"))
    )
    tot = uni.agg(F.sum("c").cast("double").alias("t_total")).crossJoin(
        big.agg(F.sum("c12").cast("double").alias("b_total"))
    )
    u1 = uni.select(F.col("t").alias("t1"), F.col("c").alias("c1"))
    u2 = uni.select(F.col("t").alias("t2"), F.col("c").alias("c2"))
    return (
        big.filter(F.col("c12") >= 5)
        .join(F.broadcast(u1), "t1")
        .join(F.broadcast(u2), "t2")
        .crossJoin(F.broadcast(tot))
        .select(
            "t1",
            "t2",
            "c12",
            "c1",
            "c2",
            F.round(
                (F.col("c12") / F.col("b_total"))
                / ((F.col("c1") / F.col("t_total")) * (F.col("c2") / F.col("t_total"))),
                6,
            ).alias("lift"),
        )
    )


@query(
    "q_corpus_drift",
    oracle="""
    WITH tok AS (
        SELECT doc_id % 2 AS snap,
               unnest(string_split(lower(trim(text)), ' ')) AS t
        FROM documents
    ),
    counts AS (
        SELECT t,
               CAST(count(*) FILTER (snap = 0) AS DOUBLE) AS ca,
               CAST(count(*) FILTER (snap = 1) AS DOUBLE) AS cb
        FROM tok WHERE t <> '' GROUP BY t
    ),
    tot AS (
        SELECT t, ca, cb,
               sum(ca) OVER () AS ta, sum(cb) OVER () AS tb
        FROM counts
    ),
    e AS (
        SELECT t, ca, cb, ta, tb,
               (ta * (ca + cb)) / (ta + tb) AS ea,
               (tb * (ca + cb)) / (ta + tb) AS eb
        FROM tot
    )
    SELECT t, CAST(ca AS BIGINT) AS count_a, CAST(cb AS BIGINT) AS count_b,
           round(ca / ta, 8) AS rate_a,
           round(cb / tb, 8) AS rate_b,
           round(((ca - ea) * (ca - ea)) / ea
                 + ((cb - eb) * (cb - eb)) / eb, 6) AS chi2
    FROM e
    """,
)
def q_corpus_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus drift detection — per-token chi-square between two corpus
    snapshots (here the deterministic doc_id-parity halves; in
    production, consecutive crawl dumps).  The monitoring step of a
    training-data pipeline: a token whose rate shifts between snapshots
    signals contamination, a crawler change, or genuine distribution
    drift BEFORE the corpus reaches training.  chi2 per token over the
    2x2 (token vs rest) x (snapshot A vs B) contingency; squares are
    spelled d*d (not pow) so the arithmetic is the IEEE-exact +,-,*,/
    subset that hashes identically across engines.

    Scale shape: ONE scan — both snapshots' counts come from the same
    token-keyed partial-agg exchange via conditional aggregates
    (count FILTER), never a self-join of two scans; corpus totals ride
    an empty-partition window over the |vocab|-row counts table (the
    inline comment below) because a totals AGGREGATE branch would plan
    a second corpus scan — verified: Spark does not ReuseExchange
    across the two branches, and the scan==1 pin in test_plans would
    fail.  The window moves |vocab| numeric rows through one task —
    the deliberate trade (bounded vocab transfer vs re-reading the
    corpus); at lake scale where even that bites, persist the counts
    table and take the 1-row aggregate off the cache."""
    from transitdata_hfp_deduplicator_spark.functions import text as TXT

    d = _t(spark, sf_dir, "documents")
    counts = (
        d.select(
            (F.col("doc_id") % 2).alias("snap"),
            F.explode(TXT.tokenize(F.col("text"))).alias("t"),
        )
        .filter(F.col("t") != "")
        .groupBy("t")
        .agg(
            F.count_if(F.col("snap") == 0).cast("double").alias("ca"),
            F.count_if(F.col("snap") == 1).cast("double").alias("cb"),
        )
    )
    # corpus totals as an empty-partition window over the |vocab|-row
    # counts table, NOT a second aggregate branch — the latter re-scans
    # the corpus (2 scans of the 100 TB table; pinned in test_plans).
    # Double sums of whole-number counts < 2^53 are exact in any order.
    wall = W.partitionBy()
    e = counts.withColumns(
        {"ta": F.sum("ca").over(wall), "tb": F.sum("cb").over(wall)}
    ).withColumns(
        {
            "ea": (F.col("ta") * (F.col("ca") + F.col("cb")))
            / (F.col("ta") + F.col("tb")),
            "eb": (F.col("tb") * (F.col("ca") + F.col("cb")))
            / (F.col("ta") + F.col("tb")),
        }
    )
    da, db = F.col("ca") - F.col("ea"), F.col("cb") - F.col("eb")
    return e.select(
        "t",
        F.col("ca").cast("long").alias("count_a"),
        F.col("cb").cast("long").alias("count_b"),
        F.round(F.col("ca") / F.col("ta"), 8).alias("rate_a"),
        F.round(F.col("cb") / F.col("tb"), 8).alias("rate_b"),
        F.round((da * da) / F.col("ea") + (db * db) / F.col("eb"), 6).alias(
            "chi2"
        ),
    )


@query(
    "q_text_stats",
    oracle="""
    SELECT lang,
           count(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(SUM(len(string_split(lower(trim(text)), ' '))) AS BIGINT) AS total_tokens,
           round(CAST(SUM(n_chars) AS DOUBLE) / count(*), 4) AS avg_chars,
           min(n_chars) AS min_chars,
           max(n_chars) AS max_chars
    FROM documents
    GROUP BY lang
    """,
)
def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus statistics."""
    from transitdata_hfp_deduplicator_spark.functions import text as TXT

    d = _t(spark, sf_dir, "documents")
    n = F.count(F.lit(1))
    return d.groupBy("lang").agg(
        n.alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.sum(TXT.token_count(F.col("text")).cast("bigint")).alias("total_tokens"),
        F.round(F.sum("n_chars") / n, 4).alias("avg_chars"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )


@query(
    "q_text_quality",
    oracle="""
    WITH q AS (
        SELECT doc_id, lang,
               len(string_split(lower(trim(text)), ' ')) AS n_tok,
               length(text) AS n_ch,
               length(regexp_replace(text, '[^A-Za-zÀ-ÿ]', '', 'g')) AS n_alpha,
               len(list_filter(string_split(lower(trim(text)), ' '),
                   t -> list_contains(['the','a','of','and','to','in','is','it','that','for'], t))) AS sw_hits
        FROM documents
    )
    SELECT doc_id, lang, n_tok,
           round(CAST(n_alpha AS DOUBLE) / nullif(n_ch, 0), 6) AS alpha_ratio,
           round(CAST(sw_hits AS DOUBLE) / nullif(n_tok, 0), 6) AS stopword_ratio,
           round(0.3 * (CASE WHEN n_tok BETWEEN 10 AND 10000 THEN 1.0 ELSE 0.25 END)
                 + 0.3 * coalesce(CAST(n_alpha AS DOUBLE) / nullif(n_ch, 0), 0.0)
                 + 0.2 * (CASE WHEN CAST(n_ch AS DOUBLE) / nullif(n_tok, 0)
                               BETWEEN 2.5 AND 12.0 THEN 1.0 ELSE 0.25 END)
                 + 0.2 * (CASE WHEN CAST(sw_hits AS DOUBLE) / nullif(n_tok, 0) > 0.01
                               THEN 1.0 ELSE 0.5 END), 6) AS quality
    FROM q
    """,
)
def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document quality scoring (length/alpha/stopword heuristics)."""
    from transitdata_hfp_deduplicator_spark.functions import text as TXT

    d = _t(spark, sf_dir, "documents")
    toks = TXT.tokenize(F.col("text"))
    return d.select(
        "doc_id",
        "lang",
        F.size(toks).cast("bigint").alias("n_tok"),
        F.round(
            F.length(F.regexp_replace("text", r"[^A-Za-zÀ-ÿ]", ""))
            / F.nullif(F.length("text"), F.lit(0)),
            6,
        ).alias("alpha_ratio"),
        F.round(TXT.stopword_ratio(toks, "en"), 6).alias("stopword_ratio"),
        TXT.quality_score(F.col("text")).alias("quality"),
    )


@query(
    "q_quality_funnel",
    oracle="""
    WITH q AS (
        SELECT len(string_split(lower(trim(text)), ' ')) AS n_tok,
               length(text) AS n_ch,
               length(regexp_replace(text, '[^A-Za-zÀ-ÿ]', '', 'g')) AS n_alpha,
               len(list_filter(string_split(lower(trim(text)), ' '),
                   t -> list_contains(['the','a','of','and','to','in','is','it','that','for'], t))) AS sw_hits
        FROM documents
    ),
    f AS (
        SELECT n_tok,
               (n_tok >= 30) AS s1,
               (n_tok >= 30
                AND round(CAST(n_alpha AS DOUBLE) / nullif(n_ch, 0), 6) >= 0.82) AS s2,
               (n_tok >= 30
                AND round(CAST(n_alpha AS DOUBLE) / nullif(n_ch, 0), 6) >= 0.82
                AND round(CAST(sw_hits AS DOUBLE) / nullif(n_tok, 0), 6) > 0.03) AS s3,
               (n_tok >= 30
                AND round(CAST(n_alpha AS DOUBLE) / nullif(n_ch, 0), 6) >= 0.82
                AND round(CAST(sw_hits AS DOUBLE) / nullif(n_tok, 0), 6) > 0.03
                AND round(0.3 * (CASE WHEN n_tok BETWEEN 10 AND 10000 THEN 1.0 ELSE 0.25 END)
                        + 0.3 * coalesce(CAST(n_alpha AS DOUBLE) / nullif(n_ch, 0), 0.0)
                        + 0.2 * (CASE WHEN CAST(n_ch AS DOUBLE) / nullif(n_tok, 0)
                                      BETWEEN 2.5 AND 12.0 THEN 1.0 ELSE 0.25 END)
                        + 0.2 * (CASE WHEN CAST(sw_hits AS DOUBLE) / nullif(n_tok, 0) > 0.01
                                      THEN 1.0 ELSE 0.5 END), 6) >= 0.947) AS s4
        FROM q
    ),
    a AS (
        SELECT count(*) AS n0, sum(n_tok) AS t0,
               count(*) FILTER (s1) AS n1, coalesce(sum(n_tok) FILTER (s1), 0) AS t1,
               count(*) FILTER (s2) AS n2, coalesce(sum(n_tok) FILTER (s2), 0) AS t2,
               count(*) FILTER (s3) AS n3, coalesce(sum(n_tok) FILTER (s3), 0) AS t3,
               count(*) FILTER (s4) AS n4, coalesce(sum(n_tok) FILTER (s4), 0) AS t4
        FROM f
    )
    SELECT 0 AS stage, 'all' AS stage_name, n0 AS n_docs,
           CAST(t0 AS BIGINT) AS n_tokens,
           round(CAST(n0 AS DOUBLE) / n0, 6) AS doc_share FROM a
    UNION ALL SELECT 1, 'min_length', n1, CAST(t1 AS BIGINT),
           round(CAST(n1 AS DOUBLE) / n0, 6) FROM a
    UNION ALL SELECT 2, 'alpha_ratio', n2, CAST(t2 AS BIGINT),
           round(CAST(n2 AS DOUBLE) / n0, 6) FROM a
    UNION ALL SELECT 3, 'stopwords', n3, CAST(t3 AS BIGINT),
           round(CAST(n3 AS DOUBLE) / n0, 6) FROM a
    UNION ALL SELECT 4, 'quality', n4, CAST(t4 AS BIGINT),
           round(CAST(n4 AS DOUBLE) / n0, 6) FROM a
    """,
)
def q_quality_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-filter FUNNEL (the C4/Gopher-style cascade audit): the
    cumulative filter ladder min_length → alpha_ratio → stopwords →
    quality, reported as per-stage survivor counts, token counts, and
    corpus share — the first table a training-data pipeline owner asks
    for before committing a filter config.

    Scale shape: every stage flag is a pure column over ONE scan; the
    whole funnel collapses map-side into a single 10-value aggregate
    row (conditional sums), then explodes into 5 tiny stage rows — no
    per-stage rescans, no shuffle of document rows, 100 TB cost = one
    pass."""
    from transitdata_hfp_deduplicator_spark.functions import text as TXT

    d = _t(spark, sf_dir, "documents")
    toks = TXT.tokenize(F.col("text"))
    n_tok = F.size(toks)
    alpha = F.round(
        F.length(F.regexp_replace("text", r"[^A-Za-zÀ-ÿ]", ""))
        / F.nullif(F.length("text"), F.lit(0)),
        6,
    )
    sw = F.round(TXT.stopword_ratio(toks, "en"), 6)
    qual = TXT.quality_score(F.col("text"))
    flags = d.select(
        n_tok.alias("n_tok"),
        (n_tok >= 30).alias("s1"),
        ((n_tok >= 30) & (alpha >= 0.82)).alias("s2"),
        ((n_tok >= 30) & (alpha >= 0.82) & (sw > 0.03)).alias("s3"),
        (
            (n_tok >= 30) & (alpha >= 0.82) & (sw > 0.03) & (qual >= 0.947)
        ).alias("s4"),
    )

    def _n(flag):
        return F.sum(F.when(F.col(flag), 1).otherwise(0))

    def _t_(flag):
        return F.sum(F.when(F.col(flag), F.col("n_tok")).otherwise(0))

    a = flags.agg(
        F.count(F.lit(1)).alias("n0"),
        F.sum("n_tok").alias("t0"),
        _n("s1").alias("n1"),
        _t_("s1").alias("t1"),
        _n("s2").alias("n2"),
        _t_("s2").alias("t2"),
        _n("s3").alias("n3"),
        _t_("s3").alias("t3"),
        _n("s4").alias("n4"),
        _t_("s4").alias("t4"),
    )
    stages = F.array(
        *[
            F.struct(
                F.lit(i).alias("stage"),
                F.lit(name).alias("stage_name"),
                F.col(f"n{i}").alias("n_docs"),
                F.col(f"t{i}").cast("bigint").alias("n_tokens"),
            )
            for i, name in enumerate(
                ["all", "min_length", "alpha_ratio", "stopwords", "quality"]
            )
        ]
    )
    return (
        a.select(F.col("n0"), F.explode(stages).alias("s"))
        .select(
            F.col("s.stage").alias("stage"),
            F.col("s.stage_name").alias("stage_name"),
            F.col("s.n_docs").alias("n_docs"),
            F.col("s.n_tokens").alias("n_tokens"),
            F.round(F.col("s.n_docs") / F.col("n0"), 6).alias("doc_share"),
        )
    )


@query(
    "q_text_fingerprint",
    oracle="""
    SELECT md5(text) AS fp, count(*) AS n_docs, min(doc_id) AS first_doc
    FROM documents
    GROUP BY md5(text)
    """,
)
def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content fingerprinting + exact-duplicate grouping on the digest —
    the documents-table analog of the reference's payload hash (A4)."""
    from transitdata_hfp_deduplicator_spark.functions import text as TXT

    d = _t(spark, sf_dir, "documents")
    return (
        d.select(TXT.fingerprint(F.col("text"), "md5").alias("fp"), "doc_id")
        .groupBy("fp")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("first_doc"))
    )


@query(
    "q_text_winnow",
    oracle="""
    WITH g AS (
        SELECT doc_id, p,
               (('0x' || substr(md5('13|' || substr(t, p, 8)), 1, 10))::BIGINT
                * 1048576) + (1048575 - p) AS key,
               n_grams
        FROM (
            SELECT doc_id, lower(trim(text)) AS t,
                   len(lower(trim(text))) - 7 AS n_grams
            FROM documents
            WHERE len(lower(trim(text))) >= 8
        ), unnest(generate_series(1, n_grams)) AS u(p)
    ),
    k AS (
        SELECT doc_id, p, n_grams,
               min(key) OVER (PARTITION BY doc_id ORDER BY p
                              ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wk
        FROM g
    )
    SELECT DISTINCT doc_id,
           CAST(1048575 - (wk & 1048575) AS INT) AS pos,
           wk >> 20 AS fp_hash
    FROM k
    WHERE p <= n_grams - 3
    """,
)
def q_text_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (Schleimer et al., SIGMOD'03 —
    the MOSS local-fingerprinting algorithm): hash every 8-char gram,
    slide a 4-gram window, keep each window's minimum (ties →
    rightmost), dedup selected positions.  Guarantees every shared
    substring of length ≥ k+w-1 = 11 contributes a shared fingerprint —
    the LOCAL analog of q_text_fingerprint's whole-doc digest, and the
    standard sub-document copy detector at corpus scale.

    Plan shape: posexplode grams (narrow), ONE window exchange keyed by
    doc (each doc's grams sort locally — no global sort), distinct on
    the selected set.  The (hash, rightmost-pos) argmin rides ONE
    packed BIGINT — 40-bit gram hash << 20 | inverted position — so the
    frame min stays numeric codegen (a zero-padded string key measured
    2.4x slower); 20 position bits cap docs at 1M grams — chunk longer
    docs first (q_doc_chunks), exactly as a production pipeline would."""
    from transitdata_hfp_deduplicator_spark.tables import spread

    # spread(): the per-gram md5 below is the dominant map cost, and a
    # single-file scan plans as ONE split — serialized on one core
    # without it (guide §2.5; the window exchange only parallelizes
    # everything AFTER the hash)
    d = (
        spread(_t(spark, sf_dir, "documents").select("doc_id", "text"))
        .select("doc_id", F.lower(F.trim(F.col("text"))).alias("t"))
        .filter(F.length("t") >= 8)
        .withColumn("n_grams", F.length("t") - 7)
    )
    g = d.select(
        "doc_id",
        "n_grams",
        "t",
        F.posexplode(F.sequence(F.lit(1), F.col("n_grams"))).alias("_i", "p"),
    ).select(
        "doc_id",
        "n_grams",
        "p",
        (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat_ws(
                            "|", F.lit("13"), F.col("t").substr(F.col("p"), F.lit(8))
                        ).cast("binary")
                    ),
                    1,
                    10,
                ),
                16,
                10,
            ).cast("bigint")
            * F.lit(1048576)
            + (F.lit(1048575) - F.col("p"))
        ).alias("key"),
    )
    w = W.partitionBy("doc_id").orderBy("p").rowsBetween(W.currentRow, 3)
    k = g.select(
        "doc_id", "p", "n_grams", F.min("key").over(w).alias("wk")
    ).filter(F.col("p") <= F.col("n_grams") - 3)
    # a gram is the window min over a CONSECUTIVE run of window starts
    # (windows p1<p2<p3 containing gram q satisfy win(p2) ⊆ win(p1) ∪
    # win(p3), so min at p1 and p3 forces min at p2) — lag-dedup over
    # the SAME (doc, p) partitioning therefore equals DISTINCT, without
    # the second shuffle a distinct would add (the oracle keeps the
    # independent DISTINCT formulation).
    run = k.withColumn(
        "prev", F.lag("wk").over(W.partitionBy("doc_id").orderBy("p"))
    ).filter(F.col("prev").isNull() | (F.col("wk") != F.col("prev")))
    return run.select(
        "doc_id",
        (F.lit(1048575) - F.col("wk").bitwiseAND(F.lit(1048575))).cast("int").alias("pos"),
        F.shiftright("wk", 20).alias("fp_hash"),
    )


@query(
    "q_winnow_pairs",
    oracle="""
    WITH g AS (
        SELECT doc_id, p,
               (('0x' || substr(md5('13|' || substr(t, p, 8)), 1, 10))::BIGINT
                * 1048576) + (1048575 - p) AS key,
               n_grams
        FROM (
            SELECT doc_id, lower(trim(text)) AS t,
                   len(lower(trim(text))) - 7 AS n_grams
            FROM documents
            WHERE len(lower(trim(text))) >= 8
        ), unnest(generate_series(1, n_grams)) AS u(p)
    ),
    k AS (
        SELECT doc_id, p, n_grams,
               min(key) OVER (PARTITION BY doc_id ORDER BY p
                              ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wk
        FROM g
    ),
    fp AS (
        SELECT DISTINCT doc_id, wk >> 20 AS fp_hash
        FROM k WHERE p <= n_grams - 3
    ),
    keep AS (SELECT fp_hash FROM fp GROUP BY fp_hash HAVING count(*) <= 20),
    pairs AS (
        SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS shared_fps
        FROM fp a JOIN keep USING (fp_hash) JOIN fp b USING (fp_hash)
        WHERE a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT i, j, CAST(shared_fps AS BIGINT) AS shared_fps
    FROM pairs WHERE shared_fps >= 3
    """,
)
def q_winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS-style copy detection over winnowing fingerprints: document
    pairs sharing >= 3 selected fingerprints (each implies a shared
    >= 11-char substring).  Completes the winnowing family: local
    fingerprints (q_text_winnow) -> cross-corpus match pairs.

    Scale shape: the same inverted-index discipline as the Jaccard
    family — distinct (doc, fp) postings, boilerplate fingerprints
    (df > 20) dropped BEFORE pairing (one degenerate fingerprint would
    emit a quadratic bucket), ordered pairs from per-fingerprint
    posting lists under one fp-keyed exchange."""
    fps = (
        q_text_winnow(spark, sf_dir)
        .select("doc_id", "fp_hash")
        .distinct()
    )
    buckets = (
        fps.groupBy("fp_hash")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("ds"))
        .filter((F.size("ds") > 1) & (F.size("ds") <= 20))
    )
    pair_struct = F.expr(
        "flatten(transform(ds, (x, ix) -> "
        "transform(slice(ds, ix + 2, size(ds) - ix - 1), y -> struct(x as i, y as j))))"
    )
    return (
        buckets.select(F.explode(pair_struct).alias("p"))
        .select("p.i", "p.j")
        .groupBy("i", "j")
        .agg(F.count(F.lit(1)).alias("shared_fps"))
        .filter(F.col("shared_fps") >= 3)
    )


@query(
    "q_dedup_substring",
    oracle="""
    WITH norm AS (
        SELECT doc_id, lower(trim(text)) AS t FROM documents
        WHERE len(lower(trim(text))) >= 20
    ),
    g AS (
        SELECT DISTINCT doc_id,
               ('0x' || substr(md5(substr(t, p, 20)), 1, 15))::BIGINT AS h
        FROM norm, unnest(generate_series(1, len(t) - 19)) AS u(p)
        WHERE ('0x' || substr(md5(substr(t, p, 20)), 1, 15))::BIGINT % 4 = 0
    ),
    keep AS (SELECT h FROM g GROUP BY h HAVING count(*) BETWEEN 2 AND 20),
    pairs AS (
        SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS shared
        FROM g a JOIN keep USING (h) JOIN g b USING (h)
        WHERE a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    dups AS (
        SELECT j AS doc_id, min(i) AS dup_of,
               CAST(max(shared) AS BIGINT) AS shared_grams
        FROM pairs GROUP BY j
    )
    SELECT d.doc_id, u.doc_id IS NOT NULL AS is_dup, u.dup_of, u.shared_grams
    FROM documents d LEFT JOIN dups u USING (doc_id)
    """,
)
def q_dedup_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup (Lee et al. 2022, "Deduplicating Training
    Data Makes Language Models Better" — the ExactSubstr family):
    documents sharing a long EXACT character run, detected via
    content-defined k-gram selection instead of the paper's suffix
    array (which needs a global sort of every byte — the one shape a
    1000-executor shuffle should not do when a screen suffices).

    Recipe: normalize (lower/trim), hash every 20-char gram (md5-prefix
    bigint — engine-independent like the MinHash family), KEEP the
    grams with hash % 4 == 0.  Selection depends only on gram CONTENT,
    so two documents sharing any substring select identical grams
    inside the shared region regardless of alignment — the property
    stride sampling lacks and winnowing gets from window-mins.  A
    shared run of length L >= 20 carries its selected grams into both
    docs; expected selected count (L-19)/4, so runs of ~40+ chars are
    caught with near-certainty and every detection certifies an exact
    >= 20-char match (no verification pass needed — gram equality IS
    the certificate, modulo 60-bit hash collision).

    Verdict per doc (keep-min-id, as the whole dedup family):
    is_dup iff a lower-id doc shares a selected gram; dup_of = min such
    partner; shared_grams = max shared-gram count over partners.

    Scale shape: the same inverted-index discipline as q_winnow_pairs —
    positions explode NARROW and the md5 runs as a TOP-LEVEL column
    (whole-stage codegen; the same hash inside a transform() HOF is
    CodegenFallback — interpreted per gram, measured 5.8s vs 4.2s warm
    at sf0.1 for this query, 10.1s vs ~6s cold), per-doc gram dedup
    rides the h-keyed exchange's map-side partial collect_set (a
    separate distinct() would add a second full shuffle),
    boilerplate grams (df > 20) dropped before
    pairing, posting lists pair under ONE gram-keyed exchange.  The
    shuffle carries (60-bit hash, doc_id) postings at ~1/4 gram
    density — linear in corpus bytes, never quadratic."""
    from transitdata_hfp_deduplicator_spark.operators.substring import (
        bucket_pairs,
        char_gram_postings,
        gram_buckets,
        normalize_text,
    )

    d = normalize_text(_t(spark, sf_dir, "documents"))
    postings = char_gram_postings(d)
    buckets = gram_buckets(postings)
    dups = (
        bucket_pairs(buckets)
        .groupBy("i", "j")
        .agg(F.count(F.lit(1)).alias("shared"))
        .groupBy(F.col("j").alias("doc_id"))
        .agg(
            F.min("i").alias("dup_of"),
            F.max("shared").alias("shared_grams"),
        )
    )
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    return docs.join(dups, "doc_id", "left").select(
        "doc_id",
        F.col("dup_of").isNotNull().alias("is_dup"),
        "dup_of",
        "shared_grams",
    )


@query(
    "q_dedup_ladder",
    oracle="""
    WITH norm AS (SELECT doc_id, lower(trim(text)) AS t FROM documents),
    ex AS (
        SELECT doc_id FROM (
            SELECT doc_id, min(doc_id) OVER (PARTITION BY md5(t)) AS f
            FROM norm
        ) WHERE doc_id > f
    ),
    sh AS (
        SELECT doc_id,
               list_distinct([tokens[i] || ' ' || tokens[i+1] || ' ' || tokens[i+2]
                              for i in range(1, len(tokens) - 1)]) AS shingles
        FROM (SELECT doc_id, string_split(t, ' ') AS tokens FROM norm)
        WHERE len(tokens) >= 3
    ),
    mh AS MATERIALIZED (
        SELECT doc_id, shingles,
               [list_min(list_transform(shingles,
                    s -> (('0x' || substr(md5(s), 1, 15))::BIGINT
                          + k * (('0x' || substr(md5(s), 17, 15))::BIGINT
                                 % 288230376151711744))
                         & 576460752303423487))
                for k in range(0, 16)] AS sig
        FROM sh
    ),
    ids AS (
        SELECT a.doc_id AS i, b.doc_id AS j FROM mh a JOIN mh b ON a.sig[1] = b.sig[1] AND a.sig[2] = b.sig[2] AND a.doc_id < b.doc_id
            UNION
            SELECT a.doc_id AS i, b.doc_id AS j FROM mh a JOIN mh b ON a.sig[3] = b.sig[3] AND a.sig[4] = b.sig[4] AND a.doc_id < b.doc_id
            UNION
            SELECT a.doc_id AS i, b.doc_id AS j FROM mh a JOIN mh b ON a.sig[5] = b.sig[5] AND a.sig[6] = b.sig[6] AND a.doc_id < b.doc_id
            UNION
            SELECT a.doc_id AS i, b.doc_id AS j FROM mh a JOIN mh b ON a.sig[7] = b.sig[7] AND a.sig[8] = b.sig[8] AND a.doc_id < b.doc_id
            UNION
            SELECT a.doc_id AS i, b.doc_id AS j FROM mh a JOIN mh b ON a.sig[9] = b.sig[9] AND a.sig[10] = b.sig[10] AND a.doc_id < b.doc_id
            UNION
            SELECT a.doc_id AS i, b.doc_id AS j FROM mh a JOIN mh b ON a.sig[11] = b.sig[11] AND a.sig[12] = b.sig[12] AND a.doc_id < b.doc_id
            UNION
            SELECT a.doc_id AS i, b.doc_id AS j FROM mh a JOIN mh b ON a.sig[13] = b.sig[13] AND a.sig[14] = b.sig[14] AND a.doc_id < b.doc_id
            UNION
            SELECT a.doc_id AS i, b.doc_id AS j FROM mh a JOIN mh b ON a.sig[15] = b.sig[15] AND a.sig[16] = b.sig[16] AND a.doc_id < b.doc_id
    ),
    nearj AS (
        SELECT DISTINCT ids.j AS doc_id
        FROM ids JOIN mh a ON ids.i = a.doc_id JOIN mh b ON ids.j = b.doc_id
        WHERE round(len(list_intersect(a.shingles, b.shingles)) * 1.0
                    / len(list_distinct(a.shingles || b.shingles)), 6) >= 0.5
    ),
    g AS (
        SELECT DISTINCT doc_id,
               ('0x' || substr(md5(substr(t, p, 20)), 1, 15))::BIGINT AS h
        FROM (SELECT * FROM norm WHERE len(t) >= 20),
             unnest(generate_series(1, len(t) - 19)) AS u(p)
        WHERE ('0x' || substr(md5(substr(t, p, 20)), 1, 15))::BIGINT % 4 = 0
    ),
    keep AS (SELECT h FROM g GROUP BY h HAVING count(*) BETWEEN 2 AND 20),
    subj AS (
        SELECT DISTINCT b.doc_id
        FROM g a JOIN keep USING (h) JOIN g b USING (h)
        WHERE a.doc_id < b.doc_id
    ),
    r AS (
        SELECT n.doc_id,
               CASE WHEN e.doc_id IS NOT NULL THEN 1
                    WHEN m.doc_id IS NOT NULL THEN 2
                    WHEN s.doc_id IS NOT NULL THEN 3 END AS rung
        FROM norm n
        LEFT JOIN ex e USING (doc_id)
        LEFT JOIN nearj m ON m.doc_id = n.doc_id
        LEFT JOIN subj s ON s.doc_id = n.doc_id
    ),
    a AS (
        SELECT count(*) AS total,
               count(*) FILTER (rung = 1) AS c1,
               count(*) FILTER (rung = 2) AS c2,
               count(*) FILTER (rung = 3) AS c3
        FROM r
    )
    SELECT 1 AS rung, 'exact' AS rung_name, c1 AS caught,
           c1 AS cumulative, total - c1 AS survivors FROM a
    UNION ALL SELECT 2, 'near_text', c2, c1 + c2, total - c1 - c2 FROM a
    UNION ALL SELECT 3, 'substring', c3, c1 + c2 + c3,
           total - c1 - c2 - c3 FROM a
    """,
)
def q_dedup_ladder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup LADDER as one funnel: exact (rung 1) → near-text
    MinHash-LSH (rung 2) → exact-substring (rung 3), each document
    attributed to the FIRST rung that catches it (keep-min-id at every
    rung) — the summary a pipeline owner reads to decide which rungs
    pay for themselves on a corpus.  Composes the three verified text
    rungs; the fourth (semantic, q_dedup_semantic) lives on the
    embeddings table.

    Scale shape: each rung is its own verified linear plan (fingerprint
    groupBy / banded LSH / gram inverted index); attribution is three
    left joins of tiny dup-id sets onto the doc-id spine and ONE
    4-value conditional-sum aggregate."""
    from transitdata_hfp_deduplicator_spark.operators.similarity import (
        minhash_lsh_pairs,
    )

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", F.lower(F.trim(F.col("text"))).alias("t")
    )
    fp = d.select("doc_id", F.md5(F.col("t").cast("binary")).alias("fp"))
    exact = (
        fp.join(
            fp.groupBy("fp").agg(F.min("doc_id").alias("first_id")), "fp"
        )
        .filter(F.col("doc_id") > F.col("first_id"))
        .select("doc_id", F.lit(1).alias("r1"))
    )
    near = (
        minhash_lsh_pairs(
            _t(spark, sf_dir, "documents"),
            "doc_id",
            "text",
            shingle_n=3,
            num_hashes=16,
            bands=8,
            threshold=0.5,
        )
        .select(F.col("j").alias("doc_id"))
        .distinct()
        .withColumn("r2", F.lit(1))
    )
    sub = (
        q_dedup_substring(spark, sf_dir)
        .filter(F.col("is_dup"))
        .select("doc_id", F.lit(1).alias("r3"))
    )
    rungs = (
        d.select("doc_id")
        .join(exact, "doc_id", "left")
        .join(near, "doc_id", "left")
        .join(sub, "doc_id", "left")
        .select(
            F.when(F.col("r1").isNotNull(), 1)
            .when(F.col("r2").isNotNull(), 2)
            .when(F.col("r3").isNotNull(), 3)
            .alias("rung")
        )
    )
    a = rungs.agg(
        F.count(F.lit(1)).alias("total"),
        F.sum(F.when(F.col("rung") == 1, 1).otherwise(0)).alias("c1"),
        F.sum(F.when(F.col("rung") == 2, 1).otherwise(0)).alias("c2"),
        F.sum(F.when(F.col("rung") == 3, 1).otherwise(0)).alias("c3"),
    )
    stages = F.array(
        *[
            F.struct(
                F.lit(i).alias("rung"),
                F.lit(name).alias("rung_name"),
                F.col(f"c{i}").alias("caught"),
                sum((F.col(f"c{j}") for j in range(1, i + 1)), F.lit(0)).alias(
                    "cumulative"
                ),
            )
            for i, name in [(1, "exact"), (2, "near_text"), (3, "substring")]
        ]
    )
    return a.select(F.col("total"), F.explode(stages).alias("s")).select(
        F.col("s.rung").alias("rung"),
        F.col("s.rung_name").alias("rung_name"),
        F.col("s.caught").alias("caught"),
        F.col("s.cumulative").alias("cumulative"),
        (F.col("total") - F.col("s.cumulative")).alias("survivors"),
    )


@query(
    "q_text_scrub",
    oracle="""
    WITH dirty AS (
      SELECT doc_id,
             text || ' contact user' || CAST(doc_id AS VARCHAR)
                  || '@mail.example.com via https://ex.org/d/'
                  || CAST(doc_id AS VARCHAR) || '?u=a@b.co or +3581234'
                  || CAST(doc_id AS VARCHAR) AS dirty
      FROM documents
    )
    SELECT doc_id,
           regexp_replace(
             regexp_replace(
               regexp_replace(dirty, 'https?://[^\\s]+', '<URL>', 'g'),
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             '\\+[0-9]{7,14}', '<PHONE>', 'g') AS clean,
           length(dirty) AS n_dirty
    FROM dirty
    """,
)
def q_text_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-corpus PII scrubbing (URL/email/intl-phone → placeholder
    tokens) — a pure regexp_replace chain, whole-stage codegen, no
    Python.  The corpus is synthetic word-soup with no organic PII, so
    the query plants deterministic doc_id-derived PII (an email inside
    a URL query string among it — the case that forces URL-before-email
    scrub order) and hash-checks the scrubbed text against DuckDB
    running the same RE2-compatible patterns."""
    from transitdata_hfp_deduplicator_spark.functions import text as TXT

    d = _t(spark, sf_dir, "documents")
    sid = F.col("doc_id").cast("string")
    dirty = F.concat(
        F.col("text"),
        F.lit(" contact user"), sid,
        F.lit("@mail.example.com via https://ex.org/d/"), sid,
        F.lit("?u=a@b.co or +3581234"), sid,
    )
    return d.select(
        "doc_id",
        TXT.scrub_pii(dirty).alias("clean"),
        F.length(dirty).cast("long").alias("n_dirty"),
    )


@query(
    "q_doc_chunks",
    oracle="""
    WITH base AS (
      SELECT doc_id, text,
             CASE WHEN length(text) <= 200 THEN 1
                  ELSE CAST(ceil((length(text) - 200) / 150.0) AS BIGINT) + 1
             END AS nc
      FROM documents
    )
    , ex AS (
      SELECT doc_id, text, unnest(range(0, nc)) AS i FROM base
    )
    SELECT doc_id,
           i AS chunk_idx,
           substr(text, CAST(i * 150 + 1 AS BIGINT), 200) AS chunk,
           length(substr(text, CAST(i * 150 + 1 AS BIGINT), 200)) AS n_chars
    FROM ex
    """,
)
def q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping fixed-width document chunking (window 200 chars,
    stride 150) — the LLM-training document-splitting primitive.  One
    array-build + posexplode per doc, O(n_chunks) substring copies, all
    in codegen; the chunk table inherits the scan's partitioning (no
    shuffle at any scale)."""
    from transitdata_hfp_deduplicator_spark.functions import text as TXT

    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.posexplode(TXT.chunk_text(F.col("text"), 200, 150)).alias(
            "chunk_idx", "chunk"
        ),
    ).select(
        "doc_id",
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        "chunk",
        F.length("chunk").cast("long").alias("n_chars"),
    )


def _bpe_iter_sql(i: int) -> str:
    """One BPE iteration as DuckDB CTEs — generated, like the engine's
    loop (operators/bpe.py), so oracle and engine stay structurally
    identical iteration-for-iteration."""
    return f"""
    pairs{i} AS (
        SELECT a, b, count(*) AS c
        FROM (SELECT tok AS a,
                     lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS b
              FROM tok{i})
        WHERE b IS NOT NULL GROUP BY a, b
    ),
    win{i} AS (SELECT a, b, c FROM pairs{i} ORDER BY c DESC, a, b LIMIT 1),
    st{i} AS (
        SELECT t.doc_id, t.pos, t.tok, w.a, w.b,
               CASE WHEN t.tok = w.a
                     AND lead(t.tok) OVER (PARTITION BY t.doc_id
                                           ORDER BY t.pos) = w.b
                    THEN 1 ELSE 0 END AS m
        FROM tok{i} t CROSS JOIN win{i} w
    ),
    isl{i} AS (
        SELECT *, pos - row_number() OVER (PARTITION BY doc_id, m
                                           ORDER BY pos) AS grp
        FROM st{i}
    ),
    tk{i} AS (
        SELECT doc_id, pos, tok, m,
               CASE WHEN m = 1
                     AND row_number() OVER (PARTITION BY doc_id, grp, m
                                            ORDER BY pos) % 2 = 1
                    THEN 1 ELSE 0 END AS taken
        FROM isl{i}
    ),
    nx{i} AS (
        SELECT doc_id, pos, tok, taken,
               lag(taken) OVER (PARTITION BY doc_id ORDER BY pos)
                   AS prev_taken,
               lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
        FROM tk{i}
    ),
    tok{i + 1} AS (
        SELECT doc_id,
               row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS pos,
               CASE WHEN taken = 1 THEN tok || nxt ELSE tok END AS tok
        FROM nx{i}
        WHERE coalesce(prev_taken, 0) = 0
    )"""


@query(
    "q_bpe_merges",
    oracle=f"""
    WITH tok1 AS (
        SELECT doc_id, p AS pos, substr(t, CAST(p AS INTEGER), 1) AS tok
        FROM (SELECT doc_id, lower(trim(text)) AS t FROM documents
              WHERE len(lower(trim(text))) >= 1),
             unnest(generate_series(1, least(len(t), 200))) AS u(p)
    ),
    {",".join(_bpe_iter_sql(i) for i in (1, 2, 3))}
    SELECT 1 AS iter, a AS lhs, b AS rhs, a || b AS merged,
           CAST(c AS BIGINT) AS pair_n,
           (SELECT count(*) FROM tok2) AS tokens_after FROM win1
    UNION ALL
    SELECT 2, a, b, a || b, CAST(c AS BIGINT),
           (SELECT count(*) FROM tok3) FROM win2
    UNION ALL
    SELECT 3, a, b, a || b, CAST(c AS BIGINT),
           (SELECT count(*) FROM tok4) FROM win3
    """,
)
def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer training, 3 merge iterations (Sennrich et al.
    2016) — count adjacent symbol pairs corpus-wide, merge the top pair
    everywhere with greedy left-to-right non-overlap semantics (the
    exact behavior of a sequential BPE trainer), repeat.  Returns the
    merge table — the artifact a tokenizer ships.

    Distributed shape (operators/bpe.py): the corpus lives at
    (doc_id, pos, tok) grain, repartitioned by doc_id ONCE — every
    window in every iteration reuses that exchange (their partition
    keys all start with doc_id); per-iteration shuffles carry only
    |pair-vocab| count rows; the winning pair is a TakeOrderedAndProject
    crossJoin-broadcast back, never collected.  3 iterations and a
    200-char cap are config; the iteration is the operator."""
    from transitdata_hfp_deduplicator_spark.operators.bpe import (
        char_tokens,
        train_merges,
    )

    d = _t(spark, sf_dir, "documents")
    return train_merges(char_tokens(d, cap=200), iters=3)


@query(
    "q_bpe_encode",
    oracle=f"""
    WITH tok1 AS (
        SELECT doc_id, p AS pos, substr(t, CAST(p AS INTEGER), 1) AS tok
        FROM (SELECT doc_id, lower(trim(text)) AS t FROM documents
              WHERE len(lower(trim(text))) >= 1),
             unnest(generate_series(1, least(len(t), 200))) AS u(p)
    ),
    {",".join(_bpe_iter_sql(i) for i in (1, 2, 3))}
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
           string_agg(CASE WHEN pos <= 8 THEN tok END, '|' ORDER BY pos)
               AS head
    FROM tok4 GROUP BY doc_id
    """,
)
def q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE ENCODE — tokenizer application, the pipeline's actual
    100 TB hot path (training runs once on a sample; encoding touches
    every pretraining byte): train 3 merges (q_bpe_merges's loop) and
    read the encoded corpus off the trainer's final token table, which
    IS ``apply_merges(toks, merges, 3)`` — greedy rank-order merge
    application is exactly what each training iteration performed, an
    equivalence pinned executably by
    tests/test_bpe.py::test_apply_merges_reproduces_trainer_final_state
    and by the oracle below (its tok4 chain re-derives training AND
    application in one).  Re-running the 3 encode passes from the raw
    scan inside the same query recomputed a table the trainer had
    already materialized (guide §1.2: don't compute things twice) —
    measured 8.3s -> ~4s at sf0.1.  The held-out-corpus encode path
    (the shape a 100 TB deployment runs, where train and encode inputs
    differ) stays exercised by
    tests/test_bpe.py::test_apply_merges_encodes_held_out_docs.

    Per doc: encoded token count + the first 8 tokens (pipe-joined) —
    enough to hash-pin every merge's effect on every document."""
    from transitdata_hfp_deduplicator_spark.operators.bpe import (
        char_tokens,
        train_merges,
    )

    d = _t(spark, sf_dir, "documents")
    toks = char_tokens(d, cap=200)
    _merges, enc = train_merges(toks, iters=3, keep_final=True)
    return enc.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.array_join(
            F.slice(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                    lambda st: st.tok,
                ),
                1,
                8,
            ),
            "|",
        ).alias("head"),
    )


@query(
    "q_corpus_prep",
    oracle="""
    WITH q AS (
        SELECT doc_id, lang, text,
               len(string_split(lower(trim(text)), ' ')) AS n_tok,
               length(text) AS n_ch,
               length(regexp_replace(text, '[^A-Za-zÀ-ÿ]', '', 'g')) AS n_alpha,
               len(list_filter(string_split(lower(trim(text)), ' '),
                   t -> list_contains(['the','a','of','and','to','in','is','it','that','for'], t))) AS sw_hits
        FROM documents
    ), scored AS (
        SELECT doc_id, lang, text,
               round(0.3 * (CASE WHEN n_tok BETWEEN 10 AND 10000 THEN 1.0 ELSE 0.25 END)
                     + 0.3 * coalesce(CAST(n_alpha AS DOUBLE) / nullif(n_ch, 0), 0.0)
                     + 0.2 * (CASE WHEN CAST(n_ch AS DOUBLE) / nullif(n_tok, 0)
                                   BETWEEN 2.5 AND 12.0 THEN 1.0 ELSE 0.25 END)
                     + 0.2 * (CASE WHEN CAST(sw_hits AS DOUBLE) / nullif(n_tok, 0) > 0.01
                                   THEN 1.0 ELSE 0.5 END), 6) AS quality
        FROM q
    ), kept AS (
        SELECT * FROM scored WHERE quality >= 0.945
    ), uniq AS (
        SELECT min(doc_id) AS doc_id,
               arg_min(lang, doc_id) AS lang,
               arg_min(text, doc_id) AS text
        FROM kept
        GROUP BY md5(text)
    ), base AS (
        SELECT doc_id, lang, text,
               CASE WHEN length(text) <= 200 THEN 1
                    ELSE CAST(ceil((length(text) - 200) / 150.0) AS BIGINT) + 1
               END AS nc
        FROM uniq
    ), ex AS (
        SELECT doc_id, lang, text, unnest(range(0, nc)) AS i FROM base
    )
    SELECT doc_id, lang, i AS chunk_idx,
           substr(text, CAST(i * 150 + 1 AS BIGINT), 200) AS chunk
    FROM ex
    """,
)
def q_corpus_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END training-corpus preparation — the operators composing
    as a real pipeline: quality filter (drop the bottom half by the
    length/alpha/stopword score) → exact dedup on the content digest
    (first doc_id wins, grouping by the fixed-width md5 so the shuffle
    key is 16 bytes however long the documents are) → overlapping
    chunking (200/150).  Every stage is individually oracle-checked
    elsewhere (q_text_quality, q_text_fingerprint, q_doc_chunks); this
    query hash-checks their composition."""
    from transitdata_hfp_deduplicator_spark.functions import text as TXT

    d = _t(spark, sf_dir, "documents")
    kept = d.filter(TXT.quality_score(F.col("text")) >= 0.945)
    uniq = (
        kept.groupBy(TXT.fingerprint(F.col("text"), "md5").alias("fp"))
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.min_by("lang", "doc_id").alias("lang"),
            F.min_by("text", "doc_id").alias("text"),
        )
        .drop("fp")
    )
    return uniq.select(
        "doc_id",
        "lang",
        F.posexplode(TXT.chunk_text(F.col("text"), 200, 150)).alias(
            "chunk_idx", "chunk"
        ),
    ).select(
        "doc_id", "lang", F.col("chunk_idx").cast("long").alias("chunk_idx"), "chunk"
    )


@query(
    "q_text_repetition",
    oracle="""
    WITH tok AS (
        SELECT doc_id, string_split(lower(trim(text)), ' ') AS toks
        FROM documents
    ), bi AS (
        SELECT doc_id, len(toks) AS n_tok,
               CASE WHEN len(toks) >= 2
                    THEN len(list_distinct([toks[i] || ' ' || toks[i+1]
                                            for i in range(1, len(toks))]))
                    ELSE 0 END AS n_bi_distinct,
               greatest(len(toks) - 1, 0) AS n_bi
        FROM tok
    ), tf AS (
        SELECT doc_id, unnest(toks) AS t FROM tok
    ), cnt AS (
        SELECT doc_id, t, count(*) AS c FROM tf GROUP BY 1, 2
    ), mx AS (
        SELECT doc_id, max(c) AS max_c FROM cnt GROUP BY 1
    )
    SELECT b.doc_id, b.n_tok,
           round(CASE WHEN b.n_bi > 0
                      THEN 1.0 - CAST(b.n_bi_distinct AS DOUBLE) / b.n_bi
                      ELSE 0.0 END, 6) AS dup_bigram_ratio,
           round(CAST(mx.max_c AS DOUBLE) / nullif(b.n_tok, 0), 6) AS top_tok_frac
    FROM bi b JOIN mx ON b.doc_id = mx.doc_id
    """,
)
def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition-based quality signals for corpus filtering: the
    duplicate-bigram ratio and the most-frequent-token fraction per
    document (boilerplate and keyword-stuffed pages score high on
    both; the classic "repetition" family of pretraining filters).

    Plan shape: the bigram ratio is pure map work (shifted-slice
    shingles, no shuffle); the token mode is explode -> two map-side-
    combinable aggregations keyed (doc_id, token) then (doc_id) —
    never a per-doc O(len^2) expression, so cost stays linear in
    corpus size however long the documents get — joined back on
    doc_id."""
    from transitdata_hfp_deduplicator_spark.functions import text as TXT
    from transitdata_hfp_deduplicator_spark.tables import spread

    d = spread(_t(spark, sf_dir, "documents").select("doc_id", "text"))
    toks = TXT.tokenize(F.col("text"))
    base = d.select(
        "doc_id",
        toks.alias("toks"),
        F.size(toks).cast("long").alias("n_tok"),
    )
    bi = base.select(
        "doc_id",
        "n_tok",
        F.size(TXT.shingles(F.col("toks"), 2)).alias("n_bi_distinct"),
        F.greatest(F.col("n_tok") - 1, F.lit(0)).alias("n_bi"),
    )
    mx = (
        base.select("doc_id", F.explode("toks").alias("t"))
        .groupBy("doc_id", "t")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("max_c"))
    )
    return bi.join(mx, "doc_id").select(
        "doc_id",
        "n_tok",
        F.round(
            F.when(
                F.col("n_bi") > 0,
                1.0 - F.col("n_bi_distinct").cast("double") / F.col("n_bi"),
            ).otherwise(0.0),
            6,
        ).alias("dup_bigram_ratio"),
        F.round(
            F.col("max_c").cast("double") / F.nullif(F.col("n_tok"), F.lit(0)), 6
        ).alias("top_tok_frac"),
    )


@query(
    "q_ngram_lm",
    oracle="""
    WITH tok AS (
        SELECT doc_id, string_split(lower(trim(text)), ' ') AS toks
        FROM documents
    ), tf AS (
        SELECT doc_id, unnest(toks) AS t FROM tok
    ), vocab AS (
        SELECT t, count(*) AS c FROM tf GROUP BY 1
    ), total AS (
        SELECT count(*) AS n FROM tf
    ), scored AS (
        SELECT tf.doc_id,
               CAST(round(log10(CAST(vocab.c AS DOUBLE) / total.n), 8)
                    AS DECIMAL(18,8)) AS logp
        FROM tf JOIN vocab ON tf.t = vocab.t CROSS JOIN total
    )
    SELECT doc_id, count(*) AS n_tok,
           round(CAST(sum(logp) AS DOUBLE) / count(*), 6) AS avg_logp
    FROM scored GROUP BY 1
    """,
)
def q_ngram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus unigram language model scoring — per-document mean log10
    token probability, the cheap perplexity proxy used to rank corpus
    documents by "LM-likeness" before training.

    Plan shape: one shuffle builds the vocabulary (map-side-combined
    token counts), one equi-join keyed on the token scores every
    occurrence (AQE broadcasts the vocab side when it is small; at
    lake scale it stays a partitioned join — no driver state either
    way), one aggregation keyed doc_id folds the scores.  The corpus
    token total is the plan's only scalar (a bounded 1-row agg).
    Per-token log-probs are rounded to 8 decimals and summed as
    DECIMAL so the fold is order-independent (the dsum convention)."""
    from transitdata_hfp_deduplicator_spark.functions import text as TXT
    from transitdata_hfp_deduplicator_spark.tables import spread

    d = spread(_t(spark, sf_dir, "documents").select("doc_id", "text"))
    tf = d.select("doc_id", F.explode(TXT.tokenize(F.col("text"))).alias("t"))
    vocab = tf.groupBy("t").agg(F.count(F.lit(1)).alias("c"))
    total = tf.count()
    scored = tf.join(vocab, "t").select(
        "doc_id",
        F.round(F.log10(F.col("c").cast("double") / F.lit(float(total))), 8)
        .cast("decimal(18,8)")
        .alias("logp"),
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tok"),
        F.round(
            F.sum("logp").cast("double") / F.count(F.lit(1)), 6
        ).alias("avg_logp"),
    )


@query(
    "q_bm25",
    oracle="""
    WITH tok AS (
        SELECT doc_id, string_split(lower(trim(text)), ' ') AS toks
        FROM documents
    ), stats AS (
        SELECT count(*) AS n_docs, avg(len(toks)) AS avgdl FROM tok
    ), terms AS (
        SELECT unnest(['data', 'model', 'system', 'language']) AS term
    ), tf AS (
        SELECT t.doc_id, len(t.toks) AS dl, terms.term,
               len(list_filter(t.toks, x -> x = terms.term)) AS f
        FROM tok t CROSS JOIN terms
    ), df AS (
        SELECT term, count(*) FILTER (f > 0) AS df FROM tf GROUP BY 1
    ), parts AS (
        SELECT tf.doc_id,
               CAST(round(
                   ln((stats.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0)
                   * (tf.f * 2.2)
                   / (tf.f + 1.2 * (0.25 + 0.75 * tf.dl / stats.avgdl)),
                   8) AS DECIMAL(18,8)) AS s
        FROM tf JOIN df ON tf.term = df.term CROSS JOIN stats
        WHERE tf.f > 0
    )
    SELECT doc_id, round(CAST(sum(s) AS DOUBLE), 6) AS bm25
    FROM parts GROUP BY 1
    """,
)
def q_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 retrieval scoring (k1=1.2, b=0.75) of every document
    against a fixed query-term set — the lexical side of a similarity-
    search stack, complementing the embedding paths.

    Plan shape: term frequencies come from one explode + filtered
    aggregation keyed (doc_id, term); document frequencies and the
    (n_docs, avgdl) scalars are tiny — df is BROADCAST to the scoring
    join, so the per-doc side never shuffles on anything but doc_id.
    Per-term scores are rounded and DECIMAL-summed (order-independent,
    the dsum convention)."""
    from transitdata_hfp_deduplicator_spark.functions import text as TXT
    from transitdata_hfp_deduplicator_spark.tables import spread

    TERMS = ["data", "model", "system", "language"]
    k1, b = 1.2, 0.75

    d = spread(_t(spark, sf_dir, "documents").select("doc_id", "text"))
    base = d.select(
        "doc_id", TXT.tokenize(F.col("text")).alias("toks")
    ).select("doc_id", "toks", F.size("toks").alias("dl"))
    # (n_docs, avgdl) as a 1-row aggregate crossJoined back in (the
    # q_histogram pattern) — no separate synchronous collect job
    stats = base.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
    )
    terms = F.array(*[F.lit(t) for t in TERMS])
    tf = (
        base.select(
            "doc_id",
            "dl",
            F.explode(terms).alias("term"),
            "toks",
        )
        .select(
            "doc_id",
            "dl",
            "term",
            F.size(F.filter("toks", lambda x: x == F.col("term"))).alias("f"),
        )
        .filter(F.col("f") > 0)
    )
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    parts = (
        tf.join(F.broadcast(df), "term")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            F.round(
                F.log(
                    (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
                    + 1.0
                )
                * (F.col("f") * (k1 + 1.0))
                / (
                    F.col("f")
                    + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl"))
                ),
                8,
            )
            .cast("decimal(18,8)")
            .alias("s"),
        )
    )
    return parts.groupBy("doc_id").agg(
        F.round(F.sum("s").cast("double"), 6).alias("bm25")
    )


@query(
    "q_tfidf_pairs",
    oracle="""
    WITH tok AS (
        SELECT doc_id, t AS token, count(*) AS tf
        FROM (SELECT doc_id,
                     unnest(string_split(lower(trim(text)), ' ')) AS t
              FROM documents)
        WHERE t <> ''
        GROUP BY doc_id, t
    ),
    nn AS (SELECT count(*) AS n FROM documents),
    df AS (SELECT token, count(*) AS df FROM tok GROUP BY token),
    w AS (
        SELECT tok.doc_id, tok.token,
               round(tok.tf * ln(1.0 + CAST(nn.n AS DOUBLE) / df.df), 6)
                   AS wq
        FROM tok JOIN df ON tok.token = df.token CROSS JOIN nn
        WHERE df.df * 20 <= nn.n
    ),
    nrm AS (
        SELECT doc_id,
               sqrt(sum(CAST(floor(wq * wq * 1e6 + 0.5) AS BIGINT)) / 1e6)
                   AS nv
        FROM w GROUP BY doc_id
    ),
    p AS (
        SELECT w.doc_id, w.token, round(w.wq / nrm.nv, 8) AS nw
        FROM w JOIN nrm ON w.doc_id = nrm.doc_id
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           round(sum(CAST(floor(a.nw * b.nw * 1e12 + 0.5) AS BIGINT))
                 / 1e12, 6) AS cos_sim
    FROM p a JOIN p b ON a.token = b.token AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
    HAVING round(sum(CAST(floor(a.nw * b.nw * 1e12 + 0.5) AS BIGINT))
                 / 1e12, 6) >= 0.3
    """,
)
def q_tfidf_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse TF-IDF cosine all-pairs similarity (the lexical twin of
    q_embed_neardup): documents as L2-normalized tf-idf vectors, pair
    cosine accumulated token-by-token through a posting-list self-join
    — the sparse-vector analog of DIMSUM/all-pairs-similarity (Zadeh &
    Goel 2013), with a deterministic df-cap (token in <= 5% of docs)
    instead of their probabilistic sampling, the winnow/LSH cap
    discipline: recall-only loss on stopword-mass tokens that carry no
    discriminative weight anyway (idf ~ 0), mirrored in the oracle.

    HASH-CHECKED determinism: idf = ln(1 + N/df) rounds to 6 before
    any multiply (ln's last ulp is implementation-defined; rounding
    re-synchronizes engines — the q_bm25 convention); per-doc norm**2
    and per-pair cosine both accumulate as FIXED-POINT BIGINT sums
    (floor(x*scale + 0.5)) — exact integer addition, order-free by
    construction — with one IEEE sqrt / division on the exact total
    (norm**2 <= ~1e13 scaled units, cosine <= 1e12 + |tokens|/2, both
    far inside double-exact 2^53).

    Scale shape: term frequencies are one (doc_id, token)-keyed
    partial-agg exchange; df re-aggregates token-keyed; df attaches to
    postings via a TOKEN-KEYED SHUFFLE join, not a broadcast — the
    postings must land token-partitioned for the pair join anyway, so
    the df attach rides the exchange the self-join already needs (at
    100 TB vocab is hapax-heavy and does not broadcast); norms are one
    doc-keyed exchange joined back; the self-join emits pair
    contributions straight into a (doc_a, doc_b)-keyed partial agg —
    pair fan-out bounded per token by the df-cap (<= (N/20)^2/2), the
    corpus text itself never shuffles."""
    from transitdata_hfp_deduplicator_spark.functions import text as TXT
    from transitdata_hfp_deduplicator_spark.tables import spread

    d = spread(_t(spark, sf_dir, "documents").select("doc_id", "text"))
    tok = (
        d.select("doc_id", F.explode(TXT.tokenize(F.col("text"))).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    # N from the base table (docs with no tokens still count, as in the
    # oracle's count(*) FROM documents)
    nn = d.agg(F.count(F.lit(1)).alias("n"))
    df = tok.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    w = (
        tok.join(df, "token")  # token-keyed shuffle join by design
        .crossJoin(F.broadcast(nn))
        .filter(F.col("df") * 20 <= F.col("n"))
        .select(
            "doc_id",
            "token",
            F.round(
                F.col("tf")
                * F.log(1.0 + F.col("n").cast("double") / F.col("df")),
                6,
            ).alias("wq"),
        )
    )
    nrm = w.groupBy("doc_id").agg(
        F.sqrt(
            F.sum(
                F.floor(F.col("wq") * F.col("wq") * 1e6 + 0.5).cast("bigint")
            )
            / F.lit(1e6)
        ).alias("nv")
    )
    p = (
        w.join(nrm, "doc_id")
        .select("doc_id", "token", F.round(F.col("wq") / F.col("nv"), 8).alias("nw"))
        .localCheckpoint()  # 2 consumers of the self-join
    )
    a = p.select(F.col("doc_id").alias("doc_a"), "token", F.col("nw").alias("nwa"))
    b = p.select(F.col("doc_id").alias("doc_b"), "token", F.col("nw").alias("nwb"))
    return (
        a.join(b, "token")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(
            F.round(
                F.sum(
                    F.floor(
                        F.col("nwa") * F.col("nwb") * 1e12 + 0.5
                    ).cast("bigint")
                )
                / F.lit(1e12),
                6,
            ).alias("cos_sim")
        )
        .filter(F.col("cos_sim") >= 0.3)
    )


@query(
    "q_containment",
    oracle="""
    WITH sh AS (
        SELECT doc_id,
               list_distinct([tokens[i] || ' ' || tokens[i+1] || ' ' || tokens[i+2]
                              for i in range(1, len(tokens) - 1)]) AS shingles
        FROM (SELECT doc_id, string_split(lower(trim(text)), ' ') AS tokens
              FROM documents)
        WHERE len(tokens) >= 3
    ),
    ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
    inter AS (
        SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS inter
        FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    sz AS (SELECT doc_id, len(shingles) AS n FROM sh),
    ori AS (
        SELECT i AS src, j AS dst, round(inter * 1.0 / sa.n, 6) AS containment
        FROM inter JOIN sz sa ON i = sa.doc_id
        UNION ALL
        SELECT j AS src, i AS dst, round(inter * 1.0 / sb.n, 6) AS containment
        FROM inter JOIN sz sb ON j = sb.doc_id
    )
    SELECT src, dst, containment FROM ori WHERE containment >= 0.5
    """,
)
def q_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shingle containment C(A→B) = |A∩B|/|A| >= 0.5 — the asymmetric
    near-dup signal that catches SUB-document duplication (a doc quoted
    inside a longer one scores ~1 while Jaccard stays low; Broder's
    resemblance/containment pair)."""
    from transitdata_hfp_deduplicator_spark.operators.similarity import (
        containment_pairs,
    )

    d = _t(spark, sf_dir, "documents")
    return containment_pairs(d, "doc_id", "text", shingle_n=3, threshold=0.5)


@query(
    "q_dedup_incremental",
    oracle="""
    WITH b AS (
        SELECT (epoch_ms(min(ts)) + epoch_ms(max(ts))) // 2 AS cut FROM events
    ), hist AS (
        SELECT DISTINCT user_id, event_type, props
        FROM events, b WHERE epoch_ms(ts) < b.cut
    ), inc AS (
        SELECT e.*, epoch_ms(e.ts) AS ts_ms
        FROM events e, b WHERE epoch_ms(e.ts) >= b.cut
        QUALIFY row_number() OVER (
            PARTITION BY user_id, event_type, props ORDER BY ts, event_id) = 1
    )
    SELECT i.event_id, i.user_id, i.event_type, i.value, i.props, i.ts_ms
    FROM inc i LEFT JOIN hist h
      ON i.user_id = h.user_id AND i.event_type = h.event_type
         AND i.props = h.props
    WHERE h.user_id IS NULL
    """,
)
def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup — the production shape of the reference's
    cache (Deduplicator.java:47-51) for batch pipelines: dedup TODAY'S
    batch first-wins within itself, then anti-join its digests against
    the HISTORICAL index so only never-before-seen records survive.
    The events table is split at its time midpoint into index / batch.

    Scale shape: the index side is `digest DISTINCT` (fixed-width keys,
    map-side combined), the anti-join shuffles on the same digest both
    sides — on a real lake the index is a digest-bucketed table so the
    join co-locates without a shuffle, and Spark's runtime bloom-filter
    join prunes the batch scan.  No driver state at all: the time-
    midpoint cut is a 1-row aggregate crossJoined back in (the
    q_histogram pattern), not a collect."""
    from transitdata_hfp_deduplicator_spark.operators.dedup import (
        dedup_exact,
        payload_digest,
    )

    ev = _t(spark, sf_dir, "events")
    cutdf = ev.agg(
        F.expr(
            "(unix_millis(min(ts)) + unix_millis(max(ts))) div 2"
        ).alias("__cut")
    )
    ev = ev.crossJoin(F.broadcast(cutdf))
    digest = payload_digest(*EVENT_IDENTITY)
    hist = (
        ev.filter(F.unix_millis("ts") < F.col("__cut"))
        .select(digest.alias("d"))
        .distinct()
    )
    inc = dedup_exact(
        ev.filter(F.unix_millis("ts") >= F.col("__cut")).drop("__cut"),
        EVENT_IDENTITY,
        EVENT_ORDER,
    )
    return (
        inc.withColumn("d", digest)
        .join(hist, "d", "left_anti")
        .select(
            "event_id",
            "user_id",
            "event_type",
            "value",
            "props",
            F.unix_millis("ts").alias("ts_ms"),
        )
    )


@query(
    "q_seq_pack",
    oracle="""
    WITH tok AS (
        SELECT doc_id, lang,
               len(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS n_tok
        FROM documents
    ), pref AS (
        SELECT doc_id, lang, n_tok,
               coalesce(sum(n_tok) OVER (
                   PARTITION BY lang ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prior
        FROM tok
    )
    SELECT lang, doc_id, n_tok,
           CAST(floor(prior / 512.0) AS BIGINT) AS seq_id
    FROM pref
    """,
)
def q_seq_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for LLM training: concatenate documents (in a
    deterministic per-language order) into fixed token-budget training
    sequences — each doc's sequence id is its exclusive prefix token
    count divided by the budget (512 here).

    Scale shape: the per-language running sum is the range-sharded
    TWO-PASS prefix sum (operators/sampling.py::sharded_prefix_sum) —
    NOT a single ``Window.partitionBy(lang)`` sort, which would funnel
    each language's entire corpus through one task at lake scale.
    Token counting normalizes whitespace runs first (both engines
    split the normalized text on single spaces), so the count is
    whitespace-robust, not corpus-dependent."""
    from transitdata_hfp_deduplicator_spark.operators.sampling import (
        sharded_prefix_sum,
    )

    d = _t(spark, sf_dir, "documents")
    tnorm = F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    tok = d.select(
        "doc_id",
        "lang",
        F.size(F.split(tnorm, " ")).cast("long").alias("n_tok"),
    )
    pre = sharded_prefix_sum(tok, "doc_id", "n_tok", part_cols=("lang",))
    return pre.select(
        "lang",
        "doc_id",
        "n_tok",
        F.floor(F.col("prior") / 512.0).cast("long").alias("seq_id"),
    )


@query(
    "q_corpus_shuffle",
    oracle="""
    WITH h AS (
        SELECT doc_id,
               ('0x' || substr(md5('42|' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS hv
        FROM documents
    )
    SELECT doc_id, CAST(hv % 16 AS BIGINT) AS shard,
           CAST(row_number() OVER (PARTITION BY hv % 16 ORDER BY hv, doc_id)
                AS BIGINT) AS pos
    FROM h
    """,
)
def q_corpus_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic seeded corpus shuffle — the global training-data
    shuffle at lake scale: hash(seed, doc_id) assigns each document a
    shard and a position within the shard.  Reproducible across
    engines (md5-derived hash64, the same externalizable-digest
    argument as the reference's fixed murmur3 seed,
    Deduplicator.java:27-28) and across partitionings (the order is a
    function of the data, not of arrival).

    Scale shape: shard-LOCAL window sort (16-way here, thousands-way at
    100 TB) — never a global orderBy; shards are written independently
    and training readers consume them in shard order."""
    from transitdata_hfp_deduplicator_spark.functions import text as TXT

    d = _t(spark, sf_dir, "documents")
    h = d.select(
        "doc_id", TXT.hash64(F.col("doc_id").cast("string"), seed=42).alias("hv")
    )
    w = W.partitionBy(F.col("hv") % 16).orderBy("hv", "doc_id")
    return h.select(
        "doc_id",
        (F.col("hv") % 16).cast("long").alias("shard"),
        F.row_number().over(w).cast("long").alias("pos"),
    )


# target corpus mixture by language (training-data domain weights);
# plain config — the operator is the constrained-sampling plan below.
MIX_WEIGHTS: dict[str, float] = {
    "en": 0.5,
    "zh": 0.2,
    "de": 0.15,
    "fr": 0.1,
    "es": 0.05,
}


@query(
    "q_corpus_mix",
    oracle=f"""
    WITH d AS (
        SELECT doc_id, lang,
               CAST(len(string_split(lower(trim(text)), ' ')) AS BIGINT) AS toks,
               ('0x' || substr(md5('7|' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                   % 1000000 AS hv
        FROM documents
    ),
    wts(lang, w) AS (VALUES {", ".join(f"('{k}', {v})" for k, v in sorted(MIX_WEIGHTS.items()))}),
    avail AS (
        SELECT d.lang, w, CAST(SUM(toks) AS BIGINT) AS avail_toks
        FROM d JOIN wts ON d.lang = wts.lang GROUP BY d.lang, w
    ),
    t AS (SELECT MIN(avail_toks / w) AS total FROM avail),
    frac AS (
        SELECT lang, avail_toks,
               w * total / avail_toks AS f
        FROM avail CROSS JOIN t
    )
    SELECT d.lang,
           count(*) AS n_docs,
           CAST(SUM(toks) AS BIGINT) AS n_tokens,
           round(any_value(f), 6) AS frac
    FROM d JOIN frac ON d.lang = frac.lang
    WHERE hv < f * 1000000
    GROUP BY d.lang
    """,
)
def q_corpus_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus mixing — sample each language toward a target mixture
    under availability constraints (the data-mixing step of LLM corpus
    prep): find the largest total token budget T such that
    ``weight_l * T <= available_l`` for every language, then keep each
    language's documents with probability ``weight_l * T / available_l``
    (the binding language keeps everything).  Selection is by
    deterministic per-doc hash, so the sample is reproducible across
    engines and partitionings — the same externalizable-digest argument
    as the reference's fixed murmur3 seed (Deduplicator.java:27-28).

    Scale shape: one partial-agg shuffle for the per-language token
    totals (#langs rows), a 1-row budget aggregate crossJoined back
    (never collected), and a broadcast of the #langs-row fraction table
    onto the corpus scan — the corpus itself is never shuffled."""
    from transitdata_hfp_deduplicator_spark.functions import text as TXT

    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        TXT.token_count(F.col("text")).cast("long").alias("toks"),
        F.pmod(TXT.hash64(F.col("doc_id").cast("string"), seed=7), F.lit(1000000)).alias("hv"),
    )
    wts = F.broadcast(
        d.sparkSession.createDataFrame(
            sorted(MIX_WEIGHTS.items()), "lang string, w double"
        )
    )
    avail = (
        d.join(wts, "lang")
        .groupBy("lang", "w")
        .agg(F.sum("toks").alias("avail_toks"))
    )
    total = avail.agg(F.min(F.col("avail_toks") / F.col("w")).alias("total"))
    frac = avail.crossJoin(total).select(
        "lang", (F.col("w") * F.col("total") / F.col("avail_toks")).alias("f")
    )
    return (
        d.join(F.broadcast(frac), "lang")
        .filter(F.col("hv") < F.col("f") * 1000000)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("toks").alias("n_tokens"),
            F.round(F.any_value("f"), 6).alias("frac"),
        )
    )


@query(
    "q_decontaminate",
    oracle="""
    WITH sh AS (
        SELECT doc_id,
               unnest(list_distinct(
                   [tokens[i] || ' ' || tokens[i+1] || ' ' || tokens[i+2]
                    for i in range(1, len(tokens) - 1)])) AS s
        FROM (SELECT doc_id, string_split(lower(trim(text)), ' ') AS tokens
              FROM documents)
        WHERE len(tokens) >= 3
    ),
    h AS (
        SELECT doc_id,
               ('0x' || substr(md5('11|' || s), 1, 15))::BIGINT AS hv
        FROM sh
    ),
    ev AS (SELECT DISTINCT doc_id AS eval_doc, hv FROM h WHERE doc_id % 53 = 1),
    tr AS (SELECT doc_id, hv FROM h WHERE doc_id % 53 <> 1)
    SELECT tr.doc_id,
           CAST(count(DISTINCT tr.hv) AS BIGINT) AS n_shared,
           CAST(count(DISTINCT eval_doc) AS BIGINT) AS n_eval_docs
    FROM tr JOIN ev USING (hv)
    GROUP BY tr.doc_id
    """,
)
def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set decontamination — flag training documents that share any
    n-gram with a held-out eval set (the benchmark-leakage scrub every
    large-scale training pipeline runs; the n-gram-overlap method of the
    GPT-3/Llama decontamination appendices).  The eval set here is the
    deterministic ``doc_id % 53 == 1`` slice — in production it is the
    actual benchmark corpus.  n = 3 here so the synthetic corpus
    exercises the hit path (283 contaminated docs at sf0.01);
    production pipelines use n in 8..13 — n is config, the plan is the
    operator.

    Scale shape: the eval side is the SMALL dimension by construction
    (benchmarks are MBs against a 100 TB corpus), so its distinct
    n-gram hashes broadcast; the training corpus streams map-side
    through the broadcast join — the corpus is never shuffled, and the
    only exchange is the final per-contaminated-doc aggregate (hit rows
    only).  Shingles join on a 60-bit md5-derived hash, not the string:
    10x smaller broadcast, engine-reproducible (the externalizable-
    digest argument of Deduplicator.java:27-28), and any false positive
    is a 2^-60 event inherent to hashed decontamination."""
    from transitdata_hfp_deduplicator_spark.functions import text as TXT

    d = _t(spark, sf_dir, "documents")
    sh = d.select(
        "doc_id",
        F.explode(TXT.shingles(TXT.tokenize(F.col("text")), 3)).alias("s"),
    ).select("doc_id", TXT.hash64(F.col("s"), seed=11).alias("hv"))
    is_eval = F.col("doc_id") % 53 == 1
    ev = sh.filter(is_eval).select(F.col("doc_id").alias("eval_doc"), "hv").distinct()
    tr = sh.filter(~is_eval)
    return (
        tr.join(F.broadcast(ev), "hv")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("hv").alias("n_shared"),
            F.countDistinct("eval_doc").alias("n_eval_docs"),
        )
    )


# Shared by q_decontaminate_bloom and q_decontaminate_stream: the two
# queries compute THE SAME verdicts (offline vs online) and must keep
# validating against one reference — a single constant removes the
# divergence channel a fix-one-copy-miss-the-other edit would open.
_DECONTAM_BLOOM_ORACLE = """
    WITH sh AS (
        SELECT doc_id,
               unnest(list_distinct(
                   [tokens[i] || ' ' || tokens[i+1] || ' ' || tokens[i+2]
                    for i in range(1, len(tokens) - 1)])) AS s
        FROM (SELECT doc_id, string_split(lower(trim(text)), ' ') AS tokens
              FROM documents)
        WHERE len(tokens) >= 3
    ),
    h AS (
        SELECT doc_id,
               ('0x' || substr(md5('11|' || s), 1, 15))::BIGINT AS hv
        FROM sh
    ),
    ev AS (SELECT DISTINCT hv FROM h WHERE doc_id % 53 = 1),
    tr AS (SELECT DISTINCT doc_id, hv FROM h WHERE doc_id % 53 <> 1),
    epos AS (
        SELECT unnest([ (hv % 131072 + i * ((hv >> 17) % 131072)) % 131072
                        for i in [0, 1, 2] ]) AS p
        FROM ev
    ),
    bloom AS (
        SELECT CAST(p >> 5 AS INTEGER) AS w,
               bit_or(1::BIGINT << CAST(p % 32 AS INTEGER)) AS mask
        FROM epos GROUP BY 1
    ),
    tpos AS (
        SELECT doc_id, hv,
               unnest([ (hv % 131072 + i * ((hv >> 17) % 131072)) % 131072
                        for i in [0, 1, 2] ]) AS p
        FROM tr
    ),
    memb AS (
        SELECT doc_id, hv,
               min(CASE WHEN b.mask IS NOT NULL
                         AND (b.mask & (1::BIGINT << CAST(p % 32 AS INTEGER))) <> 0
                        THEN 1 ELSE 0 END) AS is_pos
        FROM tpos LEFT JOIN bloom b ON b.w = CAST(p >> 5 AS INTEGER)
        GROUP BY doc_id, hv
    ),
    flagged AS (SELECT doc_id, hv FROM memb WHERE is_pos = 1)
    SELECT f.doc_id,
           CAST(count(*) AS BIGINT) AS n_bloom_hits,
           CAST(count(*) FILTER (e.hv IS NOT NULL) AS BIGINT) AS n_exact_hits
    FROM flagged f LEFT JOIN ev e USING (hv)
    GROUP BY f.doc_id
    """


def _decontam_shingle_hashes(df: DataFrame) -> DataFrame:
    """(doc_id, hv): seed-11 64-bit hashes of 3-token shingles — the one
    projection both decontamination queries (and their shared oracle's
    ``h`` CTE) are defined over.

    spread() first (batch inputs): tokenize+shingle+hash is the
    dominant map cost and a single-file scan plans as ONE split —
    serialized on one core otherwise (guide §2.5).  Streaming inputs
    can't probe partition counts; their callers spread the replay
    source instead (streaming.parquet_stream(spread=True))."""
    from transitdata_hfp_deduplicator_spark.functions import text as TXT
    from transitdata_hfp_deduplicator_spark.tables import spread

    if not df.isStreaming:
        df = spread(df)
    return df.select(
        "doc_id",
        F.explode(TXT.shingles(TXT.tokenize(F.col("text")), 3)).alias("s"),
    ).select("doc_id", TXT.hash64(F.col("s"), seed=11).alias("hv"))


@query("q_decontaminate_bloom", oracle=_DECONTAM_BLOOM_ORACLE)
def q_decontaminate_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter decontamination prefilter — the 100 TB shape of
    ``q_decontaminate`` when even the eval set's distinct hash list is
    too big to broadcast comfortably: build a FIXED-size bitmap (2^17
    bits here; 2^30 bits = 128 MB covers billions of shingles at <1%
    FP) from the eval shingle hashes with one bit_or partial-agg
    shuffle, broadcast THAT, and keep only bloom-positive training
    shingles for the exact confirmation join.  Bloom-negative documents
    — the overwhelming majority of a clean corpus — are eliminated
    map-side without ever shuffling.

    The output exposes the filter's honest accounting per contaminated
    doc: ``n_bloom_hits`` (shingles the prefilter flags) vs
    ``n_exact_hits`` (shingles genuinely in the eval set) — the gap IS
    the false-positive overhang, deterministic here because the bitmap
    and probe family are md5-derived (operators/bloom.py), so the
    oracle reproduces the same false positives bit-for-bit."""
    from transitdata_hfp_deduplicator_spark.operators.bloom import (
        bloom_build,
        bloom_probe,
    )

    d = _t(spark, sf_dir, "documents")
    sh = _decontam_shingle_hashes(d)
    is_eval = F.col("doc_id") % 53 == 1
    # localCheckpoint: the row-preserving bloom_probe is k=3 broadcast
    # joins, and each broadcast build would otherwise re-execute the
    # full eval scan -> shingle -> distinct -> bitmap subtree (measured
    # 2.3s -> 5.3s at sf0.1 unpinned); ev additionally feeds the
    # exact-confirm join.  Both frames are bounded (eval-slice grain).
    ev = sh.filter(is_eval).select("hv").distinct().localCheckpoint()
    tr = sh.filter(~is_eval).select("doc_id", "hv").distinct()
    bloom = bloom_build(ev).localCheckpoint()
    flagged = bloom_probe(tr, bloom)
    return (
        flagged.join(
            F.broadcast(ev.withColumn("in_eval", F.lit(1))), "hv", "left"
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bloom_hits"),
            F.count("in_eval").alias("n_exact_hits"),
        )
    )


@query("q_decontaminate_stream", oracle=_DECONTAM_BLOOM_ORACLE)
def q_decontaminate_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONLINE decontamination — the corpus arrives as a stream and is
    tagged against a batch-built Bloom bitmap of the eval set: shingle
    rows pass through k=3 stream-static broadcast joins (the row-level
    ``bloom_member`` shape — stateless, no streaming aggregation
    needed), bloom-positive shingles get the exact-confirm broadcast
    join, and per-(doc, shingle) dedup rides the streaming dedup state
    operator.  The spooled stream output aggregates to EXACTLY the
    batch q_decontaminate_bloom result — same oracle, hash-checked:
    online and offline decontamination verdicts agree bit-for-bit,
    false positives included.

    100 TB shape: the static side is 16 KB of bitmap + the eval hash
    set; the stream side never shuffles until the final per-doc
    aggregate over hit rows only."""
    import os

    from transitdata_hfp_deduplicator_spark.operators.bloom import (
        bloom_build,
        bloom_member,
    )
    from transitdata_hfp_deduplicator_spark.streaming import (
        parquet_stream,
        replay_shuffle_partitions,
        run_to_memory,
        scoped_shuffle_partitions,
    )

    d = _t(spark, sf_dir, "documents")
    is_eval = F.col("doc_id") % 53 == 1

    # The static side is re-evaluated on EVERY micro-batch of the
    # replay (and the bitmap subtree is referenced by k=3 broadcast
    # joins plus the exact-confirm join) — persist both so the full
    # eval scan→shingle→distinct pipeline runs once per query, not
    # once per trigger per reference.
    ev = _decontam_shingle_hashes(d.filter(is_eval)).select("hv").distinct()
    ev = ev.persist()
    bloom = bloom_build(ev).persist()

    src = os.path.join(sf_dir, "documents.parquet")
    # spread=True: the replay's single split would serialize the
    # stream-side shingle hashing on one core (measured replay 14.3s ->
    # 6.3s at sf0.1; see parquet_stream)
    stream = parquet_stream(spark, src, spread=True)
    tr = _decontam_shingle_hashes(stream.filter(~is_eval))
    flagged = bloom_member(tr, bloom).filter(F.col("bloom_member"))
    tagged = flagged.join(
        F.broadcast(ev.withColumn("in_eval", F.lit(1))), "hv", "left"
    ).select("doc_id", "hv", "in_eval")
    deduped = tagged.dropDuplicates(["doc_id", "hv"])
    try:
        with scoped_shuffle_partitions(spark, replay_shuffle_partitions(src)):
            out = run_to_memory(deduped, output_mode="append")
    finally:
        # run_to_memory blocks until the replay finishes; the returned
        # spool no longer references ev/bloom, so the cache can go.
        ev.unpersist()
        bloom.unpersist()
    return out.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bloom_hits"),
        F.count("in_eval").alias("n_exact_hits"),
    )


@query(
    "q_dedup_url",
    oracle="""
    WITH u AS (
        SELECT doc_id,
               (CASE doc_id % 3 WHEN 0 THEN 'HTTPS' WHEN 1 THEN 'https'
                     ELSE 'Https' END)
               || '://'
               || (CASE doc_id % 2 WHEN 0 THEN 'www.Example.COM'
                        ELSE 'www.example.com' END)
               || (CASE doc_id % 5 WHEN 0 THEN ':443' ELSE '' END)
               || '/docs/' || CAST(doc_id // 7 AS VARCHAR)
               || (CASE doc_id % 2 WHEN 0 THEN '/' ELSE '' END)
               || (CASE doc_id % 4
                        WHEN 0 THEN '?utm_source=feed&id='
                                    || CAST(doc_id // 7 AS VARCHAR)
                        WHEN 1 THEN '?id=' || CAST(doc_id // 7 AS VARCHAR)
                        WHEN 2 THEN '?id=' || CAST(doc_id // 7 AS VARCHAR)
                                    || '&utm_campaign=x'
                        ELSE '' END) AS url
        FROM documents
    ),
    parts AS (
        SELECT doc_id, url,
               lower(split_part(url, '://', 1)) AS scheme,
               split_part(split_part(url, '://', 2), '/', 1) AS hostport,
               substr(split_part(url, '://', 2),
                      len(split_part(split_part(url, '://', 2), '/', 1)) + 1)
                   AS pathq
        FROM u
    ),
    norm AS (
        SELECT doc_id, url, scheme,
               lower(CASE WHEN scheme = 'https'
                          THEN regexp_replace(hostport, ':443$', '')
                          WHEN scheme = 'http'
                          THEN regexp_replace(hostport, ':80$', '')
                          ELSE hostport END) AS host,
               regexp_replace(split_part(pathq, '?', 1), '/+$', '') AS path,
               CASE WHEN position('?' IN pathq) > 0
                    THEN array_to_string(list_sort(list_filter(
                             string_split(substr(pathq,
                                 position('?' IN pathq) + 1), '&'),
                             x -> NOT regexp_matches(x,
                                 '^(utm_[^=]*|ref|fbclid|gclid)='))), '&')
                    ELSE '' END AS params
        FROM parts
    ),
    canon AS (
        SELECT doc_id,
               scheme || '://' || host || path
               || (CASE WHEN params <> '' THEN '?' || params ELSE '' END)
                   AS curl
        FROM norm
    )
    SELECT min(doc_id) AS doc_id, CAST(count(*) AS BIGINT) AS n_copies, curl
    FROM canon GROUP BY curl
    """,
)
def q_dedup_url(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization dedup — the Common-Crawl-style pipeline
    step that collapses scheme/host case, default ports, trailing
    slashes, tracking parameters (utm_*/ref/fbclid/gclid), and query-
    parameter order before URL-level dedup (the cheapest rung of the
    web-corpus dedup ladder: most crawl duplicates are the same page
    fetched under trivially-different URLs).  The corpus carries no URL
    column, so one is SYNTHESIZED from doc_id with the variation shapes
    above baked in — the canonicalizer is generic and never inverts the
    synthesis; each 7-doc group collapses to two canonical identities
    (with and without the real ?id= parameter).

    Scale shape: canonicalization is pure narrow string/array ops
    (split, filter, sort, join — all codegen); the only exchange is the
    canonical-key groupBy with map-side partial min/count — exactly
    q_dedup_norm's shape with the canonicalize step swapped."""
    d = _t(spark, sf_dir, "documents").select("doc_id")
    k = (F.col("doc_id") - F.pmod(F.col("doc_id"), 7)) / 7
    k = k.cast("bigint").cast("string")
    url = F.concat(
        F.when(F.col("doc_id") % 3 == 0, F.lit("HTTPS"))
        .when(F.col("doc_id") % 3 == 1, F.lit("https"))
        .otherwise(F.lit("Https")),
        F.lit("://"),
        F.when(F.col("doc_id") % 2 == 0, F.lit("www.Example.COM")).otherwise(
            F.lit("www.example.com")
        ),
        F.when(F.col("doc_id") % 5 == 0, F.lit(":443")).otherwise(F.lit("")),
        F.lit("/docs/"),
        k,
        F.when(F.col("doc_id") % 2 == 0, F.lit("/")).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 4 == 0, F.concat(F.lit("?utm_source=feed&id="), k)
        )
        .when(F.col("doc_id") % 4 == 1, F.concat(F.lit("?id="), k))
        .when(
            F.col("doc_id") % 4 == 2,
            F.concat(F.lit("?id="), k, F.lit("&utm_campaign=x")),
        )
        .otherwise(F.lit("")),
    )
    u = d.select("doc_id", url.alias("url"))
    scheme = F.lower(F.substring_index(F.col("url"), "://", 1))
    rest = F.substring_index(F.col("url"), "://", -1)
    hostport = F.substring_index(rest, "/", 1)
    pathq = F.expr("substr(substring_index(url, '://', -1), "
                   "length(substring_index(substring_index(url, '://', -1), '/', 1)) + 1)")
    p = u.select(
        "doc_id",
        scheme.alias("scheme"),
        hostport.alias("hostport"),
        pathq.alias("pathq"),
    )
    host = F.lower(
        F.when(
            F.col("scheme") == "https",
            F.regexp_replace(F.col("hostport"), ":443$", ""),
        )
        .when(
            F.col("scheme") == "http",
            F.regexp_replace(F.col("hostport"), ":80$", ""),
        )
        .otherwise(F.col("hostport"))
    )
    path = F.regexp_replace(F.substring_index(F.col("pathq"), "?", 1), "/+$", "")
    params = F.when(
        F.instr(F.col("pathq"), "?") > 0,
        F.array_join(
            F.array_sort(
                F.filter(
                    F.split(
                        F.expr("substr(pathq, instr(pathq, '?') + 1)"), "&"
                    ),
                    lambda x: ~x.rlike("^(utm_[^=]*|ref|fbclid|gclid)="),
                )
            ),
            "&",
        ),
    ).otherwise(F.lit(""))
    n = p.select("doc_id", "scheme", host.alias("host"), path.alias("path"),
                 params.alias("params"))
    curl = F.concat(
        F.col("scheme"),
        F.lit("://"),
        F.col("host"),
        F.col("path"),
        F.when(F.col("params") != "", F.concat(F.lit("?"), F.col("params")))
        .otherwise(F.lit("")),
    )
    return (
        n.select("doc_id", curl.alias("curl"))
        .groupBy("curl")
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .select("doc_id", "n_copies", "curl")
    )


@query(
    "q_dedup_fuzzy",
    oracle="""
    WITH base AS (
        SELECT doc_id, lower(substr(text, 1, 24)) AS key0 FROM documents
    ),
    keyed AS (
        SELECT doc_id,
               CASE WHEN (doc_id * 9973) % 7 < 2
                    THEN substr(key0, 1, ((doc_id * 31) % 20 + 1) - 1)
                         || substr(key0, ((doc_id * 31) % 20 + 1) + 1)
                    ELSE key0 END AS key
        FROM base
    ),
    dvars AS (
        SELECT DISTINCT doc_id, key, v
        FROM keyed,
             unnest(list_distinct(list_prepend(key,
                 [substr(key, 1, i - 1) || substr(key, i + 1)
                  for i in range(1, len(key) + 1)]))) AS t(v)
    ),
    big AS (SELECT v FROM dvars GROUP BY v HAVING count(*) > 100),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                        a.key AS ka, b.key AS kb
        FROM dvars a
        JOIN dvars b ON a.v = b.v AND a.doc_id < b.doc_id
        ANTI JOIN big ON a.v = big.v
    )
    SELECT doc_a, doc_b,
           CAST(levenshtein(ka, kb) AS BIGINT) AS dist
    FROM cand
    WHERE levenshtein(ka, kb) <= 1
    """,
)
def q_dedup_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance-1 fuzzy dedup via deletion neighborhoods (FastSS,
    Bocek et al. 2007) — the short-key rung of the dedup ladder (titles,
    product names, normalized headings): two keys within edit distance
    1 ALWAYS share an element of {key} ∪ {single-char deletions of
    key}, so candidacy is an equi-join on deletion variants and the
    exact Levenshtein verify runs only on bucket pairs — never corpus-
    quadratic, and no theta join anywhere.  (Sharing a variant does NOT
    imply ed<=1 — two different deletions can collide at distance 2 —
    hence the verify; the neighborhood guarantees RECALL.)  Keys are
    the 24-char lowercased doc prefix; the corpus's duplicate prefixes
    are byte-exact, so typos are SYNTHESIZED: ~29% of docs (key-hash
    selected, the q_split_hash multiplicative discipline) get one
    deterministic char deleted at a hash-derived position — the
    detector is generic and never inverts the synthesis.

    Scale shape: each doc emits <= len(key)+1 = 25 variant rows (pure
    codegen transform/explode — no UDF); ONE variant-keyed exchange
    builds the FastSS index; degenerate buckets (> 100 docs sharing a
    variant — stop-prefix mass) are dropped via a SIZE-GATED broadcast
    anti-join (the hot-variant table scales as ~corpus/100, so the
    hint rides the measured-count _broadcast_if_small gate and falls
    back to the v-keyed shuffle anti-join at lake scale), mirrored in
    the oracle (the LSH/winnow cap discipline: recall-only
    loss on mass that exact-dedup already catches); candidate pairs
    dedup through one pair-keyed exchange, then the Levenshtein kernel
    (codegen'd JVM dynamic program, ~25x25 chars) touches candidates
    only.  Hash-checked: integer distances, no floats anywhere."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    key0 = F.lower(F.substring(F.col("text"), 1, 24))
    pos = (F.col("doc_id") * 31) % 20 + 1
    typo = F.concat(
        key0.substr(F.lit(1), (pos - 1).cast("int")),
        key0.substr((pos + 1).cast("int"), F.lit(24)),
    )
    keyed = d.select(
        "doc_id",
        F.when((F.col("doc_id") * 9973) % 7 < 2, typo)
        .otherwise(key0)
        .alias("key"),
    )
    dels = F.transform(
        F.sequence(F.lit(1), F.length(F.col("key"))),
        lambda i: F.concat(
            F.col("key").substr(F.lit(1), (i - 1).cast("int")),
            F.col("key").substr((i + 1).cast("int"), F.lit(24)),
        ),
    )
    dvars = keyed.select(
        "doc_id",
        "key",
        F.explode(
            F.array_distinct(F.concat(F.array(F.col("key")), dels))
        ).alias("v"),
    ).localCheckpoint()  # 3 consumers: big-bucket scan + both join sides
    big = (
        dvars.groupBy("v")
        .agg(F.count(F.lit(1)).alias("nb"))
        .filter(F.col("nb") > 100)
        .select("v")
        .localCheckpoint()  # measured-count size gate + single compute
    )
    # Cap halved vs the degree-table default: these rows are ~25-char
    # variant strings (~32 B), not two longs, so 2M rows keeps the
    # broadcast at the same ~64 MB byte budget the gate is sized for.
    a = dvars.join(
        _broadcast_if_small(big, max_rows=_FUZZY_BROADCAST_MAX_VARIANTS),
        "v",
        "left_anti",
    ).select(
        F.col("v"),
        F.col("doc_id").alias("doc_a"),
        F.col("key").alias("ka"),
    )
    b = dvars.select(
        F.col("v"),
        F.col("doc_id").alias("doc_b"),
        F.col("key").alias("kb"),
    )
    cand = (
        a.join(b, "v")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "ka", "kb")
        .distinct()
    )
    return cand.select(
        "doc_a",
        "doc_b",
        F.levenshtein(F.col("ka"), F.col("kb")).cast("long").alias("dist"),
    ).filter(F.col("dist") <= 1)


@query(
    "q_dedup_norm",
    oracle="""
    WITH n AS (
        SELECT doc_id,
               md5(regexp_replace(
                   trim(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g')),
                   ' +', ' ', 'g')) AS fp
        FROM documents
    )
    SELECT min(doc_id) AS doc_id, count(*) AS n_copies
    FROM n GROUP BY fp
    """,
)
def q_dedup_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalization-then-dedup — the reference's canonicalize-before-
    hash insight (A3, Deduplicator.java:69,96-106) applied to text:
    case-fold, strip punctuation, collapse whitespace, THEN digest, so
    trivially-reformatted copies collapse to one identity.  First doc
    wins (min doc_id); the shuffle key is the fixed-width digest, not
    the document."""
    d = _t(spark, sf_dir, "documents")
    norm = F.regexp_replace(
        F.trim(F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", "")),
        " +",
        " ",
    )
    return (
        d.select("doc_id", F.md5(norm.cast("binary")).alias("fp"))
        .groupBy("fp")
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .drop("fp")
    )


@query(
    "q_text_lang_id",
    oracle=r"""
    WITH tok AS (
        SELECT doc_id, lang, text,
               string_split_regex(lower(trim(text)), '\s+') AS toks
        FROM documents
    ),
    hits AS (
        SELECT doc_id, lang, text, toks,
               len(list_intersect(toks, ['der','die','das','und','ist','nicht','ein','zu','mit','von'])) AS s_de,
               len(list_intersect(toks, ['the','a','of','and','to','in','is','it','that','for'])) AS s_en,
               len(list_intersect(toks, ['ja','on','ei','se','että','oli','hän','mutta','niin','kuin'])) AS s_fi,
               len(list_intersect(toks, ['le','la','de','et','est','un','une','que','pour','dans'])) AS s_fr,
               len(list_intersect(toks, ['och','att','det','som','en','är','av','för','med','på'])) AS s_sv
        FROM tok
    ),
    best AS (
        SELECT doc_id, lang, text,
               greatest(s_de*10 + 0, s_en*10 + 1, s_fi*10 + 2,
                        s_fr*10 + 3, s_sv*10 + 4) AS g
        FROM hits
    )
    SELECT doc_id, lang,
           CASE WHEN g < 10 THEN 'und'
                WHEN g % 10 = 0 THEN 'de' WHEN g % 10 = 1 THEN 'en'
                WHEN g % 10 = 2 THEN 'fi' WHEN g % 10 = 3 THEN 'fr'
                ELSE 'sv' END AS detected_lang,
           CAST(len(list_filter(
               string_split_regex(
                   regexp_replace(text, '([0-9]+|[^\s A-Za-z0-9]+|[^\sA-Za-z0-9]+)', '  ', 'g'),
                   '\s+'),
               x -> x <> '')) AS INT) AS bpe_tokens
    FROM best
    """,
)
def q_text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language-id (stopword-hit argmax; functions/text.py).
    The oracle encodes the argmax arithmetically (score*10 + language
    index) so ties break identically to Spark's greatest-of-structs
    (larger language string wins)."""
    from transitdata_hfp_deduplicator_spark.functions import text as TXT

    d = _t(spark, sf_dir, "documents")
    toks = TXT.tokenize(F.col("text"))
    return d.select(
        "doc_id",
        "lang",
        TXT.lang_id(toks).alias("detected_lang"),
        TXT.bpe_ish_token_count(F.col("text")).alias("bpe_tokens"),
    )


# ---------------------------------------------------------------------------
# Near-duplicate families (north star)
# ---------------------------------------------------------------------------


@query(
    "q_minhash_simdup",
    oracle="""
    WITH sh AS (
        SELECT doc_id,
               list_distinct([tokens[i] || ' ' || tokens[i+1] || ' ' || tokens[i+2]
                              for i in range(1, len(tokens) - 1)]) AS shingles
        FROM (SELECT doc_id, string_split(lower(trim(text)), ' ') AS tokens
              FROM documents)
        WHERE len(tokens) >= 3
    ),
    ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
    inter AS (
        SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS inter
        FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT i, j, inter,
           round(inter * 1.0 / (sa.n + sb.n - inter), 6) AS jaccard
    FROM inter
    JOIN (SELECT doc_id, len(shingles) AS n FROM sh) sa ON i = sa.doc_id
    JOIN (SELECT doc_id, len(shingles) AS n FROM sh) sb ON j = sb.doc_id
    WHERE inter * 1.0 / (sa.n + sb.n - inter) >= 0.5
    """,
)
def q_minhash_simdup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-shingle Jaccard near-dup pairs (J >= 0.5) — the
    ground-truth the MinHash/LSH path approximates."""
    from transitdata_hfp_deduplicator_spark.operators.similarity import jaccard_pairs

    d = _t(spark, sf_dir, "documents")
    return jaccard_pairs(d, "doc_id", "text", shingle_n=3, threshold=0.5)


@query(
    "q_minhash_signature",
    oracle="""
    WITH sh AS (
        SELECT doc_id,
               list_distinct([tokens[i] || ' ' || tokens[i+1] || ' ' || tokens[i+2]
                              for i in range(1, len(tokens) - 1)]) AS shingles
        FROM (SELECT doc_id, string_split(lower(trim(text)), ' ') AS tokens
              FROM documents)
        WHERE len(tokens) >= 3
    )
    SELECT doc_id,
           list_min(list_transform(shingles,
               s -> (('0x' || substr(md5(s), 1, 15))::BIGINT
                     + 0 * (('0x' || substr(md5(s), 17, 15))::BIGINT
                            % 288230376151711744))
                    & 576460752303423487)) AS mh_0,
           list_min(list_transform(shingles,
               s -> (('0x' || substr(md5(s), 1, 15))::BIGINT
                     + 1 * (('0x' || substr(md5(s), 17, 15))::BIGINT
                            % 288230376151711744))
                    & 576460752303423487)) AS mh_1,
           list_min(list_transform(shingles,
               s -> (('0x' || substr(md5(s), 1, 15))::BIGINT
                     + 2 * (('0x' || substr(md5(s), 17, 15))::BIGINT
                            % 288230376151711744))
                    & 576460752303423487)) AS mh_2,
           list_min(list_transform(shingles,
               s -> (('0x' || substr(md5(s), 1, 15))::BIGINT
                     + 3 * (('0x' || substr(md5(s), 17, 15))::BIGINT
                            % 288230376151711744))
                    & 576460752303423487)) AS mh_3
    FROM sh
    """,
)
def q_minhash_signature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures (4 hashes shown; engine default 16) — md5-based
    hash family so the signature bytes are engine-independent, the same
    externalizability the reference pinned seed 42 for
    (Deduplicator.java:27-28)."""
    from transitdata_hfp_deduplicator_spark.operators.similarity import (
        minhash_signatures,
    )

    d = _t(spark, sf_dir, "documents")
    return minhash_signatures(d, "doc_id", "text", shingle_n=3, num_hashes=4)


@query(
    "q_dedup_incr_neardup",
    oracle="""
    WITH sh AS (
        SELECT doc_id,
               list_distinct([tokens[i] || ' ' || tokens[i+1] || ' ' || tokens[i+2]
                              for i in range(1, len(tokens) - 1)]) AS shingles
        FROM (SELECT doc_id, string_split(lower(trim(text)), ' ') AS tokens
              FROM documents)
        WHERE len(tokens) >= 3
    ),
    mh AS MATERIALIZED (
        SELECT doc_id, shingles,
               [list_min(list_transform(shingles,
                    s -> (('0x' || substr(md5(s), 1, 15))::BIGINT
                          + k * (('0x' || substr(md5(s), 17, 15))::BIGINT
                                 % 288230376151711744))
                         & 576460752303423487))
                for k in range(0, 16)] AS sig
        FROM sh
    ),
    cut AS (SELECT CAST(floor(0.6 * count(*)) AS BIGINT) AS c FROM documents),
    hist AS (SELECT mh.* FROM mh, cut WHERE doc_id < c),
    nw AS (SELECT mh.* FROM mh, cut WHERE doc_id >= c),
    cand AS (
        SELECT h.doc_id AS i, n.doc_id AS j FROM hist h JOIN nw n ON h.sig[1] = n.sig[1] AND h.sig[2] = n.sig[2]
        UNION
        SELECT h.doc_id AS i, n.doc_id AS j FROM hist h JOIN nw n ON h.sig[3] = n.sig[3] AND h.sig[4] = n.sig[4]
        UNION
        SELECT h.doc_id AS i, n.doc_id AS j FROM hist h JOIN nw n ON h.sig[5] = n.sig[5] AND h.sig[6] = n.sig[6]
        UNION
        SELECT h.doc_id AS i, n.doc_id AS j FROM hist h JOIN nw n ON h.sig[7] = n.sig[7] AND h.sig[8] = n.sig[8]
        UNION
        SELECT h.doc_id AS i, n.doc_id AS j FROM hist h JOIN nw n ON h.sig[9] = n.sig[9] AND h.sig[10] = n.sig[10]
        UNION
        SELECT h.doc_id AS i, n.doc_id AS j FROM hist h JOIN nw n ON h.sig[11] = n.sig[11] AND h.sig[12] = n.sig[12]
        UNION
        SELECT h.doc_id AS i, n.doc_id AS j FROM hist h JOIN nw n ON h.sig[13] = n.sig[13] AND h.sig[14] = n.sig[14]
        UNION
        SELECT h.doc_id AS i, n.doc_id AS j FROM hist h JOIN nw n ON h.sig[15] = n.sig[15] AND h.sig[16] = n.sig[16]
        UNION
        SELECT a.doc_id AS i, b.doc_id AS j FROM nw a JOIN nw b ON a.sig[1] = b.sig[1] AND a.sig[2] = b.sig[2] AND a.doc_id < b.doc_id
        UNION
        SELECT a.doc_id AS i, b.doc_id AS j FROM nw a JOIN nw b ON a.sig[3] = b.sig[3] AND a.sig[4] = b.sig[4] AND a.doc_id < b.doc_id
        UNION
        SELECT a.doc_id AS i, b.doc_id AS j FROM nw a JOIN nw b ON a.sig[5] = b.sig[5] AND a.sig[6] = b.sig[6] AND a.doc_id < b.doc_id
        UNION
        SELECT a.doc_id AS i, b.doc_id AS j FROM nw a JOIN nw b ON a.sig[7] = b.sig[7] AND a.sig[8] = b.sig[8] AND a.doc_id < b.doc_id
        UNION
        SELECT a.doc_id AS i, b.doc_id AS j FROM nw a JOIN nw b ON a.sig[9] = b.sig[9] AND a.sig[10] = b.sig[10] AND a.doc_id < b.doc_id
        UNION
        SELECT a.doc_id AS i, b.doc_id AS j FROM nw a JOIN nw b ON a.sig[11] = b.sig[11] AND a.sig[12] = b.sig[12] AND a.doc_id < b.doc_id
        UNION
        SELECT a.doc_id AS i, b.doc_id AS j FROM nw a JOIN nw b ON a.sig[13] = b.sig[13] AND a.sig[14] = b.sig[14] AND a.doc_id < b.doc_id
        UNION
        SELECT a.doc_id AS i, b.doc_id AS j FROM nw a JOIN nw b ON a.sig[15] = b.sig[15] AND a.sig[16] = b.sig[16] AND a.doc_id < b.doc_id
    ),
    pairj AS (
        SELECT cand.i, cand.j,
               round(len(list_intersect(a.shingles, b.shingles)) * 1.0
                     / len(list_distinct(a.shingles || b.shingles)), 6) AS jac
        FROM cand JOIN mh a ON cand.i = a.doc_id JOIN mh b ON cand.j = b.doc_id
    ),
    hits AS (
        SELECT j, min(i) AS dup_of, max(jac) AS jaccard
        FROM pairj WHERE jac >= 0.5 GROUP BY j
    )
    SELECT n.doc_id, h.j IS NOT NULL AS is_dup, h.dup_of, h.jaccard
    FROM (SELECT doc_id FROM documents, cut WHERE doc_id >= c) n
    LEFT JOIN hits h ON n.doc_id = h.j
    """,
)
def q_dedup_incr_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental NEAR-dup dedup: the last 40% of the corpus arrives
    as a new batch and each new doc is checked against the historical
    60% (via its precomputed band index) plus earlier docs of the same
    batch — q_dedup_incremental's production shape lifted from exact
    digests to Jaccard similarity
    (operators/similarity.py::minhash_lsh_incremental; history×history
    pairs never enumerated).  HASH-CHECKED via the md5 signature
    family."""
    from transitdata_hfp_deduplicator_spark.operators.similarity import (
        minhash_lsh_incremental,
    )

    d = _t(spark, sf_dir, "documents")
    cut = d.agg(
        F.floor(0.6 * F.count(F.lit(1))).cast("bigint").alias("c")
    )
    hist = d.join(F.broadcast(cut)).filter(F.col("doc_id") < F.col("c"))
    new = d.join(F.broadcast(cut)).filter(F.col("doc_id") >= F.col("c"))
    return minhash_lsh_incremental(
        new, hist, "doc_id", "text", shingle_n=3, num_hashes=16, bands=8,
        threshold=0.5,
    )


@query(
    "q_dedup_incr_substring",
    oracle="""
    WITH cut AS (
        SELECT CAST(floor(0.6 * count(*)) AS BIGINT) AS c FROM documents
    ),
    norm AS (SELECT doc_id, lower(trim(text)) AS t FROM documents),
    g AS (
        SELECT DISTINCT doc_id,
               ('0x' || substr(md5(substr(t, p, 20)), 1, 15))::BIGINT AS h
        FROM (SELECT * FROM norm WHERE len(t) >= 20),
             unnest(generate_series(1, len(t) - 19)) AS u(p)
        WHERE ('0x' || substr(md5(substr(t, p, 20)), 1, 15))::BIGINT % 4 = 0
    ),
    keep AS (SELECT h FROM g GROUP BY h HAVING count(*) BETWEEN 2 AND 20),
    gh AS (SELECT doc_id, h FROM g, cut WHERE doc_id < c),
    gn AS (SELECT doc_id, h FROM g, cut WHERE doc_id >= c),
    pairs AS (
        SELECT gh.doc_id AS i, gn.doc_id AS j
        FROM gh JOIN keep USING (h) JOIN gn USING (h)
        UNION ALL
        SELECT a.doc_id AS i, b.doc_id AS j
        FROM gn a JOIN keep USING (h) JOIN gn b USING (h)
        WHERE a.doc_id < b.doc_id
    ),
    shared AS (
        SELECT i, j, count(*) AS n FROM pairs GROUP BY i, j
    ),
    hits AS (
        SELECT j AS doc_id, min(i) AS dup_of, max(n) AS shared_grams
        FROM shared GROUP BY j
    )
    SELECT n.doc_id, h.doc_id IS NOT NULL AS is_dup,
           h.dup_of, h.shared_grams
    FROM (SELECT doc_id FROM documents, cut WHERE doc_id >= c) n
    LEFT JOIN hits h USING (doc_id)
    """,
)
def q_dedup_incr_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental EXACT-SUBSTRING dedup — completes the incremental
    family (exact digests → near-text Jaccard → exact substring): the
    last 40% of the corpus arrives as a new batch and each new doc is
    checked for a shared ≥20-char exact run against the historical 60%
    (its content-defined gram index) plus earlier docs of the same
    batch.  History×history pairs are NEVER enumerated — the history
    side participates only as members of the df-capped gram buckets
    (the gram index), and the new-side filter runs before pair
    construction — the production shape where the historical index is
    large and the batch is small.

    Same content-defined selection as q_dedup_substring (md5 20-gram,
    hash%4==0 — alignment-free), same df-cap discipline (grams in 2..20
    docs corpus-wide), same keep-min-id verdicts; counts of shared
    selected grams arrive from the pair-keyed aggregate, not arrays."""
    from transitdata_hfp_deduplicator_spark.operators.substring import (
        char_gram_postings,
        gram_buckets,
        normalize_text,
    )

    d = _t(spark, sf_dir, "documents")
    cut = d.agg(F.floor(0.6 * F.count(F.lit(1))).cast("bigint").alias("c"))
    # ONE posting-list pass (the q_dedup_substring shape: per-doc gram
    # dedup rides the h-keyed exchange's map-side partial collect_set,
    # df-capped buckets), with the incremental cut applied INSIDE the
    # pair-emission transform: for each new-side doc y (y >= c) pair it
    # with every lower-id doc x < y in the bucket — exactly
    # hist×new ∪ earlier-new×new.  The y >= c filter runs BEFORE any
    # pair is built, so history×history pairs never materialize (the
    # history side still participates only as bucket members, i.e. as
    # the gram index).  The earlier join formulation referenced the
    # gram pipeline once per join side (4 references, 20 exchanges in
    # the static plan — AQE exchange reuse deduplicated the repeated
    # subtrees at runtime, so the run-time win is the removed keep/side
    # joins and their shuffles, not 4x the map work: measured 5.0s ->
    # 4.6s isolated-warm at sf0.1, ~18% calib-normalized); the single
    # posting-list pass also shuffles each posting once at lake scale,
    # where multi-branch exchange reuse is not free disk-wise.
    buckets = gram_buckets(char_gram_postings(normalize_text(d)))
    pair_struct = F.expr(
        "flatten(transform(filter(ds, y -> y >= c), y -> "
        "transform(filter(ds, x -> x < y), x -> struct(x as i, y as j))))"
    )
    shared = (
        buckets.join(F.broadcast(cut))
        .select(F.explode(pair_struct).alias("p"))
        .select("p.i", "p.j")
        .groupBy("i", "j")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    hits = shared.groupBy(F.col("j").alias("doc_id")).agg(
        F.min("i").alias("dup_of"), F.max("n").alias("shared_grams")
    )
    new_docs = (
        d.select("doc_id")
        .join(F.broadcast(cut))
        .filter(F.col("doc_id") >= F.col("c"))
        .select("doc_id")
    )
    return new_docs.join(hits, "doc_id", "left").select(
        "doc_id",
        F.col("dup_of").isNotNull().alias("is_dup"),
        "dup_of",
        "shared_grams",
    )


@query(
    "q_dedup_minhash_lsh",
    oracle="""
    WITH sh AS (
        SELECT doc_id,
               list_distinct([tokens[i] || ' ' || tokens[i+1] || ' ' || tokens[i+2]
                              for i in range(1, len(tokens) - 1)]) AS shingles
        FROM (SELECT doc_id, string_split(lower(trim(text)), ' ') AS tokens
              FROM documents)
        WHERE len(tokens) >= 3
    ),
    mh AS MATERIALIZED (
        SELECT doc_id, shingles,
               [list_min(list_transform(shingles,
                    s -> (('0x' || substr(md5(s), 1, 15))::BIGINT
                          + k * (('0x' || substr(md5(s), 17, 15))::BIGINT
                                 % 288230376151711744))
                         & 576460752303423487))
                for k in range(0, 16)] AS sig
        FROM sh
    ),
    ids AS (
        SELECT a.doc_id AS i, b.doc_id AS j FROM mh a JOIN mh b ON a.sig[1] = b.sig[1] AND a.sig[2] = b.sig[2] AND a.doc_id < b.doc_id
            UNION
            SELECT a.doc_id AS i, b.doc_id AS j FROM mh a JOIN mh b ON a.sig[3] = b.sig[3] AND a.sig[4] = b.sig[4] AND a.doc_id < b.doc_id
            UNION
            SELECT a.doc_id AS i, b.doc_id AS j FROM mh a JOIN mh b ON a.sig[5] = b.sig[5] AND a.sig[6] = b.sig[6] AND a.doc_id < b.doc_id
            UNION
            SELECT a.doc_id AS i, b.doc_id AS j FROM mh a JOIN mh b ON a.sig[7] = b.sig[7] AND a.sig[8] = b.sig[8] AND a.doc_id < b.doc_id
            UNION
            SELECT a.doc_id AS i, b.doc_id AS j FROM mh a JOIN mh b ON a.sig[9] = b.sig[9] AND a.sig[10] = b.sig[10] AND a.doc_id < b.doc_id
            UNION
            SELECT a.doc_id AS i, b.doc_id AS j FROM mh a JOIN mh b ON a.sig[11] = b.sig[11] AND a.sig[12] = b.sig[12] AND a.doc_id < b.doc_id
            UNION
            SELECT a.doc_id AS i, b.doc_id AS j FROM mh a JOIN mh b ON a.sig[13] = b.sig[13] AND a.sig[14] = b.sig[14] AND a.doc_id < b.doc_id
            UNION
            SELECT a.doc_id AS i, b.doc_id AS j FROM mh a JOIN mh b ON a.sig[15] = b.sig[15] AND a.sig[16] = b.sig[16] AND a.doc_id < b.doc_id
    ),
    cand AS (
        SELECT ids.i, ids.j, a.shingles AS sh_i, b.shingles AS sh_j
        FROM ids JOIN mh a ON ids.i = a.doc_id JOIN mh b ON ids.j = b.doc_id
    )
    SELECT i, j,
           round(len(list_intersect(sh_i, sh_j)) * 1.0
                 / len(list_distinct(sh_i || sh_j)), 6) AS jaccard
    FROM cand
    WHERE round(len(list_intersect(sh_i, sh_j)) * 1.0
                / len(list_distinct(sh_i || sh_j)), 6) >= 0.5
    """,
)
def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH banding near-dup pairs, exact-Jaccard verified —
    the 100 TB near-dup plan (signatures map-only; shuffle keys are
    band buckets).  HASH-CHECKED: the md5-derived signature family is
    engine-independent, so DuckDB reproduces band candidacy (8 bands x
    2 rows) and the exact-Jaccard verdicts bit-for-bit."""
    from transitdata_hfp_deduplicator_spark.operators.similarity import (
        minhash_lsh_pairs,
    )

    d = _t(spark, sf_dir, "documents")
    return minhash_lsh_pairs(
        d, "doc_id", "text", shingle_n=3, num_hashes=16, bands=8, threshold=0.5
    )


@query(
    "q_dedup_simhash",
    oracle="""
    WITH tok AS (
        SELECT doc_id, unnest(string_split(lower(trim(text)), ' ')) AS t
        FROM documents
    ),
    h AS (
        SELECT doc_id, ('0x' || substr(md5('0|' || t), 1, 15))::BIGINT AS hv
        FROM tok
    ),
    votes AS (
        SELECT doc_id,
               sum(CASE WHEN (hv >> 0) & 1 = 1 THEN 1 ELSE -1 END) AS v0,
               sum(CASE WHEN (hv >> 1) & 1 = 1 THEN 1 ELSE -1 END) AS v1,
               sum(CASE WHEN (hv >> 2) & 1 = 1 THEN 1 ELSE -1 END) AS v2,
               sum(CASE WHEN (hv >> 3) & 1 = 1 THEN 1 ELSE -1 END) AS v3,
               sum(CASE WHEN (hv >> 4) & 1 = 1 THEN 1 ELSE -1 END) AS v4,
               sum(CASE WHEN (hv >> 5) & 1 = 1 THEN 1 ELSE -1 END) AS v5,
               sum(CASE WHEN (hv >> 6) & 1 = 1 THEN 1 ELSE -1 END) AS v6,
               sum(CASE WHEN (hv >> 7) & 1 = 1 THEN 1 ELSE -1 END) AS v7,
               sum(CASE WHEN (hv >> 8) & 1 = 1 THEN 1 ELSE -1 END) AS v8,
               sum(CASE WHEN (hv >> 9) & 1 = 1 THEN 1 ELSE -1 END) AS v9,
               sum(CASE WHEN (hv >> 10) & 1 = 1 THEN 1 ELSE -1 END) AS v10,
               sum(CASE WHEN (hv >> 11) & 1 = 1 THEN 1 ELSE -1 END) AS v11,
               sum(CASE WHEN (hv >> 12) & 1 = 1 THEN 1 ELSE -1 END) AS v12,
               sum(CASE WHEN (hv >> 13) & 1 = 1 THEN 1 ELSE -1 END) AS v13,
               sum(CASE WHEN (hv >> 14) & 1 = 1 THEN 1 ELSE -1 END) AS v14,
               sum(CASE WHEN (hv >> 15) & 1 = 1 THEN 1 ELSE -1 END) AS v15,
               sum(CASE WHEN (hv >> 16) & 1 = 1 THEN 1 ELSE -1 END) AS v16,
               sum(CASE WHEN (hv >> 17) & 1 = 1 THEN 1 ELSE -1 END) AS v17,
               sum(CASE WHEN (hv >> 18) & 1 = 1 THEN 1 ELSE -1 END) AS v18,
               sum(CASE WHEN (hv >> 19) & 1 = 1 THEN 1 ELSE -1 END) AS v19,
               sum(CASE WHEN (hv >> 20) & 1 = 1 THEN 1 ELSE -1 END) AS v20,
               sum(CASE WHEN (hv >> 21) & 1 = 1 THEN 1 ELSE -1 END) AS v21,
               sum(CASE WHEN (hv >> 22) & 1 = 1 THEN 1 ELSE -1 END) AS v22,
               sum(CASE WHEN (hv >> 23) & 1 = 1 THEN 1 ELSE -1 END) AS v23,
               sum(CASE WHEN (hv >> 24) & 1 = 1 THEN 1 ELSE -1 END) AS v24,
               sum(CASE WHEN (hv >> 25) & 1 = 1 THEN 1 ELSE -1 END) AS v25,
               sum(CASE WHEN (hv >> 26) & 1 = 1 THEN 1 ELSE -1 END) AS v26,
               sum(CASE WHEN (hv >> 27) & 1 = 1 THEN 1 ELSE -1 END) AS v27,
               sum(CASE WHEN (hv >> 28) & 1 = 1 THEN 1 ELSE -1 END) AS v28,
               sum(CASE WHEN (hv >> 29) & 1 = 1 THEN 1 ELSE -1 END) AS v29,
               sum(CASE WHEN (hv >> 30) & 1 = 1 THEN 1 ELSE -1 END) AS v30,
               sum(CASE WHEN (hv >> 31) & 1 = 1 THEN 1 ELSE -1 END) AS v31,
               sum(CASE WHEN (hv >> 32) & 1 = 1 THEN 1 ELSE -1 END) AS v32,
               sum(CASE WHEN (hv >> 33) & 1 = 1 THEN 1 ELSE -1 END) AS v33,
               sum(CASE WHEN (hv >> 34) & 1 = 1 THEN 1 ELSE -1 END) AS v34,
               sum(CASE WHEN (hv >> 35) & 1 = 1 THEN 1 ELSE -1 END) AS v35,
               sum(CASE WHEN (hv >> 36) & 1 = 1 THEN 1 ELSE -1 END) AS v36,
               sum(CASE WHEN (hv >> 37) & 1 = 1 THEN 1 ELSE -1 END) AS v37,
               sum(CASE WHEN (hv >> 38) & 1 = 1 THEN 1 ELSE -1 END) AS v38,
               sum(CASE WHEN (hv >> 39) & 1 = 1 THEN 1 ELSE -1 END) AS v39,
               sum(CASE WHEN (hv >> 40) & 1 = 1 THEN 1 ELSE -1 END) AS v40,
               sum(CASE WHEN (hv >> 41) & 1 = 1 THEN 1 ELSE -1 END) AS v41,
               sum(CASE WHEN (hv >> 42) & 1 = 1 THEN 1 ELSE -1 END) AS v42,
               sum(CASE WHEN (hv >> 43) & 1 = 1 THEN 1 ELSE -1 END) AS v43,
               sum(CASE WHEN (hv >> 44) & 1 = 1 THEN 1 ELSE -1 END) AS v44,
               sum(CASE WHEN (hv >> 45) & 1 = 1 THEN 1 ELSE -1 END) AS v45,
               sum(CASE WHEN (hv >> 46) & 1 = 1 THEN 1 ELSE -1 END) AS v46,
               sum(CASE WHEN (hv >> 47) & 1 = 1 THEN 1 ELSE -1 END) AS v47,
               sum(CASE WHEN (hv >> 48) & 1 = 1 THEN 1 ELSE -1 END) AS v48,
               sum(CASE WHEN (hv >> 49) & 1 = 1 THEN 1 ELSE -1 END) AS v49,
               sum(CASE WHEN (hv >> 50) & 1 = 1 THEN 1 ELSE -1 END) AS v50,
               sum(CASE WHEN (hv >> 51) & 1 = 1 THEN 1 ELSE -1 END) AS v51,
               sum(CASE WHEN (hv >> 52) & 1 = 1 THEN 1 ELSE -1 END) AS v52,
               sum(CASE WHEN (hv >> 53) & 1 = 1 THEN 1 ELSE -1 END) AS v53,
               sum(CASE WHEN (hv >> 54) & 1 = 1 THEN 1 ELSE -1 END) AS v54,
               sum(CASE WHEN (hv >> 55) & 1 = 1 THEN 1 ELSE -1 END) AS v55,
               sum(CASE WHEN (hv >> 56) & 1 = 1 THEN 1 ELSE -1 END) AS v56,
               sum(CASE WHEN (hv >> 57) & 1 = 1 THEN 1 ELSE -1 END) AS v57,
               sum(CASE WHEN (hv >> 58) & 1 = 1 THEN 1 ELSE -1 END) AS v58,
               sum(CASE WHEN (hv >> 59) & 1 = 1 THEN 1 ELSE -1 END) AS v59
        FROM h GROUP BY doc_id
    ),
    sh AS (
        SELECT doc_id,
               (CASE WHEN v0 > 0 THEN 1 ELSE 0 END
               + CASE WHEN v1 > 0 THEN 2 ELSE 0 END
               + CASE WHEN v2 > 0 THEN 4 ELSE 0 END
               + CASE WHEN v3 > 0 THEN 8 ELSE 0 END
               + CASE WHEN v4 > 0 THEN 16 ELSE 0 END
               + CASE WHEN v5 > 0 THEN 32 ELSE 0 END
               + CASE WHEN v6 > 0 THEN 64 ELSE 0 END
               + CASE WHEN v7 > 0 THEN 128 ELSE 0 END
               + CASE WHEN v8 > 0 THEN 256 ELSE 0 END
               + CASE WHEN v9 > 0 THEN 512 ELSE 0 END
               + CASE WHEN v10 > 0 THEN 1024 ELSE 0 END
               + CASE WHEN v11 > 0 THEN 2048 ELSE 0 END
               + CASE WHEN v12 > 0 THEN 4096 ELSE 0 END
               + CASE WHEN v13 > 0 THEN 8192 ELSE 0 END
               + CASE WHEN v14 > 0 THEN 16384 ELSE 0 END
               + CASE WHEN v15 > 0 THEN 32768 ELSE 0 END
               + CASE WHEN v16 > 0 THEN 65536 ELSE 0 END
               + CASE WHEN v17 > 0 THEN 131072 ELSE 0 END
               + CASE WHEN v18 > 0 THEN 262144 ELSE 0 END
               + CASE WHEN v19 > 0 THEN 524288 ELSE 0 END
               + CASE WHEN v20 > 0 THEN 1048576 ELSE 0 END
               + CASE WHEN v21 > 0 THEN 2097152 ELSE 0 END
               + CASE WHEN v22 > 0 THEN 4194304 ELSE 0 END
               + CASE WHEN v23 > 0 THEN 8388608 ELSE 0 END
               + CASE WHEN v24 > 0 THEN 16777216 ELSE 0 END
               + CASE WHEN v25 > 0 THEN 33554432 ELSE 0 END
               + CASE WHEN v26 > 0 THEN 67108864 ELSE 0 END
               + CASE WHEN v27 > 0 THEN 134217728 ELSE 0 END
               + CASE WHEN v28 > 0 THEN 268435456 ELSE 0 END
               + CASE WHEN v29 > 0 THEN 536870912 ELSE 0 END
               + CASE WHEN v30 > 0 THEN 1073741824 ELSE 0 END
               + CASE WHEN v31 > 0 THEN 2147483648 ELSE 0 END
               + CASE WHEN v32 > 0 THEN 4294967296 ELSE 0 END
               + CASE WHEN v33 > 0 THEN 8589934592 ELSE 0 END
               + CASE WHEN v34 > 0 THEN 17179869184 ELSE 0 END
               + CASE WHEN v35 > 0 THEN 34359738368 ELSE 0 END
               + CASE WHEN v36 > 0 THEN 68719476736 ELSE 0 END
               + CASE WHEN v37 > 0 THEN 137438953472 ELSE 0 END
               + CASE WHEN v38 > 0 THEN 274877906944 ELSE 0 END
               + CASE WHEN v39 > 0 THEN 549755813888 ELSE 0 END
               + CASE WHEN v40 > 0 THEN 1099511627776 ELSE 0 END
               + CASE WHEN v41 > 0 THEN 2199023255552 ELSE 0 END
               + CASE WHEN v42 > 0 THEN 4398046511104 ELSE 0 END
               + CASE WHEN v43 > 0 THEN 8796093022208 ELSE 0 END
               + CASE WHEN v44 > 0 THEN 17592186044416 ELSE 0 END
               + CASE WHEN v45 > 0 THEN 35184372088832 ELSE 0 END
               + CASE WHEN v46 > 0 THEN 70368744177664 ELSE 0 END
               + CASE WHEN v47 > 0 THEN 140737488355328 ELSE 0 END
               + CASE WHEN v48 > 0 THEN 281474976710656 ELSE 0 END
               + CASE WHEN v49 > 0 THEN 562949953421312 ELSE 0 END
               + CASE WHEN v50 > 0 THEN 1125899906842624 ELSE 0 END
               + CASE WHEN v51 > 0 THEN 2251799813685248 ELSE 0 END
               + CASE WHEN v52 > 0 THEN 4503599627370496 ELSE 0 END
               + CASE WHEN v53 > 0 THEN 9007199254740992 ELSE 0 END
               + CASE WHEN v54 > 0 THEN 18014398509481984 ELSE 0 END
               + CASE WHEN v55 > 0 THEN 36028797018963968 ELSE 0 END
               + CASE WHEN v56 > 0 THEN 72057594037927936 ELSE 0 END
               + CASE WHEN v57 > 0 THEN 144115188075855872 ELSE 0 END
               + CASE WHEN v58 > 0 THEN 288230376151711744 ELSE 0 END
               + CASE WHEN v59 > 0 THEN 576460752303423488 ELSE 0 END) AS sh
        FROM votes
    )
    SELECT a.doc_id AS i, b.doc_id AS j,
           CAST(bit_count(xor(a.sh, b.sh)) AS INTEGER) AS hamming
    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.sh, b.sh)) <= 3
    """,
)
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (hamming <= 3 over 64-bit token-majority
    hashes; pigeonhole chunk join = exact recall for d<=3).
    HASH-CHECKED: with the md5-derived token-hash family the signature
    is engine-independent, and full pigeonhole recall means the result
    equals DuckDB's brute-force hamming join exactly."""
    from transitdata_hfp_deduplicator_spark.operators.similarity import simhash_pairs

    d = _t(spark, sf_dir, "documents")
    return simhash_pairs(d, "doc_id", "text", max_hamming=3)


# ---------------------------------------------------------------------------
# Similarity search (north star)
# ---------------------------------------------------------------------------


@query(
    "q_embed_cosine",
    oracle="""
    WITH q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS q_vec
               FROM embeddings WHERE vec_id % 100 = 0),
         scored AS (
             SELECT q.q_id, e.vec_id AS item_id,
                    round(list_dot_product(e.embedding::DOUBLE[], q.q_vec)
                          / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
                             * sqrt(list_dot_product(q.q_vec, q.q_vec))), 6) AS cos_sim
             FROM embeddings e CROSS JOIN q
         )
    SELECT q_id, item_id, cos_sim, rank FROM (
        SELECT q_id, item_id, cos_sim,
               row_number() OVER (PARTITION BY q_id
                                  ORDER BY cos_sim DESC, item_id) AS rank
        FROM scored
    ) WHERE rank <= 5
    """,
)
def q_embed_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 for every 100th vector as query set —
    the exact baseline ANN answers are judged against."""
    from transitdata_hfp_deduplicator_spark.operators.similarity import cosine_topk

    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    return cosine_topk(e, q, k=5)


@query(
    "q_embed_ann_ivf",
    oracle="""
    WITH e AS (
        SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings
    ),
    cent AS (
        SELECT label, i,
               CAST(SUM(CAST(v[i] AS DECIMAL(30,12))) AS DOUBLE) / count(*) AS m
        FROM e, (SELECT unnest(range(1, 65)) AS i) t
        GROUP BY label, i
    ),
    centv AS (SELECT label, list(m ORDER BY i) AS c FROM cent GROUP BY label),
    q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id % 100 = 0),
    probes AS (
        SELECT q_id, qv, label
        FROM (
            SELECT q.q_id, q.qv, cv.label,
                   list_dot_product(q.qv, cv.c)
                   / (sqrt(list_dot_product(q.qv, q.qv))
                      * sqrt(list_dot_product(cv.c, cv.c))) AS c_sim
            FROM q CROSS JOIN centv cv
        )
        QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY c_sim DESC, label) <= 3
    ),
    scored AS (
        SELECT p.q_id, e.vec_id AS item_id,
               round(list_dot_product(e.v, p.qv)
                     / (sqrt(list_dot_product(e.v, e.v))
                        * sqrt(list_dot_product(p.qv, p.qv))), 6) AS cos_sim
        FROM e JOIN probes p ON e.label = p.label
    )
    SELECT q_id, item_id, cos_sim,
           CAST(row_number() OVER (
               PARTITION BY q_id ORDER BY cos_sim DESC, item_id) AS BIGINT) AS "rank"
    FROM scored
    QUALIFY "rank" <= 5
    """,
)
def q_embed_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: label-cell centroids, nprobe=3 — the scale path
    (each query scans nprobe/ncells of the data).  HASH-CHECKED: the
    DECIMAL-routed centroid mean makes the coarse quantizer identical
    across engines and partition orders, so probe selection and the
    exact in-cell scores reproduce in DuckDB; recall vs q_embed_cosine
    additionally asserted in tests."""
    from transitdata_hfp_deduplicator_spark.operators.similarity import ivf_topk

    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    return ivf_topk(e, q, k=5, nprobe=3)


@query(
    "q_embed_ann_pq",
    oracle="""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    sub AS (
        SELECT vec_id AS vid, s, v[s*8+1 : s*8+8] AS subv
        FROM e, (SELECT unnest(range(0, 8)) AS s) t
    ),
    init AS (
        SELECT vid, s, subv,
               ('0x' || substr(md5(vid::VARCHAR), 1, 15))::BIGINT % 32 AS cell
        FROM sub
    ),
    m AS (
        SELECT s, cell, i,
               CAST(SUM(CAST(subv[i] AS DECIMAL(30,12))) AS DOUBLE)
                   / count(*) AS m
        FROM init, (SELECT unnest(range(1, 9)) AS i) u
        GROUP BY s, cell, i
    ),
    cent AS (SELECT s, cell, list(m ORDER BY i) AS c FROM m GROUP BY s, cell),
    codes AS (
        SELECT vid, s, cell FROM (
            SELECT sub.vid, sub.s, cent.cell,
                   round(list_dot_product(subv, subv)
                         - 2 * list_dot_product(subv, c)
                         + list_dot_product(c, c), 6) AS d2
            FROM sub JOIN cent ON sub.s = cent.s
        ) QUALIFY row_number() OVER (PARTITION BY vid, s
                                     ORDER BY d2, cell) = 1
    ),
    q AS (SELECT vid AS q_id, s, subv FROM sub WHERE vid % 100 = 0),
    lut AS (
        SELECT q_id, cent.s, cell,
               list_dot_product(subv, subv)
               - 2 * list_dot_product(subv, c)
               + list_dot_product(c, c) AS d2q
        FROM q JOIN cent ON q.s = cent.s
    ),
    codes_w AS (
        SELECT vid,
               max(CASE WHEN s = 0 THEN cell END) AS c0,
               max(CASE WHEN s = 1 THEN cell END) AS c1,
               max(CASE WHEN s = 2 THEN cell END) AS c2,
               max(CASE WHEN s = 3 THEN cell END) AS c3,
               max(CASE WHEN s = 4 THEN cell END) AS c4,
               max(CASE WHEN s = 5 THEN cell END) AS c5,
               max(CASE WHEN s = 6 THEN cell END) AS c6,
               max(CASE WHEN s = 7 THEN cell END) AS c7
        FROM codes GROUP BY vid
    ),
    adc AS (
        SELECT l0.q_id, w.vid AS item_id,
               round((((((((l0.d2q + l1.d2q) + l2.d2q) + l3.d2q) + l4.d2q) + l5.d2q) + l6.d2q) + l7.d2q), 6) AS adc_d2
        FROM codes_w w
        JOIN lut l0 ON l0.s = 0 AND l0.cell = w.c0
        JOIN lut l1 ON l1.s = 1 AND l1.cell = w.c1 AND l1.q_id = l0.q_id
        JOIN lut l2 ON l2.s = 2 AND l2.cell = w.c2 AND l2.q_id = l0.q_id
        JOIN lut l3 ON l3.s = 3 AND l3.cell = w.c3 AND l3.q_id = l0.q_id
        JOIN lut l4 ON l4.s = 4 AND l4.cell = w.c4 AND l4.q_id = l0.q_id
        JOIN lut l5 ON l5.s = 5 AND l5.cell = w.c5 AND l5.q_id = l0.q_id
        JOIN lut l6 ON l6.s = 6 AND l6.cell = w.c6 AND l6.q_id = l0.q_id
        JOIN lut l7 ON l7.s = 7 AND l7.cell = w.c7 AND l7.q_id = l0.q_id
    ),
    short AS (
        SELECT q_id, item_id FROM adc
        QUALIFY row_number() OVER (PARTITION BY q_id
                                   ORDER BY adc_d2, item_id) <= 50
    ),
    rr AS (
        SELECT s.q_id, s.item_id,
               round(list_dot_product(iv.v, iv.v)
                     - 2 * list_dot_product(iv.v, qv.v)
                     + list_dot_product(qv.v, qv.v), 6) AS d2
        FROM short s
        JOIN e iv ON iv.vec_id = s.item_id
        JOIN e qv ON qv.vec_id = s.q_id
    )
    SELECT q_id, item_id, d2,
           CAST(row_number() OVER (PARTITION BY q_id
                                   ORDER BY d2, item_id) AS BIGINT)
               AS "rank"
    FROM rr QUALIFY "rank" <= 5
    """,
)
def q_embed_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN with exact re-rank (Jégou et al. 2011,
    §V — the deployed shape): 8 subspaces x 8 dims, 32-codeword
    codebooks (DECIMAL-mean of md5-hash-init cells), 8 codes/vector,
    ADC shortlist of 50, then exact L2 re-rank of the shortlist to
    top-5.  At 100 TB the scored representation is ~60x smaller than
    the raw vectors; full vectors are touched only for shortlist
    candidates via a broadcast semi-join (operators/pq.py) — so
    quantization error costs shortlist recall, never final-ranking
    precision.  HASH-CHECKED end-to-end: codebooks, code assignment,
    the per-query LUT, fixed-order double-chain ADC sums, the shortlist cut AND
    the re-ranked result all reproduce bit-for-bit in DuckDB —
    including which true neighbors the shortlist misses (tests pin
    recall vs the exact scan separately; on this corpus — unit-norm
    near-isotropic vectors, the hard regime for any fixed-rate
    quantizer — shortlist recall@5 is ~0.6, and everything the
    shortlist admits ranks exactly)."""
    from transitdata_hfp_deduplicator_spark.operators.pq import (
        pq_adc_topk,
        pq_codebooks,
        pq_encode,
        pq_rerank_topk,
        sub_vectors,
    )
    from transitdata_hfp_deduplicator_spark.tables import spread

    e = _t(spark, sf_dir, "embeddings")
    # spread(): pq_encode's n x S x k candidate scoring and the codebook
    # mean fold run upstream of their exchanges, on the scan's splits —
    # a single-file scan serializes them on one core (guide §2.5);
    # identity on a multi-split lake scan
    sub = sub_vectors(spread(e), subspaces=8, sub_dim=8)
    books = pq_codebooks(sub, k=32)
    codes = pq_encode(sub, books, sub_dim=8)
    qsub = sub.filter(F.col("vid") % 100 == 0)
    short = pq_adc_topk(codes, qsub, books, k=50, sub_dim=8, subspaces=8)
    return pq_rerank_topk(
        short, e, query_filter=F.col("vec_id") % 100 == 0, k=5
    )


@query(
    "q_embed_ann_ivfpq",
    oracle="""
    WITH e AS (SELECT vec_id AS vid, embedding::DOUBLE[] AS v FROM embeddings),
    i0 AS (
        SELECT vid, v,
               ('0x' || substr(md5(vid::VARCHAR), 1, 15))::BIGINT % 8 AS cell
        FROM e
    ),
    cm AS (
        SELECT cell, i,
               CAST(SUM(CAST(v[i] AS DECIMAL(30,12))) AS DOUBLE) / count(*) AS m
        FROM i0, (SELECT unnest(range(1, 65)) AS i) t
        GROUP BY cell, i
    ),
    cmv AS MATERIALIZED (SELECT cell, list(m ORDER BY i) AS c FROM cm GROUP BY cell),
    a AS MATERIALIZED (
        SELECT vid, v, cell FROM (
            SELECT i0.vid, i0.v, cmv.cell,
                   round(list_dot_product(i0.v, i0.v)
                         - 2 * list_dot_product(i0.v, cmv.c)
                         + list_dot_product(cmv.c, cmv.c), 6) AS d2
            FROM i0 CROSS JOIN cmv
        ) QUALIFY row_number() OVER (PARTITION BY vid ORDER BY d2, cell) = 1
    ),
    r AS (
        SELECT a.vid, a.cell AS ccell,
               list_transform(range(1, 65), i -> a.v[i] - cmv.c[i]) AS rv
        FROM a JOIN cmv ON a.cell = cmv.cell
    ),
    sub AS (
        SELECT vid, s, rv[s*8+1 : s*8+8] AS subv
        FROM r, (SELECT unnest(range(0, 8)) AS s) t
    ),
    init AS (
        SELECT vid, s, subv,
               ('0x' || substr(md5(vid::VARCHAR), 1, 15))::BIGINT % 32 AS cell
        FROM sub
    ),
    m AS (
        SELECT s, cell, i,
               CAST(SUM(CAST(subv[i] AS DECIMAL(30,12))) AS DOUBLE)
                   / count(*) AS m
        FROM init, (SELECT unnest(range(1, 9)) AS i) u
        GROUP BY s, cell, i
    ),
    cent AS MATERIALIZED (SELECT s, cell, list(m ORDER BY i) AS c FROM m GROUP BY s, cell),
    codes AS MATERIALIZED (
        SELECT vid, s, cell FROM (
            SELECT sub.vid, sub.s, cent.cell,
                   round(list_dot_product(subv, subv)
                         - 2 * list_dot_product(subv, c)
                         + list_dot_product(c, c), 6) AS d2
            FROM sub JOIN cent ON sub.s = cent.s
        ) QUALIFY row_number() OVER (PARTITION BY vid, s
                                     ORDER BY d2, cell) = 1
    ),
    q AS (SELECT vid AS q_id, v AS qv FROM e WHERE vid % 100 = 0),
    probes AS (
        SELECT q_id, qv, cell AS ccell FROM (
            SELECT q.q_id, q.qv, cmv.cell,
                   round(list_dot_product(q.qv, q.qv)
                         - 2 * list_dot_product(q.qv, cmv.c)
                         + list_dot_product(cmv.c, cmv.c), 6) AS d2
            FROM q CROSS JOIN cmv
        ) QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY d2, cell) <= 2
    ),
    qr AS (
        SELECT p.q_id, p.ccell,
               list_transform(range(1, 65), i -> p.qv[i] - cmv.c[i]) AS rq
        FROM probes p JOIN cmv ON p.ccell = cmv.cell
    ),
    qsub AS (
        SELECT q_id, ccell, s, rq[s*8+1 : s*8+8] AS subv
        FROM qr, (SELECT unnest(range(0, 8)) AS s) t
    ),
    lut AS MATERIALIZED (
        SELECT q_id, ccell, cent.s, cell,
               list_dot_product(subv, subv)
               - 2 * list_dot_product(subv, c)
               + list_dot_product(c, c) AS d2q
        FROM qsub JOIN cent ON qsub.s = cent.s
    ),
    codes_w AS (
        SELECT vid,
               max(CASE WHEN s = 0 THEN cell END) AS c0,
               max(CASE WHEN s = 1 THEN cell END) AS c1,
               max(CASE WHEN s = 2 THEN cell END) AS c2,
               max(CASE WHEN s = 3 THEN cell END) AS c3,
               max(CASE WHEN s = 4 THEN cell END) AS c4,
               max(CASE WHEN s = 5 THEN cell END) AS c5,
               max(CASE WHEN s = 6 THEN cell END) AS c6,
               max(CASE WHEN s = 7 THEN cell END) AS c7
        FROM codes GROUP BY vid
    ),
    cw AS (
        SELECT codes_w.*, a.cell AS ccell FROM codes_w JOIN a USING (vid)
    ),
    adc AS (
        SELECT l0.q_id, w.vid AS item_id,
               round((((((((l0.d2q + l1.d2q) + l2.d2q) + l3.d2q) + l4.d2q) + l5.d2q) + l6.d2q) + l7.d2q), 6) AS adc_d2
        FROM cw w
        JOIN lut l0 ON l0.ccell = w.ccell AND l0.s = 0 AND l0.cell = w.c0
        JOIN lut l1 ON l1.ccell = w.ccell AND l1.s = 1 AND l1.cell = w.c1 AND l1.q_id = l0.q_id
        JOIN lut l2 ON l2.ccell = w.ccell AND l2.s = 2 AND l2.cell = w.c2 AND l2.q_id = l0.q_id
        JOIN lut l3 ON l3.ccell = w.ccell AND l3.s = 3 AND l3.cell = w.c3 AND l3.q_id = l0.q_id
        JOIN lut l4 ON l4.ccell = w.ccell AND l4.s = 4 AND l4.cell = w.c4 AND l4.q_id = l0.q_id
        JOIN lut l5 ON l5.ccell = w.ccell AND l5.s = 5 AND l5.cell = w.c5 AND l5.q_id = l0.q_id
        JOIN lut l6 ON l6.ccell = w.ccell AND l6.s = 6 AND l6.cell = w.c6 AND l6.q_id = l0.q_id
        JOIN lut l7 ON l7.ccell = w.ccell AND l7.s = 7 AND l7.cell = w.c7 AND l7.q_id = l0.q_id
    ),
    short AS (
        SELECT q_id, item_id FROM adc
        QUALIFY row_number() OVER (PARTITION BY q_id
                                   ORDER BY adc_d2, item_id) <= 50
    ),
    rr AS (
        SELECT s.q_id, s.item_id,
               round(list_dot_product(iv.v, iv.v)
                     - 2 * list_dot_product(iv.v, qv.v)
                     + list_dot_product(qv.v, qv.v), 6) AS d2
        FROM short s
        JOIN e iv ON iv.vid = s.item_id
        JOIN e qv ON qv.vid = s.q_id
    )
    SELECT q_id, item_id, d2,
           CAST(row_number() OVER (PARTITION BY q_id
                                   ORDER BY d2, item_id) AS BIGINT)
               AS "rank"
    FROM rr QUALIFY "rank" <= 5
    """,
)
def q_embed_ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFADC — the ANN ladder's capstone (Jégou et al. 2011, §VII,
    the shape FAISS ships as IVFx,PQy): a coarse quantizer (8 cells,
    DECIMAL-mean of md5-hash-init, L2 argmin assignment) prunes the
    corpus to nprobe=2 probed cells per query, and within probed cells
    vectors are scored by ADC over PQ codes of the RESIDUAL
    v - centroid(cell) — residual quantization is what makes the two
    structures compose: the coarse cell removes the vector's coarse
    position, so the 8x8/32-codeword PQ spends its rate on the
    remainder.  Because codes quantize residuals, the per-query LUT is
    built per (query, probed cell) against the query's OWN residual in
    that cell (operators/pq.py::ivfadc_shortlist).  ADC shortlist of
    50, exact re-rank to top-5.

    At 100 TB this is THE deployed ANN shape: codes partitioned by
    coarse cell (partition-pruned probes), raw vectors touched only for
    shortlist candidates.  HASH-CHECKED end-to-end in DuckDB: coarse
    training, assignment, residuals (exact IEEE subtraction), PQ
    codebooks, codes, per-cell LUTs, fixed-order ADC sums, the
    shortlist cut and the re-ranked result."""
    from transitdata_hfp_deduplicator_spark.functions import vectors as VEC
    from transitdata_hfp_deduplicator_spark.operators.kmeans import (
        _cell_means,
        hash_cell,
    )
    from transitdata_hfp_deduplicator_spark.operators.pq import (
        _d2,
        ivfadc_shortlist,
        pq_codebooks,
        pq_encode,
        pq_rerank_topk,
        sub_vectors,
    )

    from transitdata_hfp_deduplicator_spark.tables import spread

    e = _t(spark, sf_dir, "embeddings")
    # spread(): the coarse mean fold, the n x C assignment fan-out and
    # the residual PQ encode all run upstream of their exchanges, on the
    # scan's splits (guide §2.5); identity on a multi-split lake scan
    vecs = spread(
        e.select(
            F.col("vec_id").alias("vid"),
            VEC.as_double(F.col("embedding")).alias("v"),
        )
    )
    # coarse quantizer: one DECIMAL-routed mean step from the md5 init
    # partition, then L2 argmin assignment (min_by partial agg — the
    # pq_encode discipline, no window sort over the n x C candidates)
    # materialize the index-build stages: cmeans feeds 4 subtrees,
    # assigned feeds 3, books feeds 2 — unchecked, every consumer
    # re-executes the whole upstream (the kmeans_cells discipline,
    # operators/kmeans.py:244-256).  At 100 TB these ARE the structures
    # a deployment writes once (codes partitioned by ccell) and reuses
    # across queries; the checkpoint expresses that boundary inline.
    # (r15 measured the lazy-persist + shared-broadcast alternative —
    # construct tax moves INTO exec and regresses net: 3-run interleaved
    # A/B, ivfpq 4.40s -> 5.33s calib-normalized min; kept checkpoints.)
    cmeans = _cell_means(
        vecs.withColumn("cell", hash_cell("vid", 8))
    ).localCheckpoint()
    # hoisted norms (the pq_encode discipline): ||v||² once per vector,
    # ||c||² once per centroid on the broadcast side — one cross product
    # per candidate; (n2 - 2·cross) + cn2 keeps the exact _d2
    # association so values match the oracle.  The 64-dim dots here use
    # the FOLD (VEC.dot, sequential in-order — bit-identical to the
    # explicit chain): the coarse fan-out is only n x 8 candidates, and
    # the explicit 64-term spelling tripled the generated-code size
    # (2.6 MiB task binaries) for no win at this fan-out — dot_explicit
    # remains right for pq_encode's n x S x k blow-up (operators/pq.py).
    cbooks = F.broadcast(
        cmeans.withColumn(
            "cn2", VEC.dot(F.col("centroid"), F.col("centroid"))
        )
    )
    cand = (
        vecs.withColumn("n2", VEC.dot(F.col("v"), F.col("v")))
        .join(cbooks)
        .select(
            "vid",
            "v",
            "cell",
            F.round(
                (
                    F.col("n2")
                    - F.lit(2.0) * VEC.dot(F.col("v"), F.col("centroid"))
                )
                + F.col("cn2"),
                6,
            ).alias("d2"),
        )
    )
    assigned = cand.groupBy("vid").agg(
        F.min_by("cell", F.struct("d2", "cell")).alias("ccell"),
        F.any_value("v").alias("v"),
    ).localCheckpoint()
    resid = assigned.join(
        F.broadcast(cmeans.withColumnRenamed("cell", "ccell")), "ccell"
    ).select(
        "vid",
        "ccell",
        F.zip_with("v", "centroid", lambda a, b: a - b).alias("r"),
    )
    sub = sub_vectors(
        resid, id_col="vid", vec_col="r", subspaces=8, sub_dim=8,
        carry=("ccell",),
    )
    books = pq_codebooks(sub, k=32).localCheckpoint()
    codes = pq_encode(sub, books, sub_dim=8, carry=("ccell",))

    qs = vecs.filter(F.col("vid") % 100 == 0).select(
        F.col("vid").alias("q_id"), F.col("v").alias("qv")
    )
    probes = (
        qs.withColumn("n2", VEC.dot(F.col("qv"), F.col("qv")))
        .join(cbooks)
        .select(
            "q_id",
            "qv",
            F.col("cell").alias("ccell"),
            "centroid",
            F.round(
                (
                    F.col("n2")
                    - F.lit(2.0) * VEC.dot(F.col("qv"), F.col("centroid"))
                )
                + F.col("cn2"),
                6,
            ).alias("d2"),
        )
        .withColumn(
            "c_rank",
            F.row_number().over(
                W.partitionBy("q_id").orderBy(F.col("d2"), F.col("ccell"))
            ),
        )
        .filter(F.col("c_rank") <= 2)
    )
    qresid = probes.select(
        "q_id",
        "ccell",
        F.zip_with("qv", "centroid", lambda a, b: a - b).alias("rq"),
    )
    parts = F.array(
        *[
            F.struct(
                F.lit(s).alias("s"),
                F.slice(F.col("rq"), s * 8 + 1, 8).alias("subv"),
            )
            for s in range(8)
        ]
    )
    qsub = qresid.select("q_id", "ccell", F.explode(parts).alias("x")).select(
        "q_id", "ccell", "x.s", "x.subv"
    )
    lut = qsub.join(F.broadcast(books), "s").select(
        "q_id", "ccell", "s", "cell",
        _d2("subv", "c", 8).alias("d2q"),
    )
    short = ivfadc_shortlist(codes, lut, subspaces=8, shortlist=50)
    return pq_rerank_topk(
        short, e, query_filter=F.col("vec_id") % 100 == 0, k=5
    )


@query(
    "q_embed_quantize_int8",
    oracle="""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    s AS (
        SELECT vec_id, v,
               list_max(list_transform(v, x -> abs(x))) AS scale
        FROM e
    ),
    q AS (
        SELECT vec_id, v, scale,
               list_transform(v, x -> CASE WHEN scale = 0 THEN 0
                   ELSE greatest(-127, least(127,
                        CAST(round(x * 127 / scale, 0) AS INTEGER))) END)
                   AS code
        FROM s
    ),
    r AS (
        SELECT vec_id, scale, code,
               list_transform(code, c -> c * scale / 127) AS deq,
               round(CAST(list_sum(list_transform(
                         [i for i in range(1, 65)],
                         i -> CAST(round((v[i] - code[i] * scale / 127)
                                         * (v[i] - code[i] * scale / 127),
                                         12) AS DECIMAL(30,14))))
                     AS DOUBLE) / 64, 10) AS mse
        FROM q
    )
    SELECT vec_id, round(scale, 8) AS scale,
           CAST(code[1] AS INTEGER) AS c1,
           CAST(code[32] AS INTEGER) AS c32,
           CAST(code[64] AS INTEGER) AS c64,
           mse
    FROM r
    """,
)
def q_embed_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar int8 quantization audit — the third leg of the embedding
    compression family (raw → SQ-int8 → PQ): per-vector max-abs scale,
    symmetric round-to-nearest codes clamped to ±127, and the exact
    per-vector reconstruction MSE in the SAME plan (the quantize-then-
    audit pattern of q_agg_approx_check).  4x memory over float32, zero
    index structure — the compression a 100 TB embedding store applies
    before anything fancier.  All arithmetic is IEEE +,-,*,/ plus
    round(), and the MSE sum routes each squared residual through
    DECIMAL so partial-aggregation order cannot move the last ulp —
    hash-checked including every code byte sampled (c1/c32/c64)."""
    from transitdata_hfp_deduplicator_spark.functions import vectors as VEC

    e = _t(spark, sf_dir, "embeddings")
    v = VEC.as_double(F.col("embedding"))
    s = e.select("vec_id", v.alias("v")).withColumn(
        "scale", F.array_max(F.transform(F.col("v"), lambda x: F.abs(x)))
    )
    code = F.transform(
        F.col("v"),
        lambda x: F.when(F.col("scale") == 0, F.lit(0)).otherwise(
            F.greatest(
                F.lit(-127),
                F.least(
                    F.lit(127),
                    F.round(x * 127 / F.col("scale"), 0).cast("int"),
                ),
            )
        ),
    )
    q = s.withColumn("code", code)
    resid2 = F.zip_with(
        F.col("v"),
        F.col("code"),
        lambda x, c: F.round(
            (x - c * F.col("scale") / 127) * (x - c * F.col("scale") / 127), 12
        ).cast("decimal(30,14)"),
    )
    mse = F.round(
        F.aggregate(
            resid2,
            F.lit(0).cast("decimal(30,14)"),
            # decimal + widens to (31,14); fold back so the merge type
            # matches the accumulator type (values are ~1e-4, far from
            # the precision edge)
            lambda acc, r: (acc + r).cast("decimal(30,14)"),
        ).cast("double")
        / 64,
        10,
    )
    return q.select(
        "vec_id",
        F.round("scale", 8).alias("scale"),
        F.col("code")[0].alias("c1"),
        F.col("code")[31].alias("c32"),
        F.col("code")[63].alias("c64"),
        mse.alias("mse"),
    )


_KMEANS_TRAIN_SQL = """
    e AS (SELECT vec_id AS vid, embedding::DOUBLE[] AS v FROM embeddings),
    a0 AS (
        SELECT vid, v,
               ('0x' || substr(md5(vid::VARCHAR), 1, 15))::BIGINT % 8 AS cell
        FROM e
    ),
    c1 AS (
        SELECT cell, i,
               CAST(SUM(CAST(v[i] AS DECIMAL(30,12))) AS DOUBLE) / count(*) AS m
        FROM a0, (SELECT unnest(range(1, 65)) AS i) t
        GROUP BY cell, i
    ),
    c1v AS (SELECT cell, list(m ORDER BY i) AS c FROM c1 GROUP BY cell),
    a1 AS (
        SELECT vid, v, cell FROM (
            SELECT a0.vid, a0.v, c1v.cell,
                   round(list_dot_product(a0.v, c1v.c)
                         / (sqrt(list_dot_product(a0.v, a0.v))
                            * sqrt(list_dot_product(c1v.c, c1v.c))), 6) AS sim
            FROM a0 CROSS JOIN c1v
        )
        QUALIFY row_number() OVER (PARTITION BY vid ORDER BY sim DESC, cell) = 1
    ),
    c2 AS (
        SELECT cell, i,
               CAST(SUM(CAST(v[i] AS DECIMAL(30,12))) AS DOUBLE) / count(*) AS m
        FROM a1, (SELECT unnest(range(1, 65)) AS i) t
        GROUP BY cell, i
    ),
    c2v AS (SELECT cell, list(m ORDER BY i) AS c FROM c2 GROUP BY cell),
    a2 AS (
        SELECT vid, v, cell, sim FROM (
            SELECT a1.vid, a1.v, c2v.cell,
                   round(list_dot_product(a1.v, c2v.c)
                         / (sqrt(list_dot_product(a1.v, a1.v))
                            * sqrt(list_dot_product(c2v.c, c2v.c))), 6) AS sim
            FROM a1 CROSS JOIN c2v
        )
        QUALIFY row_number() OVER (PARTITION BY vid ORDER BY sim DESC, cell) = 1
    )
"""


@query(
    "q_embed_kmeans",
    oracle="WITH "
    + _KMEANS_TRAIN_SQL
    + """
    SELECT vid AS vec_id, cell, sim FROM a2
    """,
)
def q_embed_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic distributed k-means (k=8, 2 Lloyd iterations, md5
    hash-bucket init) — the IVF coarse-quantizer trainer
    (operators/kmeans.py).  HASH-CHECKED: init is an md5 partition,
    centroid means are DECIMAL-routed, assignment is round(cosine,6)
    argmax with a cell tiebreaker — every iteration reproduces
    bit-for-bit in DuckDB, so the driver verifies the TRAINING loop,
    not just one scoring pass."""
    from transitdata_hfp_deduplicator_spark.functions import vectors as VEC
    from transitdata_hfp_deduplicator_spark.operators.kmeans import kmeans_cells

    e = _t(spark, sf_dir, "embeddings")
    assigned, centroids = kmeans_cells(e, k=8, iters=2)
    return assigned.join(F.broadcast(centroids), "cell").select(
        F.col("vid").alias("vec_id"),
        "cell",
        F.round(VEC.cosine(F.col("v"), F.col("centroid")), 6).alias("sim"),
    )


@query(
    "q_embed_ann_ivf_trained",
    oracle="WITH "
    + _KMEANS_TRAIN_SQL
    + """,
    q AS (SELECT vid AS q_id, v AS qv FROM e WHERE vid % 100 = 0),
    probes AS (
        SELECT q_id, qv, cell
        FROM (
            SELECT q.q_id, q.qv, cv.cell,
                   list_dot_product(q.qv, cv.c)
                   / (sqrt(list_dot_product(q.qv, q.qv))
                      * sqrt(list_dot_product(cv.c, cv.c))) AS c_sim
            FROM q CROSS JOIN c2v cv
        )
        QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY c_sim DESC, cell) <= 3
    ),
    scored AS (
        SELECT p.q_id, a2.vid AS item_id,
               round(list_dot_product(a2.v, p.qv)
                     / (sqrt(list_dot_product(a2.v, a2.v))
                        * sqrt(list_dot_product(p.qv, p.qv))), 6) AS cos_sim
        FROM a2 JOIN probes p ON a2.cell = p.cell
    )
    SELECT q_id, item_id, cos_sim,
           CAST(row_number() OVER (
               PARTITION BY q_id ORDER BY cos_sim DESC, item_id) AS BIGINT) AS "rank"
    FROM scored
    QUALIFY "rank" <= 5
    """,
)
def q_embed_ann_ivf_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN over LEARNED cells: k-means-trained coarse quantizer
    (q_embed_kmeans's exact training loop) + nprobe=3 probing — the
    no-natural-partition variant of q_embed_ann_ivf.  HASH-CHECKED
    end-to-end: training, probe selection, and in-cell scoring all
    reproduce in DuckDB."""
    from transitdata_hfp_deduplicator_spark.operators.kmeans import (
        ivf_topk_trained,
    )

    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    return ivf_topk_trained(e, q, k=5, nprobe=3, n_cells=8, iters=2)


@query(
    "q_dedup_semantic",
    oracle="WITH "
    + _KMEANS_TRAIN_SQL
    + """,
    sims AS (
        SELECT a.vid AS i, b.vid AS j,
               round(list_dot_product(a.v, b.v)
                     / (sqrt(list_dot_product(a.v, a.v))
                        * sqrt(list_dot_product(b.v, b.v))), 6) AS s
        FROM a2 a JOIN a2 b ON a.cell = b.cell AND a.vid < b.vid
    ),
    dups AS (
        SELECT j AS vec_id, min(i) AS dup_of, max(s) AS max_sim
        FROM sims WHERE s >= 0.40 GROUP BY j
    )
    SELECT a2.vid AS vec_id, a2.cell,
           d.vec_id IS NOT NULL AS is_semdup, d.dup_of, d.max_sim
    FROM a2 LEFT JOIN dups d ON d.vec_id = a2.vid
    """,
)
def q_dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup (SemDeDup shape, Abbas et al. 2023): k-means
    cluster the embeddings with the oracle-pinned trainer
    (q_embed_kmeans's exact loop), then prune within-cluster
    cosine-near pairs — the last rung of the dedup ladder (exact →
    near-text → near-vector → SEMANTIC).  A vector is a semantic dup
    iff a lower-id same-cell vector has round(cosine,6) >= 0.40
    (keep-min-id; deterministic, unlike the paper's scan-order greedy).

    HASH-CHECKED end-to-end: training reproduces bit-for-bit in DuckDB
    (DECIMAL means, round-6 argmax) and the within-cell GEMM verdicts
    (operators/kmeans.py:semdedup_verdicts) round to the same 6 dp the
    oracle's list_dot_product formulation does.

    Scale shape: clustering bounds the quadratic per cell — raise k to
    hold |cell| constant at 100 TB — and each cell scores in ONE
    row-blocked Arrow GEMM, never materializing |cell|² floats."""
    from transitdata_hfp_deduplicator_spark.operators.kmeans import (
        kmeans_cells,
        semdedup_verdicts,
    )

    e = _t(spark, sf_dir, "embeddings")
    assigned, _ = kmeans_cells(e, k=8, iters=2)
    verdicts = semdedup_verdicts(assigned, tau=0.40)
    return (
        assigned.select("vid", "cell")
        .join(verdicts, "vid", "left")
        .select(
            F.col("vid").alias("vec_id"),
            "cell",
            F.col("dup_of").isNotNull().alias("is_semdup"),
            "dup_of",
            "max_sim",
        )
    )


_KMEANS_HIST_SQL = _KMEANS_TRAIN_SQL.replace(
    "AS v FROM embeddings)",
    "AS v FROM embeddings WHERE vec_id % 5 <> 0)",
)
# fail fast if a rewording of _KMEANS_TRAIN_SQL makes the replace
# no-op — the oracle would silently train on the full corpus
assert "WHERE vec_id % 5 <> 0" in _KMEANS_HIST_SQL


@query(
    "q_dedup_incr_semantic",
    oracle="WITH "
    + _KMEANS_HIST_SQL
    + """,
    newv AS (SELECT vec_id AS vid, embedding::DOUBLE[] AS v
             FROM embeddings WHERE vec_id % 5 = 0),
    an AS MATERIALIZED (
        SELECT vid, v, cell FROM (
            SELECT newv.vid, newv.v, c2v.cell,
                   round(list_dot_product(newv.v, c2v.c)
                         / (sqrt(list_dot_product(newv.v, newv.v))
                            * sqrt(list_dot_product(c2v.c, c2v.c))), 6)
                       AS sim
            FROM newv CROSS JOIN c2v
        )
        QUALIFY row_number() OVER (PARTITION BY vid
                                   ORDER BY sim DESC, cell) = 1
    ),
    cands AS (
        SELECT n.vid AS j, h.vid AS i,
               round(list_dot_product(n.v, h.v)
                     / (sqrt(list_dot_product(n.v, n.v))
                        * sqrt(list_dot_product(h.v, h.v))), 6) AS s
        FROM an n JOIN a2 h ON n.cell = h.cell
        UNION ALL
        SELECT b.vid AS j, a.vid AS i,
               round(list_dot_product(a.v, b.v)
                     / (sqrt(list_dot_product(a.v, a.v))
                        * sqrt(list_dot_product(b.v, b.v))), 6) AS s
        FROM an a JOIN an b ON a.cell = b.cell AND a.vid < b.vid
    ),
    dups AS (
        SELECT j AS vec_id, min(i) AS dup_of, max(s) AS max_sim
        FROM cands WHERE s >= 0.40 GROUP BY j
    )
    SELECT an.vid AS vec_id, an.cell,
           d.vec_id IS NOT NULL AS is_semdup, d.dup_of, d.max_sim
    FROM an LEFT JOIN dups d ON d.vec_id = an.vid
    """,
)
def q_dedup_incr_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL semantic dedup — completes the incremental family
    (exact → near-text → substring → SEMANTIC, mirroring the batch
    ladder): centroids train on the HISTORICAL corpus only
    (vec_id % 5 != 0) and stay FROZEN; the new batch assigns to those
    cells (operators/kmeans.py:assign_cells) and each new vector is
    judged against same-cell history plus lower-id batch-mates —
    history×history is never re-scored (those verdicts are settled;
    re-training would silently re-shuffle the historical assignments
    the verdict state depends on).

    HASH-CHECKED end-to-end like q_dedup_semantic: the frozen-centroid
    training chain reproduces bit-for-bit in DuckDB, and the
    incremental GEMM kernel (semdedup_incr_verdicts) rounds to the same
    6 dp as the oracle's list_dot_product candidates.

    Scale shape: one cell-keyed exchange carries history∪new into the
    per-cell row-blocked GEMM; at 100 TB the assigned history persists
    partitioned by cell, so only the (small) new batch shuffles per
    increment — the same history-is-a-join-side-only contract as
    q_dedup_incremental / q_dedup_incr_substring."""
    from transitdata_hfp_deduplicator_spark.operators.kmeans import (
        assign_cells,
        kmeans_cells,
        semdedup_incr_verdicts,
    )

    e = _t(spark, sf_dir, "embeddings")
    hist = e.filter(F.col("vec_id") % 5 != 0)
    new = e.filter(F.col("vec_id") % 5 == 0)
    assigned_h, cents = kmeans_cells(hist, k=8, iters=2)
    # 2 consumers (verdict union + final join probe) — checkpoint so
    # the assignment subtree executes once (assigned_h gets this free
    # inside kmeans_cells)
    assigned_n = assign_cells(new, cents).localCheckpoint()
    verdicts = semdedup_incr_verdicts(assigned_h, assigned_n, tau=0.40)
    return (
        assigned_n.select("vid", "cell")
        .join(verdicts, "vid", "left")
        .select(
            F.col("vid").alias("vec_id"),
            "cell",
            F.col("dup_of").isNotNull().alias("is_semdup"),
            "dup_of",
            "max_sim",
        )
    )


# ---------------------------------------------------------------------------
# Array / map surface
# ---------------------------------------------------------------------------


@query(
    "q_array_ops",
    oracle="""
    SELECT vec_id, label,
           len(embedding) AS dim,
           round(embedding[1]::DOUBLE, 6) AS first_elem,
           round(list_sum(list_transform(embedding::DOUBLE[], x -> x * x)), 6) AS sq_norm,
           round(list_max(embedding::DOUBLE[]), 6) AS max_elem,
           len(list_filter(embedding::DOUBLE[], x -> x > 0)) AS n_pos
    FROM embeddings
    """,
)
def q_array_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array function surface: transform/aggregate/filter/element_at."""
    e = _t(spark, sf_dir, "embeddings")
    vec = F.col("embedding").cast("array<double>")
    return e.select(
        "vec_id",
        "label",
        F.size("embedding").cast("bigint").alias("dim"),
        F.round(F.element_at(vec, 1), 6).alias("first_elem"),
        F.round(
            F.aggregate(
                F.transform(vec, lambda x: x * x), F.lit(0.0), lambda a, x: a + x
            ),
            6,
        ).alias("sq_norm"),
        F.round(F.array_max(vec), 6).alias("max_elem"),
        F.size(F.filter(vec, lambda x: x > 0)).cast("bigint").alias("n_pos"),
    )


@query(
    "q_map_ops",
    oracle="""
    SELECT event_id,
           CAST(cardinality(MAP {'k': CAST(json_extract(props, '$.k') AS BIGINT),
                            'k2': CAST(json_extract(props, '$.k') AS BIGINT) * 2}) AS BIGINT) AS n_keys,
           MAP {'k': CAST(json_extract(props, '$.k') AS BIGINT)}['k'][1] AS k_val,
           array_to_string(map_keys(MAP {'k': 1, 'k2': 2}), ',') AS key_list
    FROM events
    """,
)
def q_map_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map function surface (the properties-envelope analog, §1.1)."""
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    m2 = F.create_map(F.lit("k"), k, F.lit("k2"), k * 2)
    m1 = F.create_map(F.lit("k"), k)
    mk = F.create_map(F.lit("k"), F.lit(1), F.lit("k2"), F.lit(2))
    return ev.select(
        "event_id",
        F.size(m2).cast("bigint").alias("n_keys"),
        F.element_at(m1, "k").alias("k_val"),
        F.array_join(F.map_keys(mk), ",").alias("key_list"),
    )


# ---------------------------------------------------------------------------
# Streaming (reference parity — SURVEY.md §7 step 5) + UDF + multimodal
# ---------------------------------------------------------------------------


@query(
    "q_dedup_stream",
    oracle="""
    SELECT DISTINCT user_id, event_type, props FROM events
    """,
)
def q_dedup_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming first-wins dedup: file-source replay of `events` →
    watermark(4h) → dropDuplicatesWithinWatermark on the payload digest
    (the reference hot path, Deduplicator.java:43-66, on Spark's state
    store). Emits the identity columns — the surviving *metadata* row
    depends on intra-batch arrival order, exactly like the reference's
    'first' depends on consume order; the identity SET is deterministic
    and oracle-checked."""
    import os

    from transitdata_hfp_deduplicator_spark.streaming import (
        parquet_stream,
        replay_shuffle_partitions,
        run_to_memory,
        scoped_shuffle_partitions,
        stream_dedup,
    )

    src = os.path.join(sf_dir, "events.parquet")
    # spread=True: the identity-digest projection upstream of the
    # dedup-state exchange runs on the replay's ONE input split (guide
    # §2.5); safe — which twin survives varies with arrival order
    # exactly as in the reference, and the returned identity SET
    # (.distinct() below) is arrival-order-independent
    stream = parquet_stream(spark, src, spread=True)
    deduped = stream_dedup(stream, EVENT_IDENTITY, "ts", ttl="4 hours")
    with scoped_shuffle_partitions(spark, replay_shuffle_partitions(src)):
        out = run_to_memory(deduped, output_mode="append")
    return out.select("user_id", "event_type", "props").distinct()


@query(
    "q_dedup_stream_neardup",
    oracle="""
    WITH sh AS (
        SELECT doc_id,
               list_distinct([tokens[i] || ' ' || tokens[i+1] || ' ' || tokens[i+2]
                              for i in range(1, len(tokens) - 1)]) AS shingles
        FROM (SELECT doc_id, string_split(lower(trim(text)), ' ') AS tokens
              FROM documents)
        WHERE len(tokens) >= 3
    ),
    mh AS MATERIALIZED (
        SELECT doc_id,
               [list_min(list_transform(shingles,
                    s -> (('0x' || substr(md5(s), 1, 15))::BIGINT
                          + k * (('0x' || substr(md5(s), 17, 15))::BIGINT
                                 % 288230376151711744))
                         & 576460752303423487))
                for k in range(0, 16)] AS sig
        FROM sh
    ),
    keyed AS (
        SELECT doc_id, sig, r.b AS band, sig[2*r.b + 1] AS k1, sig[2*r.b + 2] AS k2
        FROM mh CROSS JOIN range(0, 8) r(b)
    ),
    firsts AS (
        SELECT band, k1, k2, min(doc_id) AS first_id
        FROM keyed GROUP BY 1, 2, 3
    ),
    hits AS (
        SELECT k.doc_id, f.first_id,
               list_sum([CASE WHEN k.sig[i] = m.sig[i] THEN 1 ELSE 0 END
                         for i in range(1, 17)]) / 16.0 AS est
        FROM keyed k
        JOIN firsts f ON k.band = f.band AND k.k1 = f.k1 AND k.k2 = f.k2
                      AND k.doc_id > f.first_id
        JOIN mh m ON m.doc_id = f.first_id
    ),
    agg AS (
        SELECT doc_id, min(first_id) AS dup_of, max(est) AS est_sim
        FROM hits WHERE est >= 0.5 GROUP BY doc_id
    )
    SELECT d.doc_id, a.doc_id IS NOT NULL AS is_neardup, a.dup_of, a.est_sim
    FROM documents d LEFT JOIN agg a USING (doc_id)
    """,
)
def q_dedup_stream_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming NEAR-dup detection: documents replayed as a stream
    through the online MinHash-LSH index (streaming/neardup_stream.py) —
    the reference's online-dedup shape (Deduplicator.java:43-66) lifted
    from exact equality to Jaccard similarity.

    HASH-CHECKED despite being a stateful streaming query: the md5
    signature family is engine-independent, band identity in state is
    the raw signature rows (never an engine hash), arrival order is
    event time = doc_id, and first-wins-per-bucket makes the index
    contents a pure min(doc_id)-per-bucket function of the corpus — so
    DuckDB reproduces every verdict bit-for-bit with window/group SQL.
    The est_sim >= threshold cut and the per-doc OR across bands run
    batch-side on the spooled hits (query-side policy, not state)."""
    import os

    from transitdata_hfp_deduplicator_spark.streaming import (
        neardup_tag_stream,
        parquet_stream,
        replay_shuffle_partitions,
        run_to_memory,
        scoped_shuffle_partitions,
    )

    src = os.path.join(sf_dir, "documents.parquet")
    # spread=True: the per-doc MinHash signature (md5 per shingle) runs
    # upstream of the bucket exchange, and the replay's single split
    # would serialize it on one core (see parquet_stream)
    stream = parquet_stream(spark, src, spread=True).withColumn(
        # event time := doc_id seconds after a fixed epoch — documents
        # carries no timestamp, and this makes replay order (hence the
        # state's first-wins winners) deterministic and oracle-visible
        "ts",
        F.timestamp_seconds(F.lit(1_700_000_000) + F.col("doc_id")),
    )
    tagged = neardup_tag_stream(
        stream, "doc_id", "text", "ts", shingle_n=3, num_hashes=16, bands=8
    )
    with scoped_shuffle_partitions(spark, replay_shuffle_partitions(src)):
        out = run_to_memory(tagged, output_mode="append")
    agg = (
        out.filter(F.col("est_sim") >= 0.5)
        .groupBy("doc_id")
        .agg(
            F.min("first_id").alias("dup_of"),
            F.max("est_sim").alias("est_sim"),
        )
    )
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id").join(agg, "doc_id", "left").select(
        "doc_id",
        F.col("dup_of").isNotNull().alias("is_neardup"),
        "dup_of",
        "est_sim",
    )


@query(
    "q_window_tumbling_stream",
    oracle="""
    SELECT CAST(epoch(date_trunc('minute', ts)) AS BIGINT) AS window_start,
           event_type,
           count(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(30,4))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def q_window_tumbling_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming tumbling-window aggregation (A9 in event time):
    1-minute windows over the replayed stream, complete output mode."""
    import os

    from transitdata_hfp_deduplicator_spark.streaming import (
        parquet_stream,
        replay_shuffle_partitions,
        run_to_memory,
        scoped_shuffle_partitions,
    )

    src = os.path.join(sf_dir, "events.parquet")
    stream = parquet_stream(spark, src)
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 minute").alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum(F.col("value")).alias("total_value"),
        )
        .select(
            F.unix_timestamp(F.col("win.start")).alias("window_start"),
            "event_type",
            "n",
            "total_value",
        )
    )
    with scoped_shuffle_partitions(spark, replay_shuffle_partitions(src)):
        return run_to_memory(agg, output_mode="complete")


@query(
    "q_session_window",
    oracle="""
    WITH flagged AS (
        SELECT user_id, ts, event_id,
               CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER
                        (PARTITION BY user_id ORDER BY ts, event_id)
                        >= 300000000 THEN 1 ELSE 0 END AS new_sess
        FROM events
    ),
    sessioned AS (
        SELECT user_id, ts,
               sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                   ROWS UNBOUNDED PRECEDING) AS sess_id
        FROM flagged
    )
    SELECT user_id,
           epoch_ms(min(ts)) AS session_start_ms,
           epoch_ms(max(ts)) AS last_event_ms,
           count(*) AS n_events
    FROM sessioned
    GROUP BY user_id, sess_id
    """,
)
def q_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (5-minute gap) per user — `session_window` in
    batch; the oracle reproduces the gap semantics with lag+cumsum."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", "5 minutes").alias("sw"), "user_id")
        .agg(
            F.min("ts").alias("first_ts"),
            F.max("ts").alias("last_ts"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            "user_id",
            F.unix_millis("first_ts").alias("session_start_ms"),
            F.unix_millis("last_ts").alias("last_event_ms"),
            "n_events",
        )
    )


@query(
    "q_session_window_stream",
    oracle="""
    WITH flagged AS (
        SELECT user_id, ts, event_id,
               CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER
                        (PARTITION BY user_id ORDER BY ts, event_id)
                        >= 300000000 THEN 1 ELSE 0 END AS new_sess
        FROM events
    ),
    sessioned AS (
        SELECT user_id, ts,
               sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                   ROWS UNBOUNDED PRECEDING) AS sess_id
        FROM flagged
    )
    SELECT user_id,
           epoch_ms(min(ts)) AS session_start_ms,
           epoch_ms(max(ts)) AS last_event_ms,
           count(*) AS n_events
    FROM sessioned
    GROUP BY user_id, sess_id
    """,
)
def q_session_window_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native STREAMING session windows (5-minute gap, merging state
    operator) — the stateful counterpart of q_session_window.  Complete
    output mode flushes the final merged sessions after the availableNow
    replay, so the result is deterministic and hash-checks against the
    SAME islands-SQL oracle as the batch query."""
    import os

    from transitdata_hfp_deduplicator_spark.streaming import (
        parquet_stream,
        replay_shuffle_partitions,
        run_to_memory,
        scoped_shuffle_partitions,
    )

    src = os.path.join(sf_dir, "events.parquet")
    stream = parquet_stream(spark, src)
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.session_window("ts", "5 minutes").alias("sw"), "user_id")
        .agg(
            F.min("ts").alias("first_ts"),
            F.max("ts").alias("last_ts"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            "user_id",
            F.unix_millis("first_ts").alias("session_start_ms"),
            F.unix_millis("last_ts").alias("last_event_ms"),
            "n_events",
        )
    )
    with scoped_shuffle_partitions(spark, replay_shuffle_partitions(src)):
        return run_to_memory(agg, output_mode="complete")


@query("q_late_data")
def q_late_data(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark-as-TTL semantics (empirical Spark 4.1 contract,
    pinned in tests/test_streaming.py): the watermark does NOT filter
    late input rows — it expires dedup state, so a duplicate arriving
    after its key's state eviction is RE-EMITTED.  That is precisely
    the reference's cache-forgetting behavior (Deduplicator.java:36-40)
    bounded by time as its cacheTTL config intended.  This query
    replays events as two ordered files (old half, then recent half;
    maxFilesPerTrigger=1) with a 4h TTL and returns the identities
    emitted MORE THAN ONCE — the TTL re-emissions.  Rows-only: the
    re-emission set depends on micro-batch boundaries, not on any SQL."""
    import os
    import time

    from transitdata_hfp_deduplicator_spark.streaming import (
        ephemeral_dir,
        parquet_stream,
        replay_shuffle_partitions,
        run_to_memory,
        scoped_shuffle_partitions,
        stream_dedup,
    )
    from transitdata_hfp_deduplicator_spark.tables import read_parquet

    ev = read_parquet(spark, os.path.join(sf_dir, "events.parquet"))
    # Sample by IDENTITY KEY (every occurrence of a kept key survives,
    # so duplicate arrivals still span quartiles and TTL re-emission
    # still happens — the behavior this query exists to pin).  The
    # replay cost is micro-batch fixed overhead x state ops, which
    # needs a representative corpus, not the full table: 1/8 of the
    # keys exercises the identical code path at 1/8 the state size.
    ev = ev.filter(
        F.pmod(F.xxhash64(*(F.col(c) for c in EVENT_IDENTITY)), F.lit(8)) == 0
    )
    # four quartile batches: state eviction lags a watermark-advancing
    # batch (pinned in tests/test_streaming.py), so a 2-batch replay
    # would still see live state for every old key — with quartiles,
    # keys first seen in Q1 are evicted by Q3/Q4 and re-emit there.
    # One partitioned write produces all four replay files in a single
    # scan (vs. four filter+write jobs); the min/max span is a 1-row
    # aggregate crossJoined back in, not a separate collect job.
    stats = ev.agg(
        F.unix_micros(F.min("ts")).alias("__mn"),
        (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts"))).alias("__span"),
    )
    tmp = ephemeral_dir("late_data_")
    tsu = F.unix_micros(F.col("ts"))
    q = (
        F.when(tsu < F.col("__mn") + F.expr("__span div 4"), 0)
        .when(tsu < F.col("__mn") + F.expr("(__span * 2) div 4"), 1)
        .when(tsu < F.col("__mn") + F.expr("(__span * 3) div 4"), 2)
        .otherwise(3)
    )
    ev.crossJoin(F.broadcast(stats)).withColumn("__q", q).drop(
        "__mn", "__span"
    ).repartition(1).write.partitionBy("__q").mode("overwrite").parquet(tmp)
    # a heavily skewed ts distribution can leave a quartile empty (no
    # partition directory written) — derive dirs from what exists
    dirs = sorted(
        (d for d in os.listdir(tmp) if d.startswith("__q=")),
        key=lambda d: int(d.split("=", 1)[1]),
    )
    dirs = [os.path.join(tmp, d) for d in dirs]
    # file source orders batches by modification time: oldest first
    now = time.time()
    for i, d in enumerate(dirs):
        for f in os.listdir(d):
            os.utime(os.path.join(d, f), (now + i, now + i))
    stream = parquet_stream(spark, tmp + "/*", max_files_per_trigger=1)
    deduped = stream_dedup(stream, EVENT_IDENTITY, "ts", ttl="4 hours")
    with scoped_shuffle_partitions(spark, replay_shuffle_partitions(tmp)):
        out = run_to_memory(deduped, output_mode="append")
    return (
        out.groupBy("user_id", "event_type", "props")
        .agg(F.count(F.lit(1)).alias("n_emits"))
        .filter(F.col("n_emits") > 1)
    )


@query(
    "q_udf_surface",
    oracle="""
    SELECT user_id,
           count(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(30,4))) AS DOUBLE) AS total,
           round(median(value), 6) AS med
    FROM events
    GROUP BY user_id
    """,
)
def q_udf_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Python extension surface: a custom grouped aggregate as a
    repartition-by-key + mapInPandas kernel.  The kernel sums in exact
    integer ten-thousandths (order-independent fixed-point, matching
    the engine's dsum/DECIMAL convention) — demonstrating that even
    Python operators keep the determinism contract.

    Shape matters at scale: ``groupBy(k).applyInPandas`` invokes Python
    once PER GROUP (~2ms of pandas/Arrow machinery each — measured 3-6s
    for 1500 groups on a no-op kernel, vs 0.9s for the JVM agg), which
    at lake-scale key cardinality (millions of users) is the whole
    runtime.  ``repartition(k)`` co-locates each key's rows, then ONE
    kernel per partition does a vectorized pandas groupby — Python
    invocations scale with partitions, not keys.  Two columns are
    projected before the shuffle: a Python kernel blocks column
    pruning, so the projection must be explicit."""
    from decimal import Decimal

    import numpy as np
    import pandas as pd

    ev = _t(spark, sf_dir, "events")

    def per_partition(batches):
        chunks = list(batches)
        if not chunks:
            return
        pdf = pd.concat(chunks, ignore_index=True)
        if pdf.empty:
            return
        vals = pdf["value"].to_numpy(dtype=np.float64)
        scaled = vals * 1e4
        cents = np.rint(scaled)
        # half-even ties: np.rint rounds the BINARY double; the decimal
        # contract rounds the exact decimal expansion. Near-tie values
        # get the exact (slow) treatment — vectorized over ALL rows of
        # the partition, not per group.
        near_tie = np.abs(np.abs(scaled - np.floor(scaled)) - 0.5) < 1e-7
        if near_tie.any():
            cents[near_tie] = [
                int(Decimal(f"{v:.4f}").scaleb(4)) for v in vals[near_tie]
            ]
        pdf = pdf.assign(__cents=cents.astype(np.int64))
        g = pdf.groupby("user_id", sort=False)
        agg = g.agg(
            n=("value", "size"),
            cents=("__cents", "sum"),
            med=("value", "median"),
        ).reset_index()
        yield pd.DataFrame(
            {
                "user_id": agg["user_id"],
                "n": agg["n"].astype(np.int64),
                "total": [
                    float(Decimal(int(c)).scaleb(-4)) for c in agg["cents"]
                ],
                "med": agg["med"].round(6),
            }
        )

    return (
        ev.select("user_id", "value")
        .repartition("user_id")
        .mapInPandas(per_partition, "user_id long, n long, total double, med double")
    )


@query(
    "q_cdc_chunks",
    oracle="""
    WITH d AS (SELECT doc_id, lower(trim(text)) AS t FROM documents),
    b AS (
        SELECT doc_id, p
        FROM (SELECT * FROM d WHERE len(t) >= 17),
             unnest(generate_series(2, len(t) - 15)) AS u(p)
        WHERE ('0x' || substr(md5(substr(t, CAST(p AS INTEGER), 16)), 1, 15))::BIGINT
              % 32 = 0
    ),
    bounds AS (SELECT doc_id, list_sort(list(p)) AS bp FROM b GROUP BY doc_id),
    wb AS (
        SELECT d.doc_id, d.t, len(d.t) AS ln, coalesce(bounds.bp, []) AS bp
        FROM d LEFT JOIN bounds USING (doc_id)
    ),
    st AS (SELECT doc_id, t, ln, list_prepend(1, bp) AS starts FROM wb),
    ch AS (
        SELECT doc_id,
               coalesce(starts[i+1], ln + 1) - starts[i] AS clen,
               md5(substr(t, CAST(starts[i] AS INTEGER),
                          CAST(coalesce(starts[i+1], ln + 1) - starts[i]
                               AS INTEGER))) AS digest
        FROM st, unnest(generate_series(1, len(starts))) AS u(i)
    ),
    cnt AS (SELECT *, count(*) OVER (PARTITION BY digest) AS nd FROM ch)
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(count(*) FILTER (nd >= 2) AS BIGINT) AS n_dup_chunks,
           CAST(coalesce(sum(clen) FILTER (nd >= 2), 0) AS BIGINT) AS dup_chars
    FROM cnt GROUP BY doc_id
    """,
)
def q_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking + chunk-level dedup accounting — the
    storage-dedup shape (Muthitacharoen et al. SOSP'01, LBFS; the
    rolling-hash chunking every backup/media dedup system uses, and the
    binary-asset analog of exact-substring text dedup): a chunk boundary
    falls wherever the 16-char window's content hash ≡ 0 (mod 32), so
    boundaries move WITH the content — an insertion early in a document
    shifts only the chunk it lands in, and all later chunks keep their
    digests (the property fixed-offset chunking lacks; mean chunk ~32
    chars here, a config).  Per doc: chunk count, chunks whose digest
    recurs anywhere in the corpus, and the duplicated char mass — the
    dedup-savings ledger.

    Scale shape: boundary detection is the substring-dedup posting
    discipline (explode positions, md5 as a TOP-LEVEL codegen column,
    selection filter BEFORE any exchange — operators/substring.py);
    chunking itself is per-doc array math off one doc_id-keyed boundary
    collect; multiplicity is one digest-keyed window.  Three linear
    exchanges, no joins wider than the corpus, nothing quadratic.
    Min/max chunk-size clamps (the production refinement) are a greedy
    sequential rule and would ride the same boundary stream.
    """
    from transitdata_hfp_deduplicator_spark.operators.substring import (
        cdc_chunks,
    )

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", F.lower(F.trim(F.col("text"))).alias("t")
    )
    ch = cdc_chunks(d, w=16, mod=32)
    cnt = ch.withColumn(
        "nd", F.count(F.lit(1)).over(W.partitionBy("digest"))
    )
    return cnt.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.count(F.when(F.col("nd") >= 2, 1)).alias("n_dup_chunks"),
        F.coalesce(
            F.sum(F.when(F.col("nd") >= 2, F.col("clen"))), F.lit(0)
        )
        .cast("bigint")
        .alias("dup_chars"),
    )


@query(
    "q_multimodal_bytes",
    oracle="""
    SELECT doc_id,
           octet_length(text::BLOB) AS n_bytes,
           md5(text) AS digest,
           CAST(ceil(octet_length(text::BLOB) / 256.0) AS BIGINT) AS n_chunks
    FROM documents
    """,
)
def q_multimodal_bytes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opaque-binary column stats (pre-decode pass of the multimodal
    pipeline): byte length, digest, chunk count — documents' text bytes
    stand in for media content."""
    from transitdata_hfp_deduplicator_spark.operators.multimodal import (
        byte_stats,
        media_from_binary,
    )

    d = _t(spark, sf_dir, "documents")
    media = media_from_binary(d, "doc_id", "text", "text")
    stats = byte_stats(media, "content")
    return stats.select(
        F.col("media_id").alias("doc_id"), "n_bytes", "digest", "n_chunks"
    )


@query(
    "q_multimodal_decode",
    oracle="""
    WITH d AS (
        SELECT doc_id AS media_id,
               16 + ('0x' || substr(sha256(coalesce(text, '')), 1, 2))::INT
                   AS width,
               16 + ('0x' || substr(sha256(coalesce(text, '')), 3, 2))::INT
                   AS height,
               1 + (('0x' || substr(sha256(coalesce(text, '')), 5, 2))::INT % 8)
                   AS n_frames
        FROM documents
    )
    SELECT media_id, width, height, n_frames,
           unnest(generate_series(0, n_frames - 1, 2))::INT AS frame_idx
    FROM d
    """,
)
def q_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full multimodal plumbing: binary envelope → mapInPandas decode
    (deterministic fake codec; NotImplementedError seam for real ones)
    → frame sampling.  HASH-CHECKED: the fake codec derives
    (width, height, n_frames) from sha256 of the content bytes, which
    DuckDB reproduces (sha256 of the utf-8 text) — so even the stubbed
    decode path is cell-exact-verified, not rows-only."""
    from transitdata_hfp_deduplicator_spark.operators.multimodal import (
        decode_media,
        frame_sample,
        media_from_binary,
    )

    d = _t(spark, sf_dir, "documents")
    media = media_from_binary(d, "doc_id", "text", "video")
    decoded = decode_media(media)
    return frame_sample(decoded, every_nth=2).select(
        "media_id", "width", "height", "n_frames", "frame_idx"
    )


@query(
    "q_multimodal_resize",
    oracle="""
    WITH d AS (
        SELECT doc_id AS media_id,
               16 + ('0x' || substr(sha256(coalesce(text, '')), 1, 2))::INT
                   AS width,
               16 + ('0x' || substr(sha256(coalesce(text, '')), 3, 2))::INT
                   AS height
        FROM documents
    ),
    s AS (
        SELECT media_id, width, height,
               least(1.0, 64.0 / greatest(width, height)) AS scale
        FROM d
    )
    SELECT media_id, width, height,
           CAST(greatest(1, floor(width * scale)) AS INT) AS target_w,
           CAST(greatest(1, floor(height * scale)) AS INT) AS target_h,
           CAST(CASE WHEN CAST(greatest(1, floor(width * scale)) AS INT)
                          <> width
                       OR CAST(greatest(1, floor(height * scale)) AS INT)
                          <> height
                     THEN 1 ELSE 0 END AS INTEGER) AS needs_resize
    FROM s
    """,
)
def q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal resize PLANNING (the operators/multimodal.py
    resize_media shape): decode geometry via the fake codec, then
    compute aspect-preserving targets (longest side clamped to 64,
    never upscale) as pure JVM columns.  The lake-scale point of this
    operator is the FILTER — only rows with needs_resize=1 would enter
    the (stubbed) pixel-resample kernel, and most media is already
    within bounds — so the plan keeps geometry JVM-side and defers the
    Arrow kernel to exactly the rows that need it.  HASH-CHECKED like
    q_multimodal_decode: geometry derives from sha256(content), which
    DuckDB reproduces; the scale/floor arithmetic is single IEEE ops."""
    from transitdata_hfp_deduplicator_spark.operators.multimodal import (
        decode_media,
        media_from_binary,
        resize_media,
    )

    d = _t(spark, sf_dir, "documents")
    media = media_from_binary(d, "doc_id", "text", "image")
    planned = resize_media(decode_media(media), max_side=64)
    return planned.select(
        "media_id",
        "width",
        "height",
        "target_w",
        "target_h",
        F.col("needs_resize").cast("int").alias("needs_resize"),
    )


@query(
    "q_dq_audit",
    oracle="""
    WITH m AS (
        SELECT
            count(*) AS n_rows,
            CAST(count(l_shipdate) AS DOUBLE) / count(*) AS compl_shipdate,
            CAST(count(l_returnflag) AS DOUBLE) / count(*)
                AS compl_returnflag,
            CAST(count(DISTINCT l_orderkey * 10 + l_linenumber) AS DOUBLE)
                / count(*) AS key_uniqueness,
            CAST(min(l_quantity) AS DOUBLE) AS min_quantity,
            CAST(max(l_quantity) AS DOUBLE) AS max_quantity,
            round(CAST(sum(CAST(l_quantity AS DECIMAL(30,4))) AS DOUBLE)
                  / count(*), 6) AS mean_quantity,
            CAST(count(*) FILTER (l_quantity BETWEEN 1 AND 50) AS DOUBLE)
                / count(*) AS compliance_quantity_1_50,
            CAST(count(*) FILTER (l_discount BETWEEN 0 AND 0.1) AS DOUBLE)
                / count(*) AS compliance_discount_0_01
        FROM lineitem
    )
    SELECT metric, round(value, 6) AS value
    FROM (
        SELECT unnest(['n_rows', 'compl_shipdate', 'compl_returnflag',
                       'key_uniqueness', 'min_quantity', 'max_quantity',
                       'mean_quantity', 'compliance_quantity_1_50',
                       'compliance_discount_0_01']) AS metric,
               unnest([CAST(n_rows AS DOUBLE), compl_shipdate,
                       compl_returnflag, key_uniqueness, min_quantity,
                       max_quantity, mean_quantity,
                       compliance_quantity_1_50,
                       compliance_discount_0_01]) AS value
        FROM m
    )
    """,
)
def q_dq_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality audit (the Deequ/expectations shape —
    Schelter et al. VLDB'18): completeness, key uniqueness, min/max,
    mean, and range-compliance constraints computed as ONE aggregate
    pass over the table, emitted long-format as (metric, value) rows —
    the pipeline pre-flight check that gates a 100 TB ingest before any
    expensive downstream work runs.

    Scale shape: every metric except key uniqueness folds into a single
    hash-agg scan (conditional counts, min/max, one DECIMAL-routed
    sum); the exact count-distinct adds Spark's expand-based distinct
    pass over the synthetic key only — swap in approx_count_distinct
    (q_agg_approx) when an approximate uniqueness bound suffices.  The
    long-format emit is a 1-row unpivot: no second scan.  Determinism:
    fractions are single IEEE divisions on exact integer counts; the
    mean routes through DECIMAL (the dsum convention)."""
    li = _t(spark, sf_dir, "lineitem")
    n = F.count(F.lit(1))
    m = li.agg(
        n.cast("double").alias("n_rows"),
        (F.count("l_shipdate").cast("double") / n).alias("compl_shipdate"),
        (F.count("l_returnflag").cast("double") / n).alias("compl_returnflag"),
        (
            F.countDistinct(
                F.col("l_orderkey") * 10 + F.col("l_linenumber")
            ).cast("double")
            / n
        ).alias("key_uniqueness"),
        F.min("l_quantity").cast("double").alias("min_quantity"),
        F.max("l_quantity").cast("double").alias("max_quantity"),
        F.round(dsum(F.col("l_quantity")) / n, 6).alias("mean_quantity"),
        (
            F.count(
                F.when(F.col("l_quantity").between(1, 50), F.lit(1))
            ).cast("double")
            / n
        ).alias("compliance_quantity_1_50"),
        (
            F.count(
                F.when(F.col("l_discount").between(0, 0.1), F.lit(1))
            ).cast("double")
            / n
        ).alias("compliance_discount_0_01"),
    )
    metrics = [
        "n_rows",
        "compl_shipdate",
        "compl_returnflag",
        "key_uniqueness",
        "min_quantity",
        "max_quantity",
        "mean_quantity",
        "compliance_quantity_1_50",
        "compliance_discount_0_01",
    ]
    stacked = m.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(name).alias("metric"),
                        F.col(name).alias("value"),
                    )
                    for name in metrics
                ]
            )
        ).alias("kv")
    )
    return stacked.select(
        "kv.metric", F.round("kv.value", 6).alias("value")
    )


# ---------------------------------------------------------------------------
# Coverage extras: pivot, approximate aggregates, UDTF
# ---------------------------------------------------------------------------


@query(
    "q_pivot",
    oracle="""
    SELECT l_returnflag,
           CAST(SUM(CAST(l_quantity AS DECIMAL(30,4))) FILTER (l_linestatus = 'O') AS DOUBLE) AS qty_O,
           CAST(SUM(CAST(l_quantity AS DECIMAL(30,4))) FILTER (l_linestatus = 'F') AS DOUBLE) AS qty_F,
           count(*) FILTER (l_linestatus = 'O') AS n_O,
           count(*) FILTER (l_linestatus = 'F') AS n_F
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (wide conditional aggregation). Explicit pivot values so
    the plan is a single-pass aggregate — an unvalued pivot() triggers
    an extra distinct-scan of the pivot column."""
    li = _t(spark, sf_dir, "lineitem")
    out = (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(
            dsum(F.col("l_quantity")).alias("qty"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    return out.select(
        "l_returnflag",
        F.col("O_qty").alias("qty_O"),
        F.col("F_qty").alias("qty_F"),
        F.col("O_n").alias("n_O"),
        F.col("F_n").alias("n_F"),
    )


@query("q_agg_approx")
def q_agg_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate aggregates: HLL++ distinct counts and quantile
    sketches — the sketch family every 100 TB pipeline leans on when
    exact distinct/quantile shuffles are unaffordable. Rows-only (HLL
    and GK sketches are engine-specific by construction); accuracy
    bounds asserted in tests."""
    li = _t(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_orderkey").alias("approx_orders"),
        F.approx_count_distinct("l_partkey", rsd=0.01).alias("approx_parts"),
        F.percentile_approx("l_extendedprice", 0.5, 10000).alias("approx_median_price"),
        F.percentile_approx(
            "l_quantity", [0.25, 0.5, 0.75, 0.99], 10000
        ).alias("qty_quantiles"),
        F.count(F.lit(1)).alias("n"),
    )
    # Flatten the quantile sketch array to scalar columns: downstream
    # consumers (and the driver's canonicalizer) expect hashable cells.
    return agg.select(
        "l_returnflag",
        "approx_orders",
        "approx_parts",
        "approx_median_price",
        F.element_at("qty_quantiles", 1).alias("qty_p25"),
        F.element_at("qty_quantiles", 2).alias("qty_p50"),
        F.element_at("qty_quantiles", 3).alias("qty_p75"),
        F.element_at("qty_quantiles", 4).alias("qty_p99"),
        "n",
    )


def _exact_flag_percentiles(li: DataFrame) -> DataFrame:
    """Exact per-l_returnflag percentiles of l_extendedprice
    ([.45, .55] → x_price) and l_quantity ([.45, .55, .98] → x_qty)
    as a DISTRIBUTED value histogram + cumulative-rank cut.

    The F.percentile spelling is a TypedImperativeAggregate: every map
    task builds a value→count OpenHashMap (583k distinct prices at
    sf0.1), and the merge + sort + rank walk runs in #groups=3 reduce
    tasks (measured: the sketch agg's map stage alone was 2.13s on 3
    tasks).  Here the same math is: groupBy(flag, which, value) count
    (high-cardinality keyed shuffle, map-side partial agg — guide
    §2.3), window cumsum over 6 small (flag, column) partitions, and a
    broadcast join of the 15 rank targets that picks 1-2 rows each.

    Rows: one per flag with at least one non-NULL value in either
    column; a flag whose two columns are all NULL has no row.  A column
    with no non-NULL value in a flag's group reads as an array of NULLs
    (``F.percentile`` gives a NULL scalar there).  Elsewhere the arrays
    equal ``F.percentile``'s.

    Bit-identical to Catalyst Percentile.getPercentile on DOUBLE
    columns, reproducing its exact arithmetic:
      position  = p * (N-1)                               (double)
      lower     = floor(position); higher = ceil(position)
      lowerKey  = first v (value-ascending) with cum(v) >= lower + 1
      higherKey = first v with cum(v) >= higher + 1
      result    = lowerKey                    if higher == lower
                                              or lowerKey == higherKey
                = (higher - position) * lowerKey
                  + (position - lower) * higherKey        (else)
    """
    melted = li.select(
        "l_returnflag",
        F.expr("stack(2, 0, l_extendedprice, 1, l_quantity) AS (which, v)"),
    ).filter(F.col("v").isNotNull())
    cnt = melted.groupBy("l_returnflag", "which", "v").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    cum = cnt.withColumn(
        "cum",
        F.sum("cnt").over(W.partitionBy("l_returnflag", "which").orderBy("v")),
    )
    # N per (flag, column) from the histogram itself — no second scan
    n = cnt.groupBy("l_returnflag", "which").agg(F.sum("cnt").alias("N"))
    specs = ((0, 0, 0.45), (0, 1, 0.55), (1, 0, 0.45), (1, 1, 0.55), (1, 2, 0.98))
    tstruct = ", ".join(
        f"struct({w} AS tw, {pid} AS pid, CAST({p} AS DOUBLE) AS p)"
        for (w, pid, p) in specs
    )
    tgt = (
        n.select(
            "l_returnflag",
            "which",
            "N",
            F.explode(F.expr(f"array({tstruct})")).alias("t"),
        )
        .filter(F.col("t.tw") == F.col("which"))
        .select(
            "l_returnflag",
            "which",
            F.col("t.pid").alias("pid"),
            (F.col("t.p") * (F.col("N") - 1).cast("double")).alias("pos"),
        )
        .select(
            "l_returnflag", "which", "pid", "pos",
            F.floor("pos").alias("lo"),
            F.ceil("pos").alias("hi"),
        )
    )
    j = cum.join(F.broadcast(tgt), ["l_returnflag", "which"]).filter(
        (F.col("cum") >= F.col("lo") + 1)
        & (F.col("cum") - F.col("cnt") <= F.col("hi"))
    )
    picked = j.groupBy("l_returnflag", "which", "pid", "pos", "lo", "hi").agg(
        F.min(
            F.when(F.col("cum") - F.col("cnt") <= F.col("lo"), F.col("v"))
        ).alias("v_lo"),
        F.min(
            F.when(F.col("cum") >= F.col("hi") + 1, F.col("v"))
        ).alias("v_hi"),
    )
    res = picked.select(
        "l_returnflag",
        "which",
        "pid",
        F.when(
            (F.col("lo") == F.col("hi")) | (F.col("v_lo") == F.col("v_hi")),
            F.col("v_lo"),
        )
        .otherwise(
            (F.col("hi").cast("double") - F.col("pos")) * F.col("v_lo")
            + (F.col("pos") - F.col("lo").cast("double")) * F.col("v_hi")
        )
        .alias("r"),
    )
    pick = lambda w, i: F.max(  # noqa: E731 - one unique row matches
        F.when((F.col("which") == w) & (F.col("pid") == i), F.col("r"))
    )
    return res.groupBy("l_returnflag").agg(
        F.array(pick(0, 0), pick(0, 1)).alias("x_price"),
        F.array(pick(1, 0), pick(1, 1), pick(1, 2)).alias("x_qty"),
    )



@query(
    "q_agg_approx_check",
    oracle="""
    SELECT l_returnflag,
           count(*) AS n,
           TRUE AS orders_ok,
           TRUE AS parts_ok,
           TRUE AS price_med_ok,
           TRUE AS qty_p50_ok,
           TRUE AS qty_p99_ok
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_agg_approx_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-checked companion to q_agg_approx: the sketch VALUES are
    engine-specific (rows-only over there), but their accuracy bounds
    are exact claims — each flag compares a sketch to the exact
    aggregate computed in the same plan, and the oracle asserts the
    exact group sizes plus all-flags-true.  A sketch drifting out of
    its published bound flips a flag and breaks the value hash — a
    real regression gate, not a tautology.  Bounds: HLL++ rsd*3 (4.7%
    default / 3% at rsd=0.01), percentile_approx(acc=10000) within a
    ±5-percentile exact-rank window (orders-of-magnitude looser than
    the 1/acc rank guarantee, tight enough to catch breakage)."""
    # project-early (guide §2.3), NO spread: the r14 plan's 2.13s
    # 3-task map stage was dominated by the exact-percentile value-map
    # buffers, which the _exact_flag_percentiles rewrite removes; with
    # them gone the remaining map work (HLL partials + count) is cheap
    # enough that a round-robin exchange of 600k 5-column rows costs
    # more than the 3-split scan limit does (measured min-of-3:
    # 2.31s no-spread vs 3.46s spread vs 2.65s r14 original)
    li = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_orderkey", "l_partkey",
        "l_extendedprice", "l_quantity",
    )
    # two aggregations joined on the tiny group key, NOT one: mixing
    # multiple DISTINCT aggregates (Expand) with TypedImperativeAggregate
    # buffers (HLL / percentile digests) forces the whole plan onto the
    # sort-aggregate slow path — measured 17s vs 1.2s at sf0.01. Split,
    # each half stays in its fast path (Expand+hash / ObjectHashAggregate)
    # and the join is a broadcast over #groups rows.  The EXACT
    # percentiles moved out into _exact_flag_percentiles (distributed
    # histogram; bit-identical — see its contract) so no percentile
    # buffer ever ships whole-column value maps through a 3-task merge.
    exact = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("l_orderkey").alias("x_orders"),
        F.countDistinct("l_partkey").alias("x_parts"),
    )
    sketch = li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_orderkey").alias("a_orders"),
        F.approx_count_distinct("l_partkey", rsd=0.01).alias("a_parts"),
        F.percentile_approx("l_extendedprice", 0.5, 10000).alias("a_med"),
        F.percentile_approx("l_quantity", [0.5, 0.99], 10000).alias("a_qty"),
        F.max("l_quantity").alias("x_qty_max"),
    )
    # left: the percentiles have no row for a flag whose two columns are
    # all NULL, and that flag's group must not drop out
    agg = exact.join(F.broadcast(sketch), "l_returnflag").join(
        F.broadcast(_exact_flag_percentiles(li)), "l_returnflag", "left"
    )
    pct = 3 * 0.05  # 3 sigma at default rsd
    pct_parts = 3 * 0.01
    return agg.select(
        "l_returnflag",
        "n",
        (
            F.abs(F.col("a_orders") - F.col("x_orders"))
            <= pct * F.col("x_orders")
        ).alias("orders_ok"),
        (
            F.abs(F.col("a_parts") - F.col("x_parts"))
            <= pct_parts * F.col("x_parts")
        ).alias("parts_ok"),
        F.col("a_med").between(
            F.element_at("x_price", 1), F.element_at("x_price", 2)
        ).alias("price_med_ok"),
        F.element_at("a_qty", 1).between(
            F.element_at("x_qty", 1), F.element_at("x_qty", 2)
        ).alias("qty_p50_ok"),
        F.element_at("a_qty", 2).between(
            F.element_at("x_qty", 3), F.col("x_qty_max")
        ).alias("qty_p99_ok"),
    )


@query(
    "q_udtf",
    oracle="""
    WITH tok AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
    SELECT doc_id,
           CAST((i - 1) / 32 AS INT) AS chunk_idx,
           array_to_string(toks[i : least(i + 31, len(toks))], ' ') AS chunk,
           CAST(least(i + 31, len(toks)) - i + 1 AS INT) AS n_tokens
    FROM tok, LATERAL (SELECT unnest(range(1, len(toks) + 1, 32)) AS i)
    """,
)
def q_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (table function, Spark 3.5+): explodes each document
    into fixed-size token chunks with offsets — the row-generating
    extension surface (scalar/agg surfaces live in q_udf_surface) —
    hash-matched against a SQL LATERAL-unnest oracle."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="doc_id bigint, chunk_idx int, chunk string, n_tokens int")
    class ChunkDoc:
        def eval(self, doc_id: int, text: str, chunk_tokens: int):
            toks = text.split()
            for i in range(0, len(toks), chunk_tokens):
                chunk = toks[i : i + chunk_tokens]
                yield doc_id, i // chunk_tokens, " ".join(chunk), len(chunk)

    spark.udtf.register("chunk_doc", ChunkDoc)
    d = _t(spark, sf_dir, "documents")
    d.createOrReplaceTempView("__docs_for_udtf")
    return spark.sql(
        "SELECT c.* FROM __docs_for_udtf d, "
        "LATERAL chunk_doc(d.doc_id, d.text, 32) c"
    )


# ---------------------------------------------------------------------------
# Custom stateful operator + canonicalization (reference A3, A5+A9 online)
# ---------------------------------------------------------------------------


@query(
    "q_dup_stats_stream",
    oracle="""
    WITH tagged AS (
        SELECT ts,
               row_number() OVER (
                   PARTITION BY user_id, event_type, props
                   ORDER BY ts, event_id) AS rn,
               epoch_ms(ts) - min(epoch_ms(ts)) OVER (
                   PARTITION BY user_id, event_type, props) AS delay_ms
        FROM events
    )
    SELECT CAST(epoch(date_trunc('minute', ts)) AS BIGINT) AS window_start,
           count(*) FILTER (rn = 1) AS primes,
           count(*) FILTER (rn > 1) AS duplicates,
           CAST(sum(delay_ms) FILTER (rn > 1) AS BIGINT) AS sum_delay_ms
    FROM tagged
    GROUP BY 1
    """,
)
def q_dup_stats_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's FULL hot path online: custom stateful operator
    (applyInPandasWithState) tags every message prime/duplicate with
    its elapsed-since-first delay (Deduplicator.java:43-66), then the
    tumbling window computes the analytics metric set (Analytics.java:
    47-67) — and the result hash-matches the batch oracle."""
    import os

    from transitdata_hfp_deduplicator_spark.streaming import (
        parquet_stream,
        replay_shuffle_partitions,
        run_to_memory,
        scoped_shuffle_partitions,
    )
    from transitdata_hfp_deduplicator_spark.streaming.stateful import dedup_tag_stream

    src = os.path.join(sf_dir, "events.parquet")
    # spread=True: the identity-digest/bucket projection upstream of the
    # state exchange runs on the replay's ONE input split (guide §2.5);
    # safe because the state fn sorts each group by ts_ms and the final
    # window aggregate is arrival-order-independent (tied-ts rows swap
    # prime flags only between rows with identical window and delay 0)
    stream = parquet_stream(spark, src, spread=True)
    # 30-day TTL >> the corpus span: no evictions during replay, so the
    # online result is comparable to the batch (infinite-cache) oracle
    tagged = dedup_tag_stream(
        stream, EVENT_IDENTITY, "ts", ttl_ms=30 * 24 * 3600 * 1000
    )
    with scoped_shuffle_partitions(spark, replay_shuffle_partitions(src)):
        out = run_to_memory(tagged, output_mode="append")
    return (
        out.groupBy(
            (F.col("ts_ms") - (F.col("ts_ms") % 60000)).alias("win_ms")
        )
        .agg(
            F.count_if(F.col("is_prime")).alias("primes"),
            F.count_if(~F.col("is_prime")).alias("duplicates"),
            F.sum(F.when(~F.col("is_prime"), F.col("delay_ms"))).alias(
                "sum_delay_ms"
            ),
        )
        .select(
            (F.col("win_ms") / 1000).cast("bigint").alias("window_start"),
            "primes",
            "duplicates",
            "sum_delay_ms",
        )
    )


@query(
    "q_canonical_dedup",
    oracle="""
    WITH enc AS (
      SELECT event_id, user_id,
             encode(event_type) AS et, encode(props) AS pr,
             octet_length(encode(event_type)) AS let,
             octet_length(encode(props)) AS lpr
      FROM events
    ), hx AS (
      SELECT event_id,
        '08'
        || CASE WHEN user_id < 128 THEN lpad(lower(hex(user_id)), 2, '0')
                WHEN user_id < 16384 THEN
                  lpad(lower(hex((user_id % 128) + 128)), 2, '0')
                  || lpad(lower(hex(user_id // 128)), 2, '0')
                ELSE
                  lpad(lower(hex((user_id % 128) + 128)), 2, '0')
                  || lpad(lower(hex(((user_id // 128) % 128) + 128)), 2, '0')
                  || lpad(lower(hex(user_id // 16384)), 2, '0') END
        || '12'
        || CASE WHEN let < 128 THEN lpad(lower(hex(let)), 2, '0')
                ELSE lpad(lower(hex((let % 128) + 128)), 2, '0')
                     || lpad(lower(hex(let // 128)), 2, '0') END
        || lower(hex(et))
        || '1a'
        || CASE WHEN lpr < 128 THEN lpad(lower(hex(lpr)), 2, '0')
                ELSE lpad(lower(hex((lpr % 128) + 128)), 2, '0')
                     || lpad(lower(hex(lpr // 128)), 2, '0') END
        || lower(hex(pr)) AS canon_hex
      FROM enc
    )
    SELECT sha256(canon_hex) AS identity,
           count(*) AS n_msgs,
           min(event_id) AS first_id
    FROM hx
    GROUP BY canon_hex
    """,
)
def q_canonical_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonicalization (A3) end-to-end: each event is wire-encoded as a
    protobuf-shaped envelope in a per-row-scrambled field order, then
    canonicalized (sorted field re-emit) and deduped on the canonical
    digest — proving identity is independent of serialization order,
    the exact property Deduplicator.java:69 re-encodes for.
    Hash-checked: the oracle rebuilds the SAME canonical wire bytes
    (tag-ordered varint fields) as a hex string in SQL and sha256s it
    — identity is over the hex image of the bytes (injective), because
    DuckDB's sha256 only accepts VARCHAR.  Byte-level codec semantics
    additionally pinned in tests/test_canonicalize.py."""
    from collections.abc import Iterator

    import pandas as pd

    from transitdata_hfp_deduplicator_spark.operators.canonicalize import (
        _write_varint,
        with_canonical_payload,
    )
    from transitdata_hfp_deduplicator_spark.tables import spread

    # select first (guide §4.1: an opaque mapInPandas ships every column
    # it is handed — the encoder touches exactly these four), then
    # spread(): both Python kernels (encode below + the canonicalize
    # pass) run upstream of the digest exchange, i.e. on the scan's ONE
    # split (guide §2.5).  The groupBy(count, min) output is
    # partition-order-independent.
    ev = spread(
        _t(spark, sf_dir, "events").select(
            "event_id", "user_id", "event_type", "props"
        )
    )

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        def fields_of(r):
            f1 = b"\x08" + _write_varint(int(r.user_id))
            et = r.event_type.encode()
            f2 = b"\x12" + _write_varint(len(et)) + et
            pr = r.props.encode()
            f3 = b"\x1a" + _write_varint(len(pr)) + pr
            fields = [f1, f2, f3]
            rot = int(r.event_id) % 3  # deterministic per-row scramble
            return b"".join(fields[rot:] + fields[:rot])

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "event_id": pdf["event_id"],
                    "value": [fields_of(r) for r in pdf.itertuples()],
                }
            )

    enveloped = ev.mapInPandas(encode, "event_id long, value binary")
    canon = with_canonical_payload(enveloped)
    return (
        canon.groupBy(
            F.sha2(F.lower(F.hex("canonical")), 256).alias("identity")
        )
        .agg(F.count(F.lit(1)).alias("n_msgs"), F.min("event_id").alias("first_id"))
    )


# ---------------------------------------------------------------------------
# HFP golden parity + sliding windows + unpivot
# ---------------------------------------------------------------------------

# the reference's integration-test corpus; rebound below to the path
# the q_hfp_* queries actually read
HFP_CORPUS = "/root/reference/src/integration-test/resources/hfp-5000.txt"
# seeded two-feed sample in the same line format, committed with the
# package (FIXTURES.md A1): `python3 perfbench/hfpgen.py 1 25 20 OUT`
HFP_SAMPLE = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "sources", "hfp-sample.txt"
)


def resolve_hfp_corpus(reference: str = HFP_CORPUS) -> str:
    """The corpus the ``q_hfp_*`` queries and their oracles read: the
    reference's golden file (5,000 lines -> 4,956 uniques) where it
    exists, else the committed sample (1,000 lines -> 500 uniques)."""
    return reference if os.path.isfile(reference) else HFP_SAMPLE


# resolved once, so each Spark query and its DuckDB oracle read one file
HFP_CORPUS = resolve_hfp_corpus()
_hfp_sql_path = HFP_CORPUS.replace("'", "''")
# the A1 line parse (first space, first brace) shared by both oracles
_HFP_PARSED_SQL = rf"""
    lines AS (
        SELECT column0 AS line
        FROM read_csv('{_hfp_sql_path}',
                      sep=e'\x01', header=false, quote='',
                      columns={{'column0': 'VARCHAR'}})
    ),
    parsed AS (
        SELECT trim(substr(line, instr(line, ' ') + 1,
                    instr(line, '{{') - instr(line, ' ') - 1)) AS topic,
               substr(line, instr(line, '{{')) AS payload
        FROM lines
    )"""


@query(
    "q_hfp_golden",
    oracle=f"""
    WITH {_HFP_PARSED_SQL}
    SELECT count(*) AS n_messages,
           count(DISTINCT topic || ' ' || payload) AS n_unique,
           count(DISTINCT topic) AS n_topics
    FROM parsed
    """,
)
def q_hfp_golden(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's golden test as a declared query: parse the HFP
    corpus (first-space/first-brace rule, ITDeduplicatorTest.java:138-148)
    and count uniques by topic+payload identity.  Over the reference's
    5000-message file, where present, that is exactly 5000 -> 4956
    (ITDeduplicatorTest.java:92-93); otherwise over the committed sample
    it is 1000 -> 500, each unique once per feed (``HFP_CORPUS``).  The
    oracle re-parses the same file in SQL."""
    from transitdata_hfp_deduplicator_spark.sources import hfp

    corpus = hfp.read_corpus(spark, HFP_CORPUS)
    ident = hfp.dedup_identity(corpus)
    return ident.agg(
        F.count(F.lit(1)).alias("n_messages"),
        F.countDistinct("identity").alias("n_unique"),
        F.countDistinct("topic").alias("n_topics"),
    )


@query(
    "q_window_sliding",
    oracle="""
    SELECT CAST(epoch(date_trunc('minute', ts)) AS BIGINT) - 60 * k.k AS window_start,
           count(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(30,4))) AS DOUBLE) AS total_value
    FROM events, (SELECT unnest([0, 1, 2, 3, 4]) AS k) k
    GROUP BY 1
    """,
)
def q_window_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows (5-minute window, 1-minute slide): each event
    lands in 5 windows — Spark's window() with a slide; the oracle
    replicates the assignment with an offset cross join."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "5 minutes", "1 minute").alias("win"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum(F.col("value")).alias("total_value"),
        )
        .select(
            F.unix_timestamp(F.col("win.start")).alias("window_start"),
            "n",
            "total_value",
        )
    )


@query(
    "q_window_range",
    oracle="""
    SELECT event_id, user_id,
           CAST(count(*) OVER w AS BIGINT) AS n_10m,
           round(CAST(sum(CAST(value AS DECIMAL(30,6))) OVER w AS DOUBLE), 6)
               AS sum_10m
    FROM (SELECT event_id, user_id, value,
                 CAST(floor(epoch(ts)) AS BIGINT) AS sec
          FROM events)
    WINDOW w AS (PARTITION BY user_id ORDER BY sec
                 RANGE BETWEEN 600 PRECEDING AND CURRENT ROW)
    """,
)
def q_window_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-frame window: per user, the trailing-10-minute event count
    and value sum at every event — the time-range moving aggregate ROWS
    frames cannot express when event spacing varies (a ROWS frame
    counts rows, not seconds; sessions with bursts and gaps need the
    VALUE-based frame).  The in-frame sum routes through DECIMAL so
    frame-evaluation order cannot move the last ulp — hash-checked.

    Scale shape: one user-keyed exchange, sort within partitions, the
    running frame evaluated in a single pass per partition (Spark's
    bounded-preceding range frame keeps a sliding aggregate buffer, not
    a per-row rescan)."""
    ev = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "value", F.col("ts").cast("long").alias("sec")
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("sec")
        .rangeBetween(-600, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.count(F.lit(1)).over(w).alias("n_10m"),
        F.round(
            F.sum(F.col("value").cast("decimal(30,6)")).over(w).cast("double"),
            6,
        ).alias("sum_10m"),
    )


@query(
    "q_unpivot",
    oracle="""
    SELECT l_orderkey, l_linenumber, 'quantity' AS measure,
           round(l_quantity, 4) AS value FROM lineitem
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'price', round(l_extendedprice, 4) FROM lineitem
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'discount', round(l_discount, 4) FROM lineitem
    """,
)
def q_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (wide -> long) via stack(): one scan emitting 3 rows per
    input row — no self-union, the table is read once."""
    li = _t(spark, sf_dir, "lineitem")
    return li.selectExpr(
        "l_orderkey",
        "l_linenumber",
        "stack(3, 'quantity', round(l_quantity, 4),"
        " 'price', round(l_extendedprice, 4),"
        " 'discount', round(l_discount, 4)) AS (measure, value)",
    )


@query(
    "q_dedup_clusters",
    oracle="""
    WITH RECURSIVE pairs AS (
        WITH sh AS (
            SELECT doc_id,
                   list_distinct([tokens[i] || ' ' || tokens[i+1] || ' ' || tokens[i+2]
                                  for i in range(1, len(tokens) - 1)]) AS shingles
            FROM (SELECT doc_id, string_split(lower(trim(text)), ' ') AS tokens
                  FROM documents)
            WHERE len(tokens) >= 3
        ),
        ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
        inter AS (
            SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS inter
            FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        )
        SELECT i, j
        FROM inter
        JOIN (SELECT doc_id, len(shingles) AS n FROM sh) sa ON i = sa.doc_id
        JOIN (SELECT doc_id, len(shingles) AS n FROM sh) sb ON j = sb.doc_id
        WHERE inter * 1.0 / (sa.n + sb.n - inter) >= 0.5
    ),
    edges AS (SELECT i AS a, j AS b FROM pairs
              UNION SELECT j, i FROM pairs),
    reach(a, b) AS (
        SELECT a, b FROM edges
        UNION
        SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
    )
    SELECT d.doc_id,
           coalesce(least(m.mn, d.doc_id), d.doc_id) AS cluster_id,
           coalesce(least(m.mn, d.doc_id), d.doc_id) = d.doc_id AS is_canonical
    FROM documents d
    LEFT JOIN (SELECT a, min(b) AS mn FROM reach GROUP BY a) m
           ON d.doc_id = m.a
    """,
)
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup GROUP formation: exact-Jaccard pairs (J>=0.5) →
    connected components (iterative min-label propagation) → canonical
    survivor per cluster (min doc_id — first-wins applied to groups).
    The oracle computes the same components with a recursive CTE."""
    from transitdata_hfp_deduplicator_spark.operators.clusters import dedup_clusters
    from transitdata_hfp_deduplicator_spark.operators.similarity import jaccard_pairs

    d = _t(spark, sf_dir, "documents")
    pairs = jaccard_pairs(d, "doc_id", "text", shingle_n=3, threshold=0.5)
    return dedup_clusters(d, pairs)


@query(
    "q_embed_neardup",
    oracle="""
    SELECT a.vec_id AS i, b.vec_id AS j,
           round(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
                 / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
                    * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))),
                 6) AS cos_sim
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE round(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
                / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
                   * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))),
                6) >= 0.45
    """,
)
def q_embed_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact embedding-cosine near-dup pairs (cos >= 0.45) — the last
    of the five near-dup families, ground truth for the RP-LSH path."""
    from transitdata_hfp_deduplicator_spark.operators.similarity import (
        cosine_dup_pairs,
    )

    e = _t(spark, sf_dir, "embeddings")
    return cosine_dup_pairs(e, threshold=0.45)


@query(
    "q_embed_neardup_rplsh",
    oracle="""
    WITH e AS (
        SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ),
    sig AS MATERIALIZED (
        SELECT vec_id,
           (CASE WHEN list_dot_product(v, [0.4967141530112327, -0.13826430117118466, 0.6476885381006925, 1.5230298564080254, -0.23415337472333597, -0.23413695694918055, 1.5792128155073915, 0.7674347291529088, -0.4694743859349521, 0.5425600435859647, -0.46341769281246226, -0.46572975357025687, 0.24196227156603412, -1.913280244657798, -1.7249178325130328, -0.5622875292409727, -1.0128311203344238, 0.3142473325952739, -0.9080240755212109, -1.4123037013352915, 1.465648768921554, -0.22577630048653566, 0.06752820468792384, -1.4247481862134568, -0.5443827245251827, 0.11092258970986608, -1.1509935774223028, 0.37569801834567196, -0.600638689918805, -0.2916937497932768, -0.6017066122293969, 1.8522781845089378, -0.013497224737933921, -1.0577109289559004, 0.822544912103189, -1.2208436499710222, 0.2088635950047554, -1.9596701238797756, -1.3281860488984305, 0.19686123586912352, 0.7384665799954104, 0.1713682811899705, -0.11564828238824053, -0.3011036955892888, -1.4785219903674274, -0.7198442083947086, -0.4606387709597875, 1.0571222262189157, 0.3436182895684614, -1.763040155362734, 0.324083969394795, -0.38508228041631654, -0.6769220003059587, 0.6116762888408679, 1.030999522495951, 0.9312801191161986, -0.8392175232226385, -0.3092123758512146, 0.33126343140356396, 0.9755451271223592, -0.47917423784528995, -0.18565897666381712, -1.1063349740060282, -1.1962066240806708]) >= 0 THEN 1 ELSE 0 END
            + CASE WHEN list_dot_product(v, [0.812525822394198, 1.356240028570823, -0.07201012158033385, 1.0035328978920242, 0.36163602504763415, -0.6451197546051243, 0.36139560550841393, 1.5380365664659692, -0.03582603910995154, 1.5646436558140062, -2.6197451040897444, 0.8219025043752238, 0.08704706823817122, -0.29900735046586746, 0.0917607765355023, -1.9875689146008928, -0.21967188783751193, 0.3571125715117464, 1.477894044741516, -0.5182702182736474, -0.8084936028931876, -0.5017570435845365, 0.9154021177020741, 0.32875110965968446, -0.5297602037670388, 0.5132674331133561, 0.09707754934804039, 0.9686449905328892, -0.7020530938773524, -0.3276621465977682, -0.39210815313215763, -1.4635149481321186, 0.29612027706457605, 0.26105527217988933, 0.00511345664246089, -0.23458713337514692, -1.4153707420504142, -0.42064532276535904, -0.3427145165267695, -0.8022772692216189, -0.16128571166600914, 0.4040508568145384, 1.8861859012105302, 0.17457781283183896, 0.25755039072276437, -0.07444591576616721, -1.9187712152990415, -0.026513875449216878, 0.06023020994102644, 2.463242112485286, -0.19236096478112252, 0.30154734233361247, -0.03471176970524331, -1.168678037619532, 1.1428228145150205, 0.7519330326867741, 0.7910319470430469, -0.9093874547947389, 1.4027943109360992, -1.4018510627922809, 0.5868570938002703, 2.1904556258099785, -0.9905363251306883, -0.5662977296027719]) >= 0 THEN 2 ELSE 0 END
            + CASE WHEN list_dot_product(v, [0.09965136508764122, -0.5034756541161992, -1.5506634310661327, 0.06856297480602733, -1.0623037137261049, 0.4735924306351816, -0.9194242342338032, 1.5499344050175394, -0.7832532923362371, -0.3220615162056756, 0.8135172173696698, -1.2308643164339552, 0.22745993460412942, 1.307142754282428, -1.6074832345612275, 0.1846338585323042, 0.25988279424842353, 0.7818228717773104, -1.236950710878082, -1.3204566130842763, 0.5219415656168976, 0.29698467323318606, 0.25049285034587654, 0.3464482094969757, -0.6800247215784908, 0.23225369716100355, 0.29307247329868125, -0.7143514180263678, 1.8657745111447566, 0.4738329209117875, -1.1913034972026486, 0.6565536086338297, -0.9746816702273214, 0.787084603742452, 1.158595579007404, -0.8206823183517105, 0.9633761292443218, 0.4127809269364983, 0.82206015999449, 1.8967929826539474, -0.2453881160028705, -0.7537361643574896, -0.8895144296255233, -0.8158102849654383, -0.0771017094141042, 0.3411519748166439, 0.27669079933001905, 0.8271832490360238, 0.01300189187790702, 1.4535340771573169, -0.2646568332379561, 2.720169166589619, 0.6256673477650062, -0.8571575564162826, -1.0708924980611123, 0.4824724152431853, -0.2234627853258509, 0.714000494092092, 0.47323762457354485, -0.07282891265687277, -0.846793718068405, -1.5148472246858646, -0.4465149520670211, 0.8563987943234723]) >= 0 THEN 4 ELSE 0 END
            + CASE WHEN list_dot_product(v, [0.21409374413020396, -1.245738778711988, 0.173180925851182, 0.3853173797288368, -0.883857436201133, 0.1537251059455279, 0.058208718445999896, -1.142970297830623, 0.3577873603482833, 0.5607845263682344, 1.083051243175277, 1.053802052034903, -1.377669367957091, -0.9378250399151228, 0.5150352672086598, 0.5137859509122088, 0.5150476863060479, 3.852731490654721, 0.570890510693167, 1.135565640180599, 0.9540017634932023, 0.651391251305798, -0.3152692446403456, 0.7589692204932674, -0.7728252145375718, -0.23681860674000887, -0.48536354782910346, 0.08187413938632256, 2.3146585666735087, -1.867265192591748, 0.6862601903745135, -1.6127158711896517, -0.47193186578943347, 1.088950596967366, 0.06428001909546277, -1.0777447779293061, -0.7153037092599682, 0.6795977489346758, -0.7303666317171367, 0.21645858958197486, 0.045571839903813784, -0.6516003476058171, 2.1439440893253257, 0.6339190223180112, -2.025142586657607, 0.18645431476942764, -0.661786464768388, 0.852433334796224, -0.7925207384327007, -0.11473644146689901, 0.5049872789804571, 0.8657551941701215, -1.2002964070557762, -0.3345012358409484, -0.4749453111609562, -0.6533292325737119, 1.7654542402810969, 0.40498171096095553, -1.2608839543350452, 0.9178619470547761, 2.1221561970126332, 1.0324652605511468, -1.5193699659540134, -0.48423407286625136]) >= 0 THEN 8 ELSE 0 END
            + CASE WHEN list_dot_product(v, [1.2669111491866227, -0.7076694656187807, 0.44381942814622843, 0.7746340534293368, -0.926930471578083, -0.05952535606180008, -3.2412673400690726, -1.0243876413342898, -0.2525681513931603, -1.2477831819648495, 1.6324113039316352, -1.4301413779606327, -0.44004448669698376, 0.13074057728609134, 1.4412732890661155, -1.4358621511794394, 1.1631637521549596, 0.010233061019587049, -0.9815086510479509, 0.46210347426327075, 0.19905969557347003, -0.6002168771587947, 0.06980208499001891, -0.3853135968617602, 0.11351734525124804, 0.6621306745210467, 1.586016816145352, -1.237815498826849, 2.1330333746562666, -1.9520877995225019, -0.15178509503558332, 0.5883172064845765, 0.28099186773503265, -0.6226995198205938, -0.20812225035727522, -0.4930009346588328, -0.5893647569442115, 0.8496020970210246, 0.35701548596504734, -0.6929095952606542, 0.8995998754332507, 0.30729952087660933, 0.8128621188389601, 0.6296288419236122, -0.8289950109220723, -0.5601810401969696, 0.7472936051232618, 0.6103702654334648, -0.020901593964148132, 0.117327383308782, 1.277664895788425, -0.5915713888358299, 0.5470973811700379, -0.20219265243389406, -0.2176812032272203, 1.09877685198719, 0.8254163489880298, 0.8135096360006385, 1.305478807154329, 0.02100384163275905, 0.6819529712949639, -0.31026675659345604, 0.3241663524884421, -0.13014305436768459]) >= 0 THEN 16 ELSE 0 END
            + CASE WHEN list_dot_product(v, [0.09699596499271819, 0.5951570254369136, -0.8182206832334725, 2.0923872756854602, -1.006017381499702, -1.2141886127877322, 1.1581108735000678, 0.7916626939629359, 0.6241198170521551, 0.6283455092642799, -0.012246772846914623, -0.8972543714858315, 0.07580455819372633, -0.6771617115121117, 0.9751197334177512, -0.14705738150213865, -0.8254971967925115, -0.32138584165299344, 0.41293145427562433, -0.5637245528039747, -0.8222203955664315, 0.2436872114919123, 0.24496657110872277, -0.5069431753711298, -0.4710383056183228, 0.2320499373576363, -1.4480843414973241, -1.4074637743765552, -0.718444221252436, -0.21344715171184725, 0.3109075655980046, 1.475356216949552, 0.8576596232020194, -0.1599385299634271, -0.01901620790268883, -1.0025293646378088, -0.01851313599238993, -0.2886586389201383, 0.3227185603380895, -0.827230943552323, 0.5193465142411723, 1.5327389130025777, -0.1087601484568576, 0.40171172209894146, 0.6901439917111125, -0.40122047188583626, 0.22409248181041677, 0.01259240078179486, 0.09767609854883172, -0.7730097838554665, 0.024510174258942714, 0.49799829124544975, 1.4511436077950417, 0.9592708260852069, 2.1531824575115563, -0.7673475628880495, 0.8723206367206782, 0.18334200573835174, 2.1898029332176723, -0.8082982853551515, -0.8397218421807761, -0.5993926454440222, -2.123895724309807, -0.525755021680761]) >= 0 THEN 32 ELSE 0 END) AS bv0,
           (CASE WHEN list_dot_product(v, [-0.759132661553698, 0.15039378647620763, 0.34175597577715944, 1.8761708392158862, 0.9504238381860503, -0.5769036556624031, -0.898414671348358, 0.4919191715065057, -1.3202332070206422, 1.8314587658543537, 1.179440120721287, -0.4691756521047048, -1.7131345290908775, 1.3538723741654128, -0.11453984525261789, 1.2378163119734618, -1.594427658794367, -0.5993750229537729, 0.005243699718183166, 0.046980593764742055, -0.45006547147924364, 0.6228499323474987, -1.0676204293825944, -0.1423794850212935, 0.12029563171189886, 0.514438834058749, 0.7116148780888898, -1.1246420918378692, -1.5341141707356223, 1.277676821898509, 0.33231401197959165, -0.7484865365565536, 1.551151975522523, 0.11567463429285867, 1.1792971840638264, 0.06751848141010895, 2.060747924881987, 1.7553408424432044, -0.2489641484790735, 0.9715709509543554, 0.6453759495851475, 1.3686315575323487, -0.9649234605801045, 0.6860514599984393, 1.0584244868495878, -1.7587394864231143, -1.183258512665775, -2.0392321777601006, -0.26940683444455776, 0.7175422557959623, 1.502357052096028, 0.07409478041977519, 1.6286155455712918, -1.3801014582148914, -1.7033824393551547, -0.05554769889661878, 0.3840654489393073, -0.03269474809409311, -2.0674421000398766, -0.08912003951278841, -1.3044695005048532, 0.6696725488300385, 0.36659824609684827, -0.9398797863273552]) >= 0 THEN 1 ELSE 0 END
            + CASE WHEN list_dot_product(v, [-0.5138669173366935, -1.0592135218889516, -0.06267909727317188, 0.9551423205012383, -0.9857260463355437, 0.5040465155178444, -0.5302576183724408, -0.7928728322623442, -0.10703035995455783, -1.035242322419374, -0.553649305347182, -1.1978778925888485, 1.9647251329163893, 0.03526355197172861, -0.6997255079925856, 0.213979910734222, -0.11232804969082982, -0.22096959953322298, 0.6141667000434252, 0.7575077100473051, -0.5305011476105275, -0.57581824064468, -0.275051697151644, -2.301921164735585, -1.5151910621985523, 1.3668742674445247, 1.6449677135012837, -0.24903603955637832, 0.5765569630557664, 0.3112501545435361, 3.0788808084552377, 1.1195749114345768, -0.12791759148076653, -0.9555404406004258, -1.6064463202575725, 0.2034636358672231, -0.7563507452843033, -1.4222537095976742, -0.6465728842425266, -1.081548003614395, 1.6871416350725648, 0.8816397569494505, -0.007972641316617372, 1.4799441388900259, 0.0773683076476183, -0.8612842013282637, 1.5231240772696573, 0.5389100436846587, -1.0372461543264564, -0.1903386780836082, -0.8756182533847572, -1.382799730964336, 0.9261775475316414, 1.9094166404701305, -1.3985675738191412, 0.5629692366905709, -0.6506425691218269, -0.48712538376469605, -0.5923939242388692, -0.863990769679816, 0.04852162794482699, -0.8309501164110378, 0.2704568257798388, -0.05023810944913695]) >= 0 THEN 2 ELSE 0 END
            + CASE WHEN list_dot_product(v, [-0.23894804686640975, -0.9075636620415979, -0.5767713305683327, 0.755391225825756, 0.5009171876243808, -0.977555244798551, 0.09933230542922587, 0.751387123371789, -1.6694052811213718, 0.543360192379935, -0.6626237589458467, 0.5705986685931593, -0.7632591565425169, -1.804882100664519, -1.6275424378831627, 0.048084946661381994, 0.25972250172148187, -0.9043166251044086, 0.6385924587773739, -1.6615200622689599, -0.06607979864731657, -1.2110161997624567, -0.6518361078021592, 0.047398671316414016, -0.8604133652839524, -0.38455554422982535, 1.0062928092144405, -0.5768918695231487, 0.8356921120651418, -1.129706854657618, 0.5298041779152828, 1.4415686206579004, -2.4716445001272893, -0.7968952554704768, 0.57707212718054, -0.2030453860429927, 0.37114587337130883, -0.6039851867158206, 0.08658978747289992, -0.15567723539207948, 1.1677820616598074, 0.2544208433012131, 0.3376026620752022, -0.4118769661224674, -0.48760622407249354, -0.4325581878196209, 0.39445214237829684, -0.42098448082026296, 0.2897748568964129, 2.075400798645439, 0.8711247034316923, -0.32602353216784113, 1.2012139221639448, -0.4080753730215514, -2.038124535177854, -1.008086310917404, -1.8707919210258557, -0.35151348404130867, 0.0184183791895517, 1.6764373122752827, 0.32692737376416264, -0.21910052880886424, 0.8294055811834892, -2.211135309007885]) >= 0 THEN 4 ELSE 0 END
            + CASE WHEN list_dot_product(v, [0.23561455810856594, 0.7708651938869668, -1.4785862457798415, 1.143754043206929, 0.3384964074944141, -0.4152879139008013, 0.6327818661062848, 2.270692857804396, 0.18186625505849516, 0.24822058630033608, -0.4593608995402441, -0.8498443694647918, 0.8303358165442456, -0.8560838259088672, 0.07156623721939247, -0.4776574467651167, 0.47897982574639186, 0.3336621052869483, 1.0375399442578992, -0.510016398854747, -0.26987493529337125, -0.9787637157823074, -0.4442932600761116, 0.3773004930448522, 0.7569886166453519, -0.9221653241776254, 0.8696059201056602, 1.355637858804951, 0.41343490322370086, 1.876795812558066, -0.773789199103573, -1.244654703311417, -1.7787202489042786, 1.496044311489183, 0.6543656563540577, -0.05558467091045507, 0.2799686263198203, -1.1254890472983765, 2.4457519796168263, 0.1292211819752275, 0.10939479460489289, 0.725766623898692, 0.4810092317367132, 0.22388402427913137, -0.7904744554453119, 0.4714683571359957, 1.8820244964750337, 1.3454200461549777, 1.593186626639397, -0.5112156764311852, -0.9896048202585809, -0.12578692009964815, 0.055724912288694604, 1.0941915184709485, -1.6924646297148194, 1.5295503194606137, -0.15800789857898942, -0.42688106994742003, -1.0121043752601675, -1.6548566718657693, 0.8231705839619146, 0.07331796718840389, -1.2899608997410539, -1.295078772063616]) >= 0 THEN 8 ELSE 0 END
            + CASE WHEN list_dot_product(v, [-0.3357846992901282, 1.669021525289393, -0.2595913513636048, -1.5031429531181062, -0.24574306408594432, -0.2727235697476705, -2.6968866429415717, -0.05429486651781221, -0.23093453020867796, 0.6962063648134184, 1.8489560949453452, 1.1265650295477574, -0.26888869055483056, -1.1065259087416703, 2.5733598032498604, 0.05921843401448826, 0.013929291912946203, -0.024125087110003277, 0.19808476076785494, -0.14436041192394247, -0.5736620068802363, -0.5468589412403921, -0.03275327021599839, -0.543424771133765, -0.7128457826771644, 0.10643022769189683, -0.2549772174208553, 1.5039929885826886, -2.650969808393012, 1.0915068519224618, 1.246085192497629, -2.0733902324081495, -0.34268759408034877, -0.37144086599579146, -1.4075116947178212, -0.7778166875908753, -1.1105758454658288, 1.7522704434236227, 0.9356783931474612, 1.2715550949941588, 0.7216720640432351, -1.1290517712172292, -0.5245202662797737, 0.48937456122791806, -1.2221278088919454, 0.7129984301723881, -0.24032539815813503, -0.3748208075495975, 0.7109599682034915, 0.44426331148603976, -0.3609661658190799, 1.159329803364248, -1.0810633275998973, 0.6159356069442637, 0.5931012579683838, -0.3095464393139903, 0.326133022242118, -1.251113576385303, 0.924027019206901, -0.18490213644298903, -0.5227230205190395, 1.0490092258368893, -0.7043436905427592, -1.4084612963635597]) >= 0 THEN 16 ELSE 0 END
            + CASE WHEN list_dot_product(v, [-1.5566291735239037, 0.6060099513456396, -1.280429352496283, 1.7547941819843647, -2.081929407883722, 1.6964563682900382, 0.2110174672026184, -0.09671311187039239, -0.5449190868089497, 0.39913611435207086, -0.037634702424848364, 1.1033018820165215, 0.11422764866203965, 0.1503017614618776, -0.36361221221385587, -0.056945623721067457, 0.3078017688920592, -1.7101683926566256, -1.348185422105713, 0.743264094022715, 0.17086543812794186, -0.18398333635267913, 0.01843393306539316, 0.34758170536167105, -0.5397596803093615, -0.7783047254023127, 0.19584525509768155, -0.978372777615032, 0.40825275571447184, -1.7025836042378404, 1.0291556373256436, 0.472597482413043, 0.25602973431387566, 0.9826909839455139, 1.6654744444625766, 1.0143700650181304, -1.8408742313316453, -1.2795769667357015, -0.6248185776956788, 0.026091050210833786, 0.517659020469123, -0.7257438131534656, 0.18676676447707832, -0.7553829323533225, -0.6115178029919482, -1.4066610968482223, -0.9232332461109043, -1.3516846056163336, -0.9758732529773327, 1.0536417966078395, -0.949398888831943, 2.632382064837391, 0.4933179008808892, 0.1848361236948739, -0.8583577801812136, 0.7003098794089914, -0.5756378262377739, 0.12200981464536144, 2.5600845382687947, -0.09605989972464987, 1.1492733262856758, -0.7031764251258874, -0.0349884904969617, 1.77080063563551]) >= 0 THEN 32 ELSE 0 END) AS bv1,
           (CASE WHEN list_dot_product(v, [-0.6269670577877674, 1.8124485579969287, 0.7077519354554754, -0.5624667758942676, 0.632407739055521, 0.9725544496267299, 0.6218099622171964, -1.5702247198904564, -0.7271371758248686, -0.24751863555150475, -0.07443342910004629, 0.620672097550678, 0.17770100093325383, -1.3353443587101013, 0.3801978510059632, 0.6105857452838231, 0.5597904479310398, 1.0807807255546218, 0.8339221545489041, 0.4591800792284367, -0.07016571145864703, -1.6609609335159914, 0.42961821913258585, 0.20768768716311115, 0.27157883719537346, -1.2767485758203094, -1.0810565404082624, 1.0531528533329035, -0.03955515385665504, 0.6815006973726244, 0.028318376130461172, 0.02975613949574519, 0.9382838059759977, -0.5160447282173739, 0.09612077694098337, -0.4622752887050425, -0.4344962274323156, -0.30917212346863937, 0.22213377163371284, -0.4787486216634773, 1.2557561255735208, -0.8946073022195039, -0.18687164416135904, -0.4397310582741749, 1.4469778843537329, 0.19655477651157463, 1.0318445394686349, -1.485560373036972, 0.26705026586925884, 0.889630795623437, 0.08228398927542419, 1.0654803750653512, -0.5172884501003722, 1.40934744018558, 2.2988981236192503, -0.36283856043965906, -0.4455025214007718, 1.453384477117701, 1.5795721457307124, -0.5228600271532683, -0.42018681709585726, -0.2817846088605072, -1.344450511034277, -0.9186519464841982]) >= 0 THEN 1 ELSE 0 END
            + CASE WHEN list_dot_product(v, [-1.0041407667520679, -0.7677975651041284, -0.03468488738678118, 0.23421473253652075, 1.5505004928140769, -0.998354040738791, 0.9843223984765838, -0.21398884422550896, -0.04946370965243295, 0.6748194921666038, -1.1227220215622986, 0.3824097461840506, 0.1664522082130561, 0.4924512640081491, 0.2891686439078181, 2.4553001399108942, -0.637739984251316, -0.5309969550018176, -0.6231405264247644, -0.5554771191602547, -0.6373871273065177, 1.1890165311075518, 1.4205042479898549, -0.5707462937494763, -0.8323555731042287, 0.4714155563864041, -0.5522230442809712, 0.6329318177555108, 0.2029230208512997, -1.515744114997232, 1.5475052013300616, 1.7958776730955217, -0.6127886904843862, -0.38770155993598415, 0.28586539072490497, 0.334456789987025, 0.6585442726728304, 2.0102045387663496, -0.1769472274940494, -0.7982972445384537, -1.3793192280145272, -0.7309300399419191, -0.033126972873797095, 1.7945578635177877, -0.5176112990361714, 0.2237879516388985, -0.016422896072752075, 1.188393273448084, 2.5269324258736217, -0.5308687729203206, -0.48943944251822213, 1.044160877069072, 0.6818914896263114, 1.8467073257360336, 0.5839281853259639, -0.35929209078705954, 0.5906548306923093, 1.1087035805829077, 0.820482181197364, 0.5072740311072977, 1.066674689589154, 1.1692955904456728, 1.3821589910375272, 0.6487098875896427]) >= 0 THEN 2 ELSE 0 END
            + CASE WHEN list_dot_product(v, [-0.16711808031685435, 0.14671368643332283, 1.2065089665083568, -0.8169356709872361, 0.3686733088729012, -0.3933388123273607, 0.028744822934817487, 1.2784518626072987, 0.19109906801990334, 0.04643654815614881, -1.3598561409799192, 0.7462535660272207, 0.6454841811410754, 2.16325472330546, -0.30777823495300083, 0.21915032766393897, 0.24938368371075526, 1.5774532797634744, -0.0952955323869521, 0.27902152577033923, 0.6078965097165392, 0.1866091231563581, -0.44643361455052827, 0.19408999289830758, 1.073631749859772, -1.0265152994110602, 0.132969674146876, -0.7001208149391732, 1.1950466289248425, -1.5231869047837747, -0.5589218472715883, 0.37721187506452086, 1.5655240292343404, -0.0657502610729878, -0.5551995266931984, 1.8811570694405901, -1.448013900416244, -2.198805956620082, 0.4400144500533324, -0.5020542243526112, -1.0212328171307132, 0.7083564472993533, 0.24380071377119883, -0.5640786307367284, -1.2803043986708944, 0.8724573282801447, 0.650201177958661, -0.09917586377938291, 1.8466369960476658, -1.0700847663261526, -1.5255251709247388, -0.6919080698812444, -0.045586016355497805, 0.24333944932269183, -0.24123605785632987, 0.3520553965142968, -1.251539424190444, 1.4437646040732595, -0.0821511783925688, 1.1172958315881276, 0.34272534637770413, 0.4567532191537839, 0.5697672802322039, 0.44770856001731496]) >= 0 THEN 4 ELSE 0 END
            + CASE WHEN list_dot_product(v, [0.6427227598675439, 1.3291525301324314, 0.19652116970147013, 0.7090037575885123, -0.08973569428722672, 1.4401172154494728, -0.6763923020592697, 1.8009404329108156, -0.04015795064434341, -1.4307751021180481, 0.12810441491078928, -0.6810516574748808, 0.8406435489887241, -0.6526239793023909, -0.4461834332147797, -1.889540730945531, -0.4523063192490767, -2.4238793266289567, -1.5839028234857233, 0.7604146561442974, 0.7858001586508322, 0.42545756178496474, -0.966976143129213, -0.047711356141979855, -0.0036025390905684044, -1.1583646891925428, 1.5033983017671506, 0.8773622905756714, -0.22096417382966393, 0.02688583899453078, 0.20838280794755248, -2.0417348684242906, -0.24717738252059693, -0.6819842479977986, -1.0016200098949155, -0.2811002928859549, 1.7976865268495226, 0.6408428612670098, -0.5711789897827968, 0.5725827813561586, 1.3993554365860021, 0.9246336829127688, 0.05963036992017413, -0.6469367777055739, 0.6982233136135899, 0.3934853854217496, 0.8951932200277323, 0.6351718016819695, 1.0495527153193351, -0.535235211560568, 1.3173940656343257, 0.19759960469239965, 2.0752608726252655, -0.6891878180895679, 1.7359638031652493, 0.1979107834626478, -0.6514180036144483, -0.48388583405432156, -0.32034730819432017, 0.4241659464019164, 0.5228354880354996, -0.573700003938579, -0.02435459226098284, 2.1422703586118637]) >= 0 THEN 8 ELSE 0 END
            + CASE WHEN list_dot_product(v, [1.7275431701007113, 0.4363236696740321, 0.03800347816820029, 0.1200313267182613, 0.6135179727304166, -1.0227925651984056, -0.2573765374233451, -1.6685840738775894, 0.39922312260527926, 0.647195939702741, -0.483186462299374, 1.5739867632900328, -1.2257656630023412, -1.4643748802098202, 0.22445181855997204, 1.0470983026121545, 1.6839276914578687, -0.45888426286894, 1.0786808334312956, -0.03850846950070721, -0.17262729994081963, 0.8836599374866724, 0.6523228784134196, -1.5763921569842494, 1.4765403497258958, 1.3800913541474515, -0.6255627015095294, 0.39580353343740904, 0.4940301862827388, 0.2606737658239071, -0.5503051538454201, -0.6716233679380516, -0.025554070991445278, 1.1727290192593647, 0.5436001545944323, -0.37061433208610595, 0.7716987106483447, -2.8485426206300755, 1.1487657003721035, -1.7397137787780996, -0.36244094140313216, -1.1196698946261439, -1.2946814757209058, 1.1608267873785194, -0.46770120131189136, 0.3465038817307158, -0.04692057887918407, 0.47704082722312147, 0.07682189106025536, -1.2829922241885696, 0.99626681944714, -0.4937565831613125, -1.556581898659751, -0.4281151609659125, 1.5007597906343109, 0.8502217421134929, -0.3486521344078592, -0.3492577043184288, -0.3216350512173826, 2.076747983560841, 0.38193545223155334, 0.43004164719106963, 1.0302834540318422, 0.23878915902651351]) >= 0 THEN 16 ELSE 0 END
            + CASE WHEN list_dot_product(v, [-0.2590421458207031, -0.19634984908497827, -0.07160125941406395, -0.03722223650984159, 0.7276295436369798, 0.05194588580729943, 0.7326400772155792, -0.08071658010858232, 0.07863519031609059, -1.9982006845321076, 0.9163276747024814, 0.3464884758979927, 0.9980101098596522, -2.8962553781936893, 2.0883747047807275, -0.13958962815517376, 1.1081828167375165, -1.0399059271255309, 0.6127739050625697, -1.0534155631736561, -0.6237689606958051, 1.9140313538667861, -0.19068240076334658, 0.21743287317972287, 0.8700677306887542, 0.49568188797260465, 0.15041890514357642, 0.3649610024662254, 2.403415585238275, -0.05761879703358539, 0.2010990467149675, 1.050654396007612, 1.1055259329579838, 1.1870303055603801, 0.6387302220291846, -1.1430049127304835, 1.633431532301096, -1.146345393018688, 0.30263546523903323, -0.7542758500193579, -0.06413834659299254, 0.3287624103034804, 0.32135721545027307, 0.42192075423528475, 1.613711269058647, 0.45353430151397983, -0.24415663529064868, 0.9640871682883573, 1.1894704889246406, -1.2276078151369925, 0.597400069849858, 0.7011727423108983, -0.29756350335999193, 1.3757068133116195, -0.15005558703252672, 0.12557645347154225, -0.1730718242838696, 0.015579047581467534, -1.0962750868952018, -1.4400508825942944, 1.5945050632249722, -0.8469613483183278, -0.9913923494563072, -2.153390113603715]) >= 0 THEN 32 ELSE 0 END) AS bv2,
           (CASE WHEN list_dot_product(v, [-0.6389617476895022, -1.3230897934074983, 1.642015160136369, 1.0098170893426341, -0.6881503451777238, 2.2524358053443088, 0.9817654869915943, -0.32483138350862245, -2.499405714873573, 2.2909425725907417, -1.389572466763596, -1.6453987469568918, 1.0225704320096403, 2.439752406339273, 1.3842728185105182, 0.5639091200523596, 0.594754341665286, 0.8534155587803077, 0.7589285897867651, 0.2811914239693758, 0.10420110395187607, -0.06259312789952241, -0.7539645888666763, -0.28067507686677406, -1.6929568141953855, -0.09833962679474989, -0.9885911071509175, -1.103589317215771, 0.17989415115347845, 1.3920022863445993, 0.918316606002313, -1.570500603623177, -0.9896281365703375, 0.9407711879882159, -0.9824873935383096, -0.2246331499970246, 0.5500520990245519, -0.9683444548636353, 0.1053755061459599, -1.3340254949182044, -0.6013676439512137, 0.31978193414253697, -1.5929937335316693, 0.440474737960399, -0.019637798926681216, 0.5524899544171478, 0.22391413406466143, 1.3641404299738442, 0.12522450264790727, -0.429405541125253, 0.12229750303228377, 0.5432980290363879, 0.04886007032570433, 0.04059169120388238, -0.7019916878067554, -0.6629009175509482, -1.4026052717996935, 1.7495767431869393, -1.243863235391285, -0.6929051977959073, -0.7184072655691974, 0.8949243769444413, -0.2949496782920278, 1.2477420726737338]) >= 0 THEN 1 ELSE 0 END
            + CASE WHEN list_dot_product(v, [-0.6734906242438685, 0.27899416222380197, -0.8353470532597573, 2.1451491277733883, -1.1875984190295128, 0.3098207102270275, 0.6337768809320985, 0.41379909745149823, -0.1852876588777083, -0.12982069973342616, 0.0438114719791096, -0.14700200162848862, 0.9638791167949097, 2.2105230015913513, -0.5574917850078336, -1.3698029795790778, -0.08828204835125482, 2.5797093376543185, -0.8036745679697308, 1.6391168054440675, 1.6777008140764407, -0.5535882417079946, 0.5689830791852754, 1.628396623128538, -0.3791277409874871, -0.20358036010236177, -0.5816809139486437, -1.0147567306928669, -0.6492775450660071, -1.2239402667622565, 0.03408346825922607, -0.7699732310586418, 0.2337859117907477, -1.5558956462036273, 0.33088023221445706, 0.8335289616089246, -1.9937356425714554, 0.37405656984757213, 1.2276689924732922, -1.2096410186912054, 1.6725723868377034, 0.4190190093660452, -0.7050118557584089, -0.05576907765770601, 0.5583269125217224, 0.0760053914124115, 0.5387559924463692, -0.9206735930793662, 0.169360824036078, -1.4137144969049802, -0.11122606134870032, -0.9039076414647897, -0.7355299425897666, 1.2360931752104374, 1.091310120594269, 0.609138120907177, -1.092312764672579, -0.3164084496948019, 1.2130976999791834, 0.14171691363990474, 2.319329539981694, 0.39331783939437187, 0.1920491164900316, -0.3091164642025014]) >= 0 THEN 2 ELSE 0 END
            + CASE WHEN list_dot_product(v, [0.1335409047822823, -0.1524698363805439, 0.7081086766885905, 0.9567023167945841, -0.7859894605079495, -1.331232953557778, -1.8362053731032966, 0.5079913269125437, -1.1033666061738736, -2.152890592952483, 0.3885786045309641, 2.4929995174327906, -0.006070911539893324, 0.8384907744516419, 0.08182935854756501, -0.09888965319114267, 0.9190764829877686, -0.29027454418865134, 0.26739231407190295, 0.3216978061960136, -0.6680904536430488, 0.9920423495365228, -0.17495975669540864, -0.7557451594928447, 0.5365098435704035, -0.8984679817910373, 0.028181157369128247, -0.009118996644203544, 1.085895565831578, 0.4746982328799528, -0.025026958745143917, 0.8177662992002871, 1.3902075490173134, 0.5578103063518622, 0.010352619843380607, -1.3118362323501596, -1.0651136630753726, -0.30522470435466764, -0.6095122021592831, -0.186971302985446, 0.056649924897107164, 0.5296927543567308, -0.07049877805909122, 0.4865016438262019, 0.06447441481012024, -1.9754665663538713, -0.9393353938187543, -0.14408755572161547, -1.2096947428411076, 0.5999287299962045, 1.5307508323436974, 1.2187618516973167, -0.213442870930208, 1.490726136849952, 0.14866745720211155, -0.33708597111803934, -0.6134026635409398, -0.30246968648812833, -0.38817681854122876, 0.1704162223754877, 0.1605739810498646, 0.0030460201534144695, 0.43693816974634986, 1.1906462747863413]) >= 0 THEN 4 ELSE 0 END
            + CASE WHEN list_dot_product(v, [0.9495541354413237, -1.4848979684499035, -2.553921134901955, 0.9343199112392737, -1.366878698415421, -0.22476540189268354, -1.1701130260593595, -1.8019804375800197, 0.541462728204788, 0.7591551603026468, -0.5765104007267194, -2.59104229214491, -0.5462444482524828, 0.3918040054025465, -1.4789115687741288, 0.18335991977915564, -0.015309849172995557, 0.5792914996010884, 0.11958036841415326, -0.9730689408815555, 1.1965715016644913, -0.15852957302697002, -0.02730453950993186, -0.933267959073196, -0.4432822511915103, -0.8848027140269009, -0.172946059923423, 1.7117084801423434, -1.3719011429313563, -1.6135613978767411, 1.4711703274936085, -0.20932367715186612, -0.6690727386599166, 1.0399046873960764, -0.6056155397368641, 1.8260097135469362, 0.6779258713392691, -0.48791140814570266, 2.1573082132655035, -0.6057149230033384, 0.742095372009307, 0.2992925804064919, 1.301741289398798, 1.5615111967268527, 0.032004149065766624, -0.7534178703461835, 0.4599721429391164, -0.6777153697521061, 2.013387247526623, 0.13653533108273744, -0.3653215513121087, 0.1846803058649084, -1.3471262895296965, -0.9716140385106515, 1.2004139079444254, -0.6568942789713957, -1.0469109826819396, 0.5366527525272862, 1.185704154662997, 0.7189533106650667, 0.9960476858058164, -0.7567950885694608, -1.4218106667418438, 1.5013336519554867]) >= 0 THEN 8 ELSE 0 END
            + CASE WHEN list_dot_product(v, [-0.32267983884213575, -0.25083301645504735, 1.328194141849058, 0.5562300094006599, 0.45588777208160763, 2.165002344901084, -0.643518230380143, 0.9278401280812372, 0.0570131248970845, 0.26859227886325693, 1.5284684264125317, 0.5078357562896237, 0.538296079049633, 1.0725073373098022, -0.3649527295428853, -0.8392096673390064, -1.0448091940210336, -1.9663565893760018, 2.056207129940322, -1.1032083657216831, -0.221253623585772, -0.27681329988892067, 0.30740669780910074, 0.8157372125392968, 0.8604734883597454, -0.5830774385689385, -0.1671217137864115, 0.28257995048829965, -0.24869112618354708, 1.6073455760199926, 0.49097495163825133, 0.7348777860498175, 0.6628812686674127, 1.173473857485325, 0.18102155870370695, -1.2968319479558466, 0.3996879517526416, -0.651356893791829, -0.5286166817497568, 0.5863640187550933, 1.2382830714336357, 0.02127157673606165, 0.3088330125989638, 1.702214944635238, 0.24075317948856828, 2.601683114180395, 0.5655096456315442, -1.7607627591558177, 0.7533416211045325, 0.38115838488277776, 1.2897527540827456, 0.6731813512699584, -0.13845598398377382, -1.2242982362893657, -0.20902325728602528, -0.8505204542093001, -0.5805234498047227, 0.5885784044206096, 1.6699045043514062, 0.3946715298229811, -1.1958830620351844, 0.4446026682201407, 1.196631486645651, -0.6097829043193822]) >= 0 THEN 16 ELSE 0 END
            + CASE WHEN list_dot_product(v, [-0.1340171666729177, 0.014688194729197093, -0.78489831308224, 0.648280433843859, -0.12094814860778157, 0.41953244390702776, -0.8874921778021001, -0.43745830032341043, 0.7223813578277714, -0.372833152091767, 1.7269638512334051, -0.39963618561460235, 0.22468472575188592, 0.9325908318730899, -1.4183657329330317, -1.7608088119807759, -1.5256563145700948, 1.262584103427182, -0.5518581458924467, 2.5581992856682523, -0.5642475986573886, 0.18455130319703697, 1.5421099525678756, 2.006092888159123, 2.061503576636398, 1.2083662305931424, 1.0240625258114624, 0.5925269492011831, 0.7783610761666377, -0.5511857163285334, -0.8181988834223072, -0.0033744574109520514, -0.17018462252492844, -0.4532280493272752, 0.6963874474567153, 0.9553052085705107, 0.08840688629184736, 1.4775300810552618, -1.141689114133505, -0.19365945927971812, -0.7168223206028049, -1.86653661707306, -0.08268068584269925, -0.12174750838328353, 1.513449743242131, 0.6308116845547775, -1.024186824329205, 1.8540925663341883, 1.221033695525353, 0.5820977034686158, -0.22648409884983192, -0.9594392367234797, -0.372206776071053, 1.088748619704186, 1.884586305934609, 1.543243528272189, -0.4888494217862741, -1.1196174332890112, 0.14088624691120394, -1.7684393655628516, 0.32316771418478146, -0.14760258629866868, -0.46603650186824225, -1.5947030672667954]) >= 0 THEN 32 ELSE 0 END) AS bv3,
           (CASE WHEN list_dot_product(v, [0.5136001065697166, -0.5327008396619114, -1.169916835710288, -2.8722622132816493, -0.027514905050636255, 1.772251596669744, 1.66125921454787, -0.45709625658627184, -0.6022120603617805, 0.46877425607502377, -0.9983854391882915, 0.30179189981946597, 0.7660802783846903, 1.2269332238843076, -0.10015407647995278, -0.20367375017696587, -0.877982586756561, -0.82688035403986, -0.22647889190152676, 0.3673655068161781, 0.9135846262332494, -0.8031789506803448, 1.4926885689595217, -0.2711236010425688, -0.021367294348436157, -0.7472116791478234, -2.4242402602729416, 0.8840453963610497, 0.7368438970924334, -0.2813275571182134, 0.06699071722487192, 0.5159392177040995, -1.5625458568865427, -0.5290526773462948, 0.7942646796218271, -1.2542894231692494, 0.2935579321666293, -1.356581804623405, 0.46642998243352635, -0.03564148229748357, -1.6151318159055095, 1.1647393544571714, -0.7345915767980492, -0.810252437014381, 0.20056919723094285, 1.1486373494287152, -1.015821818978397, 0.06167984984797165, 0.42881650033057295, 0.6931056072631441, 0.1764415552772252, -0.3670278390833223, -0.8275902206487197, 0.08614388304637476, -1.072139011985607, -2.9213504834946074, 0.4365598041576678, 0.9039348410861953, -2.3629324355418384, -1.0097307047099375, 0.6191542610051978, 2.0574954697116987, 0.020793707675407894, -0.7280029412291344]) >= 0 THEN 1 ELSE 0 END
            + CASE WHEN list_dot_product(v, [-0.18289644110484016, 1.3748764191481848, -0.6459641791245353, -0.7991920066502536, -0.4827435221820324, -0.9533286082587124, 0.12267031599479553, 1.6246784584695606, 0.3230792731160291, -0.2523535021262876, -0.2918112689155441, -1.563190808696657, 0.883109777147159, -0.07783719701280203, -0.18047991359062565, 3.193107567844861, 0.29875290836568624, -0.7517910500951843, -0.4263575962055433, 1.1484457091967548, 0.11327041053776446, -1.4382779783173667, 0.9192289345752035, -0.668144085538994, 1.8732977762175456, 1.0800480657146485, -0.4473218956587512, 1.281016361735113, 0.0678555105274033, 0.8527736751222195, 0.48473281729447476, -0.8463566549908735, -0.643549832317462, 1.0299608175811612, -0.33477533210654087, -0.4036484632419967, -0.955122579349353, 0.42359906559346105, 2.062524919243145, -1.0675329142542729, 0.02421945667275807, 1.4122205554154292, -0.07964139124571515, 0.4523717962497339, -1.0623935281468797, 0.4283070972076486, -0.18714426500454878, 0.985729995679863, 1.1873860515647512, 2.589563642018614, 0.5796331732135757, 0.32579631658216646, 0.19438430157733602, -0.35316629281068834, 0.33848384346169114, -0.29540141013902943, 0.1684609762696143, 1.3175975356079597, -1.0065425652796411, 1.1398785611290454, 1.3171150673398653, -0.11806852699107874, -2.1218548990085946, -0.6078219870944325]) >= 0 THEN 2 ELSE 0 END
            + CASE WHEN list_dot_product(v, [1.2969945465611092, -0.022868062298882122, -0.9993022322949108, -0.5047749212282174, 0.840620026504553, 0.5467335682013793, -0.23893209916969432, -0.36682441181468756, -0.3917581490438219, -0.9224101844985025, 1.6153756894694418, -0.3223204692113399, 1.2171585208254965, 1.5213160519224513, 0.9983108981479604, -0.4316203127180484, 0.40373009033660945, -0.024195606390916165, -0.9037018607301281, 0.324359281721603, -1.1790397911598025, 1.1876793884615637, -0.4646172972983931, 0.2011596558728393, 0.28328787154614216, -0.25890497370407733, 0.5866938014752747, -0.47490365662252443, 0.8712972974572442, -1.3459796802467485, 0.12637957954641182, 1.9389289990582848, -1.0003313246055747, -0.6777449705248515, 0.513907849658915, 0.17958178193959795, 0.3506300992735592, 0.4891871301476635, 0.6347214685617699, 1.1096998419562232, 0.40981865692851255, -0.24125765461854246, 0.6725737012027313, 1.8998819348952156, -0.13263374638257355, -0.9745293046706415, 1.1070806692869728, -0.12038116395359824, -2.172669546014036, 0.8474216771504216, -0.5353281859539227, -0.09053328230416077, 0.33198033056901455, 0.1904996797790664, 0.7094518171390395, -0.43548637056984335, 0.5131057981760827, -0.2595466775839172, 0.738810480887503, 0.6153674840130534, -0.9354387020445953, 1.0859821161750323, -0.535963445114048, 0.8080577982811451]) >= 0 THEN 4 ELSE 0 END
            + CASE WHEN list_dot_product(v, [0.36728731340134063, 1.8381836767951225, -0.22346598237185214, -0.3493167961181975, -0.01941960588773261, -0.30317978283427544, 0.7999419019420501, -1.616310608436588, -1.053682419146354, -1.067802921579193, 0.9503075919735757, 1.7106133725819253, -0.1044492185374715, -0.16882172319001063, 0.07005216311318138, 1.1618783026081905, -0.9273531341905741, 0.23836898273478513, 0.9751976297824297, 0.5010941699398452, 0.1895816165987434, 1.0010460925671412, -2.703232292999237, 0.6778753195309076, -0.6540756831274238, -1.830632896856457, 0.5112025995249807, 1.3736585451629577, -0.13744851462769186, 0.9528745472029388, 1.6122782579886454, 1.3149144535840473, 1.639964529371393, 0.7421274910718922, 0.0754336389015928, -1.6019658118971685, -0.24606248812994858, -0.8432465953161917, 2.1709427174978138, -0.1758858124323366, 0.12320480678448567, 0.5514853760404675, 0.043602446372453724, 1.695051040430753, -0.622649361734452, 0.1946074552372427, -0.7424705856980482, -1.3200225112207058, -0.6117690909052854, -0.03703679704841202, -0.42930222451725997, -0.692420979873856, -1.4063174636718339, -0.08310557262869477, -1.5047203740310022, 0.7600559636896026, 0.08243975293450329, -1.4575514994649306, -0.30920907704986345, -0.7521564055905832, 0.31917451041918043, 1.3404504460231446, -1.8751724696457446, 0.11502607914741717]) >= 0 THEN 8 ELSE 0 END
            + CASE WHEN list_dot_product(v, [-0.1601327955666404, 0.6713400764504657, 0.21319662823768915, -0.7519693317388191, -0.31905393566661816, -0.796025856803489, 1.0760071385985983, 0.02131164867194222, 1.9011906857530074, -0.060660813814620775, -0.7084067669104628, -1.5137143926128271, -1.803139676255945, -1.5841359430054898, 0.2671266510114834, 0.5087250232299338, -1.5811907020321334, 0.8950383140761154, -0.4830610516834395, 0.14679301198554937, 1.6122206282554243, 0.8968393158655319, -0.2685306479058323, -0.8911922254152874, -2.151815401329305, -0.7191533192424201, -0.21113023882769444, -0.987179527151184, -0.13125696709230472, 0.07685188295876821, -0.22485598180807856, -0.6500025808234597, 0.16865467196672768, 0.44194064956940904, -1.090399077442846, 1.41093237974627, -0.09858813228426173, 0.018849622944847662, 0.7082144232565571, 0.23321613126350166, 0.9531366339132451, 0.2871241652018242, -0.6124373746404379, 0.36150352520610163, -1.1437262073206618, 0.10855970577652314, -0.0332299906444608, -0.2081168572725397, -0.12853751143893075, -1.881849045497639, -0.5487249077409615, 0.09284490114111471, 0.15985639199740037, -1.0276751409259581, 1.2657078408647007, -0.8661748482145009, 0.9694572005267368, 0.42719436187168486, -0.646227309843803, 1.775310892609512, -1.19363683175648, 0.9191541736100015, 1.0005823180429783, -0.6706202090766449]) >= 0 THEN 16 ELSE 0 END
            + CASE WHEN list_dot_product(v, [1.3924653000643288, -0.2500465145989528, 0.28869362927985703, 0.2603218387712207, -0.1343087414705478, 0.8108082731597821, 0.793488720552213, -1.7485319732381808, 1.3043402428781525, -1.6624919880356743, 1.0325462043416573, 1.1267051368275833, -1.0909664302151982, -0.4108142879545848, -1.1057046684859357, -0.21492103028873533, -0.30803428418574125, 0.7796605322693398, 1.3103087461196083, 1.395683810789956, -0.5621680265783021, -0.20922187374452778, -1.6834381922209503, -0.8058700664961888, 0.9648516330974576, 1.6155828235482317, -1.234348871879922, -0.5924642591528942, -0.02640575695892703, 0.2801611588196068, -0.8096035199216461, 0.4240610444640897, -0.47383934707091613, -0.014452270878279104, 0.5462842480036996, 0.0064222698109378164, -0.4363858905265686, -0.10960980392583083, -0.08836295920533532, -0.3700110298821277, -0.25879606266710237, 1.598647170504717, 0.5609194479412387, -0.29548031802916036, 0.6969544045107356, -0.33381948975600995, 1.1731246375866413, 0.3696421921980939, -0.10730214400422888, 0.4477169258102776, -1.5708761520684993, -1.1267674689098053, -1.1939250063990554, 0.14294309476370676, 1.732514999485092, 2.2313001461926323, 0.6380511014407572, 0.5008444749444569, -1.801057734152739, -0.5426737997340217, -0.7877837519082389, -0.620847598251116, -0.1681438185847896, -0.47209057769712737]) >= 0 THEN 32 ELSE 0 END) AS bv4,
           (CASE WHEN list_dot_product(v, [-1.9792998103757877, 0.7479102561175338, -1.0727430257398065, 0.23924686411114954, 2.0740826697499735, -0.9193845915864234, -2.5302875227463297, -0.2860042218801108, 1.100959634998571, 1.9583474542205939, -1.2295495944524168, 0.4966992232365217, -0.46531045678005334, -0.10594835430413566, 2.6443433470170348, -1.5029703283951532, 0.25373966149457344, 0.4676931717654332, 1.0857863249393471, 0.09798315347089544, 0.3080505395041023, -0.3916485674217911, 0.26912694124510733, -0.3431922754974105, 0.6215718898560508, -0.36961033604363397, 0.37710039390218647, -0.029262813684978354, 1.1260502507721681, -0.05139372358848624, -1.7730324682068814, 1.2619215007139917, -0.9057323008626189, -0.6537663386488198, -0.5956612940434921, 1.3744380931708173, -2.1356742139786955, 3.1377485336599937, 1.0560568090660518, 0.22323891412915967, -0.05489400061628639, 0.28555407485765694, 0.5211224283793383, 0.645215585950057, 0.5556044660034485, 0.08958068125524882, -0.1973384203073261, -0.1512732836535117, -0.194908280352681, 1.1337700968670645, 0.5935567222808619, -2.9403886346642802, 0.655900776529761, 0.19473619471877485, -0.018708756445897416, -0.38851845308888583, 1.1241127199860135, 0.9475264621228578, -0.7728776678236091, 0.4070522871245351, -0.971656734541286, -1.3796181647889305, -0.6267172245899651, 0.8623934723827588]) >= 0 THEN 1 ELSE 0 END
            + CASE WHEN list_dot_product(v, [0.9531250453760867, 0.513085420097293, 0.7250957868479971, 0.5161782871149584, -0.6414815952229522, 0.43192254467394064, 0.8004095252276823, 0.7542913298135743, 1.188913371474643, 0.7083038472010638, 0.3514482075415829, 1.0701502383164274, -0.026521259249060063, -0.8818746512277178, -0.16306696394376388, -0.7449026448064491, -0.6751782749743815, -0.14451867071551783, -0.7924199209999613, -0.3079615296390403, -1.8936146669537857, 0.21329370737293857, 0.0012054753622242368, -0.8170886310681906, 0.6592456684324051, 0.9375701376265584, -1.6075598643689741, -0.7627247785662142, -0.7691423497872982, -0.9399031011088647, 0.8294748419317485, -0.19382613877280352, -0.26451484131061076, -2.0038623644067535, 0.6354180302092264, -1.2392583948534726, 0.05993263026632825, 0.2773769379581917, 1.360658595838651, -1.308820399119112, -3.0195121558208253, 0.18384954475369486, 1.8005111815108537, 1.2389463529394373, 0.20965941527462578, -0.49163618563204736, 0.8071225966373103, -0.9735461997044687, 0.47635776935621926, 0.5054701591666269, 1.0602099074988798, 2.7596600389110777, 0.39241596717876703, -0.5089636257074988, -0.025574312191994436, -1.7690759048891183, -0.6947131310890582, -0.409282438113104, -0.5240883979345925, 0.152354872033722, -0.8224199323822006, 1.1210306673244714, 0.00020706491819709385, -0.009300321138614417]) >= 0 THEN 2 ELSE 0 END
            + CASE WHEN list_dot_product(v, [-0.32789471651291785, 0.15519068385897913, 0.8250982646676347, -0.8671302157109003, -0.6581164890752567, -0.30372602877666466, -1.345870923473215, -0.8192578597214978, -0.47622087354465903, 0.8743891807127275, 0.26256132900192497, 0.19358991136754436, 0.8508979621679722, -0.13737178839939665, 0.3904648499288896, -0.10322175293249623, 0.26536234939962844, -0.5827586576115821, -2.438817158276429, -0.13427916218630415, 1.42274813609994, 0.9262154022415924, 0.9653974845911707, 1.2361307218062179, 0.08865759096143744, 0.1973157074055956, -0.6176518954343502, -0.31607285602704976, 0.6157711497711416, 1.2038844371688162, -0.13944627568099954, -0.4501892648514116, 0.0005279588565972928, 0.6012067489291149, -1.4438548161335418, -2.296180953137238, -0.5505368494915835, -1.2207124259141586, -0.5081401976473109, -0.14778031881747153, -0.4532484090230134, 1.4524675344707454, 0.32674476460232005, 0.30047435961082836, 0.6222071440434019, -1.1388331177807691, 1.0391117874202687, -0.07576428653545988, 0.6704806172412126, -1.0718572330401555, -1.5537587660160643, 0.8178896580250287, 0.3764095260975166, -0.9020515543575104, -0.8696630812746944, 1.1254347844147694, -1.1894118928673278, 1.6426729532559634, -0.9006207346478687, 0.638391925608383, -0.3286184757489846, 0.6031874310823431, -0.5441140021141926, -0.1627929060722942]) >= 0 THEN 4 ELSE 0 END
            + CASE WHEN list_dot_product(v, [0.04091917539572113, -1.0021874557814727, 0.7408243454201259, -0.5132135664715852, -0.22859991534001858, -0.9943493746085122, -2.5623336587953105, -0.19102776260016902, 2.412615421612916, 0.7846042878980238, -0.01926037973439464, -0.2628908292082677, 0.02246589281204638, 0.54711911517521, -1.1808128153088449, 1.114321694668872, 0.7153813154412441, 0.7181857257079345, 0.4384757388097273, 0.019616657693989903, 0.6728612359668199, 0.591814133741378, -0.3540407109410238, -0.573601772896901, 0.1018562952619867, 1.5490201514951873, -1.2391070756539009, -1.46752526575244, 0.16476084123651674, 0.05088770185601806, 0.1733416643704082, 0.24395319790850026, -0.22320225463480511, 1.4898634386020821, -1.6009039784765156, -0.828497024780246, -0.10325476014904739, -1.6431888111541673, -0.17585440443207118, 1.6614701657280182, 0.020886488295961788, 0.23070090571868349, -1.2601647651725802, -0.6163614080394775, -0.375196380323937, -0.31771509675623405, 1.2816437950037687, 0.5576910607251245, -1.111457956937032, 0.24650477843200488, 0.49822174849678513, 1.1401490385212665, 1.5805406865683735, -1.0150941918278686, -0.8108575112103382, -1.2575778589146163, -0.23401985910698136, 0.4663583744463345, 0.9873345165891019, -0.07595102364252276, -0.31984752325484395, 0.15175799224874037, -0.835142901630023, 2.0895387216947734]) >= 0 THEN 8 ELSE 0 END
            + CASE WHEN list_dot_product(v, [-1.6076610271180587, 0.18474057889572446, 2.0236062192296393, 0.006799844559997769, -0.19003903500149447, -0.3574454228104272, -0.18039168176240783, 1.3728484746765302, -2.211861911329507, 1.5334337012963255, -1.423957152450145, -0.2666523292344148, -0.42924442029866183, 0.5885532697707198, -1.5981243518837476, 0.46217266608194285, 2.0243096232868525, -1.3631740045928105, 0.18970616761039566, -0.6619821777966091, 0.42588720619303577, 0.01914777741575206, -0.6414869090443096, 0.487872284871074, 1.804348109786743, -0.19090379172729868, 0.7197579421481819, -1.2932729578711637, -0.9564363768180087, 0.47240627788037737, 1.484116028535965, 0.35561334878566, -0.31305803052315434, -0.0007085945766459172, -1.2504077339697175, 0.6045153263553668, 0.8823330623234091, -0.45209033283308037, -0.4700421477595015, 0.2658782296520485, -0.4367197360405955, -0.06613261462582246, 2.0997217891665154, -0.24702570074599667, -0.3583401520212222, -0.6475418056351592, 0.7441919714999368, -0.181224173218103, -0.649373038321426, 1.321304032273012, 1.4196030045136372, -0.6004235657387051, -1.8665399513606162, 1.0075136898369221, -0.684629825760004, 0.7906255991627686, -1.9701038177118355, 0.8925973382993092, -1.2111719292807812, 0.7307641190665245, 0.014273067836434106, -0.9539394193966448, -0.4070363129267805, 0.6863184569567008]) >= 0 THEN 16 ELSE 0 END
            + CASE WHEN list_dot_product(v, [0.10589445311523424, 0.5844129804724842, 1.9764405845154855, -1.5642416117110514, 1.617212574968624, 0.10435593752321293, -0.8987840483231282, -1.3303136257389898, -0.1891203907770335, 0.9216501119244593, -0.12754912037753421, 1.5111549302473475, -1.4511756900515589, -0.01208894784605456, -1.252393444413119, 0.3636318826249679, 0.8868873900973003, -0.42076179368105326, -2.6042138566271342, 0.19894814679649453, 0.4367385517335095, 0.40429475496169764, 1.235782191822154, -1.0710536796490489, 0.6802161054504494, 1.192507512477975, -1.7785875840065168, 0.31965182591897723, -0.5041798310076715, -0.08152267310164589, 0.34767648353833636, -0.4872285641135523, -0.6757080791616118, 0.0341524174880246, -1.0872459388628026, -1.0858251288851855, 0.6793732829565033, -1.148794035158656, 0.6663125009092119, 0.4625912928539512, -1.7258067287905967, -0.6775646523356551, 1.1941094030473725, -0.9811655311396816, -0.46440426230938764, 0.4620608932518965, 0.7833905092825955, -0.2515388860444957, -0.5975101946916416, 1.4223698616985077, 1.7388996637975789, 0.9788580507817954, 0.08531814256502405, -0.8082657216409264, -0.8304444065565653, 0.5225141052657575, 0.4183982208886837, 1.4015985929464294, 0.6504500925361392, -1.503080301759818, 1.0519476177229186, -0.9980606273144129, -0.3839712719523516, 0.2502002062516945]) >= 0 THEN 32 ELSE 0 END) AS bv5,
           (CASE WHEN list_dot_product(v, [1.9956674897839644, 3.109918556005361, 0.6067230591361827, -0.18319661872038787, 0.5345056484805503, 0.8876554258738361, -0.3206676255571917, 1.7952113559123222, 0.23007075919140207, 0.49774308909139425, 0.6659242520544614, 0.4215866106144557, 0.8389405004696122, -0.6172531865469232, -0.5583017539460305, -1.100154232971695, 0.4395012306202264, 0.7789365035121141, 0.4577728661518858, 1.6744924333475373, -0.005596018829046555, 0.6687416555925126, -1.0917008761393143, -0.387099702474401, 0.6955377575657775, 0.849102110743144, -0.29396694766418224, -0.07159925185806683, -1.5178737466808094, -0.3570292008066094, 0.8903831635197862, 0.5752050161065663, 0.5006657213812097, 0.04977368718096008, 0.007063158628176452, -0.6603211394734471, 0.6988284202025348, 0.4209729443893898, 0.49201884799279927, -0.5260348426675804, -2.1533429198712444, 1.0971527117536957, -0.47883745600840416, -0.8627757640431206, 0.6934789119139937, -0.3920126399191296, 1.0599363840466218, 0.6170059495766975, 0.6835693232004776, -1.3659557112005343, 1.2119439853864005, 0.26125053123385605, -0.36927713924620315, 0.14338846734225108, -1.77623523289832, 0.40865281148067084, -1.0293715081820716, -1.3526702858435344, -1.5223591862178911, 1.1126883749899252, -0.6292633936927887, 1.5337277099164992, -0.5358014630522978, -1.7073579575929467]) >= 0 THEN 1 ELSE 0 END
            + CASE WHEN list_dot_product(v, [-1.1165244399486591, 1.2358116200069387, -0.15589817793666752, -0.5482872964906009, 0.1600182258527877, 0.501782736167545, 1.1173988159024608, 1.4484992298929262, -0.35976864578908574, -1.3260476860820383, -0.413465161123276, 0.26028050658288615, -0.9637589262106109, -0.9571509148950429, 0.34378788154988543, -0.04865235157045115, 0.03279699541158651, -0.7584953347000695, -0.23040071420576733, -0.9242331442683044, 0.8901984111247868, 1.0352493347237526, -1.8461878622380938, -0.92951086019241, -1.496529255090079, -0.6500239344068982, -0.08343796979036086, -1.44964521969853, -0.9218598131253132, -1.0039573720814985, 0.20726732939894396, 0.06934433703625043, -0.7217375533372533, 0.17682087213939798, -0.5466800845872654, -0.2716551103260533, 1.673452090298537, 1.340461051790348, -1.2995812369275976, 0.8297324178791745, 0.8113965544915921, -1.1482632887526183, 0.8187776437548606, 1.5379319184125528, -1.1225448062444139, -0.9175028210142636, 1.0176614668435024, 0.271495310825648, 0.5514762752395233, 0.3405892164004968, 0.39069592092814415, -1.326472128311083, 1.0473177066214483, 1.1695899924277735, -0.22939074406802776, -0.04347694981386243, -1.5311075025557221, 0.5142547560178349, 0.5720574417141441, -0.062191016999311004, 1.1243533598705027, -0.3340772309799405, 0.5646059258936003, -1.0196643386921156]) >= 0 THEN 2 ELSE 0 END
            + CASE WHEN list_dot_product(v, [-0.02355215087423812, -0.17435425790283585, 0.22530792204094158, -0.3695269288333586, -0.1314725956716678, 0.8260471714415063, -0.43676423723821745, -1.6065771007386793, 1.7495839042054206, 1.3814540786904865, -1.2922626951056186, 0.6897078052451944, -0.5029747705513431, 0.26348721533105957, 0.2942241290134937, -0.234407800316322, -0.7837656655863965, -0.6905410523162594, -0.9161919154812425, -0.8318222082304447, -0.06717829004935526, -0.7157599891107518, 0.6820520657126199, 1.4872461553359273, -0.580053241370043, 0.23940450053537707, 0.49968511030293383, 0.4720022709192744, 0.07595526791608741, 0.7426824183597224, 0.4822489526806572, -1.2376624223272978, 0.8691560643892732, 0.8872908372667421, -0.7632861041785816, 0.03793783544760203, 0.6833289928110694, -0.20931381957936157, 1.0729780477660118, 2.3638724946193608, -0.7859860326349823, -1.3810446031537749, 0.30381859560487573, 0.7215625051261435, -0.23086637384476896, 1.4532606633210343, -1.3386057997232488, 0.6929186230316111, -0.6058608207588934, 1.7193779062072967, 1.9925153531681183, -0.7666565877833479, -0.5495571359085801, 0.8595878869798019, -0.3871306497895146, -0.04541121793223822, 0.02538842054241018, -1.9196731561976563, -0.01383774609423725, -0.6897277740641738, -0.493122822399772, 1.4436320034688142, -1.2565068942792563, 0.8132051867479773]) >= 0 THEN 4 ELSE 0 END
            + CASE WHEN list_dot_product(v, [-0.2789629303318085, -0.2797601684958344, 0.7903718960517113, 0.34005129456889044, 0.570612997219531, 0.9681846605328611, -0.33130838318332273, -0.6122367345077503, -1.085150526557798, -0.8254105299789551, 2.9490944253087252, 1.2446795807367868, -1.3510743662080213, -1.3224579567435701, 0.4818660617184915, 0.547264797377967, 0.5488838353173644, -0.25495579355369785, -0.12545426000290022, 0.3278795241593574, 0.08589300629333041, -2.219300372747535, -0.22979963057519381, -0.8514064342603136, 0.17521141890851205, 2.98525900260341, 0.3674816654743044, -0.3135296861723979, 0.9218015019772522, 0.4826878872092127, 0.4200944904518413, 0.606850593215671, 2.0565435648295414, -1.1308884353259157, 0.47363207681145447, -0.9263811299815384, 0.5555126463422483, -0.9186865114860944, -0.4173668136050844, -0.2950899142379063, 0.975816719344709, 0.9184544439424138, -1.2457173764463845, 0.054934110999848726, -0.7095798547491726, -1.2585049106753345, -0.21701705042437042, -0.3084827884558197, 2.4267164863455224, 0.43295982536069616, -1.3776175007542373, -0.5647740041709423, 1.0213832954293984, 2.088442772869925, -1.5859833122379583, -1.879924385139045, 1.8709651753717822, 0.38961417737090387, -0.8682927318763665, 0.5346290861224353, -2.6357477390168778, 0.003375506597160999, 0.32782117284308526, 0.9242701395378298]) >= 0 THEN 8 ELSE 0 END
            + CASE WHEN list_dot_product(v, [-1.0138959522925377, 0.08568716140335904, -0.9254246260595873, 0.2553837556743171, -0.8953463223630241, -0.4081008391602206, -0.9958153947902291, 0.651136241823657, 0.8584511166566653, -0.2346205699574138, 0.03823799496002834, -1.4485914146335441, -0.29967664800678706, -0.05020461704174478, 2.620793091029975, -1.1119670257741636, 1.4641772387524374, 0.996858773465808, 0.2806364044901364, 1.7586204841951334, 0.3721054726068629, 0.3891591956679287, -0.053120653017545344, 1.2235688824186275, 1.0964692338108837, -0.6256772874962124, -1.3192471945987674, -0.20298063739565708, -0.8000385643976464, -0.0635245746153551, 1.2374381346841392, -0.45730165508679, -0.04282338131157488, 0.058022734808395225, 0.8484308822052846, -2.246889333984605, -0.6067002947652967, 0.21128369227947272, 1.2000789564268612, -0.49190244750620515, -1.876552706041874, 0.6197114459661363, -0.6353623888256293, -1.1896666590903613, -0.6243453897132241, -0.18452535765584954, -0.6047446645382127, -2.205566057099069, 0.8970661968871322, 1.2748750412787222, 0.6515219913395057, -1.1376856704248166, -0.20149153394751798, -0.006521315229458062, 0.5987943895619102, 0.6683404887180808, -0.7341737987784958, 0.08199555641356042, 0.4572804046152411, 1.4558223221467665, 0.7045065398247231, 0.7890566873755189, 0.08382662792936094, 1.4104591452035038]) >= 0 THEN 16 ELSE 0 END
            + CASE WHEN list_dot_product(v, [0.4097627959594974, -0.8610879101735704, 1.4033699701251907, 0.6979032725390276, -0.4430440211284823, -0.47949296739924335, 0.2965755451407618, 0.4631847952675847, 0.19729226563120644, 0.3113086734428849, 1.6999573745763805, 1.0715431522348857, 0.19063559126502433, 0.9413105807674833, -1.0325239035275395, 0.39792704994680894, 1.80930634973311, -0.21804589539237385, -0.8476339286190848, -0.6520888885930607, -1.0896330373423884, -0.7847619081277034, -0.370508098590029, -1.405567019178642, 0.015618333949603047, 0.9022771737866472, -0.9077561801469204, 1.5192839236417688, 0.5107920885275947, 1.0305805856240573, -0.6578345538521371, 0.8545252270666157, -1.091933900395313, 0.8902475008365087, 0.17183933979353122, 0.5532512199847837, -1.1755946056248516, -0.8950698422766047, 0.5972282182533848, -0.9483480042242007, 0.46320629209912306, -1.3671378064602457, 0.8481742126666681, -1.232523314768509, 0.5522999376795232, 0.6256309336460009, -0.6967718184295749, 0.5820265670847269, 0.26044226333355597, -0.5388418561927383, -1.008554684076208, -1.962625691672579, 0.3496500472996937, -1.5648027713620551, 0.0953441994413082, -0.2634482160822491, 0.6791427754381955, -0.3020454994898642, -0.3294477863470914, 0.7318707042882956, 0.3350580290841175, 0.3161559571827783, 0.46926758980852623, -1.5355721232071058]) >= 0 THEN 32 ELSE 0 END) AS bv6,
           (CASE WHEN list_dot_product(v, [0.756788679986982, 0.6124687940136023, -1.0166831285764972, -0.2440804736742013, -0.039307287627631186, -0.1344967844017327, 0.33385996656853467, 1.4313667818311835, 1.0817667276728287, -1.3122191934314063, 0.6220699903060487, 1.3289333195354096, 0.38680852068920263, 1.090980425185967, 2.012270445700765, 1.0237095461069814, 0.24930859564172886, 1.0450884740847535, 0.14488783309689118, 0.02390304328495547, -0.35141423571373254, 1.5634133588321082, -0.8184286659420014, 1.532367724678116, 0.49986412374037137, -1.3993061748019415, 0.3676492929914216, -2.100026507651624, 0.6255080168310357, 0.885231482988991, -0.5923559556520536, 0.12354769595558233, 1.9541574337502863, -0.5057467042619367, -1.0589075870566005, 1.4816634024625988, 1.9625871905307948, 0.0036956718478473255, 1.0114630354083562, 1.341475915530881, -0.742484232538384, -0.4853058353678683, 1.230874513154735, 1.6850142787085094, 0.5628808601743548, -0.8798143535020543, 1.9870611116994412, -0.5309708978119645, -0.33513778117145177, 0.34233783448962146, 1.5541604207147741, 0.8539759765522237, 0.41486550036191044, 0.4632885301181062, 0.04351466864346608, 0.5581395145185063, -2.529560077694303, -0.29660745906979835, 0.241321934916781, -1.151014083619507, 0.38632331781156, -0.20447122098612153, 1.75547569831549, 1.5730197252148563]) >= 0 THEN 1 ELSE 0 END
            + CASE WHEN list_dot_product(v, [-0.46580556911816284, -0.15083771156669531, -0.0739475656083926, -0.4516594761596227, 0.19502498402812674, -0.7582820688875902, -1.1306153349375263, 0.6227112239002686, 0.6295295842218108, -0.8043157596599924, 0.8953554307625996, -0.6315777291653314, 0.2531652380379812, 0.820344012612456, -0.03361256470371301, 0.4547409121411344, -0.5164296438875717, -0.19646658342809717, -0.20585943088034037, -0.7465783465402389, -0.1767741631157821, -1.5486182988637467, -0.4911537471421047, -0.28487549336967083, -0.2561797524953801, -0.24149744587077882, -0.061764199860128925, 0.4794415180860639, 0.8745170741325226, -0.6497652268482671, -1.2032008553891445, -1.042044412243103, -0.48720292119492714, -0.3519213178165091, -0.7699960661974573, -1.2961166642498945, -0.4561208274741882, 0.18142662011397137, 0.5950294658355647, -0.5574230531083212, -0.41299782214343406, -0.9266983088473107, -0.03143917037477642, -0.8484286341908146, 0.5731278132412001, -1.7858664919341112, -0.3596296724524624, 0.3011073391917421, 0.18383451632250436, 2.6930336639804966, 0.34980002456790754, -1.0040545968420103, -0.09546424708907303, -1.7762463334664518, -0.08059974929676088, -0.8330560570007587, 0.9153902755601617, -0.5495402745955349, -0.11676591579524663, -0.6355578414044034, 1.7388513518533313, -0.3212427661179117, 1.8325570434792018, 0.8141517621182666]) >= 0 THEN 2 ELSE 0 END
            + CASE WHEN list_dot_product(v, [0.48206672733538614, 0.3687331473175197, 0.39379729821625153, -1.92767257934561, -0.2788833941507565, 0.8451579711843216, -0.04889718347410554, -1.405189846803575, -0.05240445057746945, 1.7041055162554912, 1.2468917155347194, -0.062004009366031745, 0.9514492770580866, -0.36650702036805183, -1.703871586826719, -0.9244659881295544, 1.5628887685081978, -0.2739930818293042, -0.24338397937501807, -0.29983819627488056, 1.904136589573007, 1.6259589153620633, 2.218780233448134, -0.1590452104000513, 0.29562448874709507, -1.5166425494207911, 1.4769344261182744, -1.167779551267935, 0.2167755637626291, -1.097302527632844, -0.5888668267386961, -0.8372624310497003, -0.6078752606758179, -0.5391227031489786, -0.5482687949250771, 0.8333339117803071, -1.10486279306252, 0.22054142701386686, 1.2179591523055584, -0.513196364513396, -0.7179188907476018, -0.23052462518025083, 1.1797252083607102, 0.1941076309533577, -0.5312142946075985, 0.48387665118803974, -1.1022921498364233, 0.681359510442948, 0.4086073077017676, -0.3078084711388841, -0.838585798447231, -0.8866809222834573, 0.5348173363459102, 1.2289805024890619, -0.6373077470287948, 0.45838670355148425, -2.0870270186020687, -0.5846177306571996, -0.031058932870901952, -0.9096834169818336, -0.936506374789596, -0.6677795564688862, 0.29219272832637316, -0.1873290184063747]) >= 0 THEN 4 ELSE 0 END
            + CASE WHEN list_dot_product(v, [-2.238231233324972, -2.120700152635066, -0.6068651778571754, 0.45768658605355206, -2.7475048427252347, -0.4997301761516306, -0.5262478565174211, 1.3883377782084478, -0.38502181171286365, 0.38298898474092846, 0.14125714008746323, -2.1305664798072006, 0.7682072166317373, 0.21539650545628794, 0.5082686396745896, 3.9262377064363267, -2.0841129394985884, 1.7246966497611085, -0.28744751940035557, 0.2873289044030093, -0.04551224530124217, -0.4242363333980435, -0.5698329282387588, 0.32950873557300914, -1.5171736966716791, 0.7505791675217656, -0.41619440488525394, -1.1300693390403578, -0.4500128579958137, 1.2571492168625729, -0.5353350870162231, 0.35845361820962024, -0.7309562757154733, 0.7579218499236196, 0.6855077387902041, 1.8486088332964115, -0.1755639454992155, 0.6686548047579066, 0.09806753953894455, 1.2958717818630143, -0.7188323876087304, 0.7450053128772811, -0.19469729611668168, -0.06418817710849775, 0.09175248444837286, 0.2522403964266774, -0.11622904312195817, 0.21471318317052634, 1.5781180575621845, 0.9854496856152184, 0.8691545924968965, -0.4555395260238707, -0.8892408282283243, 0.9553005582377528, 0.8760467925297942, 1.472670675750982, -0.6039806259692295, -0.22954865536034708, -1.6394841625254342, -0.39247110606087293, 0.9965705105794472, -0.46649537922819795, 0.6404797952008238, -0.19050310599781134]) >= 0 THEN 8 ELSE 0 END
            + CASE WHEN list_dot_product(v, [0.32405702822156063, -1.1476913898156673, 0.08520944963390106, -2.9911359709007233, -0.18689615816198485, -1.6304732437151401, 1.205994516546816, 0.7774073527645112, 0.46667098196608103, 1.52100622715938, -0.9489165208248372, 1.7473631979155582, 0.9321915642603847, -0.23655528721894603, 1.1356201471829441, -1.1062935124116342, -0.8245141615276735, -0.6085897232397004, -0.5289777080640152, -1.0565576427602528, 1.223083067095325, -0.25885440036983165, 0.35250496835687956, -0.5703513664136806, -1.8206033005485172, 0.2700573583914221, -1.9122549754197768, -0.06863404608546861, -1.3683150388328105, 1.987275999230808, 0.9113627221747217, 0.10575379127148042, 1.2637066776546686, -0.8463159774657358, 0.543479378670093, 0.1998104337187135, 0.26402008133367, 1.2723535001067678, 0.7324921027798023, 0.28872366282502326, -1.6548874362282961, -0.9600462952794637, -0.12270893359572414, 0.09337237427665124, -1.1302037246739238, 2.411676675578421, 1.5163940552535728, 0.6021183203924835, 0.07203686128374476, -0.21220896990115168, -0.9519184600222356, 0.07748051851886253, 0.2577525401427507, -1.2417605754816243, 0.33417641724489744, -0.15525904882474875, -1.907807557877391, -0.8603850107795019, -0.41360553342164424, 1.8876876573401904, 0.5565531245337582, -1.3354815690998914, 0.486036289417637, -1.5473039889383655]) >= 0 THEN 16 ELSE 0 END
            + CASE WHEN list_dot_product(v, [1.0826910538870733, -0.4711246518178786, -0.09363618873917084, 1.32579664754219, -1.28716356858425, -1.3971181851129912, -0.5835993263460049, 1.0383788510193166, -1.5193460754768424, -2.832155598110569, -0.4511588584089988, 0.5517407999109204, 1.2002617497388293, -0.463161362085399, -0.41142660711600243, 1.1539007342557472, -1.8697416996954206, -0.38852077518300926, 0.19042388992505774, 0.44921872128503426, -0.5098066931908826, 0.03444101170584135, -2.4883273534129895, -0.6582484123338483, 0.4535087125544674, -0.9822940342546795, 0.058984221589597374, 0.446872500802698, -0.34254920085776497, 0.1704637709965709, -0.9627325652846123, -0.20661127969604665, 0.6102161695892225, 0.15697296096843422, -0.5865312695639355, 0.224216404290793, 0.714609790636618, -2.049941278577478, 1.1590740649558977, -0.336254738681072, 0.42548993324023027, 1.197246923645228, -1.371673697230466, -0.7094410024275466, -0.2885486958757048, -0.7837535211244283, 1.7349365758368085, -0.8567720938267928, -0.5555467794868666, 0.20438903160297678, -1.2021495260760888, -0.39568071175626385, 0.31745326125017514, -0.33286040438251124, -0.09338685889994829, -0.5293321124483709, -1.514470309180767, 0.32159321133923857, 1.7549330716472415, 0.01840163078343813, 0.22526411724754952, 0.6927227551168594, -1.2693304965466992, 1.7025146581296056]) >= 0 THEN 32 ELSE 0 END) AS bv7,
           (CASE WHEN list_dot_product(v, [0.20232879642280202, 1.631856899089109, -0.7330329955239894, 1.8180619225578247, 0.7751554940347831, 0.5530400858523584, 0.23402445435314795, -0.24852861807444937, 1.2005316584738726, 0.14035986984804696, -1.9670697035871523, -1.1171864617070024, -0.1858457521927473, 0.3099989831655551, -0.05658848889989584, 1.2189707897936632, -1.9511018640386248, 0.1435879365051602, -1.8179792253871547, 0.7597122954841684, -0.09445871444200275, 0.41960997202411815, -0.8638829605897661, 1.279464931657751, 1.0417246640588513, 0.5835443030118876, -0.12951724686344077, 0.5798572852951321, -0.7068925679873489, 0.8555556590207121, 1.649480894323921, 1.0706105599791862, -0.7296024698074095, 0.3614173172731029, -1.2931415437586478, 0.5723903111756757, 0.45060341286253885, -1.869816339532164, -1.1617838439123638, -0.28313889674376713, -0.30085974714082625, -1.2094769354188053, 0.38897872935218375, 0.2514736089405121, -0.1942691319785193, -0.7557915001583629, 1.0487071264165635, 1.6554071130882952, -0.4835614838465371, -0.6121669171548207, 0.4912076654119963, -0.35802937974698623, -0.13939720066323416, 0.7396531517246714, -1.9093560875072928, 1.3183023248526693, 0.07268052432934134, -0.4114931445621802, -0.08923415422144892, -0.03757064497948127, -1.7312013034449254, 1.494938227453236, 0.041325632270618466, 0.4430021304473752]) >= 0 THEN 1 ELSE 0 END
            + CASE WHEN list_dot_product(v, [0.9515497705740428, -1.0211624575603002, 0.47347189903522846, -0.26764109089879357, 0.8467707752164937, -2.1272274203514954, -0.099094300241269, -0.6028206557839616, 0.4322629506341555, 0.47004418736820214, -0.7076258948220261, -0.7121738641760436, -0.11066536855732945, -0.8966422273152082, 0.8419836954521269, -0.36920720044744615, -2.9069882193216414, -0.3748220566218061, -1.0385438208439723, -1.6312758154609455, -1.2374266382225725, 0.10940847183297006, 1.3286408282482312, 0.31318447386498, -0.6065033882157397, 0.4559041951707027, -0.45909031021899177, -0.6946003691631446, -1.1543626682329844, -1.7518288067517191, -0.3899237065594453, 0.15805348992013185, -0.09662367001488972, -0.4159669279473586, -0.9457460606967811, 0.6082461916849685, -1.317131919946585, 0.7760279138434754, -1.0022170189267248, -0.752435237353035, -1.466785190615677, -0.5014021468856367, 0.9753124584779789, 0.5156280884439565, 0.9784221120280351, 0.5221425459339358, -1.1036698285303692, -0.33078922432755736, -0.7801991291174627, 1.3305749040390402, -1.1967886464263116, 0.8936976893891109, 0.8929538701087693, 1.8296202017160872, -0.40968659262949736, 0.7123221595801621, 2.2816518365388427, -0.6176416769336966, -1.5350402475323597, -1.8800100339077637, 0.7127120288613313, -1.8831502080585838, -0.37231905293792283, 0.4373131870389607]) >= 0 THEN 2 ELSE 0 END
            + CASE WHEN list_dot_product(v, [0.18517553682991406, 0.42544486418417227, 0.22228985580085406, 1.2788658133133932, -0.952316380738797, -0.6769951384585313, -0.772659445270824, 0.8301918118626102, 0.9003985883950636, 0.4512253193185082, 1.1834936668899279, -1.1780408673763807, 1.667224111551137, 1.5232386217122582, 0.7356219972457467, 1.78179890877106, -1.6566232076777738, -0.5244481362626519, -0.7353034606819523, 0.7214793237573432, -1.0501407396021456, 0.7574951493374855, 1.3705361439967134, 0.6952029000839993, 0.2837510236615011, -0.9878733409007492, -0.8468509661253646, 1.2496189052966666, 0.7793490039053323, -0.03901951937754412, -0.41790954576589057, -2.025807873111377, -1.0708524186844388, 1.9114190871397234, -1.2804555710024668, 0.18947982122108065, 1.0074439731951985, -1.2549226680022925, 0.1847104747810833, 0.937915537510655, 0.012499321907250335, 2.8684030556667683, -1.6685992588781953, 1.0587285298838789, -0.17280173739646437, 0.7719201548366751, 0.44130715169924584, -0.7331561971099966, 0.22899639245934025, -1.8579014513982872, 0.6032475005713938, 0.29815846599052565, 0.6386601686431024, 1.0581183250871502, 0.3676198402097109, 0.1480894197982762, -0.8810683366612923, -0.712220763649051, 1.186734620177331, 1.4363354057059785, -0.23811043631205406, 0.04600274725327412, -0.9046143749937661, 1.1727568452674448]) >= 0 THEN 4 ELSE 0 END
            + CASE WHEN list_dot_product(v, [0.6654168236917787, 1.9412174364637491, -0.8783230771797389, -0.3780078990182172, 0.2314459225255723, 0.6464895377257707, -0.21566763754763232, -0.8729610904537004, 0.8814075289235711, 0.7211353625455816, -0.9162741005637249, 1.3554428011054958, 1.1701987091966037, 0.13429649724779288, 0.07959786237603639, 0.5540577711159071, -0.8617030702562581, 0.03003147916408217, -2.1523835446091804, 0.8764556455029355, -1.5614932224418594, 1.503419828428999, -0.3301200939664503, -0.2116669819311769, -0.6277339060845056, -0.2880388739220764, 1.4185313451480366, -2.4878086565350794, 1.2769653860881878, 0.33802348110170816, -1.2070216478572156, -1.0753123930492379, 1.676393027208203, -0.9455068799427312, -1.1533505105959594, 1.1373145423647293, 0.33855287628591424, -0.9379255765363989, 0.216624975404619, -1.0257526836402773, 1.1008213984226052, 1.0613709648731335, 0.5320061988219431, 0.3616610612470166, 1.7611881248673737, -0.0003136726117747121, -1.1818741254208012, 0.44947391283230687, 2.0860470495371137, -1.0147594931858521, -0.36146276669398575, 0.41644603810145264, -0.05390484900573916, -0.9823035803773146, 1.1218578562304709, 2.3200407220172594, 0.19613145902390733, -0.9040682897360003, -1.548960525053475, 0.2579759812211809, 1.1038773433162576, 0.4751677464953816, -0.002403840918853844, -0.5892716517893062]) >= 0 THEN 8 ELSE 0 END
            + CASE WHEN list_dot_product(v, [-1.0921636327180897, 0.8347513263248821, 0.9137716213855857, -1.5457297866907331, 1.5898389781806839, 0.5740712208940013, 1.3995946451457935, -1.342127748485115, -1.365824155415439, -0.14896930976729691, 0.5027844268951942, 1.7963608229269636, 0.7060789138151315, -0.24268127681203333, -1.0263692076658921, 1.23000057271915, -0.9647054257507148, 1.6284685547723217, -0.28438464960650933, 1.5905820726178503, 0.6789312900592783, -0.13699548944245826, -0.5193963718261266, -0.3409078773460798, 0.4283166923752375, 0.07715649621771674, -0.5938114080687051, -0.16563141031763223, 0.0785770297191498, -2.128734094414812, 0.4581681147886987, -0.9797212247168068, -1.153332403205745, -1.6873443471107104, -1.7938924978678903, -1.3554475031122892, -0.7090209576304904, 1.9532591375265682, -0.5258796758952039, 0.17775010626803134, 0.4004813865063287, 0.13106518621584873, -0.07744346072599365, -1.1952937635992447, 1.4509275482792119, 1.8071966436378852, -1.6826586941226858, -1.0240285908863795, -0.2798103423770061, -0.9645377949101913, 0.5059655534558652, -0.7282722024066131, 2.1650560678066024, 1.190548594343596, 0.2125740306322149, 1.0269862633197322, 1.105900424357309, -0.5639474880582432, -0.8162172445419648, 0.07814306296964744, 0.861636124497944, 0.13906039865341766, -1.5769964821909972, -0.8028244439508423]) >= 0 THEN 16 ELSE 0 END
            + CASE WHEN list_dot_product(v, [-0.07397286359437803, -0.07566560432583026, 1.9725421767898081, -1.385987942398998, 0.5055892418358746, 1.4891131083282896, 2.271449745422796, -0.40439742318396127, 0.4914294527201998, 0.5697603571986469, 0.19548173155329082, -0.09884520123930605, 0.4359753895000459, -2.5322460852196853, 0.6820694900626313, 0.12617790366196718, -0.22247489677826537, 2.046862195719558, -0.6749340187905523, -0.4030759890650308, 1.991553302204734, -0.8320613048498566, -0.5501152829365389, -0.14702542343084998, 0.8407344821295493, 0.2078025073533134, -1.2926253471522626, -0.5321685631271895, -0.6073544332122114, -0.07722104522304557, 0.4258436586298291, 0.4182057558879721, -1.7760117540484022, 1.063940987560856, 0.2525688459966235, 1.3845320475939062, 0.4441983272906719, 1.1013229577357622, 0.46654531145012695, 1.3462257562027482, 0.5222506360177785, -0.09791524644290406, 2.2724347204468818, 0.8890371222798921, 0.5737444210044131, -1.276304416538336, -1.2883076174635377, 0.2927154821418534, 0.1455211977682408, -0.6141225650083162, 0.14098269961206, 1.5886269280435958, 0.6954024745502987, -1.1410085097527383, -0.1115088271429437, -0.8049664808525608, -0.38769991640856116, -0.41361566562964275, -0.4776455826040052, -1.2551353719733949, -0.12765468151819012, -0.56060763684731, -2.929448690002268, 2.052972024501663]) >= 0 THEN 32 ELSE 0 END) AS bv8,
           (CASE WHEN list_dot_product(v, [1.088769654216672, -0.37630072492499606, 0.018819049740598424, -1.1716543473175618, 1.6957228778108653, 1.8972886947731116, 0.1566937282465246, 1.0235306441853447, 0.17528677893392386, -1.3367254388759306, -0.4118233689636573, 0.13192796677195706, -0.4545477187434442, -0.218653277435036, -0.09139955750911445, -0.08087849786546131, 0.05225849049748321, -1.060605066396601, -0.7170161491279362, -1.2845842656999693, 0.9778155496862003, -2.1056469418403245, 1.1535903433169254, 1.3863493972628433, -0.3021805869826214, -2.6031370878272986, -0.3613105619672905, -0.06418416128881928, -1.0105982199289134, -0.5152183938082427, 1.5301951988633513, 0.664927162301741, -0.9245641143780999, -1.5975991695954321, -0.3270173176097711, -0.21345677935043825, 0.4961991873633163, -0.535316712567659, 0.5114995753618614, 1.9351540400602292, 0.8155010224442626, -0.048088507330772585, -0.18315047105329468, -0.35667313417987123, 1.1806409124521446, -0.6273134459513029, 0.04522270899998256, 0.05119790188108534, -0.501784192811532, -1.3724655478841008, 0.32297450361766816, -0.06100397185538355, 0.5002404694365699, -0.5336003064391669, 1.2208212988130478, -0.8767737812118448, 1.7120402840178925, -1.7476365098282616, 0.43477006455689116, 0.47543068252662346, -0.7955570679408823, 0.4243939378610126, 1.2795186697601588, -2.2168188393540644]) >= 0 THEN 1 ELSE 0 END
            + CASE WHEN list_dot_product(v, [0.5027448074908146, -2.4932708203300775, -0.965664803523208, 1.6291663649009451, -0.581782033392054, -1.1738799644089726, -0.19793772898468187, 2.067906338163552, -1.8316822472060261, -1.0513099116393445, 1.4974316831796264, 1.8577023435377324, -0.10343122429028392, -1.2390527025266425, 2.095843501809159, 1.5944423917491968, 0.678946987762233, -0.81240234893742, -0.049029340838036735, -0.16036008104483077, 0.33085130461557777, 1.451001438131336, 0.8794170411374032, -1.0773760769847582, 1.3764964500195378, 0.3131321400131553, 0.6870657958589163, 1.466540859278603, -1.1115802495135512, -0.035825578706462934, -0.531454551359215, -1.5678594253654559, 0.3467099776049199, 2.5115565515844236, -1.8400777445057528, -0.032280611049470324, 0.6405429350747734, 0.12307820165618115, -0.1131280525157404, -1.2992163634458243, 0.23278674294016363, -0.7567639770159263, -2.1899217049785533, 1.1945922205137307, 0.9583858198420424, 0.0516609768510798, 0.22907468820570256, 1.0743180127155614, 0.2243396567780826, 0.9040175547613144, -0.29748220087385013, 1.3119837385739466, 0.3207857259326839, 0.19405194360587402, -1.270061088712032, 0.2869558543017087, -0.8319549174944512, -0.6382827265284942, -0.8153756283161211, -1.066234931899225, 2.1247714030169615, 1.3313390619884031, 1.9203675021442612, -1.222895019555564]) >= 0 THEN 2 ELSE 0 END
            + CASE WHEN list_dot_product(v, [0.07125374991089249, -1.2935076252040958, -0.695694877197064, -0.9181269834165748, 1.2395840064415615, -0.39622967810175985, 1.0683793336940164, 0.604120889588518, 2.303638752104789, -1.479444223139724, 1.259233239786799, 1.1464408704007276, -0.9733788380270346, 1.0071333364731596, 0.3361449630262288, -0.22747625995340778, -0.8239354869719996, -0.7191094514491859, 2.049812095785926, 0.000682818957482628, 0.7821300015314592, -0.7908993816675531, -0.7798529462216388, 1.0819848092499422, -1.3495762115515322, -0.41521376790527154, 0.03402741107223205, 0.11137260184005242, -0.17909328501615626, 0.3958197810959231, 0.6928557558178116, 0.73463754545933, -0.9858038086678267, -0.2841550979287972, 1.1947628618769377, 0.8946471875738723, -1.372859451481064, 0.35147990035220167, -1.9782252493748103, 0.04693490206036963, 1.897767016745977, -0.9478927172689863, -0.8343230454915821, 0.7640297815728595, -1.542801515209646, -0.6327550298850391, 0.5964411375817527, -0.6342858476894031, -0.23596998721097162, 0.7441857103150346, 0.42154608353656126, 0.2668183962954019, -0.33912227927003874, 0.37006111526895535, -0.12373268009975662, 0.45780560992578473, -0.49693202511797824, -0.18256897437954112, -0.9899577925520139, -0.0350076100062359, -0.8110008636288448, -1.1140464501619933, 0.25866114785538813, 0.21273977585766032]) >= 0 THEN 4 ELSE 0 END
            + CASE WHEN list_dot_product(v, [0.7828737349485725, -0.43112556957509907, 0.4080528468367557, 0.5507975722736632, 0.44477380783159476, -0.8256536828021421, 0.1493634822711889, 0.36414029605466136, 0.007178466907941942, -2.0864776583710847, 0.16048962397348007, 2.212531039397242, -0.3600392687569827, -0.7280770978553212, 0.3733485597113982, 0.3123782104665717, 1.1927351654164144, -1.2578681559088878, 0.7313802525749924, 0.5904220612514635, -0.1421465369405461, 0.33868731792169, 1.0294574815983573, 0.8723153800284503, -1.1430193120737286, 0.8201581867554845, -0.06468860503251848, 0.07287409801551539, 0.0731969910016945, -0.15024298879825998, 1.191707497107065, -0.08371795984921201, -1.1195461283831687, -0.39352985596972884, 0.1786947168104756, 1.2292147842970504, 0.6030946849488336, -0.8505352787470439, 2.4851899166788916, 0.2647753109779796, 1.2753907379990148, -0.15171443357722914, 0.5333592447054494, 0.8394685045184047, 1.218194711754256, 1.057368305378225, 0.8721970000729778, -0.3150867311941086, -0.5717460419560614, 0.33260751032419755, 0.9331280723410693, -0.22272070077660705, 1.0651719657143865, 1.4526167454861794, -0.9163209190734197, -0.8369207037962799, -0.14037505890533644, 0.3076126681891964, -0.524567013767051, 1.3522026788671444, 0.4240668615184512, 0.03944704824073949, -1.4359095238685275, -1.3158158164275071]) >= 0 THEN 8 ELSE 0 END
            + CASE WHEN list_dot_product(v, [0.2810092502818063, -2.132595626154836, 1.0126374096440718, -0.1581538443723203, 3.2430929695947333, 2.3079162506161106, -0.18144906924751675, -0.10633700253131496, 0.9955815140020298, 1.7031726099180378, -1.6380290574360168, -1.7863754653546866, -0.6220348055543814, 0.5827375831738644, 0.4968735905075971, 1.0697714549838502, -1.1996975283653082, -2.3161438629688766, 0.8580141953021454, -0.8281962729652346, -2.018487864388638, 0.14506374595938162, 0.7931756882186773, -0.12205713212127726, -0.45784838618248924, -0.15936223214590656, -0.37058276240078286, -1.3480471119401671, -0.7146806769904318, 0.5212799050138145, 0.3216785413765001, 0.16805980596682024, -0.9951484818533795, -0.18150316213566714, -2.1770650464428547, 0.17847666388538974, 1.4288577078135674, -1.4741321320421057, -0.5859276733177553, 0.32910677871012955, 1.2528426344274837, -0.4482246163001494, -0.6922503292658964, -1.9689231424160831, 0.10343812930810638, 2.042076040143744, 0.2773584619646759, -0.022278979183713316, 0.32208231076698546, -0.01109200394860206, -0.8130143722601298, 0.8232799156777053, 0.2257615231117544, 0.017613251933657315, -0.97536602727825, 1.3035079319347591, 0.6647027453331099, -0.552920837367302, 1.0018248536819372, -0.49757083838520716, -0.782003492511037, -0.7597031174802871, -1.7710685530880912, 0.47154238041820573]) >= 0 THEN 16 ELSE 0 END
            + CASE WHEN list_dot_product(v, [-1.8311448783383502, -1.2284438312657626, -2.0755880090785332, -0.08606969279089306, -0.15032046027187207, -0.32669621318636405, -1.0425776946705763, -1.17223375343664, 0.46436986354657417, -0.5505519317084877, 0.31635832153614474, -0.8852486861242225, 0.18106274277108234, 1.3032780373160637, 0.5861658003927833, -0.4124138182164804, 0.25719897035592737, -0.24066517453021302, 0.007880184694728152, -0.3256110521485036, -0.1643352058853912, 0.21209335307417523, -0.9933586995819507, -1.0158788269899783, -1.388542553831211, -1.60027110450371, -1.2172826922204794, 0.15946250680412918, -0.8927875154918841, 0.5136144642310962, 0.03471374875256186, -1.9685042134380537, 0.6549755842216898, 0.8107986455917099, -0.9938626748348534, 0.4201915428949916, -0.856498237409199, 0.0976703767483354, -1.2644984069549656, -1.7931064525345768, -0.3828171896129687, -0.12372894627483615, -0.39767969361460404, -1.1840305582225594, -0.3998990621311371, 0.269294752580734, -0.04489303012253698, 0.1825010305992134, -0.6701152004542329, 1.1717179147161596, -1.1761733365547806, 0.4875602970867186, 1.1818910929599615, 0.4809080927488954, -0.20252422706483003, -0.5282970466629792, 1.036087651046256, -1.422974925261673, -0.9701242603796436, -0.3975577654917214, 1.2376537575119981, 0.37976763604089603, -0.9680457585102453, -0.31030770538490365]) >= 0 THEN 32 ELSE 0 END) AS bv9
        FROM e
    ),
    banded AS (
        SELECT vec_id, 0 AS band, bv0 AS bits FROM sig
        UNION ALL
        SELECT vec_id, 1 AS band, bv1 AS bits FROM sig
        UNION ALL
        SELECT vec_id, 2 AS band, bv2 AS bits FROM sig
        UNION ALL
        SELECT vec_id, 3 AS band, bv3 AS bits FROM sig
        UNION ALL
        SELECT vec_id, 4 AS band, bv4 AS bits FROM sig
        UNION ALL
        SELECT vec_id, 5 AS band, bv5 AS bits FROM sig
        UNION ALL
        SELECT vec_id, 6 AS band, bv6 AS bits FROM sig
        UNION ALL
        SELECT vec_id, 7 AS band, bv7 AS bits FROM sig
        UNION ALL
        SELECT vec_id, 8 AS band, bv8 AS bits FROM sig
        UNION ALL
        SELECT vec_id, 9 AS band, bv9 AS bits FROM sig
    ),
    cand AS (
        SELECT DISTINCT a.vec_id AS i, b.vec_id AS j
        FROM banded a JOIN banded b
          ON a.band = b.band AND a.bits = b.bits AND a.vec_id < b.vec_id
    )
    SELECT c.i, c.j,
           round(list_dot_product(x.v, y.v)
                 / (sqrt(list_dot_product(x.v, x.v))
                    * sqrt(list_dot_product(y.v, y.v))), 6) AS cos_sim
    FROM cand c JOIN e x ON c.i = x.vec_id JOIN e y ON c.j = y.vec_id
    WHERE round(list_dot_product(x.v, y.v)
                / (sqrt(list_dot_product(x.v, x.v))
                   * sqrt(list_dot_product(y.v, y.v))), 6) >= 0.45
    """,
)
def q_embed_neardup_rplsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH cosine near-dup (banded sign bits ->
    posting-list candidates -> exact verify) — the linear-scale path.
    HASH-CHECKED: the hyperplanes are seeded-deterministic
    (_hyperplanes, seed 42) and embedded as literals in the oracle, so
    DuckDB reproduces band candidacy and the exact cosine verdicts;
    the LSH false-negative tail is identical by construction.  Recall
    vs exact cosine additionally asserted in tests."""
    from transitdata_hfp_deduplicator_spark.operators.similarity import rp_lsh_pairs

    e = _t(spark, sf_dir, "embeddings")
    return rp_lsh_pairs(e, threshold=0.45)


# ---------------------------------------------------------------------------
# Streaming joins
# ---------------------------------------------------------------------------


@query(
    "q_stream_stream_join",
    oracle="""
    SELECT e1.event_id AS purchase_id, e2.event_id AS error_id,
           e1.user_id, epoch_ms(e2.ts) - epoch_ms(e1.ts) AS gap_ms
    FROM events e1
    JOIN events e2
      ON e1.user_id = e2.user_id
     AND e2.ts > e1.ts
     AND e2.ts <= e1.ts + INTERVAL 30 MINUTE
    WHERE e1.event_type = 'purchase' AND e2.event_type = 'error'
    """,
)
def q_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join with event-time bounds: errors within
    30min after a purchase, both sides streaming with watermarks (the
    state-store-backed join — each side buffers rows until the
    watermark passes the time bound). Same semantics as the batch
    range join q_join_theta_range, so the same oracle applies."""
    import os

    from transitdata_hfp_deduplicator_spark.streaming import (
        parquet_stream,
        run_to_memory,
    )

    src = os.path.join(sf_dir, "events.parquet")
    p = (
        parquet_stream(spark, src)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    e = (
        parquet_stream(spark, src)
        .filter(F.col("event_type") == "error")
        .select(
            F.col("event_id").alias("error_id"),
            F.col("user_id").alias("e_user_id"),
            F.col("ts").alias("e_ts"),
        )
        .withWatermark("e_ts", "1 hour")
    )
    joined = p.join(
        e,
        (p.user_id == e.e_user_id)
        & (e.e_ts > p.p_ts)
        & (e.e_ts <= p.p_ts + F.expr("INTERVAL 30 MINUTES")),
    ).select(
        "purchase_id",
        "error_id",
        "user_id",
        (F.unix_millis("e_ts") - F.unix_millis("p_ts")).alias("gap_ms"),
    )
    from transitdata_hfp_deduplicator_spark.streaming.runner import (
        replay_shuffle_partitions,
        scoped_shuffle_partitions,
    )

    with scoped_shuffle_partitions(spark, replay_shuffle_partitions(src)):
        return run_to_memory(joined, "append")


@query(
    "q_stream_static_join",
    oracle="""
    WITH user_totals AS (
        SELECT user_id,
               count(*) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(30,4))) AS DOUBLE) AS user_total
        FROM events GROUP BY user_id
    )
    SELECT e.event_id, e.user_id, u.n_events, u.user_total
    FROM events e JOIN user_totals u ON e.user_id = u.user_id
    WHERE e.event_type = 'purchase'
    """,
)
def q_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream enriched against a static (batch) dimension: purchases
    joined to per-user batch aggregates — stateless per micro-batch.
    The static side is NOT broadcast-hinted: it has one row per user
    (corpus-scaled), so a forced broadcast is a driver OOM at 10⁹
    users; un-hinted, Catalyst broadcasts below the stat threshold and
    shuffle-joins above it."""
    import os

    from transitdata_hfp_deduplicator_spark.streaming import (
        parquet_stream,
        run_to_memory,
    )
    from transitdata_hfp_deduplicator_spark.tables import read_parquet

    src = os.path.join(sf_dir, "events.parquet")
    static_totals = (
        read_parquet(spark, src)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum(F.col("value")).alias("user_total"),
        )
    )
    stream = parquet_stream(spark, src).filter(F.col("event_type") == "purchase")
    joined = stream.join(static_totals, "user_id").select(
        "event_id", "user_id", "n_events", "user_total"
    )
    return run_to_memory(joined, "append")


@query(
    "q_hfp_domain",
    oracle=f"""
    WITH {_HFP_PARSED_SQL},
    decoded AS (
        SELECT string_split(topic, '/')[4] AS journey_type,
               string_split(topic, '/')[6] AS transport_mode,
               CAST(json_extract(payload, '$.VP.spd') AS DOUBLE) AS spd,
               CAST(json_extract(payload, '$.VP.veh') AS BIGINT) AS veh,
               CAST(json_extract(payload, '$.VP.tsi') AS BIGINT) AS tsi
        FROM parsed
    )
    SELECT journey_type, transport_mode,
           count(*) AS n,
           count(DISTINCT veh) AS n_vehicles,
           round(CAST(SUM(CAST(spd AS DECIMAL(30,6))) AS DOUBLE)
                 / count(spd), 4) AS avg_speed,
           min(tsi) AS first_tsi,
           max(tsi) AS last_tsi
    FROM decoded
    GROUP BY 1, 2
    """,
)
def q_hfp_domain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full HFP domain decode (reference data model, SURVEY.md §1.3):
    hierarchical topic -> named parts, VP JSON -> typed 18-field
    struct, then per-(journey_type, transport_mode) fleet stats.  Reads
    ``HFP_CORPUS``: the reference's 5000-line file (4956 uniques) where
    present, else the committed 1000-line sample (500 uniques).  The
    oracle re-parses topic and JSON in SQL over the same corpus."""
    from transitdata_hfp_deduplicator_spark.sources import hfp

    corpus = hfp.with_vp(hfp.with_topic_struct(hfp.read_corpus(spark, HFP_CORPUS)))
    n_spd = F.count("vp.spd")
    return (
        corpus.groupBy(
            F.col("topic_parts.journey_type").alias("journey_type"),
            F.col("topic_parts.transport_mode").alias("transport_mode"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct(F.col("vp.veh").cast("bigint")).alias("n_vehicles"),
            F.round(
                F.sum(F.col("vp.spd").cast("decimal(30,6)")).cast("double") / n_spd, 4
            ).alias("avg_speed"),
            F.min(F.col("vp.tsi")).alias("first_tsi"),
            F.max(F.col("vp.tsi")).alias("last_tsi"),
        )
    )


@query(
    "q_text_editdist",
    oracle="""
    SELECT a.p_partkey AS i, b.p_partkey AS j,
           levenshtein(a.p_name, b.p_name) AS dist
    FROM part a JOIN part b
      ON a.p_brand = b.p_brand
     AND split_part(a.p_name, ' ', 1) = split_part(b.p_name, ' ', 1)
     AND a.p_partkey < b.p_partkey
    WHERE abs(length(a.p_name) - length(b.p_name)) <= 8
      AND levenshtein(a.p_name, b.p_name) <= 8
    """,
)
def q_text_editdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-dup pairs, brand-blocked: the blocking key
    turns an all-pairs O(n^2 * m^2) comparison into per-block work — the
    standard entity-resolution scale pattern (block -> compare ->
    threshold)."""
    from transitdata_hfp_deduplicator_spark.tables import spread

    # spread(): the planner broadcasts the b side, so the blocked
    # candidate fan-out AND its levenshtein DP run on the probe side's
    # scan splits — ONE task on a single-file scan (measured: the whole
    # query was one 2.5s task at sf0.1; guide §2.5).  Identity on a
    # multi-split lake scan.
    p = spread(_t(spark, sf_dir, "part"))

    def side(idc, suffix):
        return p.select(
            F.col("p_partkey").alias(idc),
            F.col("p_brand").alias(f"brand_{suffix}"),
            F.col("p_name").alias(f"name_{suffix}"),
            F.split(F.col("p_name"), " ").getItem(0).alias(f"tok_{suffix}"),
            F.length("p_name").alias(f"len_{suffix}"),
        )

    a, b = side("i", "a"), side("j", "b")
    return (
        a.join(
            b,
            (F.col("brand_a") == F.col("brand_b"))
            & (F.col("tok_a") == F.col("tok_b"))  # second blocking key
            & (F.col("i") < F.col("j")),
        )
        # levenshtein(a,b) >= |len(a)-len(b)|: prune before the O(nm) DP
        .filter(F.abs(F.col("len_a") - F.col("len_b")) <= 8)
        .withColumn("dist", F.levenshtein("name_a", "name_b").cast("bigint"))
        .filter(F.col("dist") <= 8)
        .select("i", "j", "dist")
    )


@query(
    "q_scd2_build",
    oracle="""
    SELECT user_id, event_id, value,
           CAST(floor(epoch(ts)) AS BIGINT) AS valid_from_s,
           CAST(floor(epoch(lead(ts) OVER w)) AS BIGINT) AS valid_to_s,
           CAST(CASE WHEN lead(ts) OVER w IS NULL THEN 1 ELSE 0 END
                AS INTEGER) AS is_current
    FROM events
    WHERE event_type = 'signup'
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def q_scd2_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension Type 2 build: turn a change stream
    into validity intervals — each version's valid_to is the NEXT
    version's valid_from (half-open intervals), the latest version
    flagged current.  This is the third leg of the CDC family:
    q_merge_upsert keeps only the latest snapshot, q_cdc_latest_stream
    maintains it online, and SCD2 keeps the full history queryable by
    as-of joins (q_join_asof consumes exactly this interval shape).

    Scale shape: ONE user-keyed exchange; the lead() window sorts
    within each user's partition only (total order (ts, event_id)
    breaks timestamp ties deterministically); event_type pruning
    reaches the parquet reader.  Hash-checked: integer epochs and
    flags."""
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    e = _t(spark, sf_dir, "events").filter(F.col("event_type") == "signup")
    return e.select(
        "user_id",
        "event_id",
        "value",
        F.col("ts").cast("long").alias("valid_from_s"),
        F.lead("ts").over(w).cast("long").alias("valid_to_s"),
        F.when(F.lead("ts").over(w).isNull(), F.lit(1))
        .otherwise(F.lit(0))
        .cast("int")
        .alias("is_current"),
    )


@query(
    "q_merge_upsert",
    oracle="""
    WITH updates AS (
        SELECT o_orderkey, o_custkey, 'X' AS o_orderstatus,
               round(o_totalprice * 1.1, 4) AS o_totalprice,
               o_orderdate, o_orderpriority
        FROM orders WHERE o_orderkey % 2 = 0
    )
    SELECT o_orderkey, o_custkey, o_orderstatus,
           round(o_totalprice, 4) AS o_totalprice, o_orderpriority
    FROM orders WHERE o_orderkey % 2 <> 0
    UNION ALL
    SELECT o_orderkey, o_custkey, o_orderstatus,
           round(o_totalprice, 4) AS o_totalprice, o_orderpriority
    FROM updates
    """,
)
def q_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE emulation (anti-join + union): a synthetic change set
    (even order keys repriced, status X) upserted into orders — the
    snapshot-refresh primitive of a training-data pipeline, without a
    lakehouse table format."""
    from transitdata_hfp_deduplicator_spark.operators.upsert import merge_upsert

    o = _t(spark, sf_dir, "orders")
    updates = o.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey",
        "o_custkey",
        F.lit("X").alias("o_orderstatus"),
        F.round(F.col("o_totalprice") * 1.1, 4).alias("o_totalprice"),
        "o_orderdate",
        "o_orderpriority",
    )
    merged = merge_upsert(o, updates, ["o_orderkey"])
    return merged.select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        F.round("o_totalprice", 4).alias("o_totalprice"),
        "o_orderpriority",
    )


@query(
    "q_cdc_latest_stream",
    oracle="""
    WITH m AS (
        SELECT user_id,
               max({'sec': CAST(floor(epoch(ts)) AS BIGINT),
                    'eid': event_id, 'val': value,
                    'typ': event_type}) AS last,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(max(floor(epoch(ts))) AS BIGINT) AS last_sec
        FROM events GROUP BY user_id
    )
    SELECT user_id, round(last.val, 6) AS last_value,
           last.typ AS last_type, n_events, last_sec
    FROM m
    """,
)
def q_cdc_latest_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONLINE latest-state materialized view (the CDC-apply shape): the
    event stream replays through a streaming max_by aggregation keyed
    by user, maintaining each key's most recent (value, type) — i.e.
    the continuously-maintained "current state" table every changelog
    consumer builds, with no custom state operator: Spark's streaming
    aggregation state IS the materialized view, complete-mode snapshots
    make the final batch the answer.  The streaming q_merge_upsert: the
    batch query refreshes a snapshot from a change set; this maintains
    it incrementally.

    HASH-CHECKED against the batch arg_max over the same events —
    online and offline current-state agree bit-for-bit (ties broken by
    (ts, event_id), both engines).

    Scale shape: state is one row per key (the view itself), updates
    partial-aggregate map-side before the keyed exchange; at 100 TB
    the view partitions by key like any streaming agg."""
    import os as _os

    from transitdata_hfp_deduplicator_spark.streaming import (
        parquet_stream,
        replay_shuffle_partitions,
        run_to_memory,
        scoped_shuffle_partitions,
    )

    src = _os.path.join(sf_dir, "events.parquet")
    stream = parquet_stream(spark, src).select(
        "user_id",
        "event_id",
        "event_type",
        "value",
        F.col("ts").cast("long").alias("sec"),
    )
    # lexicographic struct max — (ts, event_id) leads, payload rides
    # along; the one composite-argmax spelling BOTH engines order
    # identically (DuckDB's arg_max takes no composite key)
    last = F.max(
        F.struct(
            F.col("sec"), F.col("event_id"),
            F.col("value").alias("val"), F.col("event_type").alias("typ"),
        )
    )
    state = (
        stream.groupBy("user_id")
        .agg(
            last.alias("last"),
            F.count(F.lit(1)).alias("n_events"),
            F.max("sec").alias("last_sec"),
        )
        .select(
            "user_id",
            F.round(F.col("last.val"), 6).alias("last_value"),
            F.col("last.typ").alias("last_type"),
            "n_events",
            "last_sec",
        )
    )
    with scoped_shuffle_partitions(spark, replay_shuffle_partitions(src)):
        return run_to_memory(state, output_mode="complete")


# ---------------------------------------------------------------------------
# Time-series: batch sessionization and gap-fill (operators/timeseries.py)
# ---------------------------------------------------------------------------


@query(
    "q_sessionize",
    oracle="""
    WITH g AS (
        SELECT user_id, event_id, ts, value,
               CASE WHEN lag(epoch_ms(ts)) OVER (
                        PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                     OR epoch_ms(ts) - lag(epoch_ms(ts)) OVER (
                        PARTITION BY user_id ORDER BY ts, event_id) > 600000
                    THEN 1 ELSE 0 END AS brk
        FROM events
    ), s AS (
        SELECT user_id, ts, value,
               CAST(sum(brk) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS session_id
        FROM g
    )
    SELECT user_id, session_id,
           epoch_ms(min(ts)) AS session_start_ms,
           epoch_ms(max(ts)) AS session_end_ms,
           count(*) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(30,4))) AS DOUBLE) AS sum_value
    FROM s GROUP BY user_id, session_id
    """,
)
def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization: per-user sessions split at >10 min
    inactivity gaps (batch mirror of q_session_window's streaming
    ``session_window``).  One shuffle on user_id; lag, running sum,
    and the session rollup all reuse it."""
    from transitdata_hfp_deduplicator_spark.operators.timeseries import session_stats

    ev = _t(spark, sf_dir, "events")
    return session_stats(
        ev,
        ["user_id"],
        "ts",
        gap="10 minutes",
        order_tiebreak=["event_id"],
        aggs=[dsum(F.col("value")).alias("sum_value")],
    )


@query(
    "q_gapfill",
    oracle="""
    WITH by_hour AS (
        SELECT event_type, date_trunc('hour', ts) AS h, count(*) AS n_events,
               round(CAST(sum(CAST(value AS DECIMAL(30,4))) AS DOUBLE)
                     / count(*), 4) AS avg_value
        FROM events GROUP BY 1, 2
    ), span AS (
        SELECT event_type, date_trunc('hour', min(ts)) AS h0,
               date_trunc('hour', max(ts)) AS h1
        FROM events GROUP BY 1
    ), grid AS (
        SELECT event_type, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
        FROM span
    )
    SELECT g.event_type, epoch_ms(g.h) AS hour_ms,
           coalesce(b.n_events, 0) AS n_events,
           last_value(b.avg_value IGNORE NULLS) OVER (
               PARTITION BY g.event_type ORDER BY g.h
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS avg_value_ffill
    FROM grid g LEFT JOIN by_hour b ON g.event_type = b.event_type AND g.h = b.h
    """,
)
def q_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-fill/resample (TimescaleDB ``time_bucket_gapfill`` + locf):
    hourly event counts per type densified onto the full grid, counts
    zero-filled, average value carried forward.  Grid is generated per
    GROUP with ``sequence()`` — O(types x hours), not O(rows)."""
    from transitdata_hfp_deduplicator_spark.operators.timeseries import gapfill

    ev = _t(spark, sf_dir, "events")
    out = gapfill(
        ev,
        ["event_type"],
        "ts",
        bucket="1 hour",
        aggs=[
            F.count(F.lit(1)).alias("n_events"),
            F.round(davg(F.col("value"), F.count(F.lit(1))), 4).alias("avg_value"),
        ],
        zero_fill=["n_events"],
        ffill=["avg_value"],
    )
    return out.select(
        "event_type",
        F.unix_millis("_bucket").alias("hour_ms"),
        "n_events",
        F.col("avg_value").alias("avg_value_ffill"),
    )


@query(
    "q_ts_correlate",
    oracle="""
    WITH b AS (
        SELECT user_id, CAST(EXTRACT(hour FROM ts) AS INT) AS h,
               CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DECIMAL(18,4)) AS v
        FROM events GROUP BY 1, 2
    ),
    peak AS (
        SELECT user_id, h AS ph FROM (
            SELECT user_id, h,
                   row_number() OVER (PARTITION BY user_id
                                      ORDER BY v DESC, h ASC) AS rn
            FROM b
        ) WHERE rn = 1
    ),
    bp AS (SELECT b.user_id, b.h, b.v, peak.ph
           FROM b JOIN peak ON b.user_id = peak.user_id),
    p AS (
        SELECT a.user_id AS user_a, b.user_id AS user_b,
               count(*) AS n_buckets,
               SUM(a.v) AS sx, SUM(b.v) AS sy,
               SUM(a.v * b.v) AS sxy,
               SUM(a.v * a.v) AS sxx,
               SUM(b.v * b.v) AS syy
        FROM bp a JOIN bp b
          ON a.h = b.h AND a.ph = b.ph AND a.user_id < b.user_id
        GROUP BY 1, 2
    )
    SELECT user_a, user_b, CAST(n_buckets AS BIGINT) AS n_buckets,
           round((CAST(n_buckets AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / sqrt((CAST(n_buckets AS DOUBLE) * CAST(sxx AS DOUBLE)
                         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                        * (CAST(n_buckets AS DOUBLE) * CAST(syy AS DOUBLE)
                           - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
               AS corr
    FROM p
    WHERE round((CAST(n_buckets AS DOUBLE) * CAST(sxy AS DOUBLE)
                 - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                / sqrt((CAST(n_buckets AS DOUBLE) * CAST(sxx AS DOUBLE)
                        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                       * (CAST(n_buckets AS DOUBLE) * CAST(syy AS DOUBLE)
                          - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6) >= 0.4
    """,
)
def q_ts_correlate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series similarity search over entity profiles (the
    distributed streaming-similarity shape, EDBT'19): collapse each
    user's events to a 24-bucket diurnal profile, then emit user pairs
    whose profiles Pearson-correlate >= 0.4, pair space blocked by
    profile peak hour.

    Scale shape: the raw table collapses FIRST (profiles are
    #users x 24 rows — the aggregate is the similarity input, never the
    events), the pair space is an hour-bucket equi-join over that tiny
    profile table, and the correlation is assembled from DECIMAL
    partial sums (exact, order-independent) with one double formula at
    the end — bit-reproducible across engines.  At web-scale user
    counts the pairwise stage swaps for the RP-LSH banding path
    (q_embed_neardup_rplsh) over the same profile vectors."""
    ev = _t(spark, sf_dir, "events")
    b = ev.groupBy(
        "user_id", F.hour("ts").alias("h")
    ).agg(
        F.sum(F.col("value").cast("decimal(18,4)"))
        .cast("decimal(18,4)")
        .alias("v")
    )
    # peak-hour blocking: pairs form only among users sharing the same
    # profile peak (deterministic argmax: max v, ties -> smallest h;
    # DECIMAL v makes the order engine-exact).  This bounds the pair
    # space to sum(block^2) instead of n_users^2 — the same
    # candidate-restriction role LSH banding plays for near-dup; the
    # recall loss is the blocking tradeoff and is part of the declared
    # semantics (the oracle blocks identically).
    peak = (
        b.withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("user_id").orderBy(F.col("v").desc(), F.col("h").asc())
            ),
        )
        .filter(F.col("rn") == 1)
        .select("user_id", F.col("h").alias("ph"))
    )
    bp = b.join(peak, "user_id")
    a_, b_ = bp.alias("a"), bp.alias("bb")
    p = (
        a_.join(
            b_,
            (F.col("a.h") == F.col("bb.h"))
            & (F.col("a.ph") == F.col("bb.ph"))
            & (F.col("a.user_id") < F.col("bb.user_id")),
        )
        .groupBy(
            F.col("a.user_id").alias("user_a"),
            F.col("bb.user_id").alias("user_b"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_buckets"),
            F.sum(F.col("a.v")).alias("sx"),
            F.sum(F.col("bb.v")).alias("sy"),
            F.sum(F.col("a.v") * F.col("bb.v")).alias("sxy"),
            F.sum(F.col("a.v") * F.col("a.v")).alias("sxx"),
            F.sum(F.col("bb.v") * F.col("bb.v")).alias("syy"),
        )
    )
    n = F.col("n_buckets").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxy, sxx, syy = (
        F.col("sxy").cast("double"),
        F.col("sxx").cast("double"),
        F.col("syy").cast("double"),
    )
    corr = F.round(
        (n * sxy - sx * sy)
        / F.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)),
        6,
    )
    return (
        p.withColumn("corr", corr)
        .filter(F.col("corr") >= 0.4)
        .select("user_a", "user_b", "n_buckets", "corr")
    )


@query(
    "q_join_skew_salted",
    oracle="""
    SELECT c_nationkey,
           count(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(30,4))) AS DOUBLE) AS total_value
    FROM events JOIN customer ON user_id = c_custkey
    GROUP BY c_nationkey
    """,
)
def q_join_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted skew join (operators/skew.py): the big side's join key is
    widened with a deterministic salt and the small side exploded per
    salt value, so one hotter-than-an-executor key spreads over 16
    shuffle partitions — the explicit fallback for the skew AQE's
    partition-splitting can't fix (AQE splits partitions, not keys).
    The oracle is the PLAIN join: salting must be invisible in the
    result."""
    from transitdata_hfp_deduplicator_spark.operators.skew import salted_join

    ev = _t(spark, sf_dir, "events").select("user_id", "value")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    joined = salted_join(ev, cust, [("user_id", "c_custkey")], salt_buckets=16)
    return joined.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("n_events"),
        dsum(F.col("value")).alias("total_value"),
    )


@query(
    "q_rollup_cascade",
    oracle="""
    WITH m AS (
        SELECT event_type,
               date_trunc('minute', ts) AS b,
               count(*) AS n,
               SUM(CAST(value AS DECIMAL(30,4))) AS sv
        FROM events GROUP BY 1, 2
    ),
    h AS (
        SELECT event_type, date_trunc('hour', b) AS b, SUM(n) AS n, SUM(sv) AS sv
        FROM m GROUP BY 1, 2
    ),
    d AS (
        SELECT event_type, date_trunc('day', b) AS b, SUM(n) AS n, SUM(sv) AS sv
        FROM h GROUP BY 1, 2
    )
    SELECT level, event_type, bucket_ms, n, total_value FROM (
        SELECT 'minute' AS level, event_type,
               CAST(epoch_ms(b) AS BIGINT) AS bucket_ms,
               CAST(n AS BIGINT) AS n, CAST(sv AS DOUBLE) AS total_value FROM m
        UNION ALL
        SELECT 'hour', event_type, CAST(epoch_ms(b) AS BIGINT),
               CAST(n AS BIGINT), CAST(sv AS DOUBLE) FROM h
        UNION ALL
        SELECT 'day', event_type, CAST(epoch_ms(b) AS BIGINT),
               CAST(n AS BIGINT), CAST(sv AS DOUBLE) FROM d
    )
    """,
)
def q_rollup_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-resolution time rollup (the hypertable continuous-
    aggregate pattern): minute → hour → day levels in ONE scan, each
    level re-aggregating the PREVIOUS level's (already tiny) output
    instead of the raw events.  At 100 TB the raw table is read once
    and shuffled once (minute grain); the hour and day exchanges move
    #minute-buckets and #hour-buckets rows — noise.  Decimal-routed
    sums make the cascade exactly associative (double re-aggregation
    would drift in the last ulp and break re-aggregability)."""
    ev = _t(spark, sf_dir, "events")
    m = (
        ev.groupBy("event_type", F.date_trunc("minute", "ts").alias("b"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(30,4)")).alias("sv"),
        )
        # materialize the minute grain ONCE (block-manager-backed, freed
        # when the frame drops): without it each union branch re-runs
        # the raw scan + minute aggregate — 3 scans of the 100 TB table
        # instead of 1 (verified: 0 ReusedExchanges in the naive plan).
        .localCheckpoint()
    )
    h = m.groupBy("event_type", F.date_trunc("hour", "b").alias("b")).agg(
        F.sum("n").alias("n"), F.sum("sv").alias("sv")
    )
    d = h.groupBy("event_type", F.date_trunc("day", "b").alias("b")).agg(
        F.sum("n").alias("n"), F.sum("sv").alias("sv")
    )

    def lvl(df: DataFrame, name: str) -> DataFrame:
        return df.select(
            F.lit(name).alias("level"),
            "event_type",
            F.unix_millis("b").alias("bucket_ms"),
            F.col("n").cast("long").alias("n"),
            F.col("sv").cast("double").alias("total_value"),
        )

    return lvl(m, "minute").unionAll(lvl(h, "hour")).unionAll(lvl(d, "day"))


def _z_interleave_sql(av: str, bv: str, bits: int) -> str:
    """DuckDB mirror of operators.layout.zvalue — generated, like the
    engine's term list, so the two stay structurally identical."""
    terms = [
        f"((({av} >> {i}) & 1) << {2 * i + 1}) + ((({bv} >> {i}) & 1) << {2 * i})"
        for i in range(bits)
    ]
    return " + ".join(terms)


@query(
    "q_zorder_layout",
    oracle=f"""
    WITH bounds AS (
        SELECT min(l_partkey) AS lo_a, max(l_partkey) AS hi_a,
               min(l_suppkey) AS lo_b, max(l_suppkey) AS hi_b
        FROM lineitem
    ),
    scaled AS (
        SELECT l.l_partkey AS a, l.l_suppkey AS b,
               /* span==0 guard mirrors operators.layout.zvalue
                  (layout.py:83): a degenerate column maps to 0 */
               CASE WHEN x.hi_a = x.lo_a THEN 0
                    ELSE CAST(floor((l.l_partkey - x.lo_a) * 1023 / (x.hi_a - x.lo_a)) AS BIGINT)
               END AS sa,
               CASE WHEN x.hi_b = x.lo_b THEN 0
                    ELSE CAST(floor((l.l_suppkey - x.lo_b) * 1023 / (x.hi_b - x.lo_b)) AS BIGINT)
               END AS sb
        FROM lineitem l CROSS JOIN bounds x
    ),
    zed AS (
        SELECT a, b, {_z_interleave_sql("sa", "sb", 10)} AS z
        FROM scaled
    )
    SELECT CAST(floor(z / 65536) AS BIGINT) AS file_id,
           count(*) AS n_rows,
           min(a) AS min_a, max(a) AS max_a,
           min(b) AS min_b, max(b) AS max_b
    FROM zed
    GROUP BY 1
    """,
)
def q_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) layout planner: interleave min/max-rescaled
    (l_partkey, l_suppkey) bits, split the curve into 16 equal-width
    files, report each file's min/max envelope on BOTH dimensions —
    the footer stats a ZORDER rewrite would produce, i.e. the pruning
    power of the layout (operators/layout.py).  Pure integer bit-math
    end-to-end, so DuckDB reproduces the curve exactly."""
    from transitdata_hfp_deduplicator_spark.operators.layout import (
        zorder_file_stats,
    )

    li = _t(spark, sf_dir, "lineitem")
    return zorder_file_stats(li, "l_partkey", "l_suppkey", n_files=16, bits=10)


@query(
    "q_compact_plan",
    oracle="""
    WITH files AS (
        SELECT CAST(floor(epoch(date_trunc('month', o_orderdate)))
                    AS BIGINT) AS month_s,
               CAST(floor(epoch(o_orderdate)) AS BIGINT) AS fday,
               count(*) AS n_rows
        FROM orders GROUP BY 1, 2
    ),
    sized AS (
        SELECT *,
               sum(n_rows) OVER (PARTITION BY month_s) AS total,
               count(*) OVER (PARTITION BY month_s) AS cnt
        FROM files
    ),
    small AS (
        SELECT month_s, fday, n_rows, (2 * total) // cnt AS cap,
               coalesce(sum(n_rows) OVER (
                   PARTITION BY month_s ORDER BY fday
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS prev
        FROM sized WHERE n_rows * 5 * cnt < total * 4
    )
    SELECT month_s, CAST(prev // cap AS BIGINT) AS job_id,
           CAST(count(*) AS BIGINT) AS n_files_in,
           CAST(sum(n_rows) AS BIGINT) AS rows_out, min(fday) AS min_day,
           max(fday) AS max_day
    FROM small GROUP BY month_s, prev // cap
    UNION ALL
    SELECT month_s, -fday AS job_id, CAST(1 AS BIGINT),
           CAST(n_rows AS BIGINT), fday, fday
    FROM sized WHERE NOT (n_rows * 5 * cnt < total * 4)
    """,
)
def q_compact_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction planner — the OTHER lakehouse OPTIMIZE
    mode beside the Z-order rewrite (q_zorder_layout): per partition
    (order month), files below 0.8x the partition's mean size are
    binned date-order into compaction jobs of ~2x-mean capacity
    (exclusive-prefix-sum div capacity — the q_seq_pack packing rule);
    files at/above the threshold pass through untouched as their own
    jobs (job_id = -fday keeps them in a disjoint deterministic
    namespace).  Emits per-job stats: file count, rows out, and the
    date envelope a manifest rewrite would carry.

    "Files" are modeled as per-day order counts — the driver-visible
    stand-in for parquet footer stats; the planner itself is the
    operator under test.  Thresholds are SCALE-INVARIANT and
    integer-exact: small iff n_rows * 5 * cnt < total * 4 (i.e.
    n_rows < 0.8 * mean without division), capacity (2*total) div cnt
    — all BIGINT, no float routes (Spark BIGINT `/` detours through
    double; `div` stays integer), so the plan hash-checks cell-exact.

    Scale shape: one month-keyed exchange serves BOTH windows (the
    unordered per-month totals and the ordered prefix sum — same
    partition key, sorts only); the pass-through branch re-reads the
    same windowed frame (file-stats-sized, not data-sized).  At 100 TB
    the file-stats table is the metadata layer (one row per file), so
    the whole plan is metadata-scale."""
    o = _t(spark, sf_dir, "orders")
    files = o.groupBy(
        F.date_trunc("month", "o_orderdate").cast("long").alias("month_s"),
        F.col("o_orderdate").cast("long").alias("fday"),
    ).agg(F.count(F.lit(1)).alias("n_rows"))
    wm = W.partitionBy("month_s")
    sized = files.withColumn("total", F.sum("n_rows").over(wm)).withColumn(
        "cnt", F.count(F.lit(1)).over(wm)
    )
    is_small = F.col("n_rows") * 5 * F.col("cnt") < F.col("total") * 4
    wp = (
        W.partitionBy("month_s")
        .orderBy("fday")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    small = (
        sized.filter(is_small)
        .withColumn("cap", F.expr("(2 * total) div cnt"))
        .withColumn(
            "prev", F.coalesce(F.sum("n_rows").over(wp), F.lit(0))
        )
        .withColumn("job_id", F.expr("prev div cap"))
    )
    packed = small.groupBy("month_s", "job_id").agg(
        F.count(F.lit(1)).alias("n_files_in"),
        F.sum("n_rows").alias("rows_out"),
        F.min("fday").alias("min_day"),
        F.max("fday").alias("max_day"),
    )
    passthrough = sized.filter(~is_small).select(
        "month_s",
        (-F.col("fday")).alias("job_id"),
        F.lit(1).cast("long").alias("n_files_in"),
        F.col("n_rows").alias("rows_out"),
        F.col("fday").alias("min_day"),
        F.col("fday").alias("max_day"),
    )
    return packed.unionByName(passthrough)


# ---------------------------------------------------------------------------
# Deterministic sampling / splits (operators/sampling.py)
# ---------------------------------------------------------------------------


@query(
    "q_split_hash",
    oracle="""
    WITH tagged AS (
        SELECT *,
               CASE WHEN (l_orderkey * 9973 + l_linenumber * 31) % 100 < 80
                    THEN 'train'
                    WHEN (l_orderkey * 9973 + l_linenumber * 31) % 100 < 90
                    THEN 'valid'
                    ELSE 'test' END AS split
        FROM lineitem
    )
    SELECT split, l_returnflag, count(*) AS n_rows,
           CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders,
           round(CAST(sum(CAST(l_extendedprice AS DECIMAL(30,4))) AS DOUBLE),
                 4) AS sum_price
    FROM tagged GROUP BY split, l_returnflag
    """,
)
def q_split_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible train/valid/test split: a multiplicative key hash
    assigns each lineitem a split independent of partitioning and RNG
    (operators/sampling.py), audited per stratum."""
    from transitdata_hfp_deduplicator_spark.operators.sampling import (
        hash_split,
        stratified_counts,
    )

    li = _t(spark, sf_dir, "lineitem")
    tagged = hash_split(li, ["l_orderkey", "l_linenumber"])
    audit = stratified_counts(tagged, "split", ["l_returnflag"])
    extra = tagged.groupBy("split", "l_returnflag").agg(
        F.countDistinct("l_orderkey").alias("n_orders"),
        F.round(dsum(F.col("l_extendedprice")), 4).alias("sum_price"),
    )
    return audit.join(extra, ["split", "l_returnflag"])


@query(
    "q_sample_stratified",
    oracle="""
    SELECT doc_id, lang, source,
           CAST(row_number() OVER (
               PARTITION BY lang, source
               ORDER BY (doc_id * 9973) % 1000003, doc_id
           ) AS INTEGER) AS pick_rank
    FROM documents
    QUALIFY pick_rank <= 3
    """,
)
def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified quota sampling: at most 3 documents per
    (lang, source) stratum, chosen bottom-k-by-key-hash
    (operators/sampling.py:stratified_quota_sample) — the deterministic
    corpus-mixing primitive ("N docs per domain"), reproducible across
    engines and partitionings, shrink-stable under smaller quotas."""
    from transitdata_hfp_deduplicator_spark.operators.sampling import (
        stratified_quota_sample,
    )

    d = _t(spark, sf_dir, "documents").select("doc_id", "lang", "source")
    return stratified_quota_sample(
        d, ["lang", "source"], ["doc_id"], quota=3
    ).select("doc_id", "lang", "source", "pick_rank")


@query(
    "q_sample_weighted",
    oracle="""
    WITH s AS (SELECT CAST(sum(n_chars) AS BIGINT) AS tw FROM documents),
    c AS (
        SELECT doc_id, CAST(n_chars AS BIGINT) AS w,
               sum(CAST(n_chars AS BIGINT)) OVER (ORDER BY doc_id) AS cum
        FROM documents
    ),
    t AS (SELECT doc_id, w, cum, cum - w AS cprev, tw FROM c, s),
    g AS (
        SELECT doc_id, w,
               (CASE WHEN 200 * cum - tw - 1 >= 0
                     THEN (200 * cum - tw - 1) // (2 * tw) + 1 ELSE 0 END)
             - (CASE WHEN 200 * cprev - tw - 1 >= 0
                     THEN (200 * cprev - tw - 1) // (2 * tw) + 1 ELSE 0 END)
                   AS n_picks
        FROM t
    )
    SELECT doc_id, w AS n_chars, CAST(n_picks AS BIGINT) AS n_picks
    FROM g WHERE n_picks >= 1
    """,
)
def q_sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling: k=100 systematic PPS picks
    (Madow 1949) with inclusion probability proportional to document
    length — the "sample by token mass, not by document count" corpus-
    prep primitive.  Weights lay end to end in doc order; k evenly
    spaced pointers select their landing rows; docs heavier than W/k
    can be hit multiple times (n_picks — true PPS semantics, the basis
    of weighted corpus mixing without replacement hacks).

    ENTIRELY integer arithmetic — the pointer test cross-multiplies,
    Efraimidis-Spirakis's u^(1/w) keys would ride pow/log (not
    correctly-rounded IEEE, engine-divergent in the last ulp) — so the
    whole sample hash-checks exactly.  The global cumulative sum runs
    as the range-sharded TWO-PASS form (operators/sampling.py::
    systematic_pps_sample): per-shard partials broadcast back as
    offsets, within-shard windows in parallel — never a
    single-partition global window."""
    from transitdata_hfp_deduplicator_spark.operators.sampling import (
        systematic_pps_sample,
    )

    d = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return systematic_pps_sample(d, "doc_id", "n_chars", k=100)


# ---------------------------------------------------------------------------
# Exact percentiles, ordered string agg, scalar subquery, histogram
# ---------------------------------------------------------------------------


@query(
    "q_percentile",
    oracle="""
    SELECT l_returnflag, count(*) AS n,
           quantile_cont(l_quantity, 0.25) AS q25,
           quantile_cont(l_quantity, 0.50) AS q50,
           quantile_cont(l_quantity, 0.75) AS q75,
           round(quantile_cont(l_extendedprice, 0.50), 4) AS median_price
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT percentiles (``percentile``, not ``percentile_approx``):
    quartiles of quantity + median price per return flag.  Exact
    percentile sorts within each group's hash-agg buffer — fine for
    bounded group counts; the sketch route is q_agg_approx."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.percentile("l_quantity", 0.25).alias("q25"),
        F.percentile("l_quantity", 0.50).alias("q50"),
        F.percentile("l_quantity", 0.75).alias("q75"),
        F.round(F.percentile("l_extendedprice", 0.50), 4).alias("median_price"),
    )


@query(
    "q_funnel",
    oracle="""
    WITH s1 AS (
        SELECT user_id, min(ts) AS t1 FROM events
        WHERE event_type = 'view' GROUP BY user_id
    ),
    s2 AS (
        SELECT e.user_id, min(e.ts) AS t2
        FROM events e JOIN s1 ON e.user_id = s1.user_id AND e.ts > s1.t1
        WHERE e.event_type = 'click' GROUP BY e.user_id
    ),
    s3 AS (
        SELECT e.user_id, min(e.ts) AS t3
        FROM events e JOIN s2 ON e.user_id = s2.user_id AND e.ts > s2.t2
        WHERE e.event_type = 'purchase' GROUP BY e.user_id
    )
    SELECT s1.user_id,
           CAST(floor(epoch(s1.t1)) AS BIGINT) AS view_s,
           CAST(floor(epoch(s2.t2)) AS BIGINT) AS click_s,
           CAST(floor(epoch(s3.t3)) AS BIGINT) AS purchase_s,
           CAST(CASE WHEN s3.t3 IS NOT NULL THEN 3
                     WHEN s2.t2 IS NOT NULL THEN 2
                     ELSE 1 END AS INTEGER) AS stage
    FROM s1
    LEFT JOIN s2 ON s1.user_id = s2.user_id
    LEFT JOIN s3 ON s2.user_id = s3.user_id
    """,
)
def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel (view -> click -> purchase), the
    product-analytics staple whose ORDER constraint plain conditional
    aggregation cannot express: step N's timestamp is the first
    qualifying event STRICTLY AFTER step N-1's — a user who clicked
    before ever viewing hasn't converted step 2.  Each step is a
    filtered per-user min(ts) seeded by the previous step's time, with
    left joins assembling per-user stage attribution.

    Scale shape: every aggregation and join in the cascade is keyed on
    user_id — one partitioning reused throughout (the filtered step
    scans prune on event_type at the parquet reader, so each pass
    reads one type's rows, not the corpus); the step tables shrink
    monotonically (funnel attrition), so the later joins carry only
    converting users.  An equivalent single-exchange form (collect each
    user's sorted events, walk once with an aggregate fold) trades the
    extra scans for per-user array state; the cascade keeps memory flat
    and lets the column reader do the filtering.  Hash-checked: integer
    epochs and stages, no float arithmetic."""
    e = _t(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    s1 = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    s2 = (
        e.filter(F.col("event_type") == "click")
        .join(s1.select("user_id", "t1"), "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    s3 = (
        e.filter(F.col("event_type") == "purchase")
        .join(s2.select("user_id", "t2"), "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    return (
        s1.join(s2, "user_id", "left")
        .join(s3, "user_id", "left")
        .select(
            "user_id",
            F.col("t1").cast("long").alias("view_s"),
            F.col("t2").cast("long").alias("click_s"),
            F.col("t3").cast("long").alias("purchase_s"),
            F.when(F.col("t3").isNotNull(), F.lit(3))
            .when(F.col("t2").isNotNull(), F.lit(2))
            .otherwise(F.lit(1))
            .cast("int")
            .alias("stage"),
        )
    )


@query(
    "q_anomaly_mad",
    oracle="""
    WITH med AS (
        SELECT event_type, round(quantile_cont(value, 0.5), 6) AS med
        FROM events GROUP BY event_type
    ),
    dev AS (
        SELECT e.event_id, e.event_type, e.value, med.med,
               abs(e.value - med.med) AS adev
        FROM events e JOIN med ON e.event_type = med.event_type
    ),
    mad AS (
        SELECT event_type, round(quantile_cont(adev, 0.5), 6) AS mad
        FROM dev GROUP BY event_type
    )
    SELECT dev.event_id, dev.event_type, dev.value,
           round(dev.adev / (1.4826 * mad.mad), 6) AS robust_z
    FROM dev JOIN mad ON dev.event_type = mad.event_type
    WHERE mad.mad > 0 AND dev.adev > 4.4478 * mad.mad
    """,
)
def q_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection via median absolute deviation — the
    quality-monitoring primitive that survives the heavy-tailed value
    distributions mean/stddev z-scores drown in (one extreme event
    drags the mean; the median and MAD barely move).  Per event type:
    med = median(value), MAD = median(|v - med|), outlier iff
    |v - med| > 3 * 1.4826 * MAD (1.4826 = the Gaussian consistency
    constant, so the threshold reads as "3 robust sigmas").

    HASH-CHECKED across engines: exact interpolated medians round to 6
    digits BEFORE re-entering arithmetic (Spark interpolates
    (1-g)*a + g*b, DuckDB a + (b-a)*g — up to 1 ulp apart; rounding
    re-synchronizes, the q_bm25 ln convention), after which every step
    (abs, subtract, one multiply, one divide) is a single IEEE
    operation with a final round.

    Scale shape: two tiny per-type aggregates (exact percentile sorts
    within each group's hash-agg buffer — group count is the type
    cardinality, bounded) BROADCAST back onto the event stream; the
    events table itself never shuffles — both passes are scans with a
    broadcast hash join, and the second scan reuses the first's
    columnar read.  At 100 TB swap exact percentile for the
    percentile_approx sketch (q_agg_approx) if type cardinality grows
    unbounded; the join shape is unchanged."""
    e = _t(spark, sf_dir, "events").select("event_id", "event_type", "value")
    med = e.groupBy("event_type").agg(
        F.round(F.percentile("value", 0.5), 6).alias("med")
    )
    dev = e.join(F.broadcast(med), "event_type").select(
        "event_id",
        "event_type",
        "value",
        F.abs(F.col("value") - F.col("med")).alias("adev"),
    )
    mad = dev.groupBy("event_type").agg(
        F.round(F.percentile("adev", 0.5), 6).alias("mad")
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .filter(
            (F.col("mad") > 0) & (F.col("adev") > 4.4478 * F.col("mad"))
        )
        .select(
            "event_id",
            "event_type",
            "value",
            F.round(F.col("adev") / (1.4826 * F.col("mad")), 6).alias(
                "robust_z"
            ),
        )
    )


@query(
    "q_string_agg",
    oracle="""
    SELECT n.n_name,
           count(*) AS n_customers,
           string_agg(c.c_name, '|' ORDER BY c.c_name) AS names
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE c.c_mktsegment = 'BUILDING'
    GROUP BY n.n_name
    """,
)
def q_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (LISTAGG): building-segment customer
    names per nation, sorted then joined — collect_list is unordered
    in a distributed agg, so the deterministic form is
    array_sort-then-join."""
    cu = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    na = _t(spark, sf_dir, "nation")
    return (
        cu.join(F.broadcast(na), cu.c_nationkey == na.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.array_join(F.array_sort(F.collect_list("c_name")), "|").alias("names"),
        )
    )


@query(
    "q_subquery_scalar",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice,
           (SELECT CAST(sum(CAST(o2.o_totalprice AS DECIMAL(30,4)))
                        AS DOUBLE) / count(*)
            FROM orders o2 WHERE o2.o_custkey = o.o_custkey) AS cust_avg
    FROM orders o
    WHERE o_totalprice >
          (SELECT CAST(sum(CAST(o2.o_totalprice AS DECIMAL(30,4)))
                       AS DOUBLE) / count(*)
           FROM orders o2 WHERE o2.o_custkey = o.o_custkey)
    """,
)
def q_subquery_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery, Spark-first: the per-customer
    average is a grouped aggregate joined back on the key (Catalyst
    de-correlates the SQL form into exactly this plan), then a filter
    against the correlated value."""
    o = _t(spark, sf_dir, "orders")
    ca = o.groupBy("o_custkey").agg(
        davg(F.col("o_totalprice"), F.count(F.lit(1))).alias("cust_avg")
    )
    return (
        o.join(ca, "o_custkey")
        .filter(F.col("o_totalprice") > F.col("cust_avg"))
        .select("o_orderkey", "o_custkey", "o_totalprice", "cust_avg")
    )


_RCTE_SQL = """
    WITH RECURSIVE walk(root, node, depth) AS (
        SELECT p_partkey, p_partkey, 0 FROM {part} WHERE p_partkey < 10
        UNION ALL
        SELECT w.root, p.p_partkey, w.depth + 1
        FROM walk w
        JOIN {part} p
          ON CAST(floor(p.p_partkey / 10) AS BIGINT) = w.node
         AND p.p_partkey >= 10
    )
    SELECT root,
           CAST(count(*) AS BIGINT) AS n_nodes,
           max(depth) AS max_depth,
           round(CAST(sum(CAST(p.p_retailprice AS DECIMAL(30,4)))
                      AS DOUBLE), 4) AS subtree_price
    FROM walk JOIN {part} p ON p.p_partkey = walk.node
    GROUP BY root
"""


@query("q_recursive_cte", oracle=_RCTE_SQL.format(part="part"))
def q_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (Spark 4.x WITH RECURSIVE): hierarchical subtree
    rollup over the implicit decimal-digit part forest (parent(p) =
    floor(p/10), roots p < 10) — the BOM-explosion / org-chart shape
    that windows cannot express (a subtree aggregate needs the
    transitive closure).  The recursive step is restricted to
    p_partkey >= 10 — partkey 0 exists in the data and floor(0/10) = 0
    is a self-loop that would recurse forever (roots are the sub-10
    keys, so excluding them from the CHILD side loses nothing);
    parents are then strictly smaller than children, the recursion is
    provably acyclic, depth ~ log10(|part|); Spark executes it as an
    iterated UNION loop (UnionLoop) with the per-step join planned by
    Catalyst, and DuckDB runs the IDENTICAL statement — engine and
    oracle share the SQL text itself.  Depth stays far under
    spark.sql.cteRecursionLevelLimit (100)."""
    part = _t(spark, sf_dir, "part")
    part.createOrReplaceTempView("part_rcte_v")
    return spark.sql(_RCTE_SQL.format(part="part_rcte_v"))


def _pagerank_iter_sql(i: int) -> str:
    """One PageRank iteration as DuckDB CTEs — generated like the
    engine's loop so oracle and engine stay structurally identical."""
    return f"""
    c{i} AS (
        SELECT e.dst AS v,
               CAST(SUM(CAST(floor(r{i - 1}.r / deg.d * 1e12 + 0.5)
                             AS BIGINT)) AS DOUBLE) / 1e12 AS s
        FROM edges e
        JOIN r{i - 1} ON r{i - 1}.v = e.src
        JOIN deg ON deg.src = e.src
        GROUP BY e.dst
    ),
    r{i} AS (
        SELECT nodes.v, 0.15 / nn.n + 0.85 * coalesce(c{i}.s, 0.0) AS r
        FROM nodes CROSS JOIN nn
        LEFT JOIN c{i} ON c{i}.v = nodes.v
    )"""


@query(
    "q_graph_pagerank",
    oracle=f"""
    WITH edges AS (
        SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
        FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
        WHERE a.l_partkey <> b.l_partkey
    ),
    deg AS (SELECT src, count(*) AS d FROM edges GROUP BY src),
    nodes AS (SELECT DISTINCT l_partkey AS v FROM lineitem),
    nn AS (SELECT count(*) AS n FROM nodes),
    r0 AS (SELECT v, 1.0 / nn.n AS r FROM nodes CROSS JOIN nn),
    {",".join(_pagerank_iter_sql(i) for i in (1, 2, 3))}
    SELECT v AS part_id, round(r, 10) AS pr
    FROM r3
    """,
)
def q_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank, 3 power iterations over the part co-purchase graph
    (parts sharing an order, both directions) — the iterative-graph
    representative alongside connected components (q_dedup_clusters):
    rank flows along edges as r/out_degree, damping 0.85, teleport
    0.15/n.  The no-dangling-redistribution variant: co-purchase edges
    are symmetric so every connected node has out-degree >= 1;
    never-co-purchased parts keep teleport mass only (a documented,
    mirrored simplification).

    HASH-CHECKED: per-edge contributions quantize to FIXED-POINT 1e-12
    units — floor(x*1e12 + 0.5) as BIGINT, summed exactly as integers
    (order-free by construction; the per-dst mass bound < 1 keeps the
    sum < 1e12, inside double-exact range for the final /1e12) — every
    scalar step is single IEEE arithmetic, so all three iterations
    reproduce bit-for-bit in DuckDB.  The integer spelling is also the
    FAST one: a DECIMAL(30,14)-routed sum measured 8.3s vs 1.2s per
    iteration at sf0.1 (Spark's round(x, d) on doubles goes through
    BigDecimal per row; floor(+0.5) stays in codegen'd double math).

    Scale shape: edges build ONCE from per-order part arrays — one
    orderkey exchange, the pair explosion bounded by order size (never
    corpus-quadratic; measured 2.0s vs 3.2s for the equivalent
    self-join at sf0.1) — with each src's out-degree attached at build
    (a src-keyed window), so iterations carry no degree join at all;
    each iteration is then one src-keyed join of the persisted edge
    table with the node-sized rank table plus one dst-keyed partial-agg
    exchange (20k combined rows cross the wire, not 2.4M).  The rank
    chain is deliberately NOT checkpointed per round — unlike k-means
    (where every iteration fans out to 2+ consumers), each rank table
    here is consumed exactly once, so the unrolled lineage is LINEAR
    and Catalyst plans all 3 iterations as one job (measured 3.5s vs
    14s warm at sf0.1 with per-round localCheckpoints, whose eager
    materialization serialized every iteration into its own job).  At
    100 TB you bucket edges by src and the per-iteration cost is two
    co-located exchanges; checkpoint only if the iteration count grows
    past plan-depth comfort."""
    # One KEYED, NUMBERED repartition replaces spread()'s round-robin:
    # it spreads the single-split scan (guide §2.5) AND pre-partitions
    # for the orderkey groupBy, which reuses the exchange (§2.4) — one
    # exchange where spread+groupBy planned two.  Numbered, so AQE
    # can't size the aggregation stage by its kilobyte shuffle input
    # and serialize the |ps|² pair explosion that runs IN that stage
    # (measured: 6-task 0.87s explosion stage while 26 cores idled);
    # defaultParallelism scales with the cluster.
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    li = li.repartition(spark.sparkContext.defaultParallelism, "l_orderkey")
    grp = li.groupBy("l_orderkey").agg(
        F.collect_set("l_partkey").alias("ps")
    )
    edges = (
        _order_pair_rows(grp)  # skew-capped |ps|² explosion (guide §2.5)
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .withColumn("d", F.count(F.lit(1)).over(W.partitionBy("src")))
        # localCheckpoint, not persist: 3 consumers (one per iteration),
        # materialized once, lineage cut, and the blocks free via the
        # ContextCleaner when the frame drops — an unpersist() here
        # would fire BEFORE the returned (lazy) plan executes
        .localCheckpoint()
    )
    nodes = li.select(F.col("l_partkey").alias("v")).distinct().localCheckpoint()
    nn = nodes.agg(F.count(F.lit(1)).alias("n")).localCheckpoint()
    # The rank table (and the contrib table it derives, grouped by dst)
    # has at most one row per node, so ONE measured count of the
    # checkpointed node list gates every per-iteration broadcast — the
    # q_graph_labelprop doctrine.  Broadcasting the node-sized side (a)
    # stops Spark's auto-threshold from broadcasting the EDGE table
    # three times (3x collect+build of the ~|E|-row hashed relation on
    # the driver) and (b) turns the per-iteration carry join into a
    # BroadcastHashJoin, deleting the 3 node-sized SortMergeJoins and
    # their sort+exchange pairs.  Above the gate (lake scale) both joins
    # fall back to the keyed shuffle plans — still edge-linear.
    _bcast = (
        F.broadcast
        if nodes.count() <= _DEG_BROADCAST_MAX_NODES
        else (lambda df: df)
    )
    r = nodes.crossJoin(F.broadcast(nn)).select(
        "v", (F.lit(1.0) / F.col("n")).alias("r")
    )
    for _ in range(3):
        contrib = (
            edges.join(_bcast(r.withColumnRenamed("v", "src")), "src")
            .groupBy(F.col("dst").alias("cv"))
            .agg(
                (
                    F.sum(
                        F.floor(
                            F.col("r") / F.col("d") * 1e12 + F.lit(0.5)
                        ).cast("bigint")
                    ).cast("double")
                    / F.lit(1e12)
                ).alias("s")
            )
        )
        r = (
            nodes.crossJoin(F.broadcast(nn))
            .join(_bcast(contrib), F.col("v") == F.col("cv"), "left")
            .select(
                "v",
                (
                    F.lit(0.15) / F.col("n")
                    + F.lit(0.85) * F.coalesce(F.col("s"), F.lit(0.0))
                ).alias("r"),
            )
        )
    return r.select(F.col("v").alias("part_id"), F.round("r", 10).alias("pr"))


@query(
    "q_skyline",
    oracle="""
    SELECT o_orderkey, round(o_totalprice, 4) AS price,
           CAST(floor(epoch(o_orderdate)) AS BIGINT) AS odate
    FROM (
        SELECT o_orderkey, o_totalprice, o_orderdate,
               max(o_orderdate) OVER (
                   ORDER BY o_totalprice DESC, o_orderdate DESC, o_orderkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ) AS pmax
        FROM orders
    )
    WHERE pmax IS NULL OR o_orderdate > pmax
    """,
)
def q_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline (Pareto frontier, Börzsönyi et al. ICDE'01): orders
    not dominated on (totalprice, orderdate) — maximize both; exact
    ties keep the lowest key.  The classic sort-based reduction: ordered
    by (price desc, date desc, key), a row is dominated iff the running
    max of dates over all PRECEDING rows reaches its date — every
    preceding row has >= price, so a >= date there witnesses dominance;
    one pass, no pairwise comparisons (the NOT EXISTS formulation is
    corpus-quadratic).

    Scale shape: the global running max — normally a single-partition
    window, the classic scale-killer — runs as the range-sharded
    TWO-PASS form (the systematic_pps_sample cumsum discipline): rows
    shard by price range (all equal prices land in one shard, so the
    tie-order never crosses a boundary), pass 1 reduces one (max-date)
    row per shard and broadcasts cumulative offsets, pass 2 windows
    WITHIN each shard in parallel; a row survives iff its date beats
    greatest(shard offset, within-shard running max)."""
    shards = 32
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderdate"
    )
    stats = o.agg(
        F.min("o_totalprice").alias("lo"), F.max("o_totalprice").alias("hi")
    )
    d = o.crossJoin(F.broadcast(stats)).withColumn(
        "shard",
        F.when(F.col("hi") == F.col("lo"), F.lit(0))  # degenerate span
        .otherwise(
            # two-sided clamp: floor(...) >= 0 already holds (price <=
            # hi by construction), but the greatest(0, ...) makes the
            # bounded domain STRUCTURAL — the plan audit cannot see
            # that price <= hi, only that the clamp closes both ends
            F.least(
                F.lit(shards - 1),
                F.greatest(
                    F.lit(0),
                    F.floor(
                        (F.col("hi") - F.col("o_totalprice"))
                        / (F.col("hi") - F.col("lo"))
                        * shards
                    ),
                ),
            )
        )
        .cast("bigint"),
    )
    # pass 1: per-shard max date -> exclusive cumulative offsets (tiny)
    sh = (
        d.groupBy("shard")
        .agg(F.max("o_orderdate").alias("md"))
        .withColumn(
            "off",
            F.max("md").over(
                W.orderBy("shard").rowsBetween(W.unboundedPreceding, -1)
            ),
        )
        .select("shard", "off")
    )
    # pass 2: within-shard running max, all shards in parallel
    win = (
        W.partitionBy("shard")
        .orderBy(
            F.col("o_totalprice").desc(),
            F.col("o_orderdate").desc(),
            F.col("o_orderkey"),
        )
        .rowsBetween(W.unboundedPreceding, -1)
    )
    scored = (
        d.join(F.broadcast(sh), "shard")
        .withColumn("wmax", F.max("o_orderdate").over(win))
        .withColumn("pmax", F.greatest("off", "wmax"))
    )
    return scored.filter(
        F.col("pmax").isNull() | (F.col("o_orderdate") > F.col("pmax"))
    ).select(
        "o_orderkey",
        F.round("o_totalprice", 4).alias("price"),
        F.col("o_orderdate").cast("long").alias("odate"),
    )


@query(
    "q_histogram",
    oracle="""
    WITH stats AS (
        SELECT min(o_totalprice) AS mn, max(o_totalprice) AS mx FROM orders
    )
    SELECT CAST(least(floor((o_totalprice - mn) / (mx - mn) * 20), 19)
                AS BIGINT) AS bucket,
           count(*) AS n_orders,
           round(CAST(sum(CAST(o_totalprice AS DECIMAL(30,4))) AS DOUBLE),
                 4) AS sum_price
    FROM orders, stats
    GROUP BY bucket
    """,
)
def q_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram of order value: global min/max (tiny agg,
    broadcast back) then 20-bucket binning — the profiling primitive
    behind quality-score distributions."""
    o = _t(spark, sf_dir, "orders")
    stats = o.agg(
        F.min("o_totalprice").alias("mn"), F.max("o_totalprice").alias("mx")
    )
    binned = o.crossJoin(F.broadcast(stats)).select(
        F.least(
            F.floor(
                (F.col("o_totalprice") - F.col("mn"))
                / (F.col("mx") - F.col("mn"))
                * 20
            ),
            F.lit(19),
        ).alias("bucket"),
        "o_totalprice",
    )
    return binned.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(dsum(F.col("o_totalprice")), 4).alias("sum_price"),
    )


# Size gate for broadcasting the degree table (VERDICT r11 #3): the
# table scales with DISTINCT NODES, i.e. with the corpus, so an
# unconditional hint is the driver-OOM class assert_no_broadcast_join
# rejects — but below this cap (~64 MB at 16 B/row) broadcast is always
# safe and saves two edge-sized exchanges.  The decision uses the
# MEASURED count of the checkpointed table, not a planner estimate:
# the unhinted plan at the 500k-node stress scale fell back to a
# sort-merge join on an 8 MB table (35.8s -> 94.4s) because the
# aggregate's size ESTIMATE overshot the broadcast threshold.  Above
# the cap the node-keyed shuffle join on u then v is exactly the plan
# we want at lake scale — two exchanges, still edge-linear.
_DEG_BROADCAST_MAX_NODES = 4_000_000

# q_graph_triangles' adjacency table: one row per distinct source node,
# but its array payload totals exactly one 8-byte long per ORIENTED
# EDGE — so the gate counts edges, not rows, for the same ~64 MB
# broadcast byte budget as the degree gate (guide §3.1).
_ADJ_BROADCAST_MAX_EDGES = 4_000_000

# q_dedup_fuzzy's hot-variant rows are ~25-char strings (~32 B), twice
# the two-long degree-row width the default cap is sized for — halve
# the row cap so the gate keeps meaning the same ~64 MB of broadcast
# bytes (ADVICE r12 #2).
_FUZZY_BROADCAST_MAX_VARIANTS = 2_000_000

# Per-order pair-explosion skew cap (guide §2.5 skew; VERDICT r14 #4):
# the co-purchase edge build emits all |ps|² part pairs of one order
# INSIDE one row's transform() — a single hot order (a 10⁵-part basket
# at lake scale) would build a 10¹⁰-struct array in ONE task and OOM
# it.  Orders above the cap take a CHUNKED arm (_order_pair_rows): ps
# splits into ⌈n/cap⌉ slices, slice PAIRS become rows, an
# unconditional round-robin repartition spreads them (spread()'s
# identity guard would leave a hot order's slice rows in its one
# orderkey partition), and each row then explodes ≤ cap² pairs — both
# per-row memory and per-task fan-out bounded by cap² (≈ 2 MB of pair
# structs at 256).  The gate is STATIC, not a measured count: a
# measured max-degree probe would cost one full scan+groupBy job at
# CONSTRUCTION time (an eager corpus pass per graph query at lake
# scale), while the static big arm is simply empty below the cap
# (every TPC-H order: |ps| ≤ 7) and fails CLOSED at lake scale.  The
# two arms are pinned row-identical in tests/test_plans.py.
_ORDER_PAIR_CAP = 256


def _order_pair_rows(
    grp: DataFrame, ordered: bool = False, cap: int | None = None
) -> DataFrame:
    """Per-order part-pair rows from ``grp = (l_orderkey, ps)``.

    ``ordered=False``: every ordered pair (src, dst) including the
    diagonal — callers filter ``src != dst`` (the pagerank/labelprop
    spelling).  ``ordered=True``: strictly-increasing (u, v) pairs
    over the SORTED ps (the triangles spelling).  The output row
    multiset is exactly the single-transform explosion's, independent
    of ``cap`` (pinned in tests).  The two arms share the orderkey
    exchange via plan-identical subtrees (exchange reuse), so no
    persist of the corpus-sized grp is needed.
    """
    if cap is None:
        cap = _ORDER_PAIR_CAP  # read at call time so tests can repatch
    a, b = ("u", "v") if ordered else ("src", "dst")
    if ordered:
        small_pairs = F.expr(
            f"flatten(transform(ps, (x, i) -> transform("
            f"slice(ps, i + 2, size(ps)), y -> struct(x as {a}, y as {b}))))"
        )
    else:
        small_pairs = F.expr(
            f"flatten(transform(ps, x -> transform(ps, "
            f"y -> struct(x as {a}, y as {b}))))"
        )
    small = (
        grp.filter(F.size("ps") <= cap)
        .select(F.explode(small_pairs).alias("p"))
        .select(f"p.{a}", f"p.{b}")
    )
    # chunked arm: ⌈n/cap⌉ slices; slice pairs as ROWS.  For ordered
    # pairs only jx <= jy slice pairs can hold u < v (ps sorted), and
    # the x < y filter is then only live on the jx == jy diagonal.
    chunks = F.expr(
        f"transform(sequence(0, (size(ps)-1) div {cap}),"
        f" i -> slice(ps, i*{cap}+1, {cap}))"
    )
    cross = F.expr(
        f"flatten(transform(cx, x -> transform(cy, "
        f"y -> struct(x as {a}, y as {b}))))"
    )
    big = (
        grp.filter(F.size("ps") > cap)
        .select(F.posexplode(chunks).alias("jx", "cx"), F.col("ps"))
        .select("jx", "cx", F.posexplode(chunks).alias("jy", "cy"))
    )
    if ordered:
        big = big.filter(F.col("jx") <= F.col("jy"))
    big = (
        big.select("cx", "cy")
        .repartition(grp.sparkSession.sparkContext.defaultParallelism)
        .select(F.explode(cross).alias("p"))
        .select(f"p.{a}", f"p.{b}")
    )
    if ordered:
        big = big.filter(F.col(a) < F.col(b))
    return small.unionAll(big)


def _broadcast_if_small(df: DataFrame, max_rows: int | None = None) -> DataFrame:
    """Measured-count size gate (the VERDICT r11 #3 doctrine, applied
    as a class): broadcast a corpus-scaled join side only when its
    ACTUAL row count fits the cap — a pinned hint is a driver OOM at
    lake scale, and an unhinted join trusts a size ESTIMATE that the
    500k-node triangles stress showed can overshoot 2.6x into a
    sort-merge join of an 8 MB table.  The caller must pass a
    MATERIALIZED (checkpointed) frame so the count is a cheap scan,
    not a recompute.

    The default cap assumes ~16 B/row (two longs — the degree and
    labelprop tables); a caller whose rows are wider must pass an
    explicit ``max_rows`` scaled down by its row width so the cap
    keeps meaning the same ~64 MB of broadcast bytes (q_dedup_fuzzy's
    ~25-char variant strings pass 2M for this reason)."""
    cap = _DEG_BROADCAST_MAX_NODES if max_rows is None else max_rows
    return F.broadcast(df) if df.count() <= cap else df


def _oriented_edges(e0: DataFrame) -> DataFrame:
    """Degree-orient an undirected (u, v) edge list: every edge flows
    from the lower (degree, id) endpoint to the higher, bounding
    out-degrees at O(sqrt(|E|)).  The degree joins are SIZE-GATED, not
    pinned: the degree table is checkpointed (also deduplicating its
    computation across the u- and v-joins) and broadcast only when its
    MEASURED row count fits _DEG_BROADCAST_MAX_NODES
    (tests/test_plans.py::test_graph_triangles_degree_join_size_gated
    pins both arms).  Factored out of q_graph_triangles so the plan
    test can inspect the join strategy BEFORE the eager
    localCheckpoint hides it."""
    deg = (
        e0.select(F.col("u").alias("node"))
        .unionAll(e0.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
        .localCheckpoint()  # 2 consumers + the measured-count size gate
    )
    deg = _broadcast_if_small(deg)
    lower = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    return (
        e0.join(deg.select(F.col("node").alias("u"),
                           F.col("d").alias("du")), "u")
        .join(deg.select(F.col("node").alias("v"),
                         F.col("d").alias("dv")), "v")
        .select(
            F.when(lower, F.col("u")).otherwise(F.col("v")).alias("s"),
            F.when(lower, F.col("v")).otherwise(F.col("u")).alias("t"),
        )
    )


@query(
    "q_graph_triangles",
    oracle="""
    WITH e0 AS (
        SELECT DISTINCT least(a.l_partkey, b.l_partkey) AS u,
                        greatest(a.l_partkey, b.l_partkey) AS v
        FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
        WHERE a.l_partkey <> b.l_partkey
    ),
    deg AS (
        SELECT x AS node, count(*) AS d
        FROM (SELECT u AS x FROM e0 UNION ALL SELECT v AS x FROM e0)
        GROUP BY x
    ),
    o AS (
        SELECT CASE WHEN du.d < dv.d OR (du.d = dv.d AND u < v)
                    THEN u ELSE v END AS s,
               CASE WHEN du.d < dv.d OR (du.d = dv.d AND u < v)
                    THEN v ELSE u END AS t,
               CASE WHEN du.d < dv.d OR (du.d = dv.d AND u < v)
                    THEN dv.d ELSE du.d END AS dt
        FROM e0
        JOIN deg du ON du.node = e0.u
        JOIN deg dv ON dv.node = e0.v
    ),
    tri AS (
        SELECT e1.s AS a, e1.t AS b, e2.t AS c
        FROM o e1
        JOIN o e2 ON e1.s = e2.s
                 AND (e1.dt < e2.dt OR (e1.dt = e2.dt AND e1.t < e2.t))
        JOIN o e3 ON e3.s = e1.t AND e3.t = e2.t
    ),
    pernode AS (
        SELECT x AS part_id, count(*) AS n_tri
        FROM (SELECT a AS x FROM tri UNION ALL SELECT b AS x FROM tri
              UNION ALL SELECT c AS x FROM tri)
        GROUP BY x
    )
    SELECT part_id, n_tri FROM pernode
    """,
)
def q_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vertex triangle counting over the part co-purchase graph —
    the clustering-coefficient / community-density primitive beside
    PageRank (flow) and connected components (reachability).  Classic
    degree-oriented edge iterator (Cohen 2009 / Suri & Vassilvitskii
    WWW'11 "node-iterator++", adjacency-array form): orient every
    undirected edge from the lower (degree, id) endpoint to the higher,
    attach each endpoint's oriented out-neighbor ARRAY to the edge, and
    intersect the two arrays JVM-side (``array_intersect``) — each
    common out-neighbor c closes the triangle (s, b, c).  A triangle is
    found EXACTLY once, at its oriented edge s->b (c is an out-neighbor
    of both only when s is the lowest-rank corner: b->c orients c out
    of b, and s->b, s->c orient both out of s), then credited to all
    three corners.

    Orientation is the first trick at scale: out-degrees under the
    (degree, id) order are O(sqrt(|E|))-bounded for any graph, so the
    per-edge intersection work is sum(outdeg^2) << sum(deg^2) — an
    unoriented wedge join explodes on hub vertices (a degree-10k hub
    contributes 1e8 unoriented wedges but only its sqrt-bounded
    oriented share; tools/stress_triangles.py plants a 500k-degree hub
    to prove the asymmetry).  The adjacency-array form is the second:
    the earlier wedge-join + (b,c)-keyed closing-probe formulation
    pushed EVERY wedge through an exchange (41M wedge rows vs 1.9M
    triangles at sf0.1 — 9s of pure shuffle); here wedges never
    materialize at all — the exchanges carry oriented edges with
    neighbor-array payloads (sum(outdeg^2) longs as compact array
    bytes, no per-wedge row overhead), and the intersection streams
    straight into the per-vertex partial agg.

    Scale shape: edges build once from per-order sorted part arrays
    (one orderkey exchange; the index-slice transform emits only u < v
    pairs — no diagonal, no post-filter); degrees are one node-keyed
    partial-agg exchange; the degree joins onto the edge list are
    SIZE-GATED (_oriented_edges): the degree table scales with distinct
    nodes, i.e. with the corpus, so an unconditional hint is exactly
    the driver-OOM class `plans/inspect.py::assert_no_broadcast_join`
    exists to reject (VERDICT r11 #3) — instead the checkpointed
    table's MEASURED row count decides: broadcast under
    _DEG_BROADCAST_MAX_NODES (bench and stress scales), a node-keyed
    shuffle join on u then v above it — two exchanges, still
    edge-linear at 100 TB
    (tests/test_plans.py::test_graph_triangles_degree_join_size_gated
    pins both arms); the adjacency table groupBys on s and joins
    back co-partitioned, so the only added exchange is the b-keyed one
    carrying ns arrays.  Hash-checked: pure integer counting."""
    # keyed numbered repartition: spreads the single-split scan AND
    # pre-partitions for the orderkey groupBy (one exchange, reused —
    # guide §2.4/§2.5), pinned so AQE can't coalesce the stage running
    # the pair explosion down to its kilobyte shuffle-input width
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    li = li.repartition(spark.sparkContext.defaultParallelism, "l_orderkey")
    grp = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("l_partkey")).alias("ps")
    )
    e0 = (
        _order_pair_rows(grp, ordered=True)  # skew-capped (guide §2.5)
        .distinct()
        .localCheckpoint()  # 2 consumers (degree build + orientation)
    )
    o = _oriented_edges(e0).localCheckpoint()  # 2 consumers (adjacency
    #                                            build + edge probe)
    adj = o.groupBy("s").agg(F.collect_list("t").alias("ns"))
    # Size-gated broadcast of the adjacency table (the
    # _broadcast_if_small doctrine, gated on the MEASURED count of the
    # checkpointed oriented-edge list — adj's total payload is exactly
    # one long per oriented edge, so the edge count IS its byte size:
    # 8 B/edge, _ADJ_BROADCAST_MAX_EDGES = 4M ≈ the same ~64 MB budget
    # as the degree gate).  Below the gate both probe joins become
    # BroadcastHashJoins, deleting the two edge-sized SortMergeJoin
    # exchange+sort pairs — the second of which reshuffled (s, b, ns)
    # rows WITH their neighbor-array payloads on b.  Above it (lake
    # scale) the keyed shuffle joins return unchanged.
    if o.count() <= _ADJ_BROADCAST_MAX_EDGES:
        adj = F.broadcast(adj)
    tri = (
        o.join(adj, "s")
        .select("s", F.col("t").alias("b"), "ns")
        .join(adj.select(F.col("s").alias("b"), F.col("ns").alias("nb")),
              "b")
        .select(
            "s", "b", F.explode(F.array_intersect("ns", "nb")).alias("c")
        )
    )
    # credit all three corners by exploding ONE array per triangle —
    # semantically the 3-way unionAll of s/b/c projections, but that
    # spelling plans the tri subtree THREE times: exchanges are reused,
    # the post-shuffle SMJ sorts and the array_intersect Generate are
    # not (12 sorts / 3 intersection passes at sf0.1 vs 4 / 1 here;
    # measured 4.6s -> 4.1s isolated-warm — the checkpointed edge
    # build dominates locally, but at 100 TB the intersect pass IS the
    # query, and this runs it once instead of three times)
    return (
        tri.select(F.explode(F.array("s", "b", "c")).alias("part_id"))
        .groupBy("part_id")
        .agg(F.count(F.lit(1)).alias("n_tri"))
    )


def _labelprop_iter_sql(i: int) -> str:
    """One synchronous label-propagation iteration as DuckDB CTEs —
    generated like the engine's loop so oracle and engine stay
    structurally identical (the q_graph_pagerank discipline)."""
    return f"""
    cnt{i} AS (
        SELECT e.dst AS v, l{i - 1}.lbl AS lbl, count(*) AS n
        FROM edges e JOIN l{i - 1} ON l{i - 1}.v = e.src
        GROUP BY e.dst, l{i - 1}.lbl
    ),
    win{i} AS (
        SELECT v, (min({{'nn': -n, 'l': lbl}})).l AS lbl
        FROM cnt{i} GROUP BY v
    ),
    l{i} AS (
        SELECT n.v, coalesce(w.lbl, n.v) AS lbl
        FROM nodes n LEFT JOIN win{i} w ON w.v = n.v
    )"""


@query(
    "q_graph_labelprop",
    oracle=f"""
    WITH edges AS (
        SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
        FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
        WHERE a.l_partkey <> b.l_partkey
    ),
    nodes AS (SELECT DISTINCT l_partkey AS v FROM lineitem),
    l0 AS (SELECT v, v AS lbl FROM nodes),
    {",".join(_labelprop_iter_sql(i) for i in (1, 2, 3))}
    SELECT v AS part_id, lbl AS community FROM l3
    """,
)
def q_graph_labelprop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by label propagation (Raghavan et al. 2007),
    3 SYNCHRONOUS iterations over the part co-purchase graph — the
    fourth graph-family member beside PageRank (flow), connected
    components (reachability), and triangles (density).  Every node
    starts as its own label; each iteration every node adopts the most
    frequent label among its neighbors, ties broken by the SMALLEST
    label — the deterministic variant (classic LPA visits nodes in
    random order; synchronous + min-tie-break makes the fixpoint
    reproducible, which is what a data pipeline needs and what lets
    DuckDB reproduce it bit-for-bit).

    Per iteration: ZERO edge-sized exchanges.  The edge list ends in
    ``repartition("dst")`` — NOT checkpointed: a localCheckpoint's
    LogicalRDD DROPS outputPartitioning (verified in the plan), while
    keeping the repartition in-plan lets AQE reuse one shuffle across
    all three iterations AND keeps HashPartitioning(dst) visible, which
    satisfies the clustering of BOTH aggregations — the (dst, label)
    count (its groups are edge-bounded in iteration 1, where partial
    aggregation cannot collapse anything: that exchange was the whole
    cost) and the per-dst argmax (lexicographic struct min, reduced to
    a node-sized winner table before the carry join, whose probe side
    is ALSO already dst-partitioned).  The node-sized label table
    broadcasts onto the edges when the MEASURED node count fits the
    _DEG_BROADCAST_MAX_NODES gate (node-scaled = corpus-scaled, so an
    unconditional hint is the driver-OOM class the r12 triangles fix
    removed; one count of the checkpointed node list gates all three
    iterations), and then the join and both aggs fuse into one stage
    (measured 14s -> ~5.5s at sf0.1; the naive per-iteration groupBy
    shuffled 2.4M count rows twice).  At 100 TB the gate fails closed:
    the join becomes src-keyed against a second src-partitioned edge
    copy and the count exchange returns — still edge-linear.  Isolated nodes never appear in the count
    table; the label carry is ``coalesce(winner, v)`` — exact, because
    a node with no in-edges keeps its own id forever.  The label chain
    is linear like the PageRank rank chain (each label table consumed
    once; the carry rebuilds from the static node list), so all 3
    iterations plan as one job, no per-round checkpoints.
    Hash-checked: pure integer labels and counts."""
    # keyed numbered repartition: spreads the single-split scan AND
    # pre-partitions for the orderkey groupBy (one exchange, reused —
    # guide §2.4/§2.5), pinned so AQE can't coalesce the stage running
    # the pair explosion down to its kilobyte shuffle-input width
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    li = li.repartition(spark.sparkContext.defaultParallelism, "l_orderkey")
    grp = li.groupBy("l_orderkey").agg(F.collect_set("l_partkey").alias("ps"))
    edges = (
        _order_pair_rows(grp)  # skew-capped |ps|² explosion (guide §2.5)
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        # every iteration's aggs cluster on dst; no checkpoint — AQE
        # reuses this one shuffle for all 3 consumers, and a checkpoint
        # would erase the partitioning the whole iteration fuses on
        .repartition("dst")
    )
    nodes = (
        li.select(F.col("l_partkey").alias("v")).distinct().localCheckpoint()
    )
    # every iteration's label table has exactly one row per node, so
    # one MEASURED count of the checkpointed node list gates all three
    # broadcasts (the _broadcast_if_small doctrine; the label frames
    # themselves are lazy links in the iteration chain)
    _bcast = (
        F.broadcast
        if nodes.count() <= _DEG_BROADCAST_MAX_NODES
        else (lambda df: df)
    )
    lbl = nodes.select("v", F.col("v").alias("lbl"))
    for _ in range(3):
        cnt = (
            edges.join(
                _bcast(
                    lbl.select(
                        F.col("v").alias("src"), F.col("lbl").alias("slbl")
                    )
                ),
                "src",
            )
            .groupBy(F.col("dst").alias("cv"), F.col("slbl"))
            .agg(F.count(F.lit(1)).alias("n"))
        )
        win = cnt.groupBy("cv").agg(
            F.min(
                F.struct((-F.col("n")).alias("nn"), F.col("slbl").alias("l"))
            )
            .getField("l")
            .alias("wlbl")
        )
        # the winner table is <= node-sized (grouped by cv ⊆ nodes), so
        # the same measured node-count gate covers it: broadcasting the
        # carry join deletes a per-iteration node-sized SortMergeJoin
        # (its sort + both exchanges); above the gate the keyed shuffle
        # join returns
        lbl = nodes.join(_bcast(win), F.col("v") == F.col("cv"), "left").select(
            "v", F.coalesce("wlbl", "v").alias("lbl")
        )
    return lbl.select(F.col("v").alias("part_id"), F.col("lbl").alias("community"))


@query("q_dedup_lru")
def q_dedup_lru(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Size-bound LRU dedup — the reference A6's ACTUAL eviction
    semantics (Guava ``maximumSize(250000)``, Deduplicator.java:36-40;
    its cacheTTL config is read but never applied) as a custom stateful
    operator, capacity sharded across hash buckets.  The replay uses a
    cap far below the unique-key count so eviction + re-emission
    genuinely happen (the reference forgets evicted keys and
    re-forwards them — at-least-once by design).  Rows-only: the
    re-emission count depends on eviction order, which is
    engine-specific by construction (the reference's own depended on
    unreproducible wall-clock arrival).  Semantics are pinned in
    tests/test_lru_state.py."""
    import os

    from transitdata_hfp_deduplicator_spark.streaming import (
        parquet_stream,
        replay_shuffle_partitions,
        run_to_memory,
        scoped_shuffle_partitions,
    )
    from transitdata_hfp_deduplicator_spark.streaming.lru_state import (
        lru_dedup_stream,
    )

    src = os.path.join(sf_dir, "events.parquet")
    stream = parquet_stream(spark, src)
    tagged = lru_dedup_stream(
        stream, EVENT_IDENTITY, "ts", max_size=4096, buckets=8
    )
    with scoped_shuffle_partitions(spark, replay_shuffle_partitions(src)):
        out = run_to_memory(tagged, output_mode="append")
    return out.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count_if(F.col("is_prime")).alias("n_primes"),
        F.count_if(~F.col("is_prime")).alias("n_duplicates"),
        F.countDistinct("digest").alias("n_keys"),
    )


@query(
    "q_corpus_curate",
    oracle="""
    WITH base AS (
        SELECT doc_id, lang,
               trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t,
               len(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS n_tok,
               length(text) AS n_ch,
               length(regexp_replace(text, '[^A-Za-zÀ-ÿ]', '', 'g')) AS n_alpha
        FROM documents
    ),
    qual AS (
        SELECT doc_id, lang, t, n_tok FROM base
        WHERE n_tok >= 30
          AND round(CAST(n_alpha AS DOUBLE) / nullif(n_ch, 0), 6) >= 0.82
    ),
    ex AS (
        SELECT doc_id, lang, t, n_tok FROM (
            SELECT *, min(doc_id) OVER (PARTITION BY md5(t)) AS f FROM qual
        ) WHERE doc_id = f
    ),
    sh AS (
        SELECT doc_id,
               list_distinct([tokens[i] || ' ' || tokens[i+1] || ' ' || tokens[i+2]
                              for i in range(1, len(tokens) - 1)]) AS shingles
        FROM (SELECT doc_id, string_split(t, ' ') AS tokens FROM ex)
        WHERE len(tokens) >= 3
    ),
    mh AS MATERIALIZED (
        SELECT doc_id, shingles,
               [list_min(list_transform(shingles,
                    s -> (('0x' || substr(md5(s), 1, 15))::BIGINT
                          + k * (('0x' || substr(md5(s), 17, 15))::BIGINT
                                 % 288230376151711744))
                         & 576460752303423487))
                for k in range(0, 16)] AS sig
        FROM sh
    ),
    ids AS (
        SELECT a.doc_id AS i, b.doc_id AS j FROM mh a JOIN mh b ON a.sig[1] = b.sig[1] AND a.sig[2] = b.sig[2] AND a.doc_id < b.doc_id
            UNION
            SELECT a.doc_id AS i, b.doc_id AS j FROM mh a JOIN mh b ON a.sig[3] = b.sig[3] AND a.sig[4] = b.sig[4] AND a.doc_id < b.doc_id
            UNION
            SELECT a.doc_id AS i, b.doc_id AS j FROM mh a JOIN mh b ON a.sig[5] = b.sig[5] AND a.sig[6] = b.sig[6] AND a.doc_id < b.doc_id
            UNION
            SELECT a.doc_id AS i, b.doc_id AS j FROM mh a JOIN mh b ON a.sig[7] = b.sig[7] AND a.sig[8] = b.sig[8] AND a.doc_id < b.doc_id
            UNION
            SELECT a.doc_id AS i, b.doc_id AS j FROM mh a JOIN mh b ON a.sig[9] = b.sig[9] AND a.sig[10] = b.sig[10] AND a.doc_id < b.doc_id
            UNION
            SELECT a.doc_id AS i, b.doc_id AS j FROM mh a JOIN mh b ON a.sig[11] = b.sig[11] AND a.sig[12] = b.sig[12] AND a.doc_id < b.doc_id
            UNION
            SELECT a.doc_id AS i, b.doc_id AS j FROM mh a JOIN mh b ON a.sig[13] = b.sig[13] AND a.sig[14] = b.sig[14] AND a.doc_id < b.doc_id
            UNION
            SELECT a.doc_id AS i, b.doc_id AS j FROM mh a JOIN mh b ON a.sig[15] = b.sig[15] AND a.sig[16] = b.sig[16] AND a.doc_id < b.doc_id
    ),
    nearj AS (
        SELECT DISTINCT ids.j AS doc_id
        FROM ids JOIN mh a ON ids.i = a.doc_id JOIN mh b ON ids.j = b.doc_id
        WHERE round(len(list_intersect(a.shingles, b.shingles)) * 1.0
                    / len(list_distinct(a.shingles || b.shingles)), 6) >= 0.5
    ),
    surv AS (
        SELECT e.doc_id, e.lang, e.n_tok
        FROM ex e LEFT JOIN nearj n USING (doc_id)
        WHERE n.doc_id IS NULL
    ),
    pref AS (
        SELECT lang, doc_id, n_tok,
               coalesce(sum(n_tok) OVER (
                   PARTITION BY lang ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prior
        FROM surv
    )
    SELECT lang, CAST(floor(prior / 512.0) AS BIGINT) AS seq_id,
           count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens
    FROM pref GROUP BY lang, seq_id
    """,
)
def q_corpus_curate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END corpus curation — the LLM-training-data pipeline as
    ONE composed plan: quality gate (funnel stage 2: min-length +
    alpha-ratio) → exact dedup (normalized-md5 keep-min-id) →
    near-dup MinHash-LSH prune (the ladder's rung 2, run on the
    survivors) → sequence packing (512-token budget per language) →
    per-sequence manifest (lang, seq_id, n_docs, n_tokens).  This is
    the second flagship: ``entry()`` runs it at sf0.001 so the driver
    smoke check exercises the curation story end to end.

    Scale shape: each stage is a verified linear plan — one scan for
    the quality flags, digest-keyed shuffle for exact dedup, banded
    LSH (never all-pairs) for near-dup, and the packing prefix sum is
    the range-sharded TWO-PASS form (sampling.py::sharded_prefix_sum)
    so no single task ever holds a language's full corpus; the shard
    boundary max(doc_id) comes from the cheap raw scan, not from
    re-running the curation tail.  The ``t`` projection normalizes
    whitespace runs BEFORE tokenizing (both engines then split on
    single spaces), so the dedup keys and shingles are identical on
    any text, not just on the single-spaced test corpus.

    The exact-dedup survivors (``ex``) are a PERSISTED stage boundary
    (``_stage_cache``, previous cache auto-released): four downstream
    consumers — LSH signatures, the two exact-Jaccard verification
    sides, and the packing input — would otherwise each re-run the
    scan + quality filter + md5 dedup shuffle (14 static corpus scans;
    at 100 TB that is 14 corpus reads, and locally the cache measures
    1.35x end-to-end).  This is the standard stage-materialization a
    production pipeline would write between curation steps."""
    from transitdata_hfp_deduplicator_spark.operators.sampling import (
        sharded_prefix_sum,
    )
    from transitdata_hfp_deduplicator_spark.operators.similarity import (
        minhash_lsh_pairs,
    )
    from transitdata_hfp_deduplicator_spark.tables import spread

    # spread(): the quality gate's two regexes + the dedup md5 run per
    # raw document upstream of the fingerprint exchange, on the scan's
    # ONE split (guide §2.5; measured 0.37s single-task at sf0.1);
    # identity on a multi-split lake scan.  (The raw-scan shard-boundary
    # probe below deliberately reads the UNspread scan — max(doc_id)
    # needs no parallel map work.)
    d = spread(_t(spark, sf_dir, "documents"))
    t = F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    n_tok = F.size(F.split(t, " "))
    alpha = F.round(
        F.length(F.regexp_replace("text", r"[^A-Za-zÀ-ÿ]", ""))
        / F.nullif(F.length("text"), F.lit(0)),
        6,
    )
    qual = d.select(
        "doc_id",
        "lang",
        t.alias("t"),
        n_tok.cast("long").alias("n_tok"),
    ).filter((F.col("n_tok") >= 30) & (alpha >= 0.82))
    first = qual.groupBy(F.md5(F.col("t").cast("binary")).alias("fp")).agg(
        F.min("doc_id").alias("doc_id")
    )
    ex = _stage_cache(qual.join(first.select("doc_id"), "doc_id", "left_semi"))
    near_j = (
        minhash_lsh_pairs(
            ex.select("doc_id", F.col("t").alias("text")),
            "doc_id",
            "text",
            shingle_n=3,
            num_hashes=16,
            bands=8,
            threshold=0.5,
        )
        .select(F.col("j").alias("doc_id"))
        .distinct()
    )
    surv = ex.join(near_j, "doc_id", "left_anti").select(
        "doc_id", "lang", "n_tok"
    )
    pre = sharded_prefix_sum(
        surv,
        "doc_id",
        "n_tok",
        part_cols=("lang",),
        max_df=_t(spark, sf_dir, "documents").select("doc_id"),
    )
    packed = pre.select(
        "lang",
        "n_tok",
        F.floor(F.col("prior") / 512.0).cast("long").alias("seq_id"),
    )
    return packed.groupBy("lang", "seq_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").alias("n_tokens"),
    )


@query(
    "q_heavy_hitters",
    oracle="""
    WITH nn AS (SELECT CAST(user_id AS VARCHAR) AS user_id FROM events
                WHERE user_id IS NOT NULL),
         c AS (SELECT user_id, count(*) AS cnt FROM nn GROUP BY user_id),
         n AS (SELECT count(*) AS n_total FROM nn)
    SELECT user_id, cnt FROM c, n WHERE cnt * 150 >= n_total * 1
    """,
)
def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact phi=1/150 heavy hitters over events.user_id via
    Misra-Gries candidates + exact recount — the unbounded-key-space
    analog of the reference's duplicate-ratio frequency monitor
    (Analytics.java:56-59).  The MG phase is result-invisible (same
    rows as groupBy + HAVING, pinned by the oracle); its job is to
    keep the full-cardinality aggregation from ever existing at
    100 TB."""
    from transitdata_hfp_deduplicator_spark.operators.heavyhitters import (
        heavy_hitters_exact,
    )

    ev = _t(spark, sf_dir, "events")
    return heavy_hitters_exact(ev, "user_id", phi_num=1, phi_den=150)


@query(
    "q_heavy_hitters_weighted",
    oracle="""
    WITH nn AS (SELECT CAST(user_id AS VARCHAR) AS user_id,
                       length(props) AS w
                FROM events
                WHERE user_id IS NOT NULL AND props IS NOT NULL),
         c AS (SELECT user_id, CAST(sum(w) AS BIGINT) AS cnt
               FROM nn GROUP BY user_id),
         n AS (SELECT CAST(sum(w) AS BIGINT) AS n_total FROM nn)
    SELECT user_id, cnt FROM c, n WHERE cnt * 140 >= n_total * 1
    """,
)
def q_heavy_hitters_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEIGHTED phi-heavy hitters: tenants owning >= 1/140 of the total
    payload BYTES (length(props) as the mass), not of the row count —
    the storage/billing-shaped frequent-items question ("which keys own
    the bytes") that row-counting cannot answer when payload sizes
    skew.  Same MG machinery with weights in place of unit counts; same
    two-scan budget; exact via the candidate recount."""
    from transitdata_hfp_deduplicator_spark.operators.heavyhitters import (
        heavy_hitters_exact,
    )

    ev = _t(spark, sf_dir, "events").select(
        "user_id", F.length("props").alias("w")
    )
    return heavy_hitters_exact(
        ev, "user_id", phi_num=1, phi_den=140, weight_col="w"
    )


@query(
    "q_ngram_heavy",
    oracle="""
    WITH tok AS (
        SELECT string_split(lower(trim(text)), ' ') AS t FROM documents
    ),
    big AS (
        SELECT unnest([t[i] || ' ' || t[i+1] for i in range(1, len(t))]) AS bg
        FROM tok WHERE len(t) >= 2
    ),
    c AS (SELECT bg, count(*) AS cnt FROM big GROUP BY bg),
    n AS (SELECT count(*) AS n_total FROM big)
    SELECT bg, cnt FROM c, n WHERE cnt * 800 >= n_total * 1
    """,
)
def q_ngram_heavy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """phi-frequent PHRASE mining (phi=1/800 over corpus bigrams) via
    the Misra-Gries heavy-hitter operator — the textbook unbounded-key
    use: n-gram vocabulary grows with corpus size (billions of distinct
    bigrams at 100 TB), so the full-cardinality groupBy this query's
    oracle runs is exactly what the MG fold avoids; state is capacity
    counters per partition regardless of vocabulary.  Feeds collocation
    /boilerplate detection (the q_token_colloc family) at corpus
    scale."""
    from transitdata_hfp_deduplicator_spark.functions import text as TXT
    from transitdata_hfp_deduplicator_spark.operators.heavyhitters import (
        heavy_hitters_exact,
    )

    d = _t(spark, sf_dir, "documents")
    toks = TXT.tokenize(F.col("text"))
    # raw bigrams WITH multiplicity (TXT.shingles dedups per doc — the
    # LSH contract; frequency mining must count every occurrence)
    n_bg = F.size(toks) - 1
    bg = F.when(
        F.size(toks) >= 2,
        F.zip_with(
            F.slice(toks, F.lit(1), n_bg),
            F.slice(toks, F.lit(2), n_bg),
            lambda x, y: F.concat(x, F.lit(" "), y),
        ),
    ).otherwise(F.array().cast("array<string>"))
    bigrams = d.select(F.explode(bg).alias("bg"))
    return heavy_hitters_exact(bigrams, "bg", phi_num=1, phi_den=800)


@query(
    "q_heavy_hitters_stream",
    oracle="""
    WITH nn AS (SELECT CAST(user_id AS VARCHAR) AS user_id FROM events
                WHERE user_id IS NOT NULL),
         c AS (SELECT user_id, count(*) AS cnt FROM nn GROUP BY user_id),
         n AS (SELECT count(*) AS n_total FROM nn)
    SELECT user_id, cnt FROM c, n WHERE cnt * 150 >= n_total * 1
    """,
)
def q_heavy_hitters_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONLINE phi=1/150 heavy hitters: the event stream replays through
    bucket-sharded Space-Saving state (capacity > 1/phi per bucket ⇒
    guaranteed candidate superset), then the candidate union is
    recounted exactly — the streaming twin of q_heavy_hitters,
    HASH-CHECKED against the same GROUP BY + HAVING oracle.  If the
    online summary ever dropped a true heavy hitter, rows would go
    missing and the hash would catch it (the q_join_skew_salted
    discipline: the approximation machinery is result-invisible).

    Scale shape: state is ``n_buckets × capacity`` counters TOTAL
    regardless of key cardinality; snapshots are bounded by the same
    product; the exact recount is the batch operator's phase 2
    (broadcast semi-join + keyed agg)."""
    import os as _os

    from transitdata_hfp_deduplicator_spark.streaming import (
        parquet_stream,
        replay_shuffle_partitions,
        run_to_memory,
        scoped_shuffle_partitions,
    )
    from transitdata_hfp_deduplicator_spark.streaming.heavyhitters_stream import (
        final_snapshots,
        space_saving_stream,
    )

    src = _os.path.join(sf_dir, "events.parquet")
    # spread=True: the bucket projection upstream of the state exchange
    # runs on the replay's ONE input split (guide §2.5); safe — the
    # Space-Saving candidate SUPERSET may vary with arrival order, but
    # the exact recount + threshold below makes the summary
    # result-invisible (capacity > 1/phi per bucket guarantees no true
    # heavy hitter is dropped under ANY arrival order)
    stream = parquet_stream(spark, src, spread=True)
    snaps = space_saving_stream(stream, "user_id", capacity=160, n_buckets=8)
    with scoped_shuffle_partitions(spark, replay_shuffle_partitions(src)):
        out = run_to_memory(snaps, output_mode="append")
    cand = (
        final_snapshots(out)
        .filter(F.col("key").isNotNull())  # drop empty-summary sentinels
        .select(F.col("key").alias("user_id"))
        .distinct()
    )
    ev = _t(spark, sf_dir, "events").select(
        F.col("user_id").cast("string").alias("user_id")
    ).filter(F.col("user_id").isNotNull())
    n = ev.agg(F.count(F.lit(1)).alias("n_total"))
    big = "decimal(38,0)"
    return (
        ev.join(F.broadcast(cand), "user_id", "left_semi")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .crossJoin(F.broadcast(n))
        .filter(
            F.col("cnt").cast(big) * F.lit(150).cast(big)
            >= F.col("n_total").cast(big) * F.lit(1).cast(big)
        )
        .select("user_id", "cnt")
    )


# ---------------------------------------------------------------------------
# Driver-gate ordering
# ---------------------------------------------------------------------------

# Round-15 gate order (VERDICT r14 "next round" #2 — front ALL
# round-14-touched-but-driver-unverified queries): the 50-entry window
# leads with the 19 queries whose r14 optimizations have only builder
# oracle evidence (graph x3, bpe x2, substring/cdc/simhash/agg_hash/
# corpus_curate, the four spread streaming replays, and the five
# batch-2 SQL-string queries outside the r14 sample), then the six
# queries this round's optimization plan targets (embed/ANN construct
# tax, agg_approx_check parallelism, containment/clusters text width),
# then the remaining r12-evidence tier — the window ends up covering
# every r12-tier query (34/34), 12 r13 and 4 r14 slots.  The rest of
# the registry follows oldest-tier-first so a driver reading past 50
# keeps improving recency.  Derived mechanically (tools/
# rotation_tiers.py) from CORRECTNESS_r*.json last-pass rounds;
# histogram at r14 HEAD: r12=34, r13=50, r14=50.
GATE_ROTATION = [
    # r14-touched, driver-unverified (19) + r15 optimization targets (6)
    "q_graph_pagerank",
    "q_graph_labelprop",
    "q_graph_triangles",
    "q_bpe_encode",
    "q_bpe_merges",
    "q_dedup_substring",
    "q_cdc_chunks",
    "q_dedup_simhash",
    "q_agg_hash",
    "q_corpus_curate",
    "q_dedup_stream",
    "q_dup_stats_stream",
    "q_heavy_hitters_stream",
    "q_dedup_stream_neardup",
    "q_embed_ann_pq",
    "q_embed_ann_ivfpq",
    "q_dedup_semantic",
    "q_minhash_signature",
    "q_dedup_minhash_lsh",
    "q_embed_ann_ivf_trained",
    "q_embed_kmeans",
    "q_dedup_incr_semantic",
    "q_agg_approx_check",
    "q_containment",
    "q_dedup_clusters",
    # oldest evidence tier (r12), then r13, then r14
    "q_dedup_norm",
    "q_dedup_url",
    "q_doc_chunks",
    "q_dq_audit",
    "q_dup_anomaly",
    "q_dup_stats",
    "q_embed_ann_ivf",
    "q_embed_cosine",
    "q_embed_quantize_int8",
    "q_funnel",
    "q_multimodal_decode",
    "q_multimodal_resize",
    "q_quality_funnel",
    "q_recursive_cte",
    "q_sample_stratified",
    "q_sample_weighted",
    "q_scd2_build",
    "q_seq_pack",
    "q_tfidf_pairs",
    "q_token_colloc",
    "q_window_range",
    "q_agg_approx",
    "q_agg_distinct",
    "q_anomaly_mad",
    "q_array_ops",
    "q_bm25",
    "q_cdc_latest_stream",
    "q_compact_plan",
    "q_corpus_drift",
    "q_dedup_fuzzy",
    "q_filter_pred",
    "q_gapfill",
    "q_heavy_hitters",
    "q_heavy_hitters_weighted",
    "q_histogram",
    "q_json_extract",
    "q_late_data",
    "q_map_ops",
    "q_ngram_heavy",
    "q_ngram_lm",
    "q_percentile",
    "q_pivot",
    "q_promo_share",
    "q_scalar_datetime",
    "q_scalar_math",
    "q_scalar_string",
    "q_sessionize",
    "q_set_ops",
    "q_sort_limit",
    "q_split_hash",
    "q_string_agg",
    "q_subquery_scalar",
    "q_text_fingerprint",
    "q_text_lang_id",
    "q_text_quality",
    "q_text_repetition",
    "q_text_scrub",
    "q_text_stats",
    "q_text_tokens",
    "q_top_supplier",
    "q_udf_surface",
    "q_udtf",
    "q_unpivot",
    "q_canonical_dedup",
    "q_corpus_mix",
    "q_corpus_prep",
    "q_corpus_shuffle",
    "q_decontaminate",
    "q_decontaminate_bloom",
    "q_decontaminate_stream",
    "q_dedup_exact",
    "q_dedup_incr_neardup",
    "q_dedup_incr_substring",
    "q_dedup_incremental",
    "q_dedup_ladder",
    "q_dedup_lru",
    "q_embed_neardup",
    "q_embed_neardup_rplsh",
    "q_grouping_sets",
    "q_hfp_domain",
    "q_hfp_golden",
    "q_join_asof",
    "q_join_broadcast",
    "q_join_multiway",
    "q_join_outer",
    "q_join_semi_anti",
    "q_join_skew_salted",
    "q_join_theta_range",
    "q_merge_upsert",
    "q_minhash_simdup",
    "q_multimodal_bytes",
    "q_rollup_cascade",
    "q_scan_project",
    "q_session_window",
    "q_session_window_stream",
    "q_skyline",
    "q_stream_static_join",
    "q_stream_stream_join",
    "q_text_editdist",
    "q_text_winnow",
    "q_topk_per_group",
    "q_ts_correlate",
    "q_window_analytic",
    "q_window_distribution",
    "q_window_rank",
    "q_window_sliding",
    "q_window_tumbling_stream",
    "q_winnow_pairs",
    "q_zorder_layout",
]



def gate_ordered() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """QUERIES reordered so the driver's 50-entry correctness window
    covers the queries with no prior-round evidence row first."""
    ordered = {n: QUERIES[n] for n in GATE_ROTATION if n in QUERIES}
    ordered.update({n: f for n, f in QUERIES.items() if n not in ordered})
    return ordered
