"""Join compositions Spark lacks as single primitives.

The reference has no joins at all (SURVEY.md §2 Part A, "not present");
these are north-star operators declared in SURVEY.md §2 Part B.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    left_ts: str,
    right_ts: str,
    right_value_cols: Sequence[str],
    suffix: str = "_asof",
) -> DataFrame:
    """Backward as-of join: for each left row, the latest right row with
    ``right_ts <= left_ts`` on equal ``on`` keys (ties broken toward the
    right row that sorts last on its value columns).

    Scale design: the naive formulation is a range join (left × right
    per key, then ``row_number()=1``) — quadratic per key when keys are
    hot.  This is the **union + running-last trick** instead: tag both
    inputs, union, and take ``last(right_struct, ignorenulls) OVER
    (PARTITION BY on ORDER BY ts, side)`` — one shuffle, one sort,
    linear in |left|+|right|, no pair blow-up.  Same idea pandas
    ``merge_asof`` uses after its sort, but expressed relationally so
    it distributes.
    """
    on = list(on)
    rv = list(right_value_cols)

    lkeyed = left.select(
        *[F.col(c) for c in on],
        F.col(left_ts).alias("__ts"),
        F.lit(1).alias("__side"),  # right rows sort first at equal ts (<=)
        F.struct(*[F.col(c) for c in left.columns]).alias("__lrow"),
        F.lit(None).cast(
            "struct<" + ",".join(f"{c}:{right.schema[c].dataType.simpleString()}" for c in rv) + ">"
        ).alias("__rrow"),
    )
    rkeyed = right.select(
        *[F.col(c) for c in on],
        F.col(right_ts).alias("__ts"),
        F.lit(0).alias("__side"),
        F.lit(None).cast(
            "struct<" + ",".join(f"{f.name}:{f.dataType.simpleString()}" for f in left.schema.fields) + ">"
        ).alias("__lrow"),
        F.struct(*[F.col(c) for c in rv]).alias("__rrow"),
    )
    unioned = lkeyed.unionByName(rkeyed)
    w = (
        W.partitionBy(*on)
        .orderBy("__ts", "__side", F.col("__rrow"))
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    matched = unioned.withColumn("__match", F.last("__rrow", ignorenulls=True).over(w))
    out = matched.filter(F.col("__side") == 1).select(
        *[F.col(f"__lrow.{f.name}").alias(f.name) for f in left.schema.fields],
        *[F.col(f"__match.{c}").alias(f"{c}{suffix}") for c in rv],
    )
    return out
