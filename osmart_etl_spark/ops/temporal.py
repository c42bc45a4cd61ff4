"""Temporal operators: calendar scaffold, densify, sparse round-trip
(SURVEY.md §2.7 U8/U9, §2.5 W3-W5 composition).

The reference materializes a dense SKU×date pandas matrix
(seed_stock_points.py:92-102) to run cumsum/shift along the calendar.
Spark-first we stay long-form: generate each key's date spine with
``sequence()`` + ``explode`` **per key** (bounded by that key's active
range) instead of a global crossJoin — the difference between
O(keys x active_days) and O(keys x global_days) at scale.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from osmart_etl_spark.ops.windows import change_points


def date_spine(spark, start: Column | str, end: Column | str) -> DataFrame:
    """U8 — dense daily calendar as a DataFrame (one row per day)."""
    s = F.to_date(F.lit(start)) if isinstance(start, str) else start
    e = F.to_date(F.lit(end)) if isinstance(end, str) else end
    return spark.range(1).select(
        F.explode(F.sequence(s, e, F.expr("interval 1 day"))).alias("cal_date")
    )


def scaffold_keys_by_calendar(
    keys: DataFrame, spark, start: str, end: str
) -> DataFrame:
    """U8 — every (key, day) cell for a global range.

    ``keys`` is the distinct key set (movement SKUs ∪ prior-state SKUs,
    U4 — update_stock_points.py:166-168). The spine side is tiny
    (days), so broadcast it: the key set never shuffles.
    """
    spine = date_spine(spark, start, end)
    return keys.crossJoin(F.broadcast(spine))


def sparse_encode(sod: DataFrame, key_cols: list[str]) -> DataFrame:
    """W5 — keep only change-days (compact 'points' representation).

    Ref: seed_stock_points.py:119-126; create_stock_points.sql:3 ("one
    row only when a value changes").
    """
    return change_points(sod, key_cols, ["cal_date"], "sod_stock")


def sparse_decode(
    points: DataFrame, spark, start: str, end: str, key_cols: list[str]
) -> DataFrame:
    """Inverse of sparse_encode: reconstruct the dense daily series by
    forward-filling the last change-point (J7 as-of semantics over a
    calendar scaffold). Round-trips with sparse_encode — the property
    test mirrors the reference's reconciliation (T8).
    """
    from pyspark.sql import Window

    cells = scaffold_keys_by_calendar(points.select(*key_cols).distinct(), spark, start, end)
    joined = cells.join(
        points.withColumnRenamed("point_date", "cal_date"), key_cols + ["cal_date"], "left"
    )
    w = (
        Window.partitionBy(*key_cols)
        .orderBy("cal_date")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return joined.withColumn(
        "sod_stock", F.last("sod_stock", ignorenulls=True).over(w)
    ).filter(F.col("sod_stock").isNotNull())
