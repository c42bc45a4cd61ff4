"""Temporal operators: the sparse change-point round-trip (SURVEY.md
§2.7 U9, §2.5 W5).

The reference materializes a dense SKU×date pandas matrix
(seed_stock_points.py:92-102) and stores only the days a value changes.
Spark-first we stay long-form: ``sparse_encode`` keeps the change days,
``sparse_decode`` forward-fills them back over a calendar.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from osmart_etl_spark.ops.windows import change_points


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

    # the calendar side is tiny (days), so broadcast it: the keys never shuffle
    spine = spark.range(1).select(F.explode(F.sequence(
        F.to_date(F.lit(start)), F.to_date(F.lit(end)), F.expr("interval 1 day")
    )).alias("cal_date"))
    cells = points.select(*key_cols).distinct().crossJoin(F.broadcast(spine))
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
