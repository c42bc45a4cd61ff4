"""Relational scalar/row operators (SURVEY.md §2.2, §2.4 A1/A8, §2.8).

Everything here is a pure ``DataFrame -> DataFrame`` (or Column-building)
function using built-in ``pyspark.sql.functions`` only — JVM-side,
whole-stage-codegen friendly, zero Python in the hot path. The
reference's row-wise pandas callables (``tag_issue``'s apply(axis=1),
transform.py:3-15) are deliberately re-expressed as ``when/otherwise``
chains: at 100 TB a row-at-a-time Python UDF is a 10-100x tax.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def enrich_extract(
    df: DataFrame, *, tienda: str | None = None, source_db: str | None = None,
    source_system: str | None = None,
) -> DataFrame:
    """P2 — stamp provenance + extraction time onto an extracted batch.

    Ref: etl_inventory/extract.py:24-25, etl_sales/extract.py:29-32.
    """
    if tienda is not None:
        df = df.withColumn("tienda", F.lit(tienda))
    if source_db is not None:
        df = df.withColumn("source_db", F.lit(source_db))
    if source_system is not None:
        df = df.withColumn("source_system", F.lit(source_system))
    return df.withColumn("extracted_at", F.current_timestamp())


def waterfall_split(
    total: Column, first: Column, second: Column
) -> tuple[Column, Column, Column]:
    """P11/P12 — split ``total`` across buckets by sequential capping.

    Payment normalization semantics (transform.py:22-25): cash is capped
    at the total, card at the remainder, and whatever is left lands in
    "others", clipped at 0 (transform.py:33). Expressed with
    ``least``/``greatest`` — scalar row-wise min/max (A8), not grouped
    aggregation.
    """
    a = F.least(first, total)
    b = F.least(second, total - a)
    c = F.greatest(total - a - b, F.lit(0))
    return a, b, c


def tag_payment_issue(
    total: Column, efectivo: Column, tarjeta: Column, otros: Column
) -> Column:
    """P10 — 6-branch anomaly classifier as a when/otherwise chain.

    Ref: transform.py:3-15 (``tag_issue(row)`` via df.apply(axis=1)).
    Money comparisons use round(2) tolerance like the reference
    (transform.py:38-40). First matching branch wins, like the if/elif.
    """
    pagado = F.round(efectivo + tarjeta + otros, 2)
    t = F.round(total, 2)
    return (
        F.when((t == 0) & (pagado == 0), F.lit("sin_monto"))
        .when(pagado == t, F.lit(None).cast("string"))
        .when((pagado == 0) & (t > 0), F.lit("sin_pago"))
        .when(pagado > t, F.lit("pago_excedente"))
        .when((pagado < t) & (t > 0), F.lit("pago_incompleto"))
        .otherwise(F.lit("devolucion_excedida"))
    )


def conditional_override(df: DataFrame, mask: Column, assignments: dict[str, Column]) -> DataFrame:
    """P9 — masked update: where ``mask`` holds, overwrite columns.

    Ref: transform.py:28-30 (``df.loc[no_flujo, "efectivo"] = total``).
    """
    for name, value in assignments.items():
        df = df.withColumn(name, F.when(mask, value).otherwise(F.col(name)))
    return df


