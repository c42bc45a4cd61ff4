"""Reshaping & set operators (SURVEY.md §2.7 U1-U7).

The engine's core design stays long-form (windows subsume the
reference's pivot — SURVEY §2.7 U6), but pivot/unpivot are exposed as
first-class API surface.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def union_distinct(*frames: DataFrame) -> DataFrame:
    """U1 — UNION with dedup semantics (re-extraction overlap protection).

    Ref: extract_stock_movements.sql:38,72,... — the 8 event branches are
    combined with UNION, not UNION ALL, intentionally.
    """
    return reduce(lambda a, b: a.unionByName(b), frames).distinct()


def dedup_by_key(df: DataFrame, keys: list[str]) -> DataFrame:
    """U5 — drop_duplicates on a composite key (dq_exclusions_csv.py:46-49)."""
    return df.dropDuplicates(keys)


def pivot_wide(
    df: DataFrame, index: list[str], pivot_col: str, value_col: str, values: list[str] | None = None
) -> DataFrame:
    """U6 — long→wide. Passing ``values`` explicitly skips the extra
    distinct-values job AND keeps output schema static (required for
    streaming and for plan caching at scale).
    """
    g = df.groupBy(*index).pivot(pivot_col, values)
    return g.agg(F.sum(value_col))


def unpivot_long(
    df: DataFrame, ids: list[str], value_cols: list[str], var_name: str, value_name: str
) -> DataFrame:
    """U7 — wide→long via the native unpivot (stack) operator."""
    return df.unpivot(ids, value_cols, var_name, value_name)
