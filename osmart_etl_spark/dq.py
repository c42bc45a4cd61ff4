"""Data-quality module (SURVEY.md §2.2 P13-P15, §2.9 T8, §5).

The reference enforces correctness operationally: threshold quarantine
with an audit reason + dedup key (dq_exclusions_csv.py), INT32 bounds
assertions (seed_stock_points.py:134-149), and reconciliation of the
replayed state against the live source of truth
(stock_points_helpers.py:4-79). This module packages the quarantine
and the reconciliation as composable engine operators (the bounds check
is a filter plus an aggregate, inline in queries/dq.dq_bounds_offenders);
the queries/dq.py entries exercise them against the DuckDB oracle.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass
class QuarantineResult:
    clean: DataFrame
    quarantined: DataFrame


def quarantine(
    df: DataFrame,
    rules: dict[str, Column],
    key_cols: list[str],
) -> QuarantineResult:
    """P7/P13/P14 — split a stream into clean rows and quarantined rows.

    ``rules`` maps reason-label → violation predicate; a row matching any
    rule is quarantined with the FIRST matching reason (if/elif order,
    like the reference's exclusion cascade dq_exclusions_csv.py:74-121)
    and a composite ``uniq`` audit key (``:46-49``). One scan feeds both
    outputs; Catalyst shares the upstream plan.
    """
    reason = F.lit(None).cast("string")
    for label, pred in reversed(list(rules.items())):
        reason = F.when(pred, F.lit(label)).otherwise(reason)
    tagged = df.withColumn("__reason", reason)
    clean = tagged.filter(F.col("__reason").isNull()).drop("__reason")
    quarantined = (
        tagged.filter(F.col("__reason").isNotNull())
        .withColumn("reason", F.col("__reason"))
        .drop("__reason")
        .withColumn(
            # concat_ws SKIPS nulls, so (x, NULL) and (NULL, x) would
            # collide into one audit key and the read-time dedup would
            # drop a genuinely distinct offending row — encode NULL as
            # an explicit sentinel instead (round-12 review). Non-null
            # keys produce byte-identical uniq values as before.
            "uniq",
            F.concat_ws(
                "|",
                *[
                    F.coalesce(F.col(c).cast("string"), F.lit("\u2400"))
                    for c in key_cols
                ],
                F.col("reason"),
            ),
        )
        .withColumn("logged_at", F.current_timestamp())
    )
    return QuarantineResult(clean=clean, quarantined=quarantined)


def reconcile(
    simulated: DataFrame,
    production: DataFrame,
    key: list[str],
    sim_col: str,
    prod_col: str,
) -> tuple[DataFrame, DataFrame]:
    """T8 — full-outer reconciliation (J4) + summary (A7).

    Returns (per-key diff frame, 1-row summary with total_keys /
    mismatch_keys / max_abs_diff) — the reference's
    ``total_skus/mismatch_skus/max_abs_diff`` dict
    (stock_points_helpers.py:74-78).
    """
    from osmart_etl_spark.ops.joins import reconcile_full_outer

    comp = reconcile_full_outer(simulated, production, key, sim_col, prod_col)
    summary = comp.agg(
        F.count(F.lit(1)).alias("total_keys"),
        F.sum(F.when(F.col("diff") != 0, 1).otherwise(0)).cast("bigint").alias("mismatch_keys"),
        F.max(F.abs(F.col("diff"))).alias("max_abs_diff"),
    )
    return comp, summary
