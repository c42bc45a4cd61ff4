"""Join operators (SURVEY.md §2.3 J1-J8).

Strategy notes for scale (§4):

- Small dimensions (the reference's ``usuario``/``tipopago``/``nubecfg``,
  the testdata's ``region``/``nation``/``supplier``) are **broadcast** —
  no shuffle of the fact side at all. AQE would usually pick this up, but
  the hint makes it deterministic.
- The theta join (J2) is a BroadcastNestedLoopJoin by construction — only
  sane because one side is tiny; the helper asserts intent by
  broadcasting explicitly.
- The reference's correlated EXISTS (J5) and min-per-group self-join (J6)
  are re-expressed as ``left_semi`` and ``row_number()==1`` — one shuffle
  each instead of MySQL's nested subquery evaluation.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def theta_join(left: DataFrame, right: DataFrame, cond: Column, how: str = "inner") -> DataFrame:
    """J2 — non-equi join (e.g. ``t.sucOri != n.sucId``).

    Ref: extract_stock_movements.sql:65. Plans as
    BroadcastNestedLoopJoin; ``right`` MUST be broadcast-small (the
    reference's nubecfg is a handful of branches).
    """
    return left.join(F.broadcast(right), cond, how)


def semi_range_join(
    probe: DataFrame,
    events: DataFrame,
    eq_keys: list[str],
    range_cond: Column,
) -> DataFrame:
    """J5 — EXISTS with equality keys plus a range condition.

    Ref: extract_filter_raw_stock_movements.sql:79-91 — keep a
    cancellation row only if a matching prior event exists (same doc/SKU/
    store, ``e.fecha <= r.fecha``). Catalyst's RewritePredicateSubquery
    produces the same left-semi; we write it directly.
    """
    cond = None
    for k in eq_keys:
        c = probe[k] == events[k]
        cond = c if cond is None else (cond & c)
    cond = cond & range_cond if cond is not None else range_cond
    return probe.join(events, cond, "left_semi")


def earliest_per_group(df: DataFrame, keys: list[str], order: list[Column]) -> DataFrame:
    """J6 — keep the earliest row per group.

    Ref: extract_filter_raw_stock_movements.sql:52-74 joins back against
    a MIN(fecha) derived table; the idiomatic Spark rewrite is a single
    window pass — one shuffle on ``keys`` instead of an aggregate + a
    join. ``order`` must be a total order (W6: include a unique
    tiebreaker) for deterministic results.
    """
    w = Window.partitionBy(*keys).orderBy(*order)
    return df.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1).drop("__rn")


def asof_lookup(
    state: DataFrame,
    key_cols: list[str],
    ts_col: str,
    as_of: Column,
    tiebreakers: list[Column] | None = None,
) -> DataFrame:
    """J7/W1 — latest state row at-or-before ``as_of``, per key.

    Ref: update_stock_points.py:47-69 (ROW_NUMBER ... point_date DESC,
    updated_at DESC ... WHERE point_date <= as_of). The filter prunes
    partitions/row-groups before the window shuffle.
    """
    order = [F.col(ts_col).desc()] + [t.desc() for t in (tiebreakers or [])]
    w = Window.partitionBy(*key_cols).orderBy(*order)
    return (
        state.filter(F.col(ts_col) <= as_of)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key_cols: list[str],
    left_ts: str,
    right_ts: str,
    value_cols: list[str],
) -> DataFrame:
    """Generalized as-of join: for each left row, the latest right row
    with ``right_ts <= left_ts`` per key.

    Built as union + last(ignorenulls) over an unbounded-preceding frame
    — one shuffle on the key, no range cross-product. This is the
    composition SURVEY §4 calls out as the as-of convenience operator.
    """
    lt = left.select(
        *key_cols, F.col(left_ts).alias("__ts"), F.lit(1).alias("__is_probe"),
        *[F.lit(None).cast(right.schema[v].dataType).alias(v) for v in value_cols],
        F.struct(*[F.col(c) for c in left.columns]).alias("__row"),
    )
    rt = right.select(
        *key_cols, F.col(right_ts).alias("__ts"), F.lit(0).alias("__is_probe"),
        *value_cols, F.lit(None).cast(lt.schema["__row"].dataType).alias("__row"),
    )
    unioned = lt.unionByName(rt)
    w = (
        Window.partitionBy(*key_cols)
        .orderBy(F.col("__ts").asc(), F.col("__is_probe").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = unioned.select(
        "__is_probe", "__row",
        *[F.last(F.col(v), ignorenulls=True).over(w).alias(v) for v in value_cols],
    ).filter(F.col("__is_probe") == 1)
    return filled.select(*[F.col("__row." + c).alias(c) for c in left.columns], *value_cols)


def anti_join_exclusions(df: DataFrame, exclusions: DataFrame, on: list[str]) -> DataFrame:
    """P14 — drop rows present in the exclusion registry.

    Ref: dq_exclusions_csv.py:68-72,89-94. No forced broadcast hint:
    the reference's registry is a tiny CSV and AQE broadcasts it from
    measured size (map-side anti-join, big side never shuffles), but
    callers also feed fact-derived exclusion sets (e.g. a filtered
    part slice) that scale with the corpus — a forced hint would OOM
    the build at 100 TB where AQE instead degrades to a shuffle
    anti-join.
    """
    return df.join(exclusions.select(*on).distinct(), on, "left_anti")


def reconcile_full_outer(
    a: DataFrame, b: DataFrame, key: list[str], a_val: str, b_val: str
) -> DataFrame:
    """J4 + A9 — full-outer reconciliation merge with zero-fill.

    Ref: stock_points_helpers.py:68-70 (simulated vs actual stock).
    """
    av = F.coalesce(F.col(a_val), F.lit(0)).alias(a_val)
    bv = F.coalesce(F.col(b_val), F.lit(0)).alias(b_val)
    return (
        a.join(b, key, "full_outer")
        .select(*key, av, bv)
        .withColumn("diff", F.col(a_val) - F.col(b_val))
    )


_BUCKET_UNIT_SECONDS = {"second": 1, "minute": 60, "hour": 3600, "day": 86400, "week": 604800}


def _bucket_seconds(bucket: str) -> int:
    """Parse '<n> <unit>' (e.g. '2 day', '6 hours') to seconds."""
    n_str, unit = bucket.strip().split()
    unit = unit.rstrip("s").lower()
    if unit not in _BUCKET_UNIT_SECONDS:
        raise ValueError(f"unsupported bucket unit {unit!r}; use one of {sorted(_BUCKET_UNIT_SECONDS)}")
    return int(n_str) * _BUCKET_UNIT_SECONDS[unit]


def range_join_bucketed(
    events: DataFrame,
    intervals: DataFrame,
    ts_col: str,
    start_col: str,
    end_col: str,
    bucket: str = "1 day",
    extra_eq: list[str] | None = None,
) -> DataFrame:
    """Interval (range) join without an equi key, made shuffle-joinable
    by time bucketing: explode each interval into the buckets it spans,
    bucket each event's timestamp, equi-join on the bucket, then apply
    the exact range predicate.

    A raw ``events JOIN intervals ON ts BETWEEN start AND end`` plans as
    BroadcastNestedLoopJoin — O(events × intervals), fatal at scale.
    Bucketing turns it into a hash join on (bucket, extra keys): cost
    O(events + intervals × span/bucket + matches). Same technique as
    Flink interval joins / spatial grid joins.

    Both sides bucket on the SAME fixed epoch grid
    (``floor(unix_ts / bucket_seconds)``): a per-side truncation (e.g.
    day-trunc events while exploding intervals at a coarser step) leaves
    grid points the two sides don't share and silently drops matches.
    Pick ``bucket`` near the typical interval length: coarser wastes
    filter work, much finer makes the interval explode dominate.
    """
    step = F.lit(_bucket_seconds(bucket))
    ev = events.withColumn(
        "__bucket", F.floor(F.col(ts_col).cast("long") / step)
    )
    iv = intervals.withColumn(
        "__bucket",
        F.explode(
            F.sequence(
                F.floor(F.col(start_col).cast("long") / step),
                F.floor(F.col(end_col).cast("long") / step),
            )
        ),
    )
    on = ["__bucket"] + list(extra_eq or [])
    joined = ev.join(iv, on)
    return joined.filter(
        (F.col(ts_col) >= F.col(start_col)) & (F.col(ts_col) <= F.col(end_col))
    ).drop("__bucket")
