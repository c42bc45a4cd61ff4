"""Window & temporal operator queries (SURVEY.md §2.5 W1-W7, §2.7 U8/U9)
— the semantic heart of the reference, re-expressed as Spark windows over
long-form data.

Event→movement mapping used throughout (the driver's ``events`` table
plays the reference's raw_stock_movements role — SURVEY §1.1):

- key   = user_id   (the reference's art_id)
- order = ts, event_id   (event_id = W6 total-order tiebreaker)
- ``signup``  → absolute reset event (is_absolute, abs_value = value)
- ``error``   → negative delta (cancellation sign-flip, P8)
- other types → positive delta

Measures run in DECIMAL(18,2) so running sums are exact and
order-independent (see queries.base), cast to DOUBLE at the boundary.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from osmart_etl_spark.io.sources import read_table
from osmart_etl_spark.queries.base import dbl, query

_ZERO = "CAST(0 AS DECIMAL(18,2))"


def movement_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalize ``events`` into replay input (key/order/delta/abs)."""
    ev = read_table(spark, sf_dir, "events")
    v = F.col("value").cast("decimal(18,2)")
    zero = F.lit(0).cast("decimal(18,2)")
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        (F.col("event_type") == "signup").alias("is_abs"),
        F.when(F.col("event_type") == "signup", v).alias("abs_value"),
        F.when(F.col("event_type") == "signup", zero)
        .when(F.col("event_type") == "error", v * -1)
        .otherwise(v)
        .alias("delta"),
    )


_MOVEMENT_CTE = f"""
    SELECT event_id, user_id, ts,
           event_type = 'signup' AS is_abs,
           CASE WHEN event_type = 'signup' THEN CAST(value AS DECIMAL(18,2)) END AS abs_value,
           CASE WHEN event_type = 'signup' THEN {_ZERO}
                WHEN event_type = 'error'  THEN CAST(value AS DECIMAL(18,2)) * -1
                ELSE CAST(value AS DECIMAL(18,2)) END AS delta
    FROM events
"""


@query(
    "running_balance",
    oracle=f"""
    WITH mv AS ({_MOVEMENT_CTE})
    SELECT event_id, user_id, ts,
      CAST(SUM(delta) OVER (
        PARTITION BY user_id ORDER BY ts, event_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
      ) AS DOUBLE) AS running_value
    FROM mv
    """,
    tags=("W3", "W6"),
)
def running_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative sum per key over event order (W3) — the reference's
    ``cumsum(axis=1)`` over the SKU×date pivot (seed_stock_points.py:105)
    without the pivot: one shuffle on the key, one ordered pass.
    """
    from osmart_etl_spark.ops.windows import running_total

    mv = movement_events(spark, sf_dir)
    out = running_total(mv, ["user_id"], ["ts", "event_id"], "delta", out="running_value")
    return out.select("event_id", "user_id", "ts", dbl(F.col("running_value")).alias("running_value"))


@query(
    "segmented_replay",
    oracle=f"""
    WITH mv AS ({_MOVEMENT_CTE}),
    seg AS (
      SELECT *, SUM(CASE WHEN is_abs THEN 1 ELSE 0 END) OVER (
        PARTITION BY user_id ORDER BY ts, event_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
      ) AS seg_id
      FROM mv
    ),
    run AS (
      SELECT *,
        COALESCE(FIRST_VALUE(CASE WHEN is_abs THEN COALESCE(abs_value, {_ZERO}) END) OVER (
          PARTITION BY user_id, seg_id ORDER BY ts, event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
        ), {_ZERO})
        + SUM(CASE WHEN is_abs THEN {_ZERO} ELSE delta END) OVER (
          PARTITION BY user_id, seg_id ORDER BY ts, event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
        ) AS running
      FROM seg
    )
    SELECT event_id, user_id, ts,
      CAST(running AS DOUBLE) AS running,
      CAST(running - COALESCE(LAG(running) OVER (
        PARTITION BY user_id ORDER BY ts, event_id), {_ZERO}) AS DOUBLE) AS effective_delta
    FROM run
    """,
    tags=("W2", "W6"),
)
def segmented_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2 — the flagship operator: per-key running balance where absolute
    events (signup) RESET the accumulator; emits per-event effective
    deltas. Ref: seed_stock_points.py:74-85 (pandas loop per SKU) →
    three shared-partition window passes, a single exchange on user_id,
    no Python in the path (ops/windows.replay_running_balance).

    Round 11: dispatches through ``replay_running_balance_auto`` — a
    measured key-skew probe picks the flat single-exchange form (taken
    at every test SF: the hottest user is far below the task budget) or
    the chunked skew-flat form (a key hotter than one task's sort
    budget — SCALE.md "W2 under skew" crossover, now code not prose).
    Both forms are bit-identical, so the oracle is unchanged.
    """
    from osmart_etl_spark.ops.windows import replay_running_balance_auto

    mv = movement_events(spark, sf_dir)
    out = replay_running_balance_auto(
        mv, key="user_id", order=["ts", "event_id"],
        chunk=F.floor(F.unix_micros("ts") / F.lit(7 * 86400 * 1_000_000)),
        delta_col="delta", is_absolute_col="is_abs", abs_value_col="abs_value",
    )
    return out.select(
        "event_id", "user_id", "ts",
        dbl(F.col("running")).alias("running"),
        dbl(F.col("effective_delta")).alias("effective_delta"),
    )


@query(
    "segmented_replay_chunked",
    oracle=f"""
    WITH mv AS ({_MOVEMENT_CTE}),
    seg AS (
      SELECT *, SUM(CASE WHEN is_abs THEN 1 ELSE 0 END) OVER (
        PARTITION BY user_id ORDER BY ts, event_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
      ) AS seg_id
      FROM mv
    ),
    run AS (
      SELECT *,
        COALESCE(FIRST_VALUE(CASE WHEN is_abs THEN COALESCE(abs_value, {_ZERO}) END) OVER (
          PARTITION BY user_id, seg_id ORDER BY ts, event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
        ), {_ZERO})
        + SUM(CASE WHEN is_abs THEN {_ZERO} ELSE delta END) OVER (
          PARTITION BY user_id, seg_id ORDER BY ts, event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
        ) AS running
      FROM seg
    )
    SELECT event_id, user_id, ts,
      CAST(running AS DOUBLE) AS running,
      CAST(running - COALESCE(LAG(running) OVER (
        PARTITION BY user_id ORDER BY ts, event_id), {_ZERO}) AS DOUBLE) AS effective_delta
    FROM run
    """,
    tags=("W2", "W6"),
)
def segmented_replay_chunked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2, skew-proof form: the same replay semantics computed as a
    two-level distributed segmented scan with weekly chunks, so no task
    ever sorts more than one key-week of events — the plan that survives
    a key with 10^9 events at 100 TB (SCALE.md "W2 under skew"). Oracle
    is identical to ``segmented_replay``: the decomposition must be
    invisible in the result.
    """
    from osmart_etl_spark.ops.windows import replay_running_balance_chunked

    mv = movement_events(spark, sf_dir)
    out = replay_running_balance_chunked(
        mv, key="user_id", order=["ts", "event_id"],
        chunk=F.floor(F.unix_micros("ts") / F.lit(7 * 86400 * 1_000_000)),
        delta_col="delta", is_absolute_col="is_abs", abs_value_col="abs_value",
    )
    return out.select(
        "event_id", "user_id", "ts",
        dbl(F.col("running")).alias("running"),
        dbl(F.col("effective_delta")).alias("effective_delta"),
    )


@query(
    "session_windows",
    oracle="""
    WITH marked AS (
      SELECT user_id, event_id, ts, value,
        CASE WHEN LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  OR epoch_us(ts)
                     - epoch_us(LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
                     > 21600000000
             THEN 1 ELSE 0 END AS is_new_session
      FROM events
    ),
    sessions AS (
      SELECT user_id, event_id, ts, value,
        CAST(SUM(is_new_session) OVER (
          PARTITION BY user_id ORDER BY ts, event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
        ) AS BIGINT) AS session_id
      FROM marked
    )
    SELECT user_id, session_id,
      MIN(ts) AS session_start, MAX(ts) AS session_end,
      COUNT(*) AS n_events,
      CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS session_value
    FROM sessions
    GROUP BY user_id, session_id
    """,
    tags=("extras-session-window",),
)
def session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (6h inactivity gap) — gaps-and-islands: mark
    session starts with lag, running-sum the marks into session ids,
    aggregate per session. Same single-key partitioning as the W2
    replay → one exchange. (Spark's native ``session_window`` exists
    for streaming; the islands formulation is the batch-exact twin and
    matches ANSI SQL for the oracle.)
    """
    from pyspark.sql import Window

    ev = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # Exact-microsecond gap (unix_micros ↔ DuckDB epoch_us) — a
    # floor-to-second cast("long") diverges from the oracle whenever a
    # gap straddles the 6h boundary by sub-second amounts (1 known case
    # at sf0.1).
    gap = F.unix_micros(F.col("ts")) - F.lag(F.unix_micros(F.col("ts"))).over(w)
    marked = ev.withColumn(
        "is_new_session",
        F.when(gap.isNull() | (gap > 6 * 3600 * 1_000_000), F.lit(1)).otherwise(F.lit(0)),
    )
    frame = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sessions = marked.withColumn("session_id", F.sum("is_new_session").over(frame))
    return sessions.groupBy("user_id", "session_id").agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count(F.lit(1)).alias("n_events"),
        dbl(F.sum(F.col("value").cast("decimal(18,2)"))).alias("session_value"),
    )


@query(
    "sod_lag",
    oracle=f"""
    WITH mv AS ({_MOVEMENT_CTE}),
    daily AS (
      SELECT user_id, CAST(ts AS DATE) AS d, SUM(delta) AS net
      FROM mv WHERE NOT is_abs GROUP BY user_id, CAST(ts AS DATE)
    ),
    eod AS (
      SELECT user_id, d, SUM(net) OVER (
        PARTITION BY user_id ORDER BY d
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
      ) AS eod_value
      FROM daily
    )
    SELECT user_id, d AS event_date,
      CAST(eod_value AS DOUBLE) AS eod_value,
      CAST(COALESCE(LAG(eod_value) OVER (PARTITION BY user_id ORDER BY d), {_ZERO}) AS DOUBLE) AS sod_value
    FROM eod
    """,
    tags=("W4", "A3"),
)
def sod_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Start-of-day from end-of-day via lag (W4) — the reference's
    ``eod.shift(1, fill_value=0)`` (seed_stock_points.py:106).
    """
    from osmart_etl_spark.ops.windows import running_total, shifted

    mv = movement_events(spark, sf_dir).filter(~F.col("is_abs"))
    daily = mv.groupBy("user_id", F.to_date("ts").alias("event_date")).agg(
        F.sum("delta").alias("net")
    )
    eod = running_total(daily, ["user_id"], ["event_date"], "net", out="eod_value")
    out = shifted(eod, ["user_id"], ["event_date"], "eod_value", out="sod_value",
                  default=F.lit(0).cast("decimal(18,2)"))
    return out.select(
        "user_id", "event_date",
        dbl(F.col("eod_value")).alias("eod_value"),
        dbl(F.col("sod_value")).alias("sod_value"),
    )


@query(
    "change_point_encode",
    oracle=f"""
    WITH mv AS ({_MOVEMENT_CTE}),
    daily AS (
      SELECT user_id, CAST(ts AS DATE) AS d, SUM(delta) AS net
      FROM mv WHERE NOT is_abs GROUP BY user_id, CAST(ts AS DATE)
    ),
    sign_series AS (
      SELECT user_id, d,
        CASE WHEN SUM(net) OVER (
          PARTITION BY user_id ORDER BY d
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) > 0
        THEN 1 ELSE -1 END AS polarity
      FROM daily
    )
    SELECT user_id, d AS point_date, polarity
    FROM (
      SELECT *, LAG(polarity) OVER (PARTITION BY user_id ORDER BY d) AS prev
      FROM sign_series
    )
    WHERE prev IS NULL OR polarity != prev
    """,
    tags=("W5",),
)
def change_point_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse change-point encoding (W5) — keep a row only when the value
    differs from the previous day (seed_stock_points.py:119-126; the
    stock_points table's core design, create_stock_points.sql:3). Encoded
    over a derived balance polarity so changes are non-trivial.
    """
    from osmart_etl_spark.ops.windows import change_points, running_total

    mv = movement_events(spark, sf_dir).filter(~F.col("is_abs"))
    daily = mv.groupBy("user_id", F.to_date("ts").alias("point_date")).agg(
        F.sum("delta").alias("net")
    )
    eod = running_total(daily, ["user_id"], ["point_date"], "net", out="eod_value")
    series = eod.select(
        "user_id", "point_date",
        F.when(F.col("eod_value") > 0, F.lit(1)).otherwise(F.lit(-1)).alias("polarity"),
    )
    return change_points(series, ["user_id"], ["point_date"], "polarity")


@query(
    "asof_lookup",
    oracle="""
    SELECT user_id, ts AS last_ts, event_id AS last_event_id,
           value AS last_value
    FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY user_id ORDER BY ts DESC, event_id DESC
      ) AS rn
      FROM events
      WHERE ts <= TIMESTAMP '2024-01-15 00:00:00'
    ) t WHERE rn = 1
    """,
    tags=("J7", "W1"),
)
def asof_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of state lookup (J7/W1) — latest row at-or-before a target
    instant per key (update_stock_points.py:47-69). The ≤ filter prunes
    before the window shuffle; row_number desc = 1 picks the survivor.
    """
    from osmart_etl_spark.ops.joins import asof_lookup as _asof

    ev = read_table(spark, sf_dir, "events")
    out = _asof(
        ev, key_cols=["user_id"], ts_col="ts",
        as_of=F.lit("2024-01-15 00:00:00").cast("timestamp"),
        tiebreakers=[F.col("event_id")],
    )
    return out.select(
        "user_id", F.col("ts").alias("last_ts"), F.col("event_id").alias("last_event_id"),
        F.col("value").alias("last_value"),
    )


@query(
    "calendar_scaffold",
    oracle=f"""
    WITH mv AS ({_MOVEMENT_CTE}),
    daily AS (
      SELECT user_id, CAST(ts AS DATE) AS d, SUM(delta) AS net
      FROM mv WHERE NOT is_abs GROUP BY user_id, CAST(ts AS DATE)
    ),
    bounds AS (
      SELECT user_id, MIN(d) AS dmin, MAX(d) AS dmax FROM daily GROUP BY user_id
    ),
    spine AS (
      SELECT user_id, CAST(UNNEST(generate_series(CAST(dmin AS TIMESTAMP),
                                                  CAST(dmax AS TIMESTAMP),
                                                  INTERVAL 1 DAY)) AS DATE) AS cal_date
      FROM bounds
    )
    SELECT s.user_id, s.cal_date,
      CAST(COALESCE(dl.net, {_ZERO}) AS DOUBLE) AS net
    FROM spine s
    LEFT JOIN daily dl ON s.user_id = dl.user_id AND s.cal_date = dl.d
    """,
    tags=("U8", "U9"),
)
def calendar_scaffold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense per-key calendar scaffold with zero-fill (U8/U9) — the
    reference's ``date_range().reindex().fillna(0)``
    (seed_stock_points.py:92-102). Spark-first: each key's spine is
    generated with sequence()+explode bounded by that key's own active
    range — O(keys × active_days), not a global crossJoin, and no
    shuffle at all: the spine explodes in place from the per-key bounds
    aggregate.
    """
    mv = movement_events(spark, sf_dir).filter(~F.col("is_abs"))
    daily = mv.groupBy("user_id", F.to_date("ts").alias("d")).agg(F.sum("delta").alias("net"))
    bounds = daily.groupBy("user_id").agg(F.min("d").alias("dmin"), F.max("d").alias("dmax"))
    spine = bounds.select(
        "user_id",
        F.explode(F.sequence("dmin", "dmax", F.expr("interval 1 day"))).alias("cal_date"),
    )
    return spine.join(
        daily.withColumnRenamed("d", "cal_date"), ["user_id", "cal_date"], "left"
    ).select(
        "user_id", "cal_date",
        dbl(F.coalesce(F.col("net"), F.lit(0).cast("decimal(18,2)"))).alias("net"),
    )


@query(
    "stock_points_pipeline",
    oracle=f"""
    WITH mv AS ({_MOVEMENT_CTE}),
    seg AS (
      SELECT *, SUM(CASE WHEN is_abs THEN 1 ELSE 0 END) OVER (
        PARTITION BY user_id ORDER BY ts, event_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seg_id
      FROM mv
    ),
    run AS (
      SELECT *,
        COALESCE(FIRST_VALUE(CASE WHEN is_abs THEN COALESCE(abs_value, {_ZERO}) END) OVER (
          PARTITION BY user_id, seg_id ORDER BY ts, event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), {_ZERO})
        + SUM(CASE WHEN is_abs THEN {_ZERO} ELSE delta END) OVER (
          PARTITION BY user_id, seg_id ORDER BY ts, event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running
      FROM seg
    ),
    eff AS (
      SELECT *, running - COALESCE(LAG(running) OVER (
        PARTITION BY user_id ORDER BY ts, event_id), {_ZERO}) AS effective_delta
      FROM run
    ),
    daily AS (
      SELECT user_id, CAST(ts AS DATE) AS d, SUM(effective_delta) AS net
      FROM eff GROUP BY user_id, CAST(ts AS DATE)
    ),
    bounds AS (
      SELECT user_id, MIN(d) AS dmin, CAST(MAX(d) + INTERVAL 1 DAY AS DATE) AS dmax
      FROM daily GROUP BY user_id
    ),
    spine AS (
      SELECT user_id, CAST(UNNEST(generate_series(CAST(dmin AS TIMESTAMP),
                                                  CAST(dmax AS TIMESTAMP),
                                                  INTERVAL 1 DAY)) AS DATE) AS cal_date
      FROM bounds
    ),
    dense AS (
      SELECT s.user_id, s.cal_date, COALESCE(dl.net, {_ZERO}) AS net
      FROM spine s LEFT JOIN daily dl
        ON s.user_id = dl.user_id AND s.cal_date = dl.d
    ),
    eod AS (
      SELECT user_id, cal_date,
        SUM(net) OVER (
          PARTITION BY user_id ORDER BY cal_date
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS eod_stock
      FROM dense
    ),
    sod AS (
      SELECT user_id, cal_date,
        COALESCE(LAG(eod_stock) OVER (
          PARTITION BY user_id ORDER BY cal_date), {_ZERO}) AS sod_stock
      FROM eod
    )
    SELECT user_id, cal_date AS point_date, CAST(sod_stock AS DOUBLE) AS sod_stock
    FROM (
      SELECT *, LAG(sod_stock) OVER (PARTITION BY user_id ORDER BY cal_date) AS prev
      FROM sod
    )
    WHERE prev IS NULL OR sod_stock != prev
    """,
    tags=("EP3", "W2", "W3", "W4", "W5", "U8", "A3"),
)
def stock_points_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EP3 end-to-end — the reference's flagship stock-points pipeline
    (update_stock_points.py, SURVEY §3 EP3), run by the ETL tick's own
    code: ``pipelines/inventory.compute_stock_points`` over the
    normalized events, with no prior state. The oracle keeps the
    reference's dense form (per-key calendar spine → cumulative EOD →
    SOD lag → change points); the pipeline reaches the same points from
    the daily nets alone, every operator inside the head exchange.
    """
    from osmart_etl_spark.ops.partitioning import scaled_partitions
    from osmart_etl_spark.pipelines.inventory import (
        compute_stock_points,
        normalize_movements,
    )

    mv = normalize_movements(read_table(spark, sf_dir, "events"))
    # ONE volume-scaled numbered exchange on the key at the head of the
    # chain: the fixed count keeps AQE's byte-based coalescing from
    # serializing the narrow-row window sorts (measured round 10:
    # 1-task stages reading 4.6M records at x100 amplification, 26 s ->
    # see SCALE.md).
    mv = mv.repartition(scaled_partitions(mv), "art_id")
    return compute_stock_points(mv, None, spark).select(
        F.col("art_id").alias("user_id"), "point_date",
        dbl(F.col("sod_stock")).alias("sod_stock"),
    )


@query(
    "replay_incremental",
    oracle=f"""
    WITH mv AS ({_MOVEMENT_CTE}),
    prior AS (
      SELECT user_id, SUM(delta) AS init_balance
      FROM mv WHERE ts < TIMESTAMP '2024-01-20 00:00:00'
      GROUP BY user_id
    ),
    cur AS (
      SELECT m.*, COALESCE(p.init_balance, {_ZERO}) AS init_balance
      FROM mv m LEFT JOIN prior p ON m.user_id = p.user_id
      WHERE m.ts >= TIMESTAMP '2024-01-20 00:00:00'
    ),
    seg AS (
      SELECT *, SUM(CASE WHEN is_abs THEN 1 ELSE 0 END) OVER (
        PARTITION BY user_id ORDER BY ts, event_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seg_id
      FROM cur
    ),
    run AS (
      SELECT *,
        COALESCE(FIRST_VALUE(CASE WHEN is_abs THEN COALESCE(abs_value, {_ZERO}) END) OVER (
          PARTITION BY user_id, seg_id ORDER BY ts, event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), init_balance)
        + SUM(CASE WHEN is_abs THEN {_ZERO} ELSE delta END) OVER (
          PARTITION BY user_id, seg_id ORDER BY ts, event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running
      FROM seg
    )
    SELECT event_id, user_id, ts,
      CAST(running AS DOUBLE) AS running,
      CAST(running - COALESCE(LAG(running) OVER (
        PARTITION BY user_id ORDER BY ts, event_id), init_balance) AS DOUBLE) AS effective_delta
    FROM run
    """,
    tags=("W2", "T5", "J8"),
)
def replay_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2 incremental mode — the T5 state-continuity asymmetry: the seed
    replay starts every key at 0 (seed_stock_points.py:76) but the
    incremental replay seeds each key from its prior SOD
    (update_stock_points.py:137), folded in via a left join + default-0
    (J8). Here 'prior state' is the pre-cutoff balance, and only
    post-cutoff events are replayed — exactly the reference's
    watermark-incremental shape.
    """
    from osmart_etl_spark.ops.windows import replay_running_balance

    cutoff = F.lit("2024-01-20 00:00:00").cast("timestamp")
    mv = movement_events(spark, sf_dir)
    zero = F.lit(0).cast("decimal(18,2)")
    prior = (
        mv.filter(F.col("ts") < cutoff)
        .groupBy("user_id")
        .agg(F.sum("delta").alias("init_balance"))
    )
    cur = (
        mv.filter(F.col("ts") >= cutoff)
        .join(prior, "user_id", "left")
        .withColumn("init_balance", F.coalesce(F.col("init_balance"), zero))
    )
    out = replay_running_balance(
        cur, key="user_id", order=["ts", "event_id"],
        delta_col="delta", is_absolute_col="is_abs", abs_value_col="abs_value",
        init_col="init_balance",
    )
    return out.select(
        "event_id", "user_id", "ts",
        dbl(F.col("running")).alias("running"),
        dbl(F.col("effective_delta")).alias("effective_delta"),
    )


@query(
    "tumbling_window_net",
    oracle="""
    SELECT
      date_trunc('day', ts) AS window_start,
      user_id,
      CAST(SUM(CASE WHEN event_type = 'error' THEN CAST(value AS DECIMAL(18,2)) * -1
               ELSE CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS net_value,
      COUNT(*) AS n_events
    FROM events
    GROUP BY date_trunc('day', ts), user_id
    """,
    tags=("T4", "streaming-batch-parity"),
)
def tumbling_window_net(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T4 — tumbling 1-day window aggregation via ``F.window``: the
    exact expression streaming/replay_stream.daily_net_windowed runs
    under a watermark, here in batch mode (window() is just an
    expression — same plan shape, same results, which is the point:
    batch/streaming unification).
    """
    ev = read_table(spark, sf_dir, "events")
    # sum in decimal for exactness, expose double
    signed_dec = F.when(
        F.col("event_type") == "error", F.col("value").cast("decimal(18,2)") * -1
    ).otherwise(F.col("value").cast("decimal(18,2)"))
    return (
        ev.groupBy(F.window("ts", "1 day").alias("w"), F.col("user_id"))
        .agg(dbl(F.sum(signed_dec)).alias("net_value"), F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("window_start"), "user_id", "net_value", "n_events"
        )
    )


@query(
    "interval_range_join",
    oracle="""
    SELECT p.event_id, s.event_id AS signup_event_id, p.user_id, p.ts,
           s.ts AS signup_ts,
           p.value AS purchase_value
    FROM events p
    JOIN events s
      ON p.user_id = s.user_id
     AND s.event_type = 'signup'
     AND p.event_type = 'purchase'
     AND p.ts >= s.ts
     AND p.ts <= s.ts + INTERVAL 2 DAY
    """,
    tags=("ext-range-join", "J2"),
)
def interval_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval join — purchases landing within [signup, signup+2d] per
    user — via the bucketized range join (ops/joins.range_join_bucketed):
    intervals explode into the day buckets they span, probes bucket by
    day, and the join runs as a hash join on (bucket, user) with the
    exact range applied after — never a nested-loop over all pairs.
    """
    from osmart_etl_spark.ops.joins import range_join_bucketed

    ev = read_table(spark, sf_dir, "events")
    probes = ev.filter(F.col("event_type") == "purchase")
    intervals = ev.filter(F.col("event_type") == "signup").select(
        F.col("event_id").alias("signup_event_id"),
        "user_id",
        F.col("ts").alias("signup_ts"),
        (F.col("ts") + F.expr("interval 2 day")).alias("end_ts"),
    )
    joined = range_join_bucketed(
        probes, intervals, ts_col="ts", start_col="signup_ts", end_col="end_ts",
        bucket="1 day", extra_eq=["user_id"],
    )
    return joined.select(
        "event_id", "signup_event_id", "user_id", "ts", "signup_ts",
        F.col("value").alias("purchase_value"),
    )


@query(
    "scd2_dimension_snapshot",
    oracle="""
    WITH ch AS (
      SELECT user_id, ts, event_type,
        ROW_NUMBER() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) AS rn
      FROM events
    ),
    u AS (SELECT user_id, ts, event_type FROM ch WHERE rn = 1),
    f AS (
      SELECT *, LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts) AS prev
      FROM u
    ),
    v AS (SELECT user_id, ts, event_type FROM f WHERE prev IS NULL OR event_type <> prev)
    SELECT user_id, event_type AS state, ts AS valid_from,
      LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts) AS valid_to,
      LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL AS is_current
    FROM v
    """,
    tags=("extras-scd2", "W5"),
)
def scd2_dimension_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 dimension built from a change log (io/sinks.scd2_apply,
    initial-load path): per user, the event_type stream collapses to
    versioned states with contiguous validity windows — consecutive
    duplicates absorbed, one open row per key. Exact same-timestamp ties
    pre-deduped by max event_id (W6 determinism rule) because SCD2
    validity is keyed by timestamp alone.
    """
    from osmart_etl_spark.io.sinks import scd2_apply

    ev = read_table(spark, sf_dir, "events")
    w_tie = Window.partitionBy("user_id", "ts").orderBy(F.col("event_id").desc())
    changes = (
        ev.withColumn("__rn", F.row_number().over(w_tie))
        .filter(F.col("__rn") == 1)
        .select("user_id", "ts", "event_type")
    )
    out = scd2_apply(None, changes, ["user_id"], "ts", ["event_type"])
    return out.select(
        "user_id",
        F.col("event_type").alias("state"),
        "valid_from",
        "valid_to",
        "is_current",
    )


@query(
    "linear_interpolation_fill",
    oracle="""
    WITH base AS (
      SELECT event_id, user_id, ts,
        CASE WHEN event_type = 'purchase' THEN CAST(value AS DOUBLE) END AS pv
      FROM events
    ),
    w AS (
      SELECT event_id, user_id, ts,
        last_value(pv IGNORE NULLS) OVER (
          PARTITION BY user_id ORDER BY ts, event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_val,
        last_value(CASE WHEN pv IS NOT NULL THEN ts END IGNORE NULLS) OVER (
          PARTITION BY user_id ORDER BY ts, event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_ts,
        first_value(pv IGNORE NULLS) OVER (
          PARTITION BY user_id ORDER BY ts, event_id
          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_val,
        first_value(CASE WHEN pv IS NOT NULL THEN ts END IGNORE NULLS) OVER (
          PARTITION BY user_id ORDER BY ts, event_id
          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_ts
      FROM base
    )
    SELECT event_id, user_id,
      CASE
        WHEN prev_val IS NULL OR next_val IS NULL THEN NULL
        WHEN epoch_us(next_ts) = epoch_us(prev_ts) THEN prev_val
        ELSE prev_val
          + (CAST(epoch_us(ts) - epoch_us(prev_ts) AS DOUBLE)
             / CAST(epoch_us(next_ts) - epoch_us(prev_ts) AS DOUBLE))
            * (next_val - prev_val)
      END AS interp_value
    FROM w
    """,
    tags=("extras-interp",),
)
def linear_interpolation_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear interpolation between sparse observations — the two-sided
    sibling of ``locf_forward_fill``: every event carries the
    time-fraction interpolation between its user's previous and next
    purchase values (NULL outside the observed span; exact observation
    rows reproduce their own value because the backward frame is
    CURRENT ROW-inclusive). The standard sensor/price densification.

    Scale shape: ONE exchange on user_id, then four ignore-nulls frame
    scans over the same sort — Spark stacks all four in two Window
    nodes over one partitioning, so cost is one shuffle + two ordered
    passes; every frame tracks O(1) state per row. Bit-determinism: the
    fraction arithmetic is the same double expression tree on both
    engines over exact bigint micros.
    """
    from pyspark.sql import Window

    ev = read_table(spark, sf_dir, "events")
    pv = F.when(F.col("event_type") == "purchase", F.col("value").cast("double"))
    pts = F.when(pv.isNotNull(), F.col("ts"))
    back = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    fwd = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    w = ev.select(
        "event_id",
        "user_id",
        "ts",
        F.last(pv, ignorenulls=True).over(back).alias("prev_val"),
        F.last(pts, ignorenulls=True).over(back).alias("prev_ts"),
        F.first(pv, ignorenulls=True).over(fwd).alias("next_val"),
        F.first(pts, ignorenulls=True).over(fwd).alias("next_ts"),
    )
    span = F.unix_micros(F.col("next_ts")) - F.unix_micros(F.col("prev_ts"))
    frac = (
        (F.unix_micros(F.col("ts")) - F.unix_micros(F.col("prev_ts"))).cast("double")
        / span.cast("double")
    )
    return w.select(
        "event_id",
        "user_id",
        F.when(F.col("prev_val").isNull() | F.col("next_val").isNull(), F.lit(None).cast("double"))
        .when(span == 0, F.col("prev_val"))
        .otherwise(F.col("prev_val") + frac * (F.col("next_val") - F.col("prev_val")))
        .alias("interp_value"),
    )


@query(
    "max_concurrent_sessions",
    oracle="""
    WITH iv AS (
      SELECT event_id, ts AS s,
        ts + INTERVAL 1 HOUR AS e,
        date_trunc('day', ts) + INTERVAL 1 DAY AS next_mid
      FROM events
    ),
    pieces AS (
      SELECT event_id, s, LEAST(e, next_mid) AS e FROM iv
      UNION ALL
      SELECT event_id, next_mid AS s, e FROM iv WHERE e > next_mid
    ),
    pts AS (
      SELECT CAST(date_trunc('day', s) AS DATE) AS day, s AS t,
             1 AS delta, event_id
      FROM pieces WHERE s < e
      UNION ALL
      SELECT CAST(date_trunc('day', s) AS DATE) AS day, e AS t,
             -1 AS delta, event_id
      FROM pieces WHERE s < e AND e > s
    ),
    swept AS (
      SELECT day,
        SUM(delta) OVER (
          PARTITION BY day ORDER BY t, delta, event_id
          ROWS UNBOUNDED PRECEDING
        ) AS live
      FROM pts
    )
    SELECT day, CAST(MAX(live) AS BIGINT) AS max_concurrent
    FROM swept GROUP BY day
    """,
    tags=("ext-temporal", "sweep-line"),
)
def max_concurrent_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sweep-line interval concurrency: peak number of simultaneously
    live sessions (event ts + 1 hour) per day — the interval-analytics
    family (overlap counting) that neither windows-over-rows nor joins
    cover directly. Each interval becomes a +1 point at its start and a
    -1 at its end; a running sum in time order IS the live count, and
    its max the answer. Scale hinges on two things: (1) midnight
    CLIPPING splits cross-day intervals so the sweep partitions by day
    — bounded partitions, no global sort; (2) the -1-before-+1 tie rule
    at equal timestamps ([s,e) semantics) plus an event_id tiebreaker
    makes the ROWS-frame running sum deterministic (W6). A 10^9-row
    day is still one partition, so for true firehoses the same trick
    nests: clip to hours, sweep hours, then merge boundary counts."""
    ev = read_table(spark, sf_dir, "events")
    iv = ev.select(
        "event_id",
        F.col("ts").alias("s"),
        (F.col("ts") + F.expr("INTERVAL 1 HOUR")).alias("e"),
        (F.date_trunc("day", F.col("ts")) + F.expr("INTERVAL 1 DAY")).alias("next_mid"),
    )
    # Clip pieces AND their ±1 sweep points in ONE pass (round 13): the
    # former p1∪p2 then starts∪ends unioned four references to the
    # events scan into the plan — four full scans of the biggest table
    # for row-local arithmetic. The array filter keeps exactly the
    # pieces the old `s < e` filter kept (piece 2 exists iff
    # e > next_mid ⟺ its ps < pe), and both points carry the piece's
    # start-day key exactly as before.
    pcs = F.filter(
        F.array(
            F.struct(
                F.col("s").alias("ps"),
                F.least(F.col("e"), F.col("next_mid")).alias("pe"),
            ),
            F.struct(F.col("next_mid").alias("ps"), F.col("e").alias("pe")),
        ),
        lambda p: p["ps"] < p["pe"],
    )
    points = F.flatten(
        F.transform(
            pcs,
            lambda p: F.array(
                F.struct(
                    F.to_date(F.date_trunc("day", p["ps"])).alias("day"),
                    p["ps"].alias("t"),
                    F.lit(1).alias("delta"),
                ),
                F.struct(
                    F.to_date(F.date_trunc("day", p["ps"])).alias("day"),
                    p["pe"].alias("t"),
                    F.lit(-1).alias("delta"),
                ),
            ),
        )
    )
    pts = iv.select("event_id", F.explode(points).alias("__p")).select(
        "__p.day", "__p.t", "__p.delta", "event_id"
    )
    from pyspark.sql import Window

    w = (
        Window.partitionBy("day")
        .orderBy("t", "delta", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    swept = pts.select("day", F.sum("delta").over(w).alias("live"))
    return swept.groupBy("day").agg(
        F.max("live").cast("bigint").alias("max_concurrent")
    )


@query(
    "fifo_match_returns",
    oracle="""
    WITH inflow AS (
      SELECT l_partkey,
        CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) OVER (
          PARTITION BY l_partkey
          ORDER BY l_shipdate, l_orderkey, l_linenumber
          ROWS UNBOUNDED PRECEDING) AS DECIMAL(18,2)) AS hi,
        CAST(l_quantity AS DECIMAL(18,2)) AS qty,
        l_orderkey AS in_order, l_linenumber AS in_line
      FROM lineitem WHERE l_returnflag != 'R'
    ),
    outflow AS (
      SELECT l_partkey,
        CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) OVER (
          PARTITION BY l_partkey
          ORDER BY l_shipdate, l_orderkey, l_linenumber
          ROWS UNBOUNDED PRECEDING) AS DECIMAL(18,2)) AS hi,
        CAST(l_quantity AS DECIMAL(18,2)) AS qty,
        l_orderkey AS out_order, l_linenumber AS out_line
      FROM lineitem WHERE l_returnflag = 'R'
    ),
    matched AS (
      SELECT i.l_partkey,
        LEAST(i.hi, o.hi) - GREATEST(i.hi - i.qty, o.hi - o.qty) AS m_qty
      FROM inflow i JOIN outflow o
        ON o.l_partkey = i.l_partkey
       AND (i.hi - i.qty) < o.hi
       AND (o.hi - o.qty) < i.hi
    )
    SELECT l_partkey,
      CAST(COUNT(*) AS BIGINT) AS n_matches,
      CAST(SUM(m_qty) AS DOUBLE) AS matched_qty
    FROM matched GROUP BY l_partkey
    """,
    tags=("ext-temporal", "fifo"),
)
def fifo_match_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FIFO lot matching (inventory-costing semantics): each return of
    a part consumes the part's EARLIEST unconsumed shipments, oldest
    first. The classic imperative queue becomes pure relational
    algebra via the cumulative-interval trick: every inflow owns the
    quantity interval [cum-qty, cum) on the part's inflow axis, every
    outflow likewise on the outflow axis, and FIFO matching IS
    interval intersection — a self-interval-join per part where the
    matched quantity is the overlap length. No iteration, no UDF, no
    per-row state: two window cumsums (one exchange each, same
    partitioning) + one per-part range join. Quantities are exact
    decimals end-to-end; W6 tiebreakers (orderkey, linenumber) pin the
    FIFO order. At 10^9 lots per part the range join wants the
    banded-interval optimization of interval_range_join; per-part lot
    counts here are small enough for the plain form."""
    from pyspark.sql import Window

    li = read_table(spark, sf_dir, "lineitem")

    def cum(df):
        w = (
            Window.partitionBy("l_partkey")
            .orderBy("l_shipdate", "l_orderkey", "l_linenumber")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        q = F.col("l_quantity").cast("decimal(18,2)")
        return df.select(
            "l_partkey",
            F.sum(q).over(w).cast("decimal(18,2)").alias("hi"),
            q.alias("qty"),
        )

    inflow = cum(li.filter(F.col("l_returnflag") != "R")).select(
        F.col("l_partkey").alias("pk_i"),
        F.col("hi").alias("i_hi"),
        F.col("qty").alias("i_qty"),
    )
    outflow = cum(li.filter(F.col("l_returnflag") == "R")).select(
        F.col("l_partkey").alias("pk_o"),
        F.col("hi").alias("o_hi"),
        F.col("qty").alias("o_qty"),
    )
    matched = inflow.join(
        outflow,
        (F.col("pk_i") == F.col("pk_o"))
        & ((F.col("i_hi") - F.col("i_qty")) < F.col("o_hi"))
        & ((F.col("o_hi") - F.col("o_qty")) < F.col("i_hi")),
    ).select(
        F.col("pk_i").alias("l_partkey"),
        (
            F.least(F.col("i_hi"), F.col("o_hi"))
            - F.greatest(
                F.col("i_hi") - F.col("i_qty"), F.col("o_hi") - F.col("o_qty")
            )
        ).alias("m_qty"),
    )
    return matched.groupBy("l_partkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_matches"),
        dbl(F.sum(F.col("m_qty"))).alias("matched_qty"),
    )


@query(
    "pattern_v_shape",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_id, ts, value,
        LAG(value, 2) OVER w AS v_m2,
        LAG(value, 1) OVER w AS v_m1,
        LEAD(value, 1) OVER w AS v_p1,
        LEAD(value, 2) OVER w AS v_p2
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id, event_id AS trough_event, ts AS trough_ts,
           value AS trough_value
    FROM seq
    WHERE v_m2 > v_m1 AND v_m1 > value
      AND value < v_p1 AND v_p1 < v_p2
    """,
    tags=("ext-temporal", "row-pattern"),
)
def pattern_v_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-pattern detection (the MATCH_RECOGNIZE workload, which
    Spark lacks as syntax): find V-shaped troughs in each user's value
    sequence — two strictly-falling steps into a local minimum, two
    strictly-rising steps out. The pattern window compiles to LAG/LEAD
    offsets over ONE (user, time) sort — every fixed-length row
    pattern reduces to offset comparisons like this, one exchange +
    one in-partition sort total, versus the self-join-per-step naive
    encoding (k-1 joins for a k-step pattern). Variable-length
    patterns (A B+ C) need the islands trick (change_point_encode) or
    applyInPandasWithState instead. Strict inequalities + the
    event_id tiebreak (W6) make matches deterministic."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ev = read_table(spark, sf_dir, "events")
    seq = ev.select(
        "user_id",
        "event_id",
        "ts",
        "value",
        F.lag("value", 2).over(w).alias("v_m2"),
        F.lag("value", 1).over(w).alias("v_m1"),
        F.lead("value", 1).over(w).alias("v_p1"),
        F.lead("value", 2).over(w).alias("v_p2"),
    )
    return seq.filter(
        (F.col("v_m2") > F.col("v_m1"))
        & (F.col("v_m1") > F.col("value"))
        & (F.col("value") < F.col("v_p1"))
        & (F.col("v_p1") < F.col("v_p2"))
    ).select(
        "user_id",
        F.col("event_id").alias("trough_event"),
        F.col("ts").alias("trough_ts"),
        F.col("value").alias("trough_value"),
    )
