"""EP2 + EP3 — inventory pipelines (SURVEY.md §3 EP2/EP3).

EP2 (raw movements incremental): normalize source events into the
unified movement log past the time watermark with the +1s late-data
buffer and client-side re-filter (T2), append to the raw log
(update_raw_stock_movements.py).

EP3 (stock points incremental): filter/normalize the raw log, load prior
SOD state (as-of, J7), replay with state continuity (W2/T5), daily net →
calendar scaffold → SOD → sparse change-points, upsert into the points
table, advance the date watermark (update_stock_points.py).

Each run covers one store, as in the reference (the orchestrator loops
stores). Sink layout: the raw log partitions by event date so
incremental reads prune to the slice (the Spark analogue of the
reference's (art_id,tienda_id,fecha) index, §4).
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from osmart_etl_spark.io.atomic import read_committed, upsert_versioned
from osmart_etl_spark.io.sinks import write_append
from osmart_etl_spark.ops.windows import (
    REPLAY_TASK_ROW_BUDGET,
    change_points,
    replay_running_balance,
    replay_running_balance_auto,
)
from osmart_etl_spark.streaming.incremental import WatermarkStore, run_incremental

LATE_BUFFER_SECONDS = 1  # T2 — update_raw_stock_movements.py:69


def normalize_movements(events: DataFrame) -> DataFrame:
    """EP2 branch normalization (events → unified movement schema).

    Mirrors queries/temporal.movement_events: signup = absolute reset,
    error = negative delta, rest positive.
    """
    v = F.col("value").cast("decimal(18,2)")
    zero = F.lit(0).cast("decimal(18,2)")
    return events.select(
        F.col("event_id").alias("id"),
        F.col("ts").alias("fecha"),
        F.col("user_id").alias("art_id"),
        (F.col("event_type") == "signup").alias("is_absolute"),
        F.when(F.col("event_type") == "signup", v).alias("abs_stock_after"),
        F.when(F.col("event_type") == "signup", zero)
        .when(F.col("event_type") == "error", v * -1)
        .otherwise(v)
        .alias("delta_cantidad"),
    )


def run_raw_movements_incremental(
    spark: SparkSession,
    *,
    events_path: str,
    raw_log_path: str,
    watermark_path: str,
    store_name: str = "tienda_01",
) -> str | None:
    """EP2: append movements past the ts watermark to the raw log.

    Restart point = last_ts + 1s buffer, then a belt-and-braces re-filter
    ``fecha > last_ts`` (T2). The raw log is append-only and nothing
    downstream deduplicates on ``id``: a crash after the append commits
    but before the watermark advances re-appends the slice on the next
    tick (ROADMAP direction 1 tracks closing that window).
    """
    store = WatermarkStore(spark, watermark_path)

    def extract(spark_, last):
        events = spark_.read.parquet(events_path)
        mv = normalize_movements(events)
        if last is not None:
            last_ts = dt.datetime.fromisoformat(last)
            start = last_ts + dt.timedelta(seconds=LATE_BUFFER_SECONDS)
            # window start uses the buffered bound; the strict re-filter
            # keeps correctness even if the buffer overlaps
            mv = mv.filter(F.col("fecha") >= F.lit(start)).filter(
                F.col("fecha") > F.lit(last_ts)
            )
        return mv.withColumn("extracted_at", F.current_timestamp())

    def load(batch: DataFrame) -> None:
        write_append(
            batch.withColumn("fecha_dia", F.to_date("fecha")),
            raw_log_path,
            partition_by=("fecha_dia",),
        )

    def wm(batch: DataFrame):
        row = batch.agg(F.max("fecha").alias("m")).first()
        return row["m"].isoformat() if row["m"] is not None else None

    return run_incremental(
        spark, store=store, pipeline="raw_movements", source_name=store_name,
        extract=extract, load=load, wm_expr=wm,
    )


def _ep3_chunk_weeks():
    """Chunk expression for the EP3 replay's skew-proof form: weekly
    ranges of the leading order column (non-decreasing in `fecha`, the
    contract replay_running_balance_chunked requires). A FUNCTION, not
    a module constant (ADVICE r12): building a Column requires an
    active SparkSession in Spark 4, so a module-level expression made
    `import osmart_etl_spark.pipelines.inventory` crash before session
    creation [SESSION_OR_CONTEXT_NOT_EXISTS]."""
    return F.floor(F.unix_micros("fecha") / F.lit(7 * 86400 * 1_000_000))


def compute_stock_points(
    movements: DataFrame,
    prior_points: DataFrame | None,
    spark: SparkSession,
    *,
    max_key_rows: int | None = None,
    task_row_budget: int = REPLAY_TASK_ROW_BUDGET,
) -> DataFrame:
    """EP3 core: replay → daily net → scaffold → SOD → change points.

    ``prior_points`` (the sink's current state) seeds per-key initial
    balances — the T5 seed-vs-update asymmetry: None ⇒ init 0.
    Output: (art_id, point_date, sod_stock).

    ``max_key_rows`` (round 12, VERDICT r11 #2): the largest single-SKU
    movement count of THIS slice, when the caller already knows it —
    ``run_stock_points_incremental`` folds the histogram into the
    watermark aggregate it must run anyway, so the number arrives with
    ZERO extra input passes. With it, the replay dispatches through
    ``replay_running_balance_auto``: a hot SKU beyond
    ``task_row_budget`` takes the bounded-partition chunked form
    (weekly chunks) instead of one task sorting the whole key. None
    keeps the flat form (seed/backfill callers and tests — the
    pre-round-12 behavior, and both forms are locked bit-identical).
    """
    zero = F.lit(0).cast("decimal(18,2)")
    mv = movements
    if prior_points is not None:
        w = Window.partitionBy("art_id").orderBy(F.col("point_date").desc())
        latest = (
            prior_points.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .select("art_id", F.col("sod_stock").alias("init_balance"))
        )
        mv = mv.join(latest, "art_id", "left").withColumn(
            "init_balance", F.coalesce(F.col("init_balance"), zero)
        )
        init_col = "init_balance"
    else:
        init_col = None

    if max_key_rows is not None:
        eff = replay_running_balance_auto(
            mv, key="art_id", order=["fecha", "id"],
            chunk=_ep3_chunk_weeks(),
            max_key_rows=max_key_rows, task_row_budget=task_row_budget,
            delta_col="delta_cantidad", is_absolute_col="is_absolute",
            abs_value_col="abs_stock_after", init_col=init_col,
        )
    else:
        eff = replay_running_balance(
            mv, key="art_id", order=["fecha", "id"],
            delta_col="delta_cantidad", is_absolute_col="is_absolute",
            abs_value_col="abs_stock_after", init_col=init_col,
        )
    daily = eff.groupBy("art_id", F.to_date("fecha").alias("d")).agg(
        F.sum("effective_delta").alias("net")
    )
    bounds = daily.groupBy("art_id").agg(
        F.min("d").alias("dmin"), F.date_add(F.max("d"), 1).alias("dmax")
    )
    spine = bounds.select(
        "art_id", F.explode(F.sequence("dmin", "dmax", F.expr("interval 1 day"))).alias("cal_date")
    )
    dense = spine.join(
        daily.withColumnRenamed("d", "cal_date"), ["art_id", "cal_date"], "left"
    ).select("art_id", "cal_date", F.coalesce(F.col("net"), zero).alias("net"))

    w_cum = (
        Window.partitionBy("art_id").orderBy("cal_date")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_lag = Window.partitionBy("art_id").orderBy("cal_date")
    base = F.coalesce(F.col("init_balance"), zero) if init_col else zero
    eod = dense
    if init_col:
        init_per_key = mv.select("art_id", "init_balance").dropDuplicates(["art_id"])
        eod = dense.join(init_per_key, "art_id", "left")
    eod = eod.withColumn("eod_stock", base + F.sum("net").over(w_cum))
    sod = eod.select(
        "art_id", "cal_date",
        F.coalesce(F.lag("eod_stock").over(w_lag), base).alias("sod_stock"),
    )
    points = change_points(sod, ["art_id"], ["cal_date"], "sod_stock")
    return points.select("art_id", F.col("cal_date").alias("point_date"), "sod_stock")


def run_stock_points_incremental(
    spark: SparkSession,
    *,
    raw_log_path: str,
    points_path: str,
    watermark_path: str,
    store_name: str = "tienda_01",
    complete_days_before: dt.date | None = None,
    jdbc: dict | None = None,
    task_row_budget: int = REPLAY_TASK_ROW_BUDGET,
) -> str | None:
    """EP3: compute/refresh stock points from movements past the date
    watermark, upsert on (art_id, point_date).

    ``jdbc`` = {"url", "table", "driver"} (optional): ALSO land the
    refreshed points in a live relational table via the staged MERGE —
    the reference's actual EP3 sink (temp-staging bulk upsert into
    MySQL, update_stock_points.py:237-256). Same composite PK and
    keep-latest order as the lake copy.

    ``complete_days_before`` enforces the reference's T3 rule
    ("only process complete days" — update_stock_points.py:86): only
    movements strictly before that date are processed, so a partially
    observed day is never folded into SOD state. Pass today's date for
    the reference's movements-through-yesterday behavior; None processes
    everything (tests / backfills of closed history).
    """
    store = WatermarkStore(spark, watermark_path)
    # The watermark must track the max PROCESSED MOVEMENT date — NOT the
    # max emitted point_date, which is movement-day + 1 (the spine adds a
    # final-SOD day): advancing to it would make the next run's strict
    # `>` filter silently drop one full day of movements. (The bug is
    # insidious because any later absolute reset masks it in final
    # balances.) Computed eagerly per run and carried via this cell.
    new_wm_holder: list = [None]
    stats_holder: list = [None]

    def extract(spark_, last):
        mv = spark_.read.parquet(raw_log_path)
        if last is not None:
            mv = mv.filter(F.to_date("fecha") > F.lit(last).cast("date"))
        if complete_days_before is not None:
            mv = mv.filter(F.to_date("fecha") < F.lit(complete_days_before))
        # ONE pass computes both the watermark and the slice's key
        # histogram summary (VERDICT r11 #2): group by key first (the
        # shuffle carries one row per key per map partition), then fold
        # to a scalar row. This replaces the old global max(fecha)
        # aggregate — the skew number arrives with ZERO extra input
        # passes, which is what SCALE.md's call-site policy demands of
        # the incremental path.
        row = (
            mv.groupBy("art_id")
            .agg(
                F.count(F.lit(1)).alias("__n"),
                F.max(F.to_date("fecha")).alias("__d"),
            )
            .agg(
                F.max("__d").alias("m"),
                F.max("__n").alias("max_key_rows"),
                F.count(F.lit(1)).alias("n_keys"),
            )
            .first()
        )
        if row["m"] is None:
            return None  # empty slice: no prior-points read, no replay
        new_wm_holder[0] = row["m"].isoformat()
        stats_holder[0] = {
            "max_key_rows": int(row["max_key_rows"] or 0),
            "n_keys": int(row["n_keys"] or 0),
            "tick_wm": new_wm_holder[0],
        }
        try:
            prior = read_committed(spark_, points_path)
        except FileNotFoundError:
            prior = None
        pts = compute_stock_points(
            mv, prior, spark_,
            max_key_rows=stats_holder[0]["max_key_rows"],
            task_row_budget=task_row_budget,
        )
        return pts.withColumn("updated_at", F.current_timestamp())

    def load(batch: DataFrame) -> None:
        if jdbc:
            # one evaluation feeding both sinks (see pipelines/sales.py)
            batch = batch.localCheckpoint(eager=True)
        # Round 7: atomic versioned sink (see pipelines/sales.py) —
        # crash-safe publish, CAS against concurrent duplicate runs.
        # Round 12: the tick's key-histogram summary rides in the commit
        # sidecar — stats and state are one atomic publish, so any later
        # consumer (monitoring, a backfill sizing its chunks) reads the
        # skew profile without a data scan (io/atomic.read_sidecar).
        upsert_versioned(
            spark, batch, points_path,
            keys=["art_id", "point_date"], order_col="updated_at",
            sidecar=stats_holder[0],
        )
        if jdbc:
            from osmart_etl_spark.io.jdbc_sink import jdbc_upsert

            jdbc_upsert(
                spark,
                batch,
                jdbc["url"],
                jdbc["table"],
                keys=["art_id", "point_date"],
                order_col="updated_at",
                driver=jdbc.get("driver"),
            )

    def wm(batch: DataFrame):
        return new_wm_holder[0]

    return run_incremental(
        spark, store=store, pipeline="stock_points", source_name=store_name,
        extract=extract, load=load, wm_expr=wm,
    )
