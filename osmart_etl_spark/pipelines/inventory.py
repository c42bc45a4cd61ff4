"""EP2 + EP3 — inventory pipelines (SURVEY.md §3 EP2/EP3).

EP2 (raw movements incremental): normalize source events into the
unified movement log past the time watermark with the +1s late-data
buffer and client-side re-filter (T2), append to the raw log
(update_raw_stock_movements.py).

EP3 (stock points incremental): filter/normalize the raw log, load prior
SOD state (as-of, J7), replay with state continuity (W2/T5), daily net →
sparse change-points (no calendar scaffold: a day without movements
changes nothing), upsert into the points table, advance the date
watermark (update_stock_points.py).

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
    replay_running_balance,
    replay_running_balance_auto,
)
from osmart_etl_spark.streaming.incremental import WatermarkStore, run_incremental

LATE_BUFFER_SECONDS = 1  # T2 — update_raw_stock_movements.py:69

#: The raw log as ``run_raw_movements_incremental`` writes it: the
#: ``normalize_movements`` columns, ``extracted_at`` and the ``fecha_dia``
#: partition. Reading with it spares a schema-inference job. ``fecha``
#: is read as TIMESTAMP whether the events carried a zoned or a tz-less
#: timestamp (Parquet reads a tz-less column as TIMESTAMP, as UTC).
RAW_LOG_SCHEMA = (
    "id BIGINT, fecha TIMESTAMP, art_id BIGINT, is_absolute BOOLEAN, "
    "abs_stock_after DECIMAL(18,2), delta_cantidad DECIMAL(20,2), "
    "extracted_at TIMESTAMP, fecha_dia DATE"
)


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
            # the watermark is an ISO timestamp in the session time zone,
            # as wm_expr below formats it, so Spark parses it back
            last_ts = F.lit(last).cast("timestamp")
            start = last_ts + F.expr(f"INTERVAL {LATE_BUFFER_SECONDS} SECONDS")
            # window start uses the buffered bound; the strict re-filter
            # keeps correctness even if the buffer overlaps
            mv = mv.filter(F.col("fecha") >= start).filter(F.col("fecha") > last_ts)
        return mv.withColumn("extracted_at", F.current_timestamp())

    def load(batch: DataFrame) -> None:
        write_append(
            batch.withColumn("fecha_dia", F.to_date("fecha")),
            raw_log_path,
            partition_by=("fecha_dia",),
        )

    return run_incremental(
        spark, store=store, pipeline="raw_movements", source_name=store_name,
        extract=extract, load=load,
        wm_expr=F.date_format(F.max("fecha"), "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"),
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
    """EP3 core: replay → daily net → change points.

    ``prior_points`` (the sink's current state) seeds per-key initial
    balances — the T5 seed-vs-update asymmetry: None ⇒ init 0. The
    seed of a key is its latest point (``max_by`` over ``point_date``).
    Output: (art_id, point_date, sod_stock decimal(38,2)).

    Change-point algebra. The reference builds a dense calendar per key
    (first to last movement day + 1), sets SOD(s) = EOD(s−1) with
    SOD(first day) = base, and keeps the days where SOD changes. A day
    without movements has net 0, and SOD changes on day s exactly when
    net(s−1) ≠ 0. So the points are, per key:

    - ``(dmin, base)``, with ``dmin`` the first movement day;
    - ``(d + 1, base + Σ_{d' ≤ d} net(d'))`` for each movement day ``d``
      whose net ≠ 0.

    That is one ``groupBy(art_id, d)`` and one window on ``art_id``
    ordered by ``d`` after the replay, which already partitions by
    ``art_id``: with a prior state the flat form plans two hash
    exchanges (the replay's and the prior frontier's aggregate), no
    calendar spine and no join back. ``tests/test_pipelines.py`` keeps
    the spine formulation as the oracle.

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
    init_col = None
    if prior_points is not None:
        latest = prior_points.groupBy("art_id").agg(
            F.max_by("sod_stock", "point_date").alias("init_balance")
        )
        mv = mv.join(latest, "art_id", "left")
        init_col = "init_balance"

    replay = dict(
        key="art_id", order=["fecha", "id"],
        delta_col="delta_cantidad", is_absolute_col="is_absolute",
        abs_value_col="abs_stock_after", init_col=init_col,
    )
    if max_key_rows is not None:
        eff = replay_running_balance_auto(
            mv, chunk=_ep3_chunk_weeks(),
            max_key_rows=max_key_rows, task_row_budget=task_row_budget, **replay,
        )
    else:
        eff = replay_running_balance(mv, **replay)
    daily = eff.groupBy("art_id", F.to_date("fecha").alias("d")).agg(
        F.coalesce(F.sum("effective_delta"), zero).alias("net"),
        (F.coalesce(F.max(init_col), zero) if init_col else zero).alias("base"),
    )
    w = Window.partitionBy("art_id").orderBy("d")
    sod = "decimal(38,2)"
    marked = daily.select(
        "art_id", "d", "net", "base",
        F.lag("d").over(w).isNull().alias("first"),
        (F.col("base") + F.sum("net").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )).alias("eod"),
    )
    point = F.explode(F.array(
        F.when(F.col("first"), F.struct(
            F.col("d").alias("point_date"), F.col("base").cast(sod).alias("sod_stock"),
        )),
        F.when(F.col("net") != 0, F.struct(
            F.date_add("d", 1).alias("point_date"), F.col("eod").cast(sod).alias("sod_stock"),
        )),
    ))
    return (
        marked.select("art_id", point.alias("p"))
        .filter(F.col("p").isNotNull())
        .select("art_id", "p.point_date", "p.sod_stock")
    )


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
    # max emitted point_date, which is movement-day + 1 (a day's net moves
    # the next day's SOD): advancing to it would make the next run's strict
    # `>` filter silently drop one full day of movements. (The bug is
    # insidious because any later absolute reset masks it in final
    # balances.) Computed eagerly per run and carried via this cell.
    new_wm_holder: list = [None]
    stats_holder: list = [None]

    def extract(spark_, last):
        mv = spark_.read.schema(RAW_LOG_SCHEMA).parquet(raw_log_path)
        if last is not None:
            after = F.lit(last).cast("date")
            # fecha_dia, the raw log's partition column, is to_date(fecha):
            # its predicate prunes the scan to the days past the watermark
            mv = mv.filter(F.col("fecha_dia") > after).filter(F.to_date("fecha") > after)
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
        # Atomic versioned sink: crash-safe publish, CAS against a
        # concurrent duplicate run. The tick's key-histogram summary
        # rides in the commit sidecar, so stats and state are one
        # publish and a later reader gets the skew profile without a
        # data scan (io/atomic.read_sidecar). The batch is
        # run_incremental's checkpoint, so the JDBC mirror gets the rows
        # (and updated_at stamps) the lake commits.
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

    return run_incremental(
        spark, store=store, pipeline="stock_points", source_name=store_name,
        extract=extract, load=load, wm_expr=lambda: new_wm_holder[0],
    )
