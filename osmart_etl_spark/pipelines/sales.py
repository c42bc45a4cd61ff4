"""EP1 — sales incremental pipeline (SURVEY.md §3 EP1).

The reference: per store, read ``last_processed_ven_id`` from
etl_progress, extract the per-sale conditional payment aggregation past
it, normalize payments (waterfall + overrides + QA tagging), upsert into
``ventas_limpias`` on (ven_id, tienda, source_system), advance the
watermark (update_clean_data.py:25-107, transform.py).

Spark-first: one declarative DAG per run — watermark-filtered scan (the
predicate pushes to the source) → groupBy conditional agg → payment
normalization (all when/otherwise, no UDF) → keyed upsert → watermark
advance. Each run covers one store (``tienda``); the orchestrator loops
stores.

Round 12 — incremental-view-maintenance shape: the reference's grain
(ven_id) is immutable once extracted, so replace-per-key is safe there;
this pipeline's grain (user_id) straddles watermark slices, so slice
RAW sums fold additively into a per-key accumulator
(io/sinks.merge_accumulate_versioned — exactly-once via the ledger,
seq = slice max event_id) and the normalized table re-derives from the
accumulator each tick (O(keys), one compact row per key ever).
Two-tick == one-shot equality is pinned by
tests/test_pipelines.py::test_sales_incremental_two_runs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from osmart_etl_spark.ops.relational import (
    conditional_override,
    enrich_extract,
    tag_payment_issue,
    waterfall_split,
)
from osmart_etl_spark.streaming.incremental import WatermarkStore, run_incremental


def extract_sales(events: DataFrame, last_id: int | None) -> DataFrame:
    """Per-sale payment split past the id watermark (A1/A2 + P6).

    Ref: extract_latest_sicar_sales.sql — GROUP BY ven_id with
    SUM(CASE tpa_id...) payment columns and MAX() representatives.
    """
    if last_id is not None:
        events = events.filter(F.col("event_id") > int(last_id))
    zero = F.lit(0).cast("decimal(18,2)")
    v = F.col("value").cast("decimal(18,2)")
    return events.groupBy("user_id").agg(
        F.sum(F.when(F.col("event_type") == "purchase", v).otherwise(zero)).alias("efectivo_in"),
        F.sum(F.when(F.col("event_type") == "click", v).otherwise(zero)).alias("tarjeta_in"),
        F.sum(v).alias("total_venta"),
        F.max("ts").alias("fecha_hora"),
        F.max("event_id").alias("last_event_id"),
    )


def normalize_payments(df: DataFrame) -> DataFrame:
    """Payment normalization (transform.py semantics): waterfall split
    (P11/P12), no-flow override (P9), QA issue tagging (P10)."""
    ef, ta, ot = waterfall_split(
        F.col("total_venta"), F.col("efectivo_in"), F.col("tarjeta_in")
    )
    out = df.withColumn("efectivo", ef).withColumn("tarjeta", ta).withColumn("otros", ot)
    no_flujo = (F.col("efectivo_in") == 0) & (F.col("tarjeta_in") == 0)
    out = conditional_override(
        out,
        no_flujo,
        {
            "efectivo": F.col("total_venta"),
            "tarjeta": F.lit(0).cast("decimal(18,2)"),
            "otros": F.lit(0).cast("decimal(18,2)"),
        },
    )
    return out.withColumn(
        "payment_issue",
        tag_payment_issue(
            F.col("total_venta"), F.col("efectivo"), F.col("tarjeta"), F.col("otros")
        ),
    )


def run_sales_incremental(
    spark: SparkSession,
    *,
    events_path: str,
    sink_path: str,
    watermark_path: str,
    tienda: str = "tienda_01",
    jdbc: dict | None = None,
    n_buckets: int = 64,
) -> int | None:
    """One EP1 incremental run; returns the new watermark (max event_id).

    ``jdbc`` (optional) = {"url": ..., "table": ..., "driver": ...}:
    ALSO land the batch into a live relational table via the staged
    MERGE sink (io/jdbc_sink) — the reference's actual destination
    (``ventas_limpias`` in MySQL, update_clean_data.py:95-102). The
    parquet sink stays the lake copy; the JDBC upsert shares the same
    composite PK and keep-latest semantics, so both stay consistent
    under re-runs.
    """
    store = WatermarkStore(spark, watermark_path)
    accum_path = f"{sink_path.rstrip('/')}_accum"
    # the slice's max event_id, computed once by wm (which run_incremental
    # calls before load) and reused by load as the fold's batch seq
    new_wm_holder: list = [None]

    def extract(spark_, last):
        events = spark_.read.parquet(events_path)
        # Event-level re-filter against the COMMITTED fold ledger, not
        # just the watermark (ADVICE r12): the hwm alone only rejects a
        # replay of the IDENTICAL slice. If a run crashes after
        # merge_accumulate_versioned commits but before store.set
        # advances the watermark, and new events land before the retry,
        # the re-extracted slice would aggregate old+new events with a
        # HIGHER max event_id — the hwm accepts it and the already-
        # folded events are summed twice. Excising event_id <= hwm from
        # the slice makes the retry fold exactly the unfolded suffix
        # (the reference's watermark + re-filter discipline at the
        # event grain). One metadata-file read, no data pass.
        last_id = int(last) if last is not None else None
        from osmart_etl_spark.io.sinks import read_accumulate_ledger

        try:
            hwm = read_accumulate_ledger(spark_, accum_path)["hwm"].get(
                f"sales:{tienda}"
            )
        except FileNotFoundError:
            hwm = None  # first tick — no committed fold yet
        if hwm is not None:
            last_id = int(hwm) if last_id is None else max(last_id, int(hwm))
        # RAW per-key slice partials only — normalization moves to load,
        # AFTER the additive fold (round-12 review): a keep-latest
        # REPLACE of per-user totals computed over one watermark slice
        # clobbered the cumulative history whenever a user was active
        # across two ticks (run 1: user A sums 500; run 2: A sums 30 →
        # sink said 30). The reference never hits this because its
        # grain, ven_id, is immutable once extracted
        # (extract_latest_sicar_sales.sql GROUP BY ven_id); user_id is
        # NOT slice-contained, so the Spark-first shape is incremental
        # VIEW MAINTENANCE: fold slice sums into a per-key accumulator,
        # derive the normalized table from the accumulator.
        return extract_sales(events, last_id)

    def load(batch: DataFrame) -> None:
        # 1) fold the slice's raw sums into the per-key accumulator —
        # table + applied-batch ledger publish as ONE CAS commit
        # (io/sinks.merge_accumulate_versioned). The batch id's seq is
        # the slice's max event_id: strictly increasing across
        # non-empty ticks, so a crash-replayed slice is rejected by the
        # committed high-water-mark instead of double-counted.
        from osmart_etl_spark.io.sinks import merge_accumulate_versioned

        merge_accumulate_versioned(
            spark,
            batch,
            accum_path,
            keys=["user_id"],
            sum_cols=["efectivo_in", "tarjeta_in", "total_venta"],
            max_cols=["fecha_hora", "last_event_id"],
            batch_id=(f"sales:{tienda}", int(new_wm_holder[0])),
        )
        # 2) publish only the keys THIS fold changed (VERDICT r12 #3):
        # the batch is already localCheckpoint'd by run_incremental, so
        # the key list is a cheap projection of materialized rows.
        publish_from_accum(batch.select("user_id").distinct())

    def publish_from_accum(changed_keys: DataFrame | None) -> None:
        # The published table is a pure function of the accumulator
        # (one compact row per key EVER). Round 13 (VERDICT r12 #3):
        # the publish is BUCKET-INCREMENTAL — normalize + enrich is
        # derived only for ``changed_keys`` (the keys this tick's fold
        # touched; None = all keys, the recovery/backfill path) and
        # lands through the bucket-granular versioned merge sink, so a
        # tick that changed one user rewrites one bucket
        # (O(|delta| + table/n_buckets)), not the whole O(keys) table.
        # Values are identical either way (the accumulator never drops
        # keys and normalization is per-row); untouched keys keep their
        # bucket files byte-for-byte (the new version's manifest points
        # at them) — ``extracted_at`` reads as "last time this key's
        # totals changed", which is the honest provenance. Read the
        # table with ``io/sinks.read_merge_table``.
        from osmart_etl_spark.io.atomic import read_committed

        acc = read_committed(spark, accum_path)
        if changed_keys is not None:
            acc = acc.join(changed_keys, "user_id", "left_semi")
        normalized = enrich_extract(
            normalize_payments(acc),
            tienda=tienda, source_system="sicar",
        )
        if jdbc:
            # Two sinks, ONE evaluation: without the cut the JDBC
            # staging write would re-run the normalization lineage, and
            # a concurrent fold landing between the two actions would
            # reach the DB but not the lake (silent divergence).
            normalized = normalized.localCheckpoint(eager=True)
        # The lake upsert goes through the bucket-granular versioned
        # merge sink (io/sinks.merge_upsert_partitioned): the touched
        # buckets land in a NEW immutable version whose manifest is
        # published by ONE commit-log CAS — a crash anywhere leaves the
        # whole previous table and a concurrent duplicate run surfaces
        # as ConcurrentCommitError, the same guarantees the whole-table
        # versioned sink gave, plus O(delta)-bucket writes per tick.
        from osmart_etl_spark.io.sinks import merge_upsert_partitioned

        merge_upsert_partitioned(
            spark, normalized, sink_path,
            keys=["user_id", "tienda", "source_system"],
            order_col="extracted_at",
            n_buckets=n_buckets,
        )
        batch = normalized  # the JDBC mirror below lands the same rows
        if jdbc:
            from osmart_etl_spark.io.jdbc_sink import jdbc_upsert

            jdbc_upsert(
                spark,
                batch,
                jdbc["url"],
                jdbc["table"],
                keys=["user_id", "tienda", "source_system"],
                order_col="extracted_at",
                driver=jdbc.get("driver"),
            )

    def wm(batch: DataFrame):
        new_wm_holder[0] = batch.agg(F.max("last_event_id")).first()[0]
        return new_wm_holder[0]

    # Crash recovery BEFORE the tick (ADVICE r12, second half): a crash
    # after the fold committed but before store.set leaves
    # hwm > watermark with the publish possibly never run. The fold is
    # durable, so finish the interrupted tick first: re-publish from
    # the accumulator (idempotent) and advance the watermark to the
    # hwm. Together with extract's hwm excision this closes the
    # double-count window from BOTH sides — already-folded events are
    # never re-summed, and a fold is never left unpublished.
    recovered_wm = None
    from osmart_etl_spark.io.sinks import read_accumulate_ledger

    try:
        hwm = read_accumulate_ledger(spark, accum_path)["hwm"].get(f"sales:{tienda}")
    except FileNotFoundError:
        hwm = None
    last = store.get("sales", tienda)
    if hwm is not None and (last is None or int(last) < int(hwm)):
        publish_from_accum(None)  # changed keys unknown — full publish
        store.set("sales", tienda, str(int(hwm)))
        recovered_wm = int(hwm)

    new_wm = run_incremental(
        spark, store=store, pipeline="sales", source_name=tienda,
        extract=extract, load=load, wm_expr=wm,
    )
    return new_wm if new_wm is not None else recovered_wm
