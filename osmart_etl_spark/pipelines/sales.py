"""EP1 — sales incremental pipeline (SURVEY.md §3 EP1).

The reference: per store, read ``last_processed_ven_id`` from
etl_progress, extract the per-sale conditional payment aggregation past
it, normalize payments (waterfall + overrides + QA tagging), upsert into
``ventas_limpias`` on (ven_id, tienda, source_system), advance the
watermark (update_clean_data.py:25-107, transform.py).

Spark-first: one declarative DAG per run — watermark-filtered scan (the
predicate pushes to the source) → groupBy conditional agg → one keyed
merge that folds, normalizes (all when/otherwise, no UDF) and commits
the watermark. Each run covers one store (``tienda``); the orchestrator
loops stores.

Incremental view maintenance: the reference's grain (ven_id) is
immutable once extracted, so replace-per-key is safe there; this
pipeline's grain (user_id) straddles watermark slices, so a tick folds
the slice's RAW sums into the stored ones and re-derives the normalized
columns of the rows it changed (Gupta & Mumick, IEEE Data Eng. Bull.
1995). ``ventas`` is the only table: one
``io/sinks.merge_upsert_partitioned`` call per tick reads the touched
buckets once, folds, and publishes them together with the tick's
watermark in one manifest commit, so a crash before the publish leaves
both at the previous tick and a crash after it leaves nothing to do.
Two-tick == one-shot equality is pinned by
tests/test_pipelines.py::test_sales_incremental_two_runs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from osmart_etl_spark.io.sinks import (
    bucket_column,
    merge_upsert_partitioned,
    read_merge_watermark,
    release_checkpoint,
)
from osmart_etl_spark.ops.relational import (
    conditional_override,
    enrich_extract,
    tag_payment_issue,
    waterfall_split,
)


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


#: Composite key of ``ventas`` (the reference's ventas_limpias PK).
KEYS = ["user_id", "tienda", "source_system"]
#: Raw slice sums, folded additively tick after tick.
SUMS = ["efectivo_in", "tarjeta_in", "total_venta"]
#: Raw slice maxima, folded by keeping the greatest.
MAXES = ["fecha_hora", "last_event_id"]


def _derive(df: DataFrame) -> DataFrame:
    """The normalized columns and ``extracted_at`` of raw-sum rows."""
    return enrich_extract(normalize_payments(df))


def _fold(old: DataFrame | None, new: DataFrame) -> DataFrame:
    """The touched buckets' rows after folding the slice ``new`` into
    ``old``, flagged ``__new`` where the slice changed them.

    One full outer join on the key. A key in both adds its sums (as SQL
    SUM does, a NULL side keeps the other side's value) and keeps the
    greatest maxima, cast to the table's types so the schema stays
    fixed; a key only in ``new`` keeps its slice values. Only those rows
    are re-derived: rows of other keys pass through as they are,
    ``extracted_at`` included."""
    if old is None:
        return _derive(new).withColumn("__new", F.lit(True))

    def n(c):  # the slice's value of column c
        return F.col(f"__n_{c}")

    hit = F.col("__new").isNotNull()
    derived = [c for c in old.columns if c not in KEYS + SUMS + MAXES]
    folded = old.join(
        new.select(*KEYS, *[F.col(c).alias(f"__n_{c}") for c in SUMS + MAXES],
                   F.lit(True).alias("__new")),
        KEYS, "full_outer",
    ).select(
        *KEYS,
        *[
            F.when(hit, F.coalesce(F.col(c) + n(c), F.col(c), n(c)).cast(old.schema[c].dataType))
            .otherwise(F.col(c)).alias(c)
            for c in SUMS
        ],
        *[F.when(hit, F.greatest(c, n(c))).otherwise(F.col(c)).alias(c) for c in MAXES],
        hit.alias("__new"),
        *[F.col(c).alias(f"__o_{c}") for c in derived],
    )
    kept = {c: F.when(F.col("__new"), F.col(c)).otherwise(F.col(f"__o_{c}")) for c in derived}
    return _derive(folded).select(
        *[kept.get(c, F.col(c)).alias(c) for c in old.columns], "__new"
    )


def run_sales_incremental(
    spark: SparkSession,
    *,
    events_path: str,
    sink_path: str,
    tienda: str = "tienda_01",
    jdbc: dict | None = None,
    n_buckets: int = 64,
) -> int | None:
    """One EP1 incremental run; returns the new watermark (max event_id),
    or None when nothing lies past the committed one. The watermark
    ``sales:<tienda>`` is committed in ``sink_path``'s manifest by the
    publish that commits the fold.

    ``jdbc`` (optional) = {"url": ..., "table": ..., "driver": ...}:
    ALSO land the changed rows into a live relational table via the
    staged MERGE sink (io/jdbc_sink) — the reference's actual
    destination (``ventas_limpias`` in MySQL, update_clean_data.py:
    95-102), same composite PK and keep-latest order. The rows are
    materialized once and reach the mirror before the lake publish: a
    mirror failure commits nothing, and the next run lands the slice in
    both.
    """
    writer = f"sales:{tienda}"
    last = read_merge_watermark(spark, sink_path, writer)
    held: list[DataFrame] = []  # checkpoints released before returning

    def fold(old: DataFrame | None, new: DataFrame) -> DataFrame:
        out = _fold(old, new)
        if jdbc:
            from osmart_etl_spark.io.jdbc_sink import jdbc_upsert

            out = out.localCheckpoint(eager=True)
            held.append(out)
            jdbc_upsert(
                spark,
                out.filter("__new").drop("__new"),
                jdbc["url"],
                jdbc["table"],
                keys=KEYS,
                order_col="extracted_at",
                driver=jdbc.get("driver"),
            )
        return out.drop("__new")

    # one Observation on the one checkpoint gives the watermark and the
    # touched buckets, from the evaluation whose rows the merge writes
    obs = Observation()
    batch = (
        extract_sales(spark.read.parquet(events_path), last)
        .withColumn("tienda", F.lit(tienda))
        .withColumn("source_system", F.lit("sicar"))
        .observe(
            obs,
            F.max("last_event_id").alias("wm"),
            F.collect_set(bucket_column(KEYS, n_buckets)).alias("buckets"),
        )
        .localCheckpoint(eager=True)
    )
    held.append(batch)
    try:
        new_wm = obs.get["wm"]
        if new_wm is None:
            return None  # nothing past the watermark
        merge_upsert_partitioned(
            spark, batch, sink_path,
            keys=KEYS, order_col="extracted_at", n_buckets=n_buckets,
            combine=fold, watermark=(writer, last, new_wm), touched=obs.get["buckets"],
        )
        return new_wm
    finally:
        for df in held:
            release_checkpoint(df)
