"""Registry queries over the manifest-committed versioned table
(io/atomic.py) — the S7/S8 upsert sink MATERIALIZED end-to-end, not as
a pure transform: three event batches are committed sequentially
through the atomic commit log into a scratch table, then read back —
including a cross-version diff via the retained previous version.

The reference's closest shape is the nightly upsert replay
(etl_sales/db/db_helpers.py:25-40 ON DUPLICATE KEY UPDATE +
update_raw_stock_movements.py's watermark batching); the versioned
commit log is the crash-safe Spark-side completion of it.

The DuckDB oracle re-derives the final state (and the previous
version's state) purely relationally, so the driver's hash gate
verifies the whole write→commit→resolve→read cycle: if the sink
dropped a row, double-applied a batch, resolved the wrong version, or
leaked uncommitted staging into a read, the values diverge.
"""

from __future__ import annotations

import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from osmart_etl_spark.io.sources import read_table
from osmart_etl_spark.queries.base import dbl, query

_B2 = "2024-01-10 00:00:00"
_B3 = "2024-01-20 00:00:00"


@query(
    "upsert_versioned_batch_diff",
    oracle=f"""
    WITH latest_all AS (
      SELECT user_id, CAST(ts AS DATE) AS d, value, ts,
        ROW_NUMBER() OVER (PARTITION BY user_id, CAST(ts AS DATE)
                           ORDER BY ts DESC) AS rn
      FROM events
    ),
    v3 AS (SELECT user_id, d, value, ts FROM latest_all WHERE rn = 1),
    latest_pre AS (
      SELECT user_id, CAST(ts AS DATE) AS d, value, ts,
        ROW_NUMBER() OVER (PARTITION BY user_id, CAST(ts AS DATE)
                           ORDER BY ts DESC) AS rn
      FROM events WHERE ts < TIMESTAMP '{_B3}'
    ),
    v2 AS (SELECT user_id, d, value, ts FROM latest_pre WHERE rn = 1)
    SELECT v3.user_id, v3.d,
      CAST(v3.value AS DOUBLE) AS latest_value,
      v3.ts AS latest_ts,
      CAST(v2.value AS DOUBLE) AS prev_value
    FROM v3 LEFT JOIN v2 ON v3.user_id = v2.user_id AND v3.d = v2.d
    WHERE v3.ts >= TIMESTAMP '{_B3}'
    """,
    tags=("S7", "S8", "S10", "atomic-commit"),
)
def upsert_versioned_batch_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What did the last batch change? — three sequential keep-latest
    upserts (S7/S8) through the ATOMIC commit log (io/atomic.py), then
    a diff of the final version against the retained previous one
    (``read_committed(at=seq-1)`` — the bounded time travel the
    immutable-version layout gives for free).

    Per (user, day): the post-final-batch latest value/ts, plus the
    value that key had in the PREVIOUS committed version (NULL = the
    key first appeared in the last batch). Only keys the last batch
    touched are returned — the audit question every incremental load
    asks ("show me what tonight's run changed"), answered here from
    the commit log alone, no CDC feed.

    Every upsert is a real materialized commit (staging dir + CAS
    sequence claim + marker), and reads resolve through the commit
    log, so this query puts the crash-safe sink's full protocol under
    the driver's value-hash gate at every round. The scratch table
    lives in a process-private temp dir; the result is
    localCheckpoint-ed off it before cleanup.

    Scale: batch merges shuffle on the upsert key only; the diff joins
    two committed versions partition-pruned to nothing extra — and at
    100 TB merge_upsert_partitioned (io/sinks.py) runs the same protocol
    with versions that rewrite only the touched buckets.
    """
    from osmart_etl_spark.io.atomic import read_committed, upsert_versioned

    ev = read_table(spark, sf_dir, "events")
    cols = ["user_id", F.to_date("ts").alias("d"), "value", "ts"]
    b2, b3 = F.lit(_B2).cast("timestamp"), F.lit(_B3).cast("timestamp")
    batches = [
        ev.filter(F.col("ts") < b2).select(*cols),
        ev.filter((F.col("ts") >= b2) & (F.col("ts") < b3)).select(*cols),
        ev.filter(F.col("ts") >= b3).select(*cols),
    ]
    tmp = tempfile.mkdtemp(prefix="osmart_versioned_")
    try:
        table = f"{tmp}/user_day_latest"
        # keep_versions=2 retains exactly the previous version for the
        # diff; each commit's CAS claims the next sequence number.
        for batch in batches:
            last = upsert_versioned(
                spark, batch, table, keys=["user_id", "d"], order_col="ts"
            )
        cur = read_committed(spark, table)
        prev = read_committed(spark, table, at=last - 1).select(
            F.col("user_id").alias("p_user_id"),
            F.col("d").alias("p_d"),
            F.col("value").alias("prev_value"),
        )
        out = (
            cur.filter(F.col("ts") >= b3)
            .join(
                prev,
                (F.col("user_id") == F.col("p_user_id"))
                & (F.col("d") == F.col("p_d")),
                "left",
            )
            .select(
                "user_id",
                "d",
                dbl(F.col("value")).alias("latest_value"),
                F.col("ts").alias("latest_ts"),
                dbl(F.col("prev_value")).alias("prev_value"),
            )
        )
        # materialize off the scratch files before they are removed
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@query(
    "accumulate_versioned_batch_fold",
    oracle="""
    SELECT user_id,
      CAST(COALESCE(SUM(CAST(value AS DECIMAL(18,2))),
                    CAST(0 AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
      CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events GROUP BY user_id
    """,
    tags=("S7", "T6", "atomic-commit", "ivm"),
)
def accumulate_versioned_batch_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once additive incremental-view maintenance END-TO-END
    (io/sinks.merge_accumulate_versioned, round 11): three time-sliced
    event batches fold sequentially into a scratch aggregate table —
    table and applied-batch ledger published as ONE CAS commit per fold
    — then the middle batch is REDELIVERED (same batch_id) and must be
    absorbed as a committed-ledger no-op. The read-back equals the
    one-shot per-user aggregate over all events, which is what the
    DuckDB oracle derives relationally: a dropped batch, a
    double-counted redelivery, or a wrong-version read all diverge
    under the driver's value hash.

    The aggregate table and its applied-batch ledger are one commit, so
    neither a concurrent fold nor a crash between table and ledger can
    lose or double-count a batch; this query puts that sink under the
    same oracle-parity gate ``upsert_versioned_batch_diff`` provides for
    the keep-latest tier.

    Scale: each fold shuffles one row per (key, map partition) —
    map-side combined partials — and the table is one row per key ever;
    the ledger adds one tiny row per batch inside the version dir. The
    query pre-aggregates ALL batch partials in one events pass (sums of
    sums are the same monoid, so feeding the sink per-batch partials is
    equivalent to feeding raw rows) — without this, each fold re-scans
    the single-file events table inside its staging job (measured 7-8 s
    per fold at sf0.1).
    """
    from osmart_etl_spark.io.atomic import read_committed
    from osmart_etl_spark.io.sinks import merge_accumulate_versioned
    from osmart_etl_spark.ops.partitioning import scaled_partitions

    ev = read_table(spark, sf_dir, "events")
    b2, b3 = F.lit(_B2).cast("timestamp"), F.lit(_B3).cast("timestamp")
    pre = (
        ev.withColumn(
            "__bid",
            F.when(F.col("ts") < b2, F.lit("b1"))
            .when(F.col("ts") < b3, F.lit("b2"))
            .otherwise(F.lit("b3")),
        )
        .repartition(scaled_partitions(ev), "user_id")
        .groupBy("__bid", "user_id")
        .agg(
            F.sum(F.col("value").cast("decimal(18,2)")).alias("total_value"),
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
        )
        .localCheckpoint(eager=True)  # one scan feeds all three folds
    )
    batches = {
        bid: pre.filter(F.col("__bid") == bid).drop("__bid")
        for bid in ("b1", "b2", "b3")
    }
    tmp = tempfile.mkdtemp(prefix="osmart_accumulate_")
    try:
        table = f"{tmp}/user_totals"
        for bid, batch in batches.items():
            applied = merge_accumulate_versioned(
                spark, batch, table,
                keys=["user_id"], sum_cols=["total_value", "n_events"],
                batch_id=bid,
            )
            assert applied, f"first delivery of {bid} must apply"
        # redelivery of the middle batch: committed-ledger no-op
        assert not merge_accumulate_versioned(
            spark, batches["b2"], table,
            keys=["user_id"], sum_cols=["total_value", "n_events"],
            batch_id="b2",
        ), "redelivered batch must be rejected by the committed ledger"
        out = read_committed(spark, table).select(
            "user_id",
            dbl(F.col("total_value")).alias("total_value"),
            F.col("n_events").cast("bigint").alias("n_events"),
        )
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@query(
    "accumulate_hwm_ledger_fold",
    oracle="""
    SELECT user_id,
      CAST(COALESCE(SUM(CAST(value AS DECIMAL(18,2))),
                    CAST(0 AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
      CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events GROUP BY user_id
    """,
    tags=("S7", "T6", "atomic-commit", "ivm", "bounded-ledger"),
)
def accumulate_hwm_ledger_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-12 twin of ``accumulate_versioned_batch_fold`` over the
    BOUNDED ledger form (VERDICT r11 #1): the same three time-sliced
    folds carry structured ``("etl", seq)`` batch ids, so the committed
    applied-batch ledger is ONE high-water-mark entry regardless of how
    many folds ever ran — the fix for the engine's last O(forever)
    growth term, here under the driver's value-hash gate. Inside the
    query the exactly-once contract is re-proven on the hwm path: an
    old seq REDELIVERED after later folds is rejected by the committed
    hwm (monotonic-epoch semantics — Structured Streaming's foreachBatch
    shape, streaming/accumulate_stream.py), and the final ledger is
    asserted to hold exactly one entry before the read-back. The oracle
    derives the same per-user totals relationally; a double-counted
    redelivery, a dropped fold, or an hwm that failed to reject all
    diverge under the hash.

    Scale: identical fold shape to the opaque-id twin (one events pass
    pre-aggregates all batch partials; each fold shuffles one row per
    key per map partition); the ledger cost drops from O(total batches)
    per fold to O(writers) — constant here.
    """
    import json

    from osmart_etl_spark.io.atomic import current_version, read_committed
    from osmart_etl_spark.io.sinks import merge_accumulate_versioned
    from osmart_etl_spark.ops.partitioning import scaled_partitions

    ev = read_table(spark, sf_dir, "events")
    b2, b3 = F.lit(_B2).cast("timestamp"), F.lit(_B3).cast("timestamp")
    pre = (
        ev.withColumn(
            "__seq",
            F.when(F.col("ts") < b2, F.lit(0))
            .when(F.col("ts") < b3, F.lit(1))
            .otherwise(F.lit(2)),
        )
        .repartition(scaled_partitions(ev), "user_id")
        .groupBy("__seq", "user_id")
        .agg(
            F.sum(F.col("value").cast("decimal(18,2)")).alias("total_value"),
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
        )
        .localCheckpoint(eager=True)  # one scan feeds all three folds
    )
    batches = {
        seq: pre.filter(F.col("__seq") == seq).drop("__seq") for seq in (0, 1, 2)
    }
    tmp = tempfile.mkdtemp(prefix="osmart_accumulate_hwm_")
    try:
        table = f"{tmp}/user_totals"
        for seq, batch in batches.items():
            applied = merge_accumulate_versioned(
                spark, batch, table,
                keys=["user_id"], sum_cols=["total_value", "n_events"],
                batch_id=("etl", seq),
            )
            assert applied, f"first delivery of seq {seq} must apply"
        # redelivery of an OLD seq after later folds: hwm no-op
        assert not merge_accumulate_versioned(
            spark, batches[1], table,
            keys=["user_id"], sum_cols=["total_value", "n_events"],
            batch_id=("etl", 1),
        ), "seq <= hwm must be rejected by the committed ledger"
        # boundedness is part of the contract under test: one hwm entry,
        # zero opaque entries, after all folds
        cur = current_version(spark, table)
        with open(f"{table}/_v-{cur[1]}/_ledger.json") as fh:
            led = json.load(fh)
        assert led["hwm"] == {"etl": 2} and led["ids"] == [], led
        out = read_committed(spark, table).select(
            "user_id",
            dbl(F.col("total_value")).alias("total_value"),
            F.col("n_events").cast("bigint").alias("n_events"),
        )
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
