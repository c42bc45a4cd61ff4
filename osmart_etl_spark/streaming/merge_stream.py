"""Streaming twin of the bucket-versioned MERGE sink: a CDC-style
change stream drained through ``foreachBatch`` into
``io/sinks.merge_upsert_partitioned``.

Why this composition is the right streaming MERGE:

- each micro-batch is one keep-latest merge of O(|batch|) rows into the
  buckets its keys hash to — the O(delta) property carries over
  unchanged from the batch sink;
- the sink publishes each batch as ONE CAS commit of a table-level
  manifest, which makes a foreachBatch RETRY safe: a batch replayed
  after a crash re-merges against the whole old table (the crashed
  attempt published nothing) or, if the commit landed, against its own
  result, and keep-latest (order_col wins, key-unique) makes the replay
  converge to the same state — the same exactly-once-by-idempotence
  argument as ``streaming/hll_stream.py``'s MAX-merge, with the
  versioned protocol supplying the crash-safety an in-place overwrite
  lacks;
- ordering ACROSS micro-batches needs no coordination because
  keep-latest is by ``order_col`` (event time), not arrival time: a
  late row with an older timestamp loses the merge no matter which
  batch carries it, so the drained table equals the batch
  ``upsert_keep_latest`` over the full history regardless of batch
  boundaries — proved in tests/test_merge_stream.py.

100 TB shape: state lives in the table itself (no state store); per
batch the cost is the touched buckets only. The streaming layer adds
exactly one thing — the checkpoint that makes every source offset
range process at least once — and idempotence upgrades that to
effectively-once table contents.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def run_merge_stream(
    spark: SparkSession,
    stream_df: DataFrame,
    path: str,
    keys: list[str],
    order_col: str,
    *,
    n_buckets: int = 64,
    checkpoint_dir: str,
) -> None:
    """Drain ``stream_df`` (availableNow) merging each micro-batch into
    the bucket-versioned table at ``path``."""
    from osmart_etl_spark.io.sinks import merge_upsert_partitioned

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.isEmpty():
            merge_upsert_partitioned(
                spark,
                batch_df,
                path,
                keys,
                order_col,
                n_buckets=n_buckets,
            )

    (
        stream_df.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
