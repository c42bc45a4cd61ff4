"""Checkpointed incremental-batch driver (SURVEY.md §2.9 T1/T2/T6).

The reference's incremental loop: read per-store watermark from
``etl_progress`` (S11), extract only rows past it (with a +1s late-data
buffer and a client-side re-filter, T2), load idempotently (S7 upserts),
advance the watermark in the same run (update_raw_stock_movements.py:
19-110). This module is that loop, Spark-first:

- the watermark store is one small JSON map per committed version of a
  ``io/atomic`` commit-log table, read and CAS-published on the driver —
  reading or advancing a watermark launches no Spark job;
- extraction is any DataFrame-producing callable; the watermark predicate
  composes onto it and pushes down to the scan. An extract that already
  knows its slice is empty returns None and the run stops there;
- the batch is checkpointed once, and the new watermark is an
  ``Observation`` on that checkpoint, so computing it launches no job;
- the sink is idempotent by construction (append of a deterministic
  slice, or keyed upsert), so re-runs after failure are safe (T6) —
  the watermark only advances after the sink commits.

The Structured Streaming variant (replay_stream.py) subsumes this for
true streams; this driver covers the reference's cron-style cadence and
works against any batch source.
"""

from __future__ import annotations

import json
import uuid
from collections.abc import Callable
from typing import Any

from pyspark.sql import Column, DataFrame, Observation, SparkSession

from osmart_etl_spark.io import atomic
from osmart_etl_spark.io.sinks import release_checkpoint

_WM_FILE = "_watermarks.json"


class WatermarkStore:
    """Keyed watermarks (the ``etl_progress`` analogue, S11).

    Each committed version directory of the table at ``path`` holds one
    ``_watermarks.json`` = ``{"v": 1, "wm": {pipeline: {store: value}}}``.
    ``set``/``reset`` stage the changed map under a fresh version token
    and publish it with a CAS on the sequence they read
    (``io/atomic.publish_staged``): a crash leaves the previous map
    readable, an unpublished stage is never read (and is swept by the
    TTL GC), and a concurrent writer raises ``ConcurrentCommitError``
    instead of losing an update. Values are stored stringified
    (timestamps ISO, ids decimal); parsing is the caller's contract.

    A current version without ``_watermarks.json`` holds the earlier
    parquet rows (or foreign data): every read raises ``RuntimeError``
    and keeps every file, rather than passing for an empty store whose
    next run would re-extract the whole history.
    """

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path.rstrip("/")

    def _read(self) -> tuple[int, dict[str, dict[str, str]]]:
        """(committed seq, watermark map); (0, {}) for a missing store."""
        cur = atomic.current_version(self.spark, self.path)
        if cur is None:
            return 0, {}
        ver = f"{self.path}/_v-{cur[1]}"
        _, fs, hpath = atomic._fs(self.spark, f"{ver}/{_WM_FILE}")
        if not fs.exists(hpath):
            raise RuntimeError(
                f"{self.path}: committed version {cur[0]} has no {_WM_FILE} — "
                "a watermark table in the earlier parquet format, or foreign "
                "data. Refusing to read it as empty; rebuild the lake (delete "
                "its sinks and this table, then run a backfill)."
            )
        text = atomic._read_small_text(self.spark, f"{ver}/{_WM_FILE}")
        return cur[0], json.loads(text)["wm"]

    def _publish(self, seq: int, wm: dict[str, dict[str, str]]) -> None:
        if seq == 0:
            # a crashed creator's dead lock on seq 1 would otherwise wedge
            # the store: _gc (TTL-gated) normally runs only after a commit
            atomic._gc(self.spark, self.path, 2, 3600.0)
        token = uuid.uuid4().hex[:12]
        atomic._write_small_json(
            self.spark, f"{self.path}/_v-{token}/{_WM_FILE}", {"v": 1, "wm": wm}
        )
        atomic.publish_staged(self.spark, self.path, token, expected_seq=seq)

    def get(self, pipeline: str, store: str) -> str | None:
        return self._read()[1].get(pipeline, {}).get(store)

    def set(self, pipeline: str, store: str, value: str) -> None:
        seq, wm = self._read()
        wm.setdefault(pipeline, {})[store] = value
        self._publish(seq, wm)

    def reset(self, pipeline: str, store: str) -> None:
        """reset_last_*.sql analogue — drop one watermark (a new version
        through the same commit log as ``set``)."""
        seq, wm = self._read()
        if store in wm.get(pipeline, {}):
            del wm[pipeline][store]
            self._publish(seq, wm)


def run_incremental(
    spark: SparkSession,
    *,
    store: WatermarkStore,
    pipeline: str,
    source_name: str,
    extract: Callable[[SparkSession, Any | None], DataFrame | None],
    load: Callable[[DataFrame], None],
    wm_expr: Column | Callable[[], Any],
) -> Any | None:
    """One incremental run for one (pipeline, store): extract past the
    watermark, load, advance the watermark (T1/T2/T6).

    ``extract(spark, last_wm)`` returns only rows beyond ``last_wm``
    (None = full backfill — the seed_* scripts' default-epoch path), or
    None when it already knows nothing lies past it.

    The batch is materialized once (``localCheckpoint``), and ``load``
    reads that checkpoint. ``wm_expr`` gives the new high-water mark
    (scalar, A4). An aggregate ``Column`` (``F.max("fecha")``) is read
    by an ``Observation`` on that checkpoint: the same evaluation as
    the loaded rows, and no Spark job of its own. A callable with no
    arguments is for an extract that has already computed the mark. A
    mark of None means an empty batch: nothing is loaded.
    The watermark writes only after ``load`` returns, so a crash between
    load and checkpoint re-processes the slice — which the idempotent
    sink absorbs, the reference's exact recovery story (T6). The
    checkpoint is released before the run returns.
    """
    last = store.get(pipeline, source_name)
    batch = extract(spark, last)
    if batch is None:
        return None  # extract found nothing past the watermark
    # ONE evaluation of the extract lineage (round-12 review): a
    # watermark job and the sink write used to each run the full DAG —
    # doubling every tick's scan/groupBy cost and letting the two
    # evaluations observe different source states (files landing between
    # the wm job and the load job) or different nondeterministic columns
    # (extracted_at timestamps). localCheckpoint materializes on the
    # executors once; the observed mark and the load read the same rows.
    if isinstance(wm_expr, Column):
        obs = Observation()
        batch = batch.observe(obs, wm_expr.alias("wm")).localCheckpoint(eager=True)
        new_wm = obs.get["wm"]
    else:
        batch = batch.localCheckpoint(eager=True)
        new_wm = wm_expr()
    try:
        if new_wm is None:
            return None  # empty batch — nothing past the watermark
        load(batch)
    finally:
        release_checkpoint(batch)
    store.set(pipeline, source_name, str(new_wm))
    return new_wm
