"""T7 — pipeline orchestration (run_etl.sh analogue).

The reference runs three jobs in fixed order per cron tick
(run_etl.sh:34-36: sales incremental → raw movements incremental →
stock points incremental), looping stores with per-store failure
isolation (try/except-continue — update_clean_data.py:36-113).

The per-store loop is kept as in the reference: each stage runs once
per store, with its own watermark and its own failure isolation (one
broken store DB must not block the others).
"""

from __future__ import annotations

import logging
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import SparkSession

log = logging.getLogger(__name__)


@dataclass
class RunReport:
    succeeded: list[str] = field(default_factory=list)
    failed: dict[str, str] = field(default_factory=dict)
    watermarks: dict[str, object] = field(default_factory=dict)


def run_etl(
    spark: SparkSession,
    *,
    events_path: str,
    ventas_path: str,
    raw_log_path: str,
    points_path: str,
    watermark_path: str,
    stores: tuple[str, ...] = ("tienda_01",),
    jdbc_ventas: dict | None = None,
    jdbc_points: dict | None = None,
) -> RunReport:
    """One full ETL tick: the reference's three-job chain, per store,
    with failure isolation — a failing store records its error and the
    run continues (ref: try/except-continue per store).

    ``jdbc_ventas`` / ``jdbc_points`` (optional {"url","table","driver"})
    forward to the respective pipelines' live-database landing — the
    full reference deployment shape, where every tick upserts into
    MySQL alongside the lake."""
    from osmart_etl_spark.pipelines.inventory import (
        run_raw_movements_incremental,
        run_stock_points_incremental,
    )
    from osmart_etl_spark.pipelines.sales import run_sales_incremental

    report = RunReport()
    stages: list[tuple[str, Callable[[str], object]]] = [
        (
            "sales",
            lambda store: run_sales_incremental(
                spark, events_path=events_path, sink_path=ventas_path,
                watermark_path=watermark_path, tienda=store,
                jdbc=jdbc_ventas,
            ),
        ),
        (
            "raw_movements",
            lambda store: run_raw_movements_incremental(
                spark, events_path=events_path, raw_log_path=raw_log_path,
                watermark_path=watermark_path, store_name=store,
            ),
        ),
        (
            "stock_points",
            lambda store: run_stock_points_incremental(
                spark, raw_log_path=raw_log_path, points_path=points_path,
                watermark_path=watermark_path, store_name=store,
                jdbc=jdbc_points,
            ),
        ),
    ]
    # Real intra-store dependencies only: stock_points consumes the raw
    # log raw_movements writes; sales is INDEPENDENT of both (it reads
    # events_path directly). A blanket break-on-failure stalled the
    # whole inventory lake whenever e.g. a misconfigured jdbc_ventas
    # killed the sales stage — the reference's per-ETL try/except keeps
    # independent pipelines advancing (round-12 review).
    deps = {"sales": (), "raw_movements": (), "stock_points": ("raw_movements",)}
    for store in stores:
        failed_stages: set[str] = set()
        for stage_name, stage in stages:
            key = f"{stage_name}:{store}"
            blocked = [d for d in deps[stage_name] if d in failed_stages]
            if blocked:
                report.failed[key] = f"skipped: dependency {blocked[0]} failed"
                continue
            try:
                wm = stage(store)
                report.succeeded.append(key)
                report.watermarks[key] = wm
            except Exception as exc:  # noqa: BLE001 — isolation by design
                log.exception("stage %s failed for store %s", stage_name, store)
                report.failed[key] = str(exc)
                failed_stages.add(stage_name)
    return report
