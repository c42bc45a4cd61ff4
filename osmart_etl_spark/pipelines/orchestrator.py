"""T7 — pipeline orchestration (run_etl.sh analogue).

The reference runs three jobs in fixed order per cron tick
(run_etl.sh:34-36: sales incremental → raw movements incremental →
stock points incremental), looping stores with per-store failure
isolation (try/except-continue — update_clean_data.py:36-113).

Only one of those orderings is a dependency: stock points reads the raw
log that raw movements writes. Sales reads the events and writes its own
table. So each store's tick runs as its dependency graph, in two
branches at once: sales on a second thread, raw movements → stock points
on the calling thread. Both branches submit to the one SparkSession,
whose FIFO scheduler runs their jobs side by side on the free cores;
each stage is a few short, fixed-cost jobs, so the tick takes about as
long as its longer branch. Stores stay serial, as in the reference: they
share the sink paths.

Each stage runs once per store, with its own failure isolation (one
broken store DB must not block the others), and under the Spark job tag
``<stage>:<store>``, so the status tracker attributes each job to the
stage that launched it.
"""

from __future__ import annotations

import logging
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark import InheritableThread
from pyspark.sql import SparkSession

log = logging.getLogger(__name__)


@dataclass
class RunReport:
    succeeded: list[str] = field(default_factory=list)
    failed: dict[str, str] = field(default_factory=dict)
    watermarks: dict[str, object] = field(default_factory=dict)


#: Stage → the stages it reads the output of.
DEPS = {"sales": (), "raw_movements": (), "stock_points": ("raw_movements",)}
#: Chains of stages that share no input and no sink: each chain runs in
#: order, and the chains run side by side.
BRANCHES = (("sales",), ("raw_movements", "stock_points"))


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

    Per store, the sales stage runs on a second thread
    (``pyspark.InheritableThread``, which carries the caller's Spark
    local properties into it) while the calling thread runs raw
    movements → stock points; the next store starts when both branches
    are done. ``DEPS`` holds the one real dependency: a stage whose
    dependency failed is skipped and recorded as failed. A stage that
    raises is logged and recorded as failed in either branch and does
    not stop the other branch.

    The report lists stages in the reference's order (sales, raw
    movements, stock points) per store, whichever branch finished first:
    ``succeeded`` and the keys of ``failed`` and ``watermarks``.

    ``watermark_path`` holds only the raw-movements watermark. Sales
    commits its own in the manifest of ``ventas_path``, and stock points
    in the commit of ``points_path`` (one for the table, which has no
    store column).

    ``jdbc_ventas`` / ``jdbc_points`` (optional {"url","table","driver"})
    forward to the respective pipelines' live-database landing — the
    full reference deployment shape, where every tick upserts into
    MySQL alongside the lake."""
    from osmart_etl_spark.pipelines.inventory import (
        run_raw_movements_incremental,
        run_stock_points_incremental,
    )
    from osmart_etl_spark.pipelines.sales import run_sales_incremental

    stages: dict[str, Callable[[str], object]] = {
        "sales": lambda store: run_sales_incremental(
            spark, events_path=events_path, sink_path=ventas_path,
            tienda=store, jdbc=jdbc_ventas,
        ),
        "raw_movements": lambda store: run_raw_movements_incremental(
            spark, events_path=events_path, raw_log_path=raw_log_path,
            watermark_path=watermark_path, store_name=store,
        ),
        "stock_points": lambda store: run_stock_points_incremental(
            spark, raw_log_path=raw_log_path, points_path=points_path, jdbc=jdbc_points,
        ),
    }
    sc = spark.sparkContext

    def run_branch(store: str, chain: tuple[str, ...], outcome: dict) -> None:
        """Run ``chain`` for ``store``, recording each stage in ``outcome``
        as (succeeded, watermark or error)."""
        for stage_name in chain:
            blocked = [d for d in DEPS[stage_name] if not outcome[d][0]]
            if blocked:
                outcome[stage_name] = (False, f"skipped: dependency {blocked[0]} failed")
                continue
            tag = f"{stage_name}:{store}"
            try:
                sc.addJobTag(tag)
                try:
                    outcome[stage_name] = (True, stages[stage_name](store))
                finally:
                    sc.removeJobTag(tag)
            except Exception as exc:  # noqa: BLE001 — isolation by design
                log.exception("stage %s failed for store %s", stage_name, store)
                outcome[stage_name] = (False, str(exc))

    report = RunReport()
    for store in stores:
        outcome: dict[str, tuple[bool, object]] = {}
        side = [
            InheritableThread(target=run_branch, args=(store, chain, outcome))
            for chain in BRANCHES[:-1]
        ]
        for t in side:
            t.start()
        try:
            run_branch(store, BRANCHES[-1], outcome)
        finally:
            for t in side:
                t.join()
        for stage_name in stages:
            key = f"{stage_name}:{store}"
            ok, value = outcome.get(stage_name, (False, "stage thread ended without a result"))
            if ok:
                report.succeeded.append(key)
                report.watermarks[key] = value
            else:
                report.failed[key] = value
    return report
