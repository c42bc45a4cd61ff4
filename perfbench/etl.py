"""``etl_ticks``: the paper's cron tick, ``pipelines.orchestrator.run_etl``.

One run, one store, one set of sink paths:

1. the history (``gen.HISTORY_DAYS`` day files) is on disk before the
   timer starts;
2. a backfill: ``run_etl`` over empty sinks (``bulk_s``);
3. landing ticks: each lands one fresh day file, then runs ``run_etl``
   (``op_p50_s``); they repeat while the run has time left, at least
   ``MIN_TICKS`` of them (one fits a 20 s run on a 4-core box);
4. ``NOOP_TICKS`` no-op ticks with nothing past the watermark
   (``light_p50_s``), the fixed cost a cron loop pays.

Then, untimed, the sinks are checked against one-shot recomputations
over every landed event.

Runs use one store per path set: ``run_etl(stores=("a", "b"))`` over
shared paths appends the raw log once per store, because the raw log has
no store column, so two stores would double it.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import statistics
import time

import gen
from common import blocks_held, metric, quartiles
from spans import Tracer

MIN_TICKS = 1
NOOP_TICKS = 3
STAGES = ("sales", "raw_movements", "stock_points")

LAYERS = {
    "pipelines.run_etl.wall_s": "s",
    **{f"pipelines.{s}.{f}": u for s in STAGES
       for f, u in (("wall_s", "s"), ("self_s", "s"), ("jobs", "count"), ("backfill_wall_s", "s"))},
    "pipelines.stage_share": "ratio",
    "pipelines.compute_stock_points.build_s": "s",
    "io.sinks.merge_upsert_partitioned.wall_s": "s",
    "io.sinks.merge_upsert_partitioned.calls": "count",
    "io.sinks.merge_upsert_partitioned.buckets_touched": "count",
    "io.sinks.merge_accumulate_versioned.wall_s": "s",
    "io.sinks.merge_accumulate_versioned.jobs": "count",
    "io.sinks.write_append.wall_s": "s",
    "io.sinks.read_accumulate_ledger.calls": "count",
    "io.atomic.upsert_versioned.wall_s": "s",
    "io.atomic.upsert_versioned.jobs": "count",
    "io.atomic.read_committed.calls": "count",
    "io.atomic.read_committed.wall_s": "s",
    "io.atomic.current_version.calls": "count",
    "io.atomic.commit_version.calls": "count",
    "streaming.incremental.wm_get.wall_s": "s",
    "streaming.incremental.wm_get.calls": "count",
    "streaming.incremental.wm_set.wall_s": "s",
    "streaming.incremental.wm_set.calls": "count",
    "streaming.incremental.run_incremental.self_s": "s",
    "io.bytes_written_per_tick": "B/B",
    "spark.jobs_per_tick": "count",
    "spark.jobs_per_noop_tick": "count",
    "spark.jobs_backfill": "count",
    "etl.tick_max_s": "s",
    "etl.landing_ticks": "count",
}


def _dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total


def _layers(tr: Tracer, n_tick: int, n_noop: int, spans: dict) -> dict:
    """Per-operation means: tick-phase layers per landing tick, noop-phase
    layers per no-op tick, backfill layers for the one backfill."""

    def per(phase, name, field, n):
        return tr.get(phase, name, field) / max(n, 1)

    out = {
        "pipelines.run_etl.wall_s": per("tick", "pipelines.run_etl", "wall_s", n_tick),
        "pipelines.compute_stock_points.build_s":
            tr.get("backfill", "pipelines.compute_stock_points", "wall_s"),
        "io.sinks.write_append.wall_s": tr.get("backfill", "io.sinks.write_append", "wall_s"),
        "io.sinks.read_accumulate_ledger.calls":
            per("noop", "io.sinks.read_accumulate_ledger", "calls", n_noop),
        "io.atomic.read_committed.calls": per("noop", "io.atomic.read_committed", "calls", n_noop),
        "io.atomic.read_committed.wall_s": per("noop", "io.atomic.read_committed", "wall_s", n_noop),
        "io.atomic.current_version.calls": per("noop", "io.atomic.current_version", "calls", n_noop),
        "io.atomic.commit_version.calls": per("tick", "io.atomic.commit_version", "calls", n_tick),
        "streaming.incremental.wm_get.wall_s":
            per("noop", "streaming.incremental.wm_get", "wall_s", n_noop),
        "streaming.incremental.wm_get.calls":
            per("noop", "streaming.incremental.wm_get", "calls", n_noop),
        "streaming.incremental.wm_set.wall_s":
            per("tick", "streaming.incremental.wm_set", "wall_s", n_tick),
        "streaming.incremental.wm_set.calls":
            per("tick", "streaming.incremental.wm_set", "calls", n_tick),
        "streaming.incremental.run_incremental.self_s":
            per("tick", "streaming.incremental.run_incremental", "self_s", n_tick),
        "spark.jobs_per_tick": per("tick", "pipelines.run_etl", "jobs", n_tick),
        "spark.jobs_per_noop_tick": per("noop", "pipelines.run_etl", "jobs", n_noop),
        "spark.jobs_backfill": tr.get("backfill", "pipelines.run_etl", "jobs"),
    }
    for s in STAGES:
        for f in ("wall_s", "self_s", "jobs"):
            out[f"pipelines.{s}.{f}"] = per("tick", f"pipelines.{s}", f, n_tick)
        out[f"pipelines.{s}.backfill_wall_s"] = tr.get("backfill", f"pipelines.{s}", "wall_s")
    out["pipelines.stage_share"] = sum(
        out[f"pipelines.{s}.wall_s"] for s in STAGES
    ) / max(out["pipelines.run_etl.wall_s"], 1e-9)
    for name, fields in (
        ("io.sinks.merge_upsert_partitioned", ("wall_s", "calls", "buckets_touched")),
        ("io.sinks.merge_accumulate_versioned", ("wall_s", "jobs")),
        ("io.atomic.upsert_versioned", ("wall_s", "jobs")),
    ):
        for f in fields:
            out[f"{name}.{f}"] = per("tick", name, f, n_tick)
    out.update(spans)
    return {k: metric(float(v), LAYERS[k]) for k, v in out.items()}


def _check_sinks(bench, spark, events_dir: str, paths: dict, last_day: int) -> None:
    """The sinks against one-shot recomputations over every landed event."""
    from pyspark.sql import functions as F

    from osmart_etl_spark.io.atomic import read_committed
    from osmart_etl_spark.io.sinks import read_merge_table
    from osmart_etl_spark.ops.temporal import sparse_decode
    from osmart_etl_spark.pipelines.inventory import compute_stock_points, normalize_movements
    from osmart_etl_spark.pipelines.sales import extract_sales

    events = spark.read.parquet(events_dir)
    n_events = events.count()

    cols = ["user_id", "efectivo_in", "tarjeta_in", "total_venta", "last_event_id"]
    got = set(map(tuple, read_merge_table(spark, paths["ventas_path"]).select(*cols).collect()))
    want = set(map(tuple, extract_sales(events, None).select(*cols).collect()))
    bench.check("etl.sales_totals", got == want, f"{len(got ^ want)} rows differ")

    raw_rows = spark.read.parquet(paths["raw_log_path"]).count()
    bench.check("etl.raw_log_rows", raw_rows == n_events, f"raw {raw_rows} vs events {n_events}")

    lo = gen.START.date().isoformat()
    hi = (gen.START + dt.timedelta(days=last_day + 2)).date().isoformat()

    def dense(points):
        rows = sparse_decode(points, spark, lo, hi, ["art_id"]).select(
            "art_id", F.col("cal_date").cast("string"), "sod_stock"
        ).collect()
        return set(map(tuple, rows))

    got = dense(read_committed(spark, paths["points_path"]))
    want = dense(compute_stock_points(normalize_movements(events), None, spark))
    bench.check("etl.stock_points_dense", got == want, f"{len(got ^ want)} cells differ")


def run(bench) -> tuple[dict, dict, dict]:
    days = gen.etl_days(bench.seed)
    stats = {**gen.params(), "slice_distinct_skus": gen.slice_key_stats(days[gen.HISTORY_DAYS:])}
    bench.notes.append(f"etl_ticks inputs {json.dumps(stats)}")
    base = str(bench.work)
    events_dir = f"{base}/events"
    os.makedirs(events_dir)

    def land(d: int) -> int:
        return gen.write_etl_slice(days[d], f"{events_dir}/day{d:03d}.parquet")

    for d in range(gen.HISTORY_DAYS):
        land(d)
    paths = {
        "events_path": events_dir,
        "ventas_path": f"{base}/ventas",
        "raw_log_path": f"{base}/raw_log",
        "points_path": f"{base}/points",
        "watermark_path": f"{base}/watermarks",
    }
    spark = bench.setup(lambda s: s.read.parquet(events_dir).count())
    bench.calibrate()

    from osmart_etl_spark.pipelines import orchestrator

    tracer = Tracer(spark) if bench.trace else None
    if tracer:
        tracer.install()
    blocks = [0]

    def tick(phase: str, landing: bool) -> float:
        if tracer:
            tracer.phase = phase
        t0 = time.perf_counter()
        try:
            rep = orchestrator.run_etl(spark, **paths)
            err = dict(rep.failed)
            wms = list(rep.watermarks.values())
            # a landing tick moves every stage's watermark, a no-op tick none
            expected = len(wms) == len(STAGES) and all((w is not None) == landing for w in wms)
            if not expected and not err:
                err = {"watermarks": str(rep.watermarks)}
        except Exception as exc:  # noqa: BLE001 - a failed tick is counted, not fatal
            err = {"exception": repr(exc)[:300]}
        wall = time.perf_counter() - t0
        bench.check(f"etl.{phase}", not err, str(err))
        if tracer:
            blocks.append(blocks_held(spark))
        return wall

    t_start = time.perf_counter()
    backfill = tick("backfill", landing=True)
    ticks: list[float] = []
    written: list[float] = []
    day = gen.HISTORY_DAYS
    while day < len(days) and (
        len(ticks) < MIN_TICKS or time.perf_counter() - t_start + ticks[-1] <= bench.seconds
    ):
        before = sum(_dir_bytes(p) for p in paths.values() if p != events_dir)
        slice_bytes = land(day)
        ticks.append(tick("tick", landing=True))
        after = sum(_dir_bytes(p) for p in paths.values() if p != events_dir)
        written.append((after - before) / slice_bytes)
        day += 1
    noops = [tick("noop", landing=False) for _ in range(NOOP_TICKS)]

    layers: dict = {}
    if tracer:
        tracer.remove()
        # tracing overhead: the same no-op tick, unwrapped
        plain = [tick("noop_untraced", landing=False) for _ in range(NOOP_TICKS)]
        layers = _layers(tracer, len(ticks), len(noops), {
            "io.bytes_written_per_tick": statistics.mean(written),
            "etl.tick_max_s": max(ticks),
            "etl.landing_ticks": len(ticks),
        })
        layers["caching.blocks_held"] = metric(float(max(blocks)), "count")
        layers["trace.overhead_s"] = metric(statistics.median(noops) - statistics.median(plain), "s")
        layers["trace.op_p50_s"] = metric(statistics.median(ticks), "s")
    bench.calibrate()
    _check_sinks(bench, spark, events_dir, paths, day - 1)

    e2e = {
        "op_p50_s": metric(quartiles(ticks)[1], "s"),
        "light_p50_s": metric(quartiles(noops)[1], "s"),
        "bulk_s": metric(backfill, "s"),
    }
    summary = {
        "backfill_s": ([backfill], "s"),
        "tick_p50_s": (ticks, "s"),
        "tick_max_s": ([max(ticks)], "s"),
        "noop_tick_s": (noops, "s"),
    }
    return e2e, layers, summary
