"""Spark jobs per ETL stage, read from the status tracker's job tags.

    python plans/pr13/tag_counts.py <tree> [--seed 1]

Imports the package from ``<tree>`` (a checkout), lands the
``perfbench`` history, then runs a backfill, one landing tick and one
no-op tick of ``run_etl`` on ``local[<cpus>]`` and prints, per tick, the
jobs each ``<stage>:<store>`` tag collected and the jobs the whole tick
launched. A tree whose ``run_etl`` does not tag its stages gets the
same tags from wrappers around the three stage functions.
"""

from __future__ import annotations

import argparse
import functools
import os
import shutil
import sys
import tempfile


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("tree")
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()
    tree = os.path.abspath(args.tree)
    sys.path[:0] = [tree, os.path.join(tree, "perfbench")]
    import gen

    from osmart_etl_spark.pipelines import inventory, orchestrator, sales
    from osmart_etl_spark.session import get_spark

    spark = get_spark("tag_counts", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    store = "tienda_01"
    stages = {
        "sales": (sales, "run_sales_incremental"),
        "raw_movements": (inventory, "run_raw_movements_incremental"),
        "stock_points": (inventory, "run_stock_points_incremental"),
    }
    if not hasattr(orchestrator, "BRANCHES"):  # a tree without stage tags
        for stage, (mod, name) in stages.items():
            def tagged(fn, tag):
                @functools.wraps(fn)
                def run(*a, **k):
                    sc.addJobTag(tag)
                    try:
                        return fn(*a, **k)
                    finally:
                        sc.removeJobTag(tag)
                return run
            setattr(mod, name, tagged(getattr(mod, name), f"{stage}:{store}"))

    tracker = sc._jsc.sc().statusTracker()

    def jobs(tag):
        return set(tracker.getJobIdsForTag(tag))

    def last_job():
        ids = sc.statusTracker().getJobIdsForGroup(None)
        return max(ids) if ids else -1

    work = tempfile.mkdtemp(prefix="tag_counts-")
    try:
        days = gen.etl_days(args.seed)
        events = f"{work}/events"
        os.makedirs(events)
        for d in range(gen.HISTORY_DAYS):
            gen.write_etl_slice(days[d], f"{events}/day{d:03d}.parquet")
        paths = {
            "events_path": events, "ventas_path": f"{work}/ventas",
            "raw_log_path": f"{work}/raw_log", "points_path": f"{work}/points",
            "watermark_path": f"{work}/wm",
        }
        spark.read.parquet(events).count()  # warm-up, as perfbench's set-up
        for tick in ("backfill", "landing", "noop"):
            if tick == "landing":
                gen.write_etl_slice(days[gen.HISTORY_DAYS], f"{events}/day{gen.HISTORY_DAYS:03d}.parquet")
            before = {s: jobs(f"{s}:{store}") for s in stages}
            j0 = last_job()
            rep = orchestrator.run_etl(spark, **paths)
            assert not rep.failed, rep.failed
            per = {s: len(jobs(f"{s}:{store}") - before[s]) for s in stages}
            print(f"{tick:9s} total {last_job() - j0:3d}  " + "  ".join(f"{s} {n}" for s, n in per.items()))
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
