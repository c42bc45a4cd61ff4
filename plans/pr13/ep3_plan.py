"""The flat-form EP3 build's physical plan, with a prior state.

    python plans/pr13/ep3_plan.py <tree>

Imports the package from ``<tree>`` (a checkout), lands the first 30
``perfbench`` history days (seed 1), takes the points of days 0-19 as
the prior state and plans ``compute_stock_points`` over days 20-29.
Prints the counts of hash and broadcast exchanges and of output rows,
then the plan as Spark prepares it before execution (adaptive
execution's initial plan).
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile


def main() -> None:
    tree = os.path.abspath(sys.argv[1])
    sys.path[:0] = [tree, os.path.join(tree, "perfbench")]
    import gen
    from pyspark.sql import functions as F

    from osmart_etl_spark.pipelines.inventory import compute_stock_points, normalize_movements
    from osmart_etl_spark.session import get_spark

    spark = get_spark("ep3_plan", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    work = tempfile.mkdtemp(prefix="ep3_plan-")
    try:
        days = gen.etl_days(1)
        for d in range(gen.HISTORY_DAYS):
            gen.write_etl_slice(days[d], f"{work}/day{d:03d}.parquet")
        mv = normalize_movements(spark.read.parquet(work))
        cut = F.lit("2024-01-21").cast("date")
        prior = compute_stock_points(mv.filter(F.to_date("fecha") < cut), None, spark)
        prior = prior.localCheckpoint(eager=True)
        pts = compute_stock_points(mv.filter(F.to_date("fecha") >= cut), prior, spark)
        plan = pts._jdf.queryExecution().executedPlan().toString()
        print("hash exchanges:", plan.count("Exchange hashpartitioning"))
        print("broadcast exchanges:", plan.count("BroadcastExchange"))
        print(plan)
        print("rows:", pts.count())
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
