"""Physical-layout tests (SURVEY.md §4): bucketed co-located joins and
partition pruning — the Spark analogues of the reference's MySQL index
design (create_raw_stock_movements.sql:17-20)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from tests.conftest import SF_SMALL


@pytest.fixture(scope="module")
def warehouse(spark, tmp_path_factory):
    return str(tmp_path_factory.mktemp("warehouse"))


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_bucketed_join_no_shuffle(spark, tmp_path_factory):
    """Two tables bucketed+sorted on the join key join WITHOUT any
    Exchange: the co-located join the reference approximates with
    PK-clustered InnoDB tables. At 100 TB this is how repeated
    fact-fact joins on art_id avoid reshuffling every run."""
    from osmart_etl_spark.io.sources import read_table

    ev = read_table(spark, SF_SMALL, "events")
    agg1 = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_events"))
    agg2 = ev.filter(F.col("event_type") == "purchase").groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_purchases")
    )

    import shutil

    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for t in ("b1", "b2"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(f"{warehouse}/{t}", ignore_errors=True)
    agg1.write.bucketBy(8, "user_id").sortBy("user_id").saveAsTable("b1")
    agg2.write.bucketBy(8, "user_id").sortBy("user_id").saveAsTable("b2")

    # tiny test tables would auto-broadcast; disable to expose the
    # bucketed sort-merge path a real fact-fact join would take
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("b1").join(spark.table("b2"), "user_id")
        plan = _plan(joined)
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
        assert "Exchange hashpartitioning" not in plan, plan
        n = joined.count()
        assert n == agg2.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_partition_pruning(spark, tmp_path_factory):
    """Date-partitioned layout: a day-filter reads only that partition's
    files (the watermark predicate at 100 TB = partition pruning)."""
    from osmart_etl_spark.io.sources import read_table

    out = str(tmp_path_factory.mktemp("pruned") / "events_by_day")
    ev = read_table(spark, SF_SMALL, "events").withColumn("d", F.to_date("ts"))
    ev.write.partitionBy("d").parquet(out)

    df = spark.read.parquet(out).filter(F.col("d") == "2024-01-05")
    plan = _plan(df)
    # the partition filter must appear as PartitionFilters, not a scan filter
    assert "PartitionFilters" in plan
    got = df.count()
    want = ev.filter(F.col("d") == "2024-01-05").count()
    assert got == want > 0


@pytest.mark.slow
def test_zorder_clustering_narrows_file_ranges(spark, tmp_path_factory):
    """Z-order layout: each output file's (min,max) footprint must be a
    small hyper-rectangle in BOTH clustered dimensions — the property
    parquet footer pruning needs for multi-column data skipping. A
    round-robin layout's files each span ~the whole domain (normalized
    area ~1); the z-ordered files must average far below it."""
    from osmart_etl_spark.io.layout import write_zordered
    from osmart_etl_spark.io.sources import read_table

    ev = read_table(spark, SF_SMALL, "events").select("event_id", "user_id", "value")
    base = tmp_path_factory.mktemp("zorder")
    naive, zord = str(base / "naive"), str(base / "zord")
    n_files = 16
    ev.repartition(n_files).write.parquet(naive)
    write_zordered(ev, zord, ["user_id", "value"], n_files=n_files)

    def mean_file_area(path: str) -> float:
        df = spark.read.parquet(path)
        lo_u, hi_u, lo_v, hi_v = df.agg(
            F.min("user_id"), F.max("user_id"), F.min("value"), F.max("value")
        ).collect()[0]
        per_file = (
            df.groupBy(F.input_file_name().alias("f"))
            .agg(
                F.min("user_id").alias("u0"), F.max("user_id").alias("u1"),
                F.min("value").alias("v0"), F.max("value").alias("v1"),
            )
            .collect()
        )
        areas = [
            ((r["u1"] - r["u0"]) / (hi_u - lo_u)) * ((r["v1"] - r["v0"]) / (hi_v - lo_v))
            for r in per_file
        ]
        return sum(areas) / len(areas)

    naive_area = mean_file_area(naive)
    z_area = mean_file_area(zord)
    # round-robin files span ~the full plane; z-ordered tiles must be
    # dramatically tighter (16 files ≈ 4x4 grid → area ≈ 1/16 ideal)
    assert naive_area > 0.5, naive_area
    assert z_area < naive_area / 3, (z_area, naive_area)

    # layout must not lose or duplicate rows
    assert spark.read.parquet(zord).count() == ev.count()

