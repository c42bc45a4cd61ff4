"""Live JDBC roundtrip over embedded Derby (S1/S2/S4) — the driver jars
ship inside the pyspark distribution, so the scan path that was
config-complete-but-unverified in rounds 1-2 executes for real here:
write via DataFrameWriter.jdbc, read back via jdbc_scan, including the
range-partitioned parallel read (S4) and an explicit driver class (S2).
Ref: etl_sales/extract.py:8-28, etl_inventory/extract.py:8-22,
seed_raw_stock_movements.py:38-60 (the hand-rolled range batcher S4
replaces)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from osmart_etl_spark.io.atomic import read_committed

DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"


def _derby_available(spark) -> bool:
    try:
        spark._jvm.java.lang.Class.forName(DRIVER)
        return True
    except Exception:  # noqa: BLE001
        return False


@pytest.fixture(scope="module")
def derby_url(spark, tmp_path_factory):
    if not _derby_available(spark):
        pytest.skip("Derby driver not on Spark classpath")
    db = tmp_path_factory.mktemp("derby") / "testdb"
    return f"jdbc:derby:{db};create=true"


@pytest.fixture(scope="module")
def seeded(spark, derby_url):
    df = spark.range(0, 1000).select(
        F.col("id").alias("movement_id"),
        (F.col("id") % 7).alias("store_id"),
        (F.col("id") * 3 % 100).cast("double").alias("qty"),
    )
    df.write.format("jdbc").option("url", derby_url).option(
        "dbtable", "movements"
    ).option("driver", DRIVER).mode("overwrite").save()
    return df


def test_jdbc_roundtrip_table(spark, derby_url, seeded):
    """S1: plain table scan returns exactly what was written."""
    from osmart_etl_spark.io.sources import jdbc_scan

    out = jdbc_scan(spark, derby_url, "movements", driver=DRIVER)
    assert out.count() == 1000
    assert {r["movement_id"] for r in out.filter(F.col("store_id") == 3).collect()} == {
        i for i in range(1000) if i % 7 == 3
    }


def test_jdbc_partitioned_parallel_read(spark, derby_url, seeded):
    """S4: range-partitioned read — N partition queries, same rows, and
    the scan genuinely splits into numPartitions input partitions."""
    from osmart_etl_spark.io.sources import jdbc_scan

    out = jdbc_scan(
        spark,
        derby_url,
        "movements",
        driver=DRIVER,
        partition_column="movement_id",
        lower_bound=0,
        upper_bound=1000,
        num_partitions=4,
    )
    assert out.rdd.getNumPartitions() == 4
    assert out.count() == 1000
    total = out.agg(F.sum("movement_id").alias("s")).collect()[0]["s"]
    assert total == sum(range(1000))


def test_jdbc_subquery_pushdown(spark, derby_url, seeded):
    """S1: parenthesized subquery executes source-side (the reference
    pushes date/store predicates into every SQL branch)."""
    from osmart_etl_spark.io.sources import jdbc_scan

    # Spark's JDBC writer creates case-exact quoted identifiers; Derby
    # case-folds unquoted ones, so the source-side SQL quotes them.
    out = jdbc_scan(
        spark,
        derby_url,
        '(SELECT "movement_id", "qty" FROM movements WHERE "store_id" = 2) t',
        driver=DRIVER,
    )
    assert out.columns == ["movement_id", "qty"]
    assert out.count() == len([i for i in range(1000) if i % 7 == 2])


def test_jdbc_multi_database_union(spark, tmp_path_factory):
    """S3: the same extract from two physical databases, unioned with a
    provenance column — ref etl_sales/extract.py:21-26."""
    if not _derby_available(spark):
        pytest.skip("Derby driver not on Spark classpath")
    from osmart_etl_spark.io.sources import jdbc_scan, union_databases

    frames = []
    for name in ("tienda_a", "tienda_b"):
        db = tmp_path_factory.mktemp("derby_multi") / name
        url = f"jdbc:derby:{db};create=true"
        spark.range(0, 50).select(F.col("id").alias("sale_id")).write.format(
            "jdbc"
        ).option("url", url).option("dbtable", "sales").option("driver", DRIVER).mode(
            "overwrite"
        ).save()
        frames.append(
            jdbc_scan(spark, url, "sales", driver=DRIVER).withColumn(
                "source_db", F.lit(name)
            )
        )
    out = union_databases(frames)
    assert out.count() == 100
    assert out.groupBy("source_db").count().count() == 2


# ---------------------------------------------------------------------------
# JDBC write-back upsert (S7/S8 relational sink) — staged MERGE into a live
# table, semantics == upsert_keep_latest on the composite PK.
# Ref: etl_sales/db/db_helpers.py:25-40 (ON DUPLICATE KEY UPDATE),
# etl_inventory/seed_stock_points.py:155-175 + update_stock_points.py:237-256
# (temp-staging bulk upsert).


def test_build_merge_sql_dialects():
    from osmart_etl_spark.io.jdbc_sink import build_merge_sql

    ansi = build_merge_sql("tgt", "stg", ["k1", "k2"], ["k1", "k2", "v", "ts"], "ts")
    assert ansi.startswith("MERGE INTO tgt t USING stg s ON ")
    assert 't."k1" = s."k1" AND t."k2" = s."k2"' in ansi
    assert 'WHEN MATCHED AND s."ts" >= t."ts" THEN UPDATE SET "v" = s."v", "ts" = s."ts"' in ansi
    assert 'WHEN NOT MATCHED THEN INSERT ("k1", "k2", "v", "ts") VALUES' in ansi
    # keys never appear in the UPDATE SET list
    assert '"k1" = s."k1",' not in ansi.split("UPDATE SET")[1]

    my = build_merge_sql("tgt", "stg", ["k"], ["k", "v", "ts"], "ts", dialect="mysql")
    assert my.startswith("INSERT INTO `tgt` (`k`, `v`, `ts`) SELECT")
    assert "ON DUPLICATE KEY UPDATE" in my
    assert "`v` = IF(new.`ts` >= `tgt`.`ts`, new.`v`, `tgt`.`v`)" in my

    import pytest as _pytest

    with _pytest.raises(ValueError):
        build_merge_sql("t", "s", ["k"], ["k", "ts"], "ts", dialect="oracle9i")


def _upsert_state(spark, derby_url, table):
    from osmart_etl_spark.io.sources import jdbc_scan

    return {
        (r["store_id"], r["sku"]): (r["qty"], r["updated_at"])
        for r in jdbc_scan(spark, derby_url, table, driver=DRIVER).collect()
    }


@pytest.mark.slow
def test_jdbc_upsert_roundtrip(spark, derby_url):
    """write → upsert → re-read equals upsert_keep_latest on the composite
    PK: newer rows win, stale redeliveries are ignored, new keys insert,
    and replaying the same batch is a no-op (T6)."""
    from osmart_etl_spark.io.jdbc_sink import jdbc_upsert
    from osmart_etl_spark.io.sinks import upsert_keep_latest

    cols = ["store_id", "sku", "qty", "updated_at"]
    base = spark.createDataFrame(
        [(1, "a", 10.0, 100), (1, "b", 20.0, 100), (2, "a", 30.0, 100)], cols
    )
    jdbc_upsert(spark, base, derby_url, "stock_upsert", ["store_id", "sku"],
                "updated_at", driver=DRIVER)
    assert _upsert_state(spark, derby_url, "stock_upsert") == {
        (1, "a"): (10.0, 100), (1, "b"): (20.0, 100), (2, "a"): (30.0, 100)}

    batch = spark.createDataFrame(
        [
            (1, "a", 11.0, 200),   # newer -> wins
            (1, "b", 99.0, 50),    # stale redelivery -> ignored
            (3, "c", 40.0, 150),   # new key -> insert
            (2, "a", 31.0, 120),   # duplicate key in batch, older
            (2, "a", 32.0, 130),   # duplicate key in batch, newest -> wins
        ],
        cols,
    )
    jdbc_upsert(spark, batch, derby_url, "stock_upsert", ["store_id", "sku"],
                "updated_at", driver=DRIVER)
    got = _upsert_state(spark, derby_url, "stock_upsert")

    expected_df = upsert_keep_latest(base, batch, ["store_id", "sku"], "updated_at")
    expected = {(r["store_id"], r["sku"]): (r["qty"], r["updated_at"])
                for r in expected_df.collect()}
    assert got == expected == {
        (1, "a"): (11.0, 200), (1, "b"): (20.0, 100),
        (2, "a"): (32.0, 130), (3, "c"): (40.0, 150)}

    # idempotence: replaying the identical batch changes nothing
    jdbc_upsert(spark, batch, derby_url, "stock_upsert", ["store_id", "sku"],
                "updated_at", driver=DRIVER)
    assert _upsert_state(spark, derby_url, "stock_upsert") == expected

    # staging table is dropped afterwards
    from osmart_etl_spark.io.jdbc_sink import _table_exists

    assert not _table_exists(spark, derby_url, "stock_upsert_staging", driver=DRIVER)


@pytest.mark.slow
def test_jdbc_upsert_foreach_batch(spark, derby_url):
    """The foreachBatch adapter applies micro-batches in sequence with
    keep-latest semantics across batches (T5/T6 streaming sink shape)."""
    from osmart_etl_spark.io.jdbc_sink import jdbc_upsert_sink

    cols = ["store_id", "sku", "qty", "updated_at"]
    sink = jdbc_upsert_sink(derby_url, "stock_stream", ["store_id", "sku"],
                            "updated_at", driver=DRIVER)
    sink(spark.createDataFrame([(1, "a", 1.0, 10)], cols), 0)
    sink(spark.createDataFrame([(1, "a", 2.0, 20), (1, "b", 5.0, 15)], cols), 1)
    sink(spark.createDataFrame([], schema=spark.createDataFrame([(1, "a", 1.0, 10)], cols).schema), 2)
    assert _upsert_state(spark, derby_url, "stock_stream") == {
        (1, "a"): (2.0, 20), (1, "b"): (5.0, 15)}


@pytest.mark.slow
def test_jdbc_upsert_real_writestream(spark, derby_url, tmp_path):
    """End-to-end Structured Streaming: a file-source stream drained
    with availableNow through writeStream.foreachBatch into the Derby
    upsert — the T5/T6 sink running under the real streaming engine,
    not a hand-called adapter."""
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from osmart_etl_spark.io.jdbc_sink import jdbc_upsert_sink

    schema = StructType(
        [
            StructField("store_id", LongType()),
            StructField("sku", StringType()),
            StructField("qty", DoubleType()),
            StructField("updated_at", LongType()),
        ]
    )
    src = tmp_path / "stream_src"
    src.mkdir()
    cols = ["store_id", "sku", "qty", "updated_at"]
    spark.createDataFrame(
        [(1, "a", 1.0, 10), (1, "b", 2.0, 10)], cols
    ).coalesce(1).write.mode("append").parquet(str(src))
    spark.createDataFrame(
        [(1, "a", 5.0, 20), (2, "c", 7.0, 15), (1, "b", 9.9, 5)], cols
    ).coalesce(1).write.mode("append").parquet(str(src))

    q = (
        spark.readStream.schema(schema)
        .parquet(str(src))
        .writeStream.foreachBatch(
            jdbc_upsert_sink(
                derby_url, "stock_ws", ["store_id", "sku"], "updated_at", driver=DRIVER
            )
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert _upsert_state(spark, derby_url, "stock_ws") == {
        (1, "a"): (5.0, 20),   # newest wins across files
        (1, "b"): (2.0, 10),   # stale 5-ts row ignored
        (2, "c"): (7.0, 15),
    }


@pytest.mark.slow
def test_sales_pipeline_lands_in_jdbc(spark, derby_url, tmp_path):
    """EP1 with the reference's REAL sink shape: the incremental sales
    pipeline lands each batch in a live relational table (staged MERGE)
    alongside the parquet lake copy; after two runs + a delta, the DB
    table must exactly equal the parquet sink."""
    import datetime as dt

    from osmart_etl_spark.io.sources import jdbc_scan, read_table
    from osmart_etl_spark.pipelines.sales import run_sales_incremental
    from tests.conftest import SF_SMALL

    events_path = str(tmp_path / "events")
    read_table(spark, SF_SMALL, "events").write.parquet(events_path)
    sink = str(tmp_path / "ventas")
    jdbc = {"url": derby_url, "table": "ventas_limpias", "driver": DRIVER}

    wm1 = run_sales_incremental(
        spark, events_path=events_path, sink_path=sink, jdbc=jdbc
    )
    assert wm1 is not None
    new = spark.createDataFrame(
        [
            (wm1 + 1, dt.datetime(2025, 1, 1, 10), 1, "purchase", 10.0, "{}"),
            (wm1 + 2, dt.datetime(2025, 1, 1, 11), 1, "click", 5.0, "{}"),
        ],
        spark.read.parquet(events_path).schema,
    )
    new.write.mode("append").parquet(events_path)
    wm3 = run_sales_incremental(
        spark, events_path=events_path, sink_path=sink, jdbc=jdbc
    )
    assert wm3 == wm1 + 2

    from osmart_etl_spark.io.sinks import read_merge_table

    lake = read_merge_table(spark, sink)
    db = jdbc_scan(spark, derby_url, "ventas_limpias", driver=DRIVER)
    key = lambda r: (r["user_id"], r["tienda"], r["source_system"])  # noqa: E731
    lake_rows = {key(r): (r["total_venta"], r["last_event_id"]) for r in lake.collect()}
    db_rows = {key(r): (r["total_venta"], r["last_event_id"]) for r in db.collect()}
    assert db_rows == lake_rows and len(db_rows) > 0


def test_jdbc_upsert_rejects_null_keys(spark, derby_url):
    from osmart_etl_spark.io.jdbc_sink import jdbc_upsert

    cols = ["store_id", "sku", "qty", "updated_at"]
    bad = spark.createDataFrame([(1, None, 1.0, 10), (1, "b", 2.0, 10)], cols)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="NULL in key"):
        jdbc_upsert(spark, bad, derby_url, "null_key_tgt", ["store_id", "sku"],
                    "updated_at", driver=DRIVER)


def test_build_unique_index_sql():
    from osmart_etl_spark.io.jdbc_sink import build_unique_index_sql

    sql = build_unique_index_sql("ventas_limpias", ["user_id", "tienda"])
    assert sql == (
        "ALTER TABLE `ventas_limpias` ADD CONSTRAINT "
        "`ventas_limpias_upsert_uk` UNIQUE (`user_id`, `tienda`)"
    )


@pytest.mark.slow
def test_stock_points_pipeline_lands_in_jdbc(spark, derby_url, tmp_path):
    """EP3 with the reference's real sink shape (update_stock_points.py:
    237-256, temp-staging bulk upsert): two incremental runs land stock
    points in Derby; the DB table must equal the parquet points table."""
    import datetime as dt

    from osmart_etl_spark.io.sources import jdbc_scan, read_table
    from osmart_etl_spark.pipelines.inventory import (
        run_raw_movements_incremental,
        run_stock_points_incremental,
    )
    from tests.conftest import SF_SMALL

    events_path = str(tmp_path / "events")
    read_table(spark, SF_SMALL, "events").write.parquet(events_path)
    raw = str(tmp_path / "raw_log")
    points = str(tmp_path / "points")
    wmp = str(tmp_path / "wm")
    jdbc = {"url": derby_url, "table": "stock_points_db", "driver": DRIVER}

    assert run_raw_movements_incremental(
        spark, events_path=events_path, raw_log_path=raw, watermark_path=wmp
    ) is not None
    assert run_stock_points_incremental(
        spark, raw_log_path=raw, points_path=points, watermark_path=wmp, jdbc=jdbc
    ) is not None
    # idempotent second run: no new movements -> no-op, DB unchanged
    assert run_stock_points_incremental(
        spark, raw_log_path=raw, points_path=points, watermark_path=wmp, jdbc=jdbc
    ) is None

    lake = {
        (r["art_id"], r["point_date"]): round(r["sod_stock"], 6)
        for r in read_committed(spark, points).collect()
    }
    db = {
        (r["art_id"], r["point_date"]): round(r["sod_stock"], 6)
        for r in jdbc_scan(spark, derby_url, "stock_points_db", driver=DRIVER).collect()
    }
    assert db == lake and len(db) > 0


@pytest.mark.slow
def test_orchestrated_tick_with_reconcile_against_db(spark, derby_url, tmp_path):
    """The full reference deployment shape: one orchestrated tick lands
    ventas + stock points in the live DB, then T8 reconciliation runs
    the lake-computed points AGAINST THE PRODUCTION DB TABLE (the
    reference diffs against articulo.existencia in MySQL,
    stock_points_helpers.py:4-79) — zero mismatches expected."""
    from osmart_etl_spark.dq import reconcile
    from osmart_etl_spark.io.sources import jdbc_scan, read_table
    from osmart_etl_spark.pipelines.orchestrator import run_etl
    from tests.conftest import SF_SMALL

    events_path = str(tmp_path / "events")
    read_table(spark, SF_SMALL, "events").write.parquet(events_path)
    report = run_etl(
        spark,
        events_path=events_path,
        ventas_path=str(tmp_path / "ventas"),
        raw_log_path=str(tmp_path / "raw"),
        points_path=str(tmp_path / "points"),
        watermark_path=str(tmp_path / "wm"),
        jdbc_ventas={"url": derby_url, "table": "orch_ventas", "driver": DRIVER},
        jdbc_points={"url": derby_url, "table": "orch_points", "driver": DRIVER},
    )
    assert not report.failed, report.failed
    lake = read_committed(spark, str(tmp_path / "points")).select(
        "art_id", "point_date", F.col("sod_stock").cast("double").alias("sim")
    )
    prod = jdbc_scan(spark, derby_url, "orch_points", driver=DRIVER).select(
        "art_id", "point_date", F.col("sod_stock").cast("double").alias("prod")
    )
    _, summary = reconcile(lake, prod, ["art_id", "point_date"], "sim", "prod")
    row = summary.collect()[0]
    assert row["total_keys"] > 0 and row["mismatch_keys"] == 0, row


# -- MySQL-dialect golden contract (ventas_limpias case) -------------------
# The container has no MySQL server, so the mysql branch of
# build_merge_sql can never be executed live here.  This golden test
# pins the generated statement for the reference's own table instead:
# ventas_limpias has PRIMARY KEY (ven_id, tienda, source_system) and
# nine non-key columns, and the reference upsert
# (etl_sales/db/db_helpers.py:25-40, sqlalchemy
# `insert(...).on_duplicate_key_update(...)`) updates EVERY non-key
# column and NEVER a key column.  Contract checked here: same column
# partition, plus our keep-latest guard on extracted_at.

_VENTAS_KEYS = ["ven_id", "tienda", "source_system"]
_VENTAS_COLS = [
    "ven_id",
    "tienda",
    "fecha_hora",
    "caja",
    "usuario",
    "efectivo",
    "tarjeta",
    "otros",
    "total_venta",
    "source_db",
    "source_system",
    "extracted_at",
]


def test_build_merge_sql_mysql_golden_ventas_limpias():
    from osmart_etl_spark.io.jdbc_sink import build_merge_sql

    sql = build_merge_sql(
        "ventas_limpias",
        "ventas_limpias_stg",
        _VENTAS_KEYS,
        _VENTAS_COLS,
        "extracted_at",
        dialect="mysql",
    )
    golden = (
        "INSERT INTO `ventas_limpias` "
        "(`ven_id`, `tienda`, `fecha_hora`, `caja`, `usuario`, `efectivo`, "
        "`tarjeta`, `otros`, `total_venta`, `source_db`, `source_system`, "
        "`extracted_at`) "
        "SELECT `ven_id`, `tienda`, `fecha_hora`, `caja`, `usuario`, "
        "`efectivo`, `tarjeta`, `otros`, `total_venta`, `source_db`, "
        "`source_system`, `extracted_at` "
        "FROM `ventas_limpias_stg` AS new "
        "ON DUPLICATE KEY UPDATE "
        + ", ".join(
            f"`{c}` = IF(new.`extracted_at` >= `ventas_limpias`.`extracted_at`, "
            f"new.`{c}`, `ventas_limpias`.`{c}`)"
            for c in _VENTAS_COLS
            if c not in _VENTAS_KEYS
        )
    )
    assert sql == golden

    # structural contract, independent of the literal pin:
    update_clause = sql.split("ON DUPLICATE KEY UPDATE")[1]
    for k in _VENTAS_KEYS:
        assert f"`{k}` = IF(" not in update_clause, f"key {k} must not be updated"
    for c in _VENTAS_COLS:
        if c not in _VENTAS_KEYS:
            assert f"`{c}` = IF(" in update_clause, f"non-key {c} must be updated"
    # all 12 columns inserted, in schema order
    assert sql.index("`ven_id`") < sql.index("`tienda`") < sql.index("`fecha_hora`")


def test_build_unique_index_sql_mysql_golden():
    from osmart_etl_spark.io.jdbc_sink import build_unique_index_sql

    sql = build_unique_index_sql("ventas_limpias", _VENTAS_KEYS)
    assert sql == (
        "ALTER TABLE `ventas_limpias` ADD CONSTRAINT "
        "`ventas_limpias_upsert_uk` UNIQUE (`ven_id`, `tienda`, `source_system`)"
    )


def test_unique_index_probe_on_preexisting_table(spark, derby_url):
    """Round-12 (review): a pre-existing mysql-dialect target without a
    UNIQUE(keys) constraint turns the ON DUPLICATE KEY idiom into a
    blind duplicating INSERT — the probe must detect the missing
    constraint (metadata is engine-portable, so Derby exercises it)."""
    import pytest

    from osmart_etl_spark.io.jdbc_sink import (
        _execute_sql,
        _require_unique_index,
    )

    _execute_sql(
        spark, derby_url,
        "CREATE TABLE bare_target (k1 INT NOT NULL, k2 INT NOT NULL, v DOUBLE)",
        driver=DRIVER,
    )
    with pytest.raises(RuntimeError, match="no UNIQUE index"):
        _require_unique_index(
            spark, derby_url, "bare_target", ["k1", "k2"], driver=DRIVER
        )
    # a unique index over a DIFFERENT column set still fails
    _execute_sql(
        spark, derby_url,
        "ALTER TABLE bare_target ADD CONSTRAINT bt_uk1 UNIQUE (k1)",
        driver=DRIVER,
    )
    with pytest.raises(RuntimeError, match="no UNIQUE index"):
        _require_unique_index(
            spark, derby_url, "bare_target", ["k1", "k2"], driver=DRIVER
        )
    # the exact composite constraint satisfies the probe
    _execute_sql(
        spark, derby_url,
        "ALTER TABLE bare_target ADD CONSTRAINT bt_uk2 UNIQUE (k1, k2)",
        driver=DRIVER,
    )
    _require_unique_index(
        spark, derby_url, "bare_target", ["k1", "k2"], driver=DRIVER
    )
