"""IO source tests: CSV with explicit schema (S5), quarantine sink
roundtrip (S9), schema-checked parquet reads."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from tests.conftest import SF_SMALL


def test_csv_roundtrip_with_schema(spark, tmp_path):
    """S5 — the reference's exclusions-registry CSV
    (dq_exclusions_csv.py:53-55, dtype=str): write, read back with a
    declared schema, values survive."""
    from osmart_etl_spark.io.sources import read_csv, read_table

    ev = read_table(spark, SF_SMALL, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    p = str(tmp_path / "registry_csv")
    ev.write.option("header", "true").csv(p)

    schema = StructType(
        [
            StructField("event_id", LongType()),
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
            StructField("value", DoubleType()),
        ]
    )
    back = read_csv(spark, p, schema)
    assert back.count() == ev.count()
    a = {r["event_id"]: (r["user_id"], r["event_type"], r["value"]) for r in back.collect()}
    b = {r["event_id"]: (r["user_id"], r["event_type"], r["value"]) for r in ev.collect()}
    assert a == b


def test_quarantine_sink_roundtrip(spark, tmp_path):
    """S9 — append-mode quarantine parquet with read-time dedup (U5)."""
    from osmart_etl_spark.dq import quarantine
    from osmart_etl_spark.io.sinks import write_quarantine
    from osmart_etl_spark.io.sources import read_table
    from osmart_etl_spark.ops.reshape import dedup_by_key

    ev = read_table(spark, SF_SMALL, "events")
    res = quarantine(ev, {"big": F.col("value") > 150}, ["user_id", "event_id"])
    p = str(tmp_path / "quarantine")
    write_quarantine(res.quarantined, p)
    write_quarantine(res.quarantined, p)  # double-append (re-run)

    back = spark.read.parquet(p)
    assert back.count() == 2 * res.quarantined.count()
    deduped = dedup_by_key(back, ["uniq"])
    assert deduped.count() == res.quarantined.count()


# ---------------------------------------------------------------------------
# merge_upsert_partitioned (S7/S8 O(delta) scale path)
# ---------------------------------------------------------------------------


def _merge_rows(spark, path):
    from osmart_etl_spark.io.sinks import read_merge_table

    return {
        (r["k1"], r["k2"]): (r["v"], r["ver"])
        for r in read_merge_table(spark, path).collect()
    }


def _file_snapshot(path):
    """{relpath: (size, mtime)} for every data file under a merge table."""
    import os

    snap = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.startswith(("_", ".")) or "_layout" in root:
                continue
            p = os.path.join(root, f)
            rel = os.path.relpath(p, path)
            st = os.stat(p)
            snap[rel] = (st.st_size, st.st_mtime_ns)
    return snap


@pytest.mark.slow
def test_merge_upsert_equivalence_and_idempotency(spark, tmp_path):
    """The O(delta) merge sink must agree with the reference semantics
    (upsert_keep_latest = INSERT..ON DUPLICATE KEY UPDATE) and a rerun
    of the same batch must be a no-op on table contents."""
    from osmart_etl_spark.io.sinks import merge_upsert_partitioned, upsert_keep_latest

    path = str(tmp_path / "merge_tbl")
    base = spark.createDataFrame(
        [(i, i % 3, float(i), 1) for i in range(200)], "k1 int, k2 int, v double, ver int"
    )
    batch = spark.createDataFrame(
        [(i, i % 3, float(i) + 100.0, 2) for i in range(50, 70)]
        + [(1000 + i, i % 3, -1.0, 2) for i in range(5)],  # brand-new keys
        "k1 int, k2 int, v double, ver int",
    )

    merge_upsert_partitioned(spark, base, path, ["k1", "k2"], "ver", n_buckets=16)
    merge_upsert_partitioned(spark, batch, path, ["k1", "k2"], "ver", n_buckets=16)

    expect = {
        (r["k1"], r["k2"]): (r["v"], r["ver"])
        for r in upsert_keep_latest(base, batch, ["k1", "k2"], "ver").collect()
    }
    assert _merge_rows(spark, path) == expect

    # Idempotency: replaying the SAME batch changes nothing.
    merge_upsert_partitioned(spark, batch, path, ["k1", "k2"], "ver", n_buckets=16)
    assert _merge_rows(spark, path) == expect


@pytest.mark.slow
def test_merge_upsert_touches_bounded_buckets(spark, tmp_path):
    """A small batch must touch only the buckets its keys hash to, and
    every file in an UNtouched bucket directory must remain byte-for-byte
    the same (same size + mtime) after the merge — the O(delta) claim."""
    from osmart_etl_spark.io.sinks import merge_upsert_partitioned

    path = str(tmp_path / "merge_tbl")
    base = spark.createDataFrame(
        [(i, 0, float(i), 1) for i in range(500)], "k1 int, k2 int, v double, ver int"
    )
    merge_upsert_partitioned(spark, base, path, ["k1", "k2"], "ver", n_buckets=32)

    before = _file_snapshot(path)
    one_key = spark.createDataFrame([(7, 0, 9.9, 2)], "k1 int, k2 int, v double, ver int")
    touched = merge_upsert_partitioned(spark, one_key, path, ["k1", "k2"], "ver", n_buckets=32)

    assert len(touched) == 1  # one key → exactly one bucket
    after = _file_snapshot(path)
    touched_dirs = {f"__bucket={b}" for b in touched}
    for rel, sig in before.items():
        bucket_dir = rel.split("/")[0]
        if bucket_dir not in touched_dirs:
            assert after.get(rel) == sig, f"untouched file changed: {rel}"


def test_merge_upsert_layout_mismatch_raises(spark, tmp_path):
    """Re-merging with different n_buckets or key order would hash keys
    to the wrong directories — must be rejected, not silently corrupt."""
    import pytest

    from osmart_etl_spark.io.sinks import merge_upsert_partitioned

    path = str(tmp_path / "merge_tbl")
    base = spark.createDataFrame(
        [(1, 2, 1.0, 1)], "k1 int, k2 int, v double, ver int"
    )
    merge_upsert_partitioned(spark, base, path, ["k1", "k2"], "ver", n_buckets=8)

    with pytest.raises(ValueError, match="layout mismatch"):
        merge_upsert_partitioned(spark, base, path, ["k1", "k2"], "ver", n_buckets=16)
    with pytest.raises(ValueError, match="layout mismatch"):
        merge_upsert_partitioned(spark, base, path, ["k2", "k1"], "ver", n_buckets=8)


@pytest.mark.slow
def test_merge_upsert_nondeterministic_batch_loses_no_rows(spark, tmp_path):
    """The batch is materialized ONCE before the touched-bucket set is
    computed: even a nondeterministic source (rand()-keyed) cannot emit
    write-time rows into buckets missing from the touched set (rows
    outside `touched` would be staged but never published — silently
    dropped instead of merged)."""
    from pyspark.sql import functions as F

    from osmart_etl_spark.io.sinks import merge_upsert_partitioned, read_merge_table

    path = str(tmp_path / "merge_tbl")
    base = spark.createDataFrame(
        [(i, 0, 0.0, 1) for i in range(300)], "k1 int, k2 int, v double, ver int"
    )
    merge_upsert_partitioned(spark, base, path, ["k1", "k2"], "ver", n_buckets=16)
    n_before = read_merge_table(spark, path).count()

    nondet = (
        spark.range(10)
        .select(
            (F.floor(F.rand() * 10000) + 2000).cast("int").alias("k1"),
            F.lit(0).alias("k2"),
            F.lit(5.0).alias("v"),
            F.lit(2).alias("ver"),
        )
    )
    merge_upsert_partitioned(spark, nondet, path, ["k1", "k2"], "ver", n_buckets=16)
    # Every base row must survive (new keys only ADD; rand keys are >= 2000).
    out = read_merge_table(spark, path)
    assert out.filter(F.col("k1") < 300).count() == n_before


def _write_legacy_merge_table(spark, path, df, keys, order_col, n_buckets):
    """Simulate a pre-round-10 merge table: plain `__bucket=<b>` partition
    dirs via dynamic-partition write, `_layout` sidecar, NO commit logs."""
    from pyspark.sql import functions as F

    bucketed = df.withColumn(
        "__bucket", F.pmod(F.hash(*[F.col(k) for k in keys]), F.lit(n_buckets))
    )
    bucketed.write.mode("overwrite").partitionBy("__bucket").parquet(path)
    layout = {
        "n_buckets": n_buckets,
        "keys": list(keys),
        "order_col": order_col,
        "bucket_col": "__bucket",
    }
    spark.createDataFrame([layout]).coalesce(1).write.mode("overwrite").json(
        path + "/_layout"
    )


def test_old_layouts_fail_loudly_and_keep_their_files(spark, tmp_path):
    """Tables older than the commit log — a plain parquet dir, and a
    merge table of plain `__bucket=<b>` dirs with a Spark-written
    `_layout` directory — are refused by the keyed sinks and by the
    merge-table reader: no `_commits` appears and every file survives,
    so no row is dropped silently."""
    import os

    from osmart_etl_spark.io.atomic import upsert_versioned
    from osmart_etl_spark.io.sinks import merge_upsert_partitioned, read_merge_table

    def files(root):
        return sorted(
            os.path.relpath(os.path.join(d, f), root)
            for d, _dirs, names in os.walk(root)
            for f in names
        )

    schema = "k1 int, k2 int, v double, ver int"
    rows = spark.createDataFrame([(i, i % 3, float(i), 1) for i in range(20)], schema)
    batch = spark.createDataFrame([(0, 0, 9.0, 2)], schema)
    plain, merge = str(tmp_path / "plain_tbl"), str(tmp_path / "merge_tbl")
    rows.write.parquet(plain)
    _write_legacy_merge_table(spark, merge, rows, ["k1", "k2"], "ver", 4)
    before = {p: files(p) for p in (plain, merge)}

    with pytest.raises(RuntimeError, match="outside the commit log"):
        upsert_versioned(spark, batch, plain, ["k1", "k2"], "ver")
    with pytest.raises(RuntimeError, match="predates per-bucket commit logs"):
        merge_upsert_partitioned(spark, batch, merge, ["k1", "k2"], "ver", n_buckets=4)
    with pytest.raises(RuntimeError, match="predates per-bucket commit logs"):
        read_merge_table(spark, merge)
    for p, names in before.items():
        assert "_commits" not in os.listdir(p)
        assert files(p) == names
    assert spark.read.parquet(plain).count() == 20


@pytest.mark.slow
def test_missing_layout_on_foreign_table_still_fails_loudly(spark, tmp_path):
    """The FileNotFoundError heal must NOT claim a plain parquet dir:
    only a table made of bucket dirs (this sink's layout) is healable."""
    import pytest

    from osmart_etl_spark.io.sinks import merge_upsert_partitioned

    path = str(tmp_path / "foreign_tbl")
    spark.createDataFrame(
        [(1, 2.0, 1)], "k1 int, v double, ver int"
    ).write.parquet(path)  # plain parquet, no _layout, no bucket dirs

    batch = spark.createDataFrame([(1, 3.0, 2)], "k1 int, v double, ver int")
    with pytest.raises(FileNotFoundError, match="no readable layout"):
        merge_upsert_partitioned(spark, batch, path, ["k1"], "ver", n_buckets=4)


@pytest.mark.slow
def test_empty_layout_sidecar_self_heals(spark, tmp_path):
    """Round-12 (ADVICE low): a creator crash between the _layout
    sidecar's exclusive create and its content write used to wedge the
    table forever (every reader/writer spun the retry then raised a
    generic FileNotFoundError). Past the mtime TTL the empty file is
    swept and a writer recreates it from its own layout; inside the TTL
    the distinct EmptyLayoutError names the repair."""
    import os
    import time

    import pytest

    from osmart_etl_spark.io.sinks import (
        EmptyLayoutError,
        _read_layout,
        merge_upsert_partitioned,
        read_merge_table,
    )

    path = str(tmp_path / "wedged_tbl")
    base = spark.createDataFrame(
        [(i, float(i), 1) for i in range(20)], "k1 int, v double, ver int"
    )
    merge_upsert_partitioned(spark, base, path, ["k1"], "ver", n_buckets=4)
    sidecar = os.path.join(path, "_layout")

    # (a) within the TTL: distinct error, file NOT deleted (live creator?)
    good = open(sidecar).read()
    open(sidecar, "w").close()  # truncate to empty
    with pytest.raises(EmptyLayoutError, match="mid-write"):
        _read_layout(spark, sidecar, dead_ttl_s=3600.0)
    assert os.path.exists(sidecar)

    # (b) past the TTL: reader sweeps the dead file and says so
    old = time.time() - 7200
    os.utime(sidecar, (old, old))
    with pytest.raises(EmptyLayoutError, match="removed"):
        read_merge_table(spark, path)
    assert not os.path.exists(sidecar)

    # (b2) the sidecar is GONE (reader swept it): a writer must heal
    # via the FileNotFoundError path — the table is all bucket dirs
    batch0 = spark.createDataFrame([(1, 111.0, 2)], "k1 int, v double, ver int")
    merge_upsert_partitioned(spark, batch0, path, ["k1"], "ver", n_buckets=4)
    assert open(sidecar).read() == good

    # (c) writer self-heal end-to-end: empty+stale sidecar, ONE merge
    # call sweeps, recreates the layout, and applies the batch
    open(sidecar, "w").close()
    os.utime(sidecar, (old, old))
    batch = spark.createDataFrame([(0, 999.0, 2)], "k1 int, v double, ver int")
    merge_upsert_partitioned(spark, batch, path, ["k1"], "ver", n_buckets=4)
    assert open(sidecar).read() == good  # layout re-pinned identically
    out = {r["k1"]: r["v"] for r in read_merge_table(spark, path).collect()}
    assert out[0] == 999.0 and len(out) == 20


@pytest.mark.slow
def test_scd2_apply_initial_merge_and_idempotency(spark):
    """SCD2 contract: contiguous validity chains, one open row per key,
    no-op changes absorbed, closed history untouched, idempotent
    re-application of the same batch."""
    import datetime as dt

    from osmart_etl_spark.io.sinks import scd2_apply

    t = lambda d: dt.datetime(2024, 1, d)
    cols = ["store_id", "region", "tier", "ts"]

    b1 = spark.createDataFrame(
        [(1, "north", "gold", t(1)), (2, "south", "silver", t(1))], cols
    )
    dim = scd2_apply(None, b1, ["store_id"], "ts", ["region", "tier"])
    got = {(r["store_id"]): r for r in dim.collect()}
    assert len(got) == 2 and all(r["is_current"] and r["valid_to"] is None for r in got.values())

    # batch 2: store 1 changes tier twice (chain), store 2 no-op redelivery,
    # store 3 new, plus an exact-duplicate change row (tie) for store 3
    b2 = spark.createDataFrame(
        [
            (1, "north", "plat", t(5)),
            (1, "north", "diamond", t(9)),
            (2, "south", "silver", t(6)),
            (3, "east", "bronze", t(7)),
            (3, "east", "bronze", t(7)),
        ],
        cols,
    )
    dim2 = scd2_apply(dim, b2, ["store_id"], "ts", ["region", "tier"])
    rows = sorted(dim2.collect(), key=lambda r: (r["store_id"], r["valid_from"]))

    by_key: dict = {}
    for r in rows:
        by_key.setdefault(r["store_id"], []).append(r)
    # store 1: three versions chained gold -> plat -> diamond
    s1 = by_key[1]
    assert [r["tier"] for r in s1] == ["gold", "plat", "diamond"]
    assert [r["valid_to"] for r in s1[:-1]] == [r["valid_from"] for r in s1[1:]]
    assert s1[-1]["is_current"] and s1[-1]["valid_to"] is None
    # store 2: redelivered identical state absorbed — still ONE version
    assert len(by_key[2]) == 1 and by_key[2][0]["is_current"]
    # store 3: duplicate tie collapsed to one open version
    assert len(by_key[3]) == 1 and by_key[3][0]["valid_from"] == t(7)
    # exactly one open row per key
    for k, vs in by_key.items():
        assert sum(1 for r in vs if r["valid_to"] is None) == 1, k

    # idempotency: applying batch 2 again changes nothing
    dim3 = scd2_apply(dim2, b2, ["store_id"], "ts", ["region", "tier"])
    a = sorted(map(tuple, dim2.collect()))
    b = sorted(map(tuple, dim3.collect()))
    assert a == b


def test_observe_dq_single_pass(spark, tmp_path):
    """Observation metrics must match an explicit recount, ride the one
    real action (write), and impose no extra job: the observed write is
    the only action taken."""
    from pyspark.sql import functions as F

    from osmart_etl_spark.io.sources import read_table
    from osmart_etl_spark.ops.observe import observe_dq
    from tests.conftest import SF_SMALL

    ev = read_table(spark, SF_SMALL, "events")
    observed, obs = observe_dq(
        ev,
        "dq_events",
        null_cols=("props", "event_type"),
        bounds={"value": (-100.0, 100.0)},
    )
    observed.write.mode("overwrite").parquet(str(tmp_path / "observed_out"))
    got = obs.get

    want_rows = ev.count()
    want_null_props = ev.filter(F.col("props").isNull()).count()
    want_oob = ev.filter((F.col("value") < -100.0) | (F.col("value") > 100.0)).count()
    assert got["n_rows"] == want_rows
    assert got["null_props"] == want_null_props
    assert got["null_event_type"] == 0
    assert got["oob_value"] == want_oob


@pytest.mark.slow
def test_merge_upsert_crash_before_publish_keeps_previous_state(
    spark, tmp_path, monkeypatch
):
    """Crash-injection (round 10): a failure after staging but BEFORE
    any bucket publish must leave the table exactly as it was — the
    in-place dynamic overwrite this sink replaced could fail the job
    AFTER dropping partitions."""
    import osmart_etl_spark.io.atomic as atomic
    from osmart_etl_spark.io.sinks import merge_upsert_partitioned

    path = str(tmp_path / "merge_tbl")
    base = spark.createDataFrame(
        [(i, 0, float(i), 1) for i in range(100)], "k1 int, k2 int, v double, ver int"
    )
    batch = spark.createDataFrame(
        [(i, 0, -99.0, 2) for i in range(100)], "k1 int, k2 int, v double, ver int"
    )
    merge_upsert_partitioned(spark, base, path, ["k1", "k2"], "ver", n_buckets=8)
    before = _merge_rows(spark, path)

    def boom(*a, **kw):
        raise RuntimeError("injected crash before first bucket publish")

    monkeypatch.setattr(atomic, "publish_staged", boom)
    try:
        merge_upsert_partitioned(spark, batch, path, ["k1", "k2"], "ver", n_buckets=8)
        raise AssertionError("injected crash did not propagate")
    except RuntimeError:
        pass
    monkeypatch.undo()
    assert _merge_rows(spark, path) == before  # nothing lost, nothing half-applied


@pytest.mark.slow
def test_merge_upsert_crash_mid_publish_is_replayable(spark, tmp_path, monkeypatch):
    """Crash-injection: a failure BETWEEN bucket publishes leaves every
    bucket at a COMPLETE version (some old, some new — never partial or
    missing), and replaying the same batch converges to the intended
    final state (keep-latest idempotence)."""
    import osmart_etl_spark.io.atomic as atomic
    from osmart_etl_spark.io.sinks import merge_upsert_partitioned, upsert_keep_latest

    path = str(tmp_path / "merge_tbl")
    base = spark.createDataFrame(
        [(i, 0, float(i), 1) for i in range(200)], "k1 int, k2 int, v double, ver int"
    )
    batch = spark.createDataFrame(
        [(i, 0, -7.0, 2) for i in range(200)], "k1 int, k2 int, v double, ver int"
    )
    merge_upsert_partitioned(spark, base, path, ["k1", "k2"], "ver", n_buckets=8)

    real = atomic.publish_staged
    calls = {"n": 0}

    def crash_on_second(*a, **kw):
        calls["n"] += 1
        if calls["n"] >= 2:
            raise RuntimeError("injected crash after first bucket publish")
        return real(*a, **kw)

    monkeypatch.setattr(atomic, "publish_staged", crash_on_second)
    try:
        merge_upsert_partitioned(spark, batch, path, ["k1", "k2"], "ver", n_buckets=8)
        raise AssertionError("injected crash did not propagate")
    except RuntimeError:
        pass
    monkeypatch.undo()

    # table still fully readable: every key present exactly once, each
    # bucket at a complete (old or new) version
    mid = _merge_rows(spark, path)
    assert set(mid) == {(i, 0) for i in range(200)}
    assert all(val in ((float(k1), 1), (-7.0, 2)) for (k1, _), val in mid.items())

    # replaying the SAME batch converges to the intended final state
    merge_upsert_partitioned(spark, batch, path, ["k1", "k2"], "ver", n_buckets=8)
    expect = {
        (r["k1"], r["k2"]): (r["v"], r["ver"])
        for r in upsert_keep_latest(base, batch, ["k1", "k2"], "ver").collect()
    }
    assert _merge_rows(spark, path) == expect


def test_merge_upsert_one_file_per_bucket_version(spark, tmp_path):
    """Small-file control: each bucket's version directory holds ~one
    data file (the staged write shuffles one task per touched bucket),
    not one file per upstream write task."""
    import glob

    from osmart_etl_spark.io.sinks import merge_upsert_partitioned

    path = str(tmp_path / "merge_tbl")
    base = spark.createDataFrame(
        [(i, 0, float(i), 1) for i in range(300)], "k1 int, k2 int, v double, ver int"
    ).repartition(16)  # many upstream tasks
    merge_upsert_partitioned(spark, base, path, ["k1", "k2"], "ver", n_buckets=8)
    for vdir in glob.glob(f"{path}/bucket=*/_v-*"):
        data = [f for f in glob.glob(f"{vdir}/part-*") if not f.endswith(".crc")]
        assert len(data) == 1, (vdir, data)


@pytest.mark.slow
def test_merge_upsert_concurrent_commit_detected(spark, tmp_path, monkeypatch):
    """Lost-update guard: each bucket publish is a CAS against the seq
    snapshotted when the merge READ that bucket — a writer committing
    in between surfaces as ConcurrentCommitError (retry converges),
    never a silent overwrite of the racer's rows."""
    import osmart_etl_spark.io.atomic as atomic
    from osmart_etl_spark.io.atomic import ConcurrentCommitError
    from osmart_etl_spark.io.sinks import merge_upsert_partitioned

    path = str(tmp_path / "merge_tbl")
    base = spark.createDataFrame(
        [(i, 0, float(i), 1) for i in range(100)], "k1 int, k2 int, v double, ver int"
    )
    batch = spark.createDataFrame(
        [(i, 0, -1.0, 2) for i in range(100)], "k1 int, k2 int, v double, ver int"
    )
    racer = spark.createDataFrame(
        [(i, 0, 77.0, 3) for i in range(100)], "k1 int, k2 int, v double, ver int"
    )
    merge_upsert_partitioned(spark, base, path, ["k1", "k2"], "ver", n_buckets=4)

    real = atomic.publish_staged
    state = {"raced": False}

    def race_once(spark_, table, token, **kw):
        # a concurrent writer lands a full merge between our snapshot
        # read and our first publish
        if not state["raced"]:
            state["raced"] = True
            monkeypatch.setattr(atomic, "publish_staged", real)
            merge_upsert_partitioned(
                spark, racer, path, ["k1", "k2"], "ver", n_buckets=4
            )
            monkeypatch.setattr(atomic, "publish_staged", race_once)
        return real(spark_, table, token, **kw)

    monkeypatch.setattr(atomic, "publish_staged", race_once)
    try:
        merge_upsert_partitioned(spark, batch, path, ["k1", "k2"], "ver", n_buckets=4)
        raise AssertionError("stale publish was not detected")
    except ConcurrentCommitError:
        pass
    monkeypatch.undo()

    # the racer's commit survives; retrying the batch converges
    vals = {r["k1"]: (r["v"], r["ver"]) for r in _merge_rows_kv(spark, path)}
    assert all(v == (77.0, 3) for v in vals.values())
    merge_upsert_partitioned(spark, batch, path, ["k1", "k2"], "ver", n_buckets=4)
    vals = {r["k1"]: (r["v"], r["ver"]) for r in _merge_rows_kv(spark, path)}
    assert all(v == (77.0, 3) for v in vals.values())  # ver 3 > ver 2: racer kept


def _merge_rows_kv(spark, path):
    from osmart_etl_spark.io.sinks import read_merge_table

    return read_merge_table(spark, path).collect()
