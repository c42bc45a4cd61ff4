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
            if f.startswith(("_", ".")):
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
        bucket_dir = rel.split("/")[1]  # _v-<token>/__bucket=<b>/part-*
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


def _write_per_bucket_table(spark, path, df, keys, order_col, n_buckets):
    """Simulate the layout before the table-level manifest: one commit
    log per `bucket=<b>` dir and a `_layout` JSON file at the root."""
    import json

    from pyspark.sql import functions as F

    from osmart_etl_spark.io.atomic import commit_version

    bucket = F.pmod(F.hash(*[F.col(k) for k in keys]), F.lit(n_buckets))
    for b in range(n_buckets):
        commit_version(spark, df.filter(bucket == b), f"{path}/bucket={b}")
    layout = {"n_buckets": n_buckets, "keys": list(keys), "order_col": order_col}
    with open(f"{path}/_layout", "w") as fh:
        json.dump(layout, fh)


def _files(root):
    import os

    return sorted(
        os.path.relpath(os.path.join(d, f), root)
        for d, _dirs, names in os.walk(root)
        for f in names
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

    schema = "k1 int, k2 int, v double, ver int"
    rows = spark.createDataFrame([(i, i % 3, float(i), 1) for i in range(20)], schema)
    batch = spark.createDataFrame([(0, 0, 9.0, 2)], schema)
    plain, merge = str(tmp_path / "plain_tbl"), str(tmp_path / "merge_tbl")
    rows.write.parquet(plain)
    _write_legacy_merge_table(spark, merge, rows, ["k1", "k2"], "ver", 4)
    before = {p: _files(p) for p in (plain, merge)}

    with pytest.raises(RuntimeError, match="outside the commit log"):
        upsert_versioned(spark, batch, plain, ["k1", "k2"], "ver")
    with pytest.raises(RuntimeError, match="no table manifest"):
        merge_upsert_partitioned(spark, batch, merge, ["k1", "k2"], "ver", n_buckets=4)
    with pytest.raises(RuntimeError, match="no table manifest"):
        read_merge_table(spark, merge)
    for p, names in before.items():
        assert "_commits" not in os.listdir(p)
        assert _files(p) == names
    assert spark.read.parquet(plain).count() == 20


def test_per_bucket_table_is_refused_and_keeps_its_files(spark, tmp_path):
    """A merge table from before the table-level manifest (one commit
    log per `bucket=<b>` dir, a `_layout` file) is refused by the writer
    and the reader, and keeps every file: merging over it would shadow
    all of its rows."""
    import os

    from osmart_etl_spark.io.sinks import merge_upsert_partitioned, read_merge_table

    schema = "k1 int, k2 int, v double, ver int"
    rows = spark.createDataFrame([(i, i % 3, float(i), 1) for i in range(20)], schema)
    path = str(tmp_path / "per_bucket_tbl")
    _write_per_bucket_table(spark, path, rows, ["k1", "k2"], "ver", 4)
    before = _files(path)

    batch = spark.createDataFrame([(0, 0, 9.0, 2)], schema)
    with pytest.raises(RuntimeError, match="no table manifest"):
        merge_upsert_partitioned(spark, batch, path, ["k1", "k2"], "ver", n_buckets=4)
    with pytest.raises(RuntimeError, match="no table manifest"):
        read_merge_table(spark, path)
    assert "_commits" not in os.listdir(path)
    assert _files(path) == before


@pytest.mark.slow
def test_missing_layout_on_foreign_table_still_fails_loudly(spark, tmp_path):
    """A plain parquet dir (no commit log, no manifest) is foreign: the
    merge sink refuses it and keeps its files instead of publishing a
    table that would shadow its rows."""
    import pytest

    from osmart_etl_spark.io.sinks import merge_upsert_partitioned

    path = str(tmp_path / "foreign_tbl")
    spark.createDataFrame(
        [(1, 2.0, 1)], "k1 int, v double, ver int"
    ).write.parquet(path)  # plain parquet, no _commits, no manifest
    before = _files(path)

    batch = spark.createDataFrame([(1, 3.0, 2)], "k1 int, v double, ver int")
    with pytest.raises(RuntimeError, match="no table manifest"):
        merge_upsert_partitioned(spark, batch, path, ["k1"], "ver", n_buckets=4)
    assert _files(path) == before


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


def test_merge_upsert_crash_before_publish_keeps_previous_state(
    spark, tmp_path, monkeypatch
):
    """Crash-injection: a failure after the new version is written but
    BEFORE its publish must leave the table exactly as it was — the
    unpublished version is never read."""
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
        raise RuntimeError("injected crash before publish")

    monkeypatch.setattr(atomic, "publish_staged", boom)
    with pytest.raises(RuntimeError, match="injected crash"):
        merge_upsert_partitioned(spark, batch, path, ["k1", "k2"], "ver", n_buckets=8)
    monkeypatch.undo()
    assert _merge_rows(spark, path) == before  # nothing lost, nothing half-applied


@pytest.mark.slow
def test_merge_upsert_crash_mid_publish_is_replayable(spark, tmp_path, monkeypatch):
    """Crash-injection inside the single publish (after the version and
    its manifest are written, at the commit-log read that precedes the
    CAS): the whole old table stays readable — no bucket moves to the
    new version alone — and replaying the same batch converges to the
    intended final state (keep-latest idempotence)."""
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
    before = _merge_rows(spark, path)

    real_publish, real_log = atomic.publish_staged, atomic._commit_log
    state = {"publishing": False}

    def publish(*a, **kw):
        state["publishing"] = True
        return real_publish(*a, **kw)

    def die_in_publish(spark_, table):
        if state["publishing"]:
            raise RuntimeError("injected crash inside publish")
        return real_log(spark_, table)

    monkeypatch.setattr(atomic, "publish_staged", publish)
    monkeypatch.setattr(atomic, "_commit_log", die_in_publish)
    with pytest.raises(RuntimeError, match="injected crash"):
        merge_upsert_partitioned(spark, batch, path, ["k1", "k2"], "ver", n_buckets=8)
    monkeypatch.undo()

    # the whole old table, every key exactly once
    assert _merge_rows(spark, path) == before

    # replaying the SAME batch converges to the intended final state
    merge_upsert_partitioned(spark, batch, path, ["k1", "k2"], "ver", n_buckets=8)
    expect = {
        (r["k1"], r["k2"]): (r["v"], r["ver"])
        for r in upsert_keep_latest(base, batch, ["k1", "k2"], "ver").collect()
    }
    assert _merge_rows(spark, path) == expect


def test_merge_upsert_one_file_per_bucket_version(spark, tmp_path):
    """Small-file control: each bucket directory of a version holds one
    data file (a bucket hashes to one write task), not one file per
    upstream write task."""
    import glob

    from osmart_etl_spark.io.sinks import merge_upsert_partitioned

    path = str(tmp_path / "merge_tbl")
    base = spark.createDataFrame(
        [(i, 0, float(i), 1) for i in range(300)], "k1 int, k2 int, v double, ver int"
    ).repartition(16)  # many upstream tasks
    merge_upsert_partitioned(spark, base, path, ["k1", "k2"], "ver", n_buckets=8)
    bdirs = glob.glob(f"{path}/_v-*/__bucket=*")
    assert len(bdirs) == 8
    for bdir in bdirs:
        data = [f for f in glob.glob(f"{bdir}/part-*") if not f.endswith(".crc")]
        assert len(data) == 1, (bdir, data)


def test_merge_read_keeps_its_snapshot_across_a_publish(spark, tmp_path):
    """Snapshot isolation: a `read_merge_table` DataFrame taken before a
    publish still returns all the old rows after it, and a fresh read
    returns all the new ones — never a mix of versions across buckets."""
    from osmart_etl_spark.io.sinks import merge_upsert_partitioned, read_merge_table

    schema = "k1 int, k2 int, v double, ver int"
    path = str(tmp_path / "merge_tbl")
    base = spark.createDataFrame([(i, 0, float(i), 1) for i in range(100)], schema)
    batch = spark.createDataFrame([(i, 0, -1.0, 2) for i in range(100)], schema)
    merge_upsert_partitioned(spark, base, path, ["k1", "k2"], "ver", n_buckets=8)

    snap = read_merge_table(spark, path)
    touched = merge_upsert_partitioned(spark, batch, path, ["k1", "k2"], "ver", n_buckets=8)
    assert len(touched) == 8
    assert sorted((r["k1"], r["v"]) for r in snap.collect()) == [
        (i, float(i)) for i in range(100)
    ]
    assert {r["ver"] for r in read_merge_table(spark, path).collect()} == {2}


def test_merge_gc_keeps_untouched_buckets_and_bounds_files(spark, tmp_path):
    """Bounded GC: after 10 merges that each touch 1-2 of 8 buckets,
    the rows of buckets no recent merge touched survive (their data
    dirs sit in retired versions the manifest still names), and the
    data files on disk number at most (keep_versions + 1) x n_buckets."""
    import glob

    from pyspark.sql import functions as F

    from osmart_etl_spark.io.sinks import merge_upsert_partitioned, read_merge_table

    schema = "k1 int, k2 int, v double, ver int"
    path = str(tmp_path / "merge_tbl")
    n_buckets, keep_versions = 8, 2
    base = spark.createDataFrame([(i, 0, float(i), 1) for i in range(200)], schema)
    merge_upsert_partitioned(spark, base, path, ["k1", "k2"], "ver", n_buckets=n_buckets)
    bucket_of = {
        r["k1"]: r["b"]
        for r in base.select(
            "k1", F.pmod(F.hash("k1", "k2"), F.lit(n_buckets)).alias("b")
        ).collect()
    }
    by_bucket: dict = {}
    for k, b in sorted(bucket_of.items()):
        by_bucket.setdefault(b, []).append(k)

    expect = {k: (float(k), 1) for k in range(200)}
    for i in range(10):
        # merge i touches bucket i % 3, plus bucket 3 on even merges
        keys = by_bucket[i % 3][:2] + (by_bucket[3][:1] if i % 2 == 0 else [])
        batch = spark.createDataFrame([(k, 0, -float(i), 2 + i) for k in keys], schema)
        touched = merge_upsert_partitioned(
            spark, batch, path, ["k1", "k2"], "ver", n_buckets=n_buckets
        )
        assert 1 <= len(touched) <= 2
        expect.update({k: (-float(i), 2 + i) for k in keys})

    got = {r["k1"]: (r["v"], r["ver"]) for r in read_merge_table(spark, path).collect()}
    assert got == expect  # buckets 4..7 were written once, by the first merge
    data = [
        f for f in glob.glob(f"{path}/_v-*/__bucket=*/part-*") if not f.endswith(".crc")
    ]
    assert len(data) <= (keep_versions + 1) * n_buckets, sorted(data)


@pytest.mark.slow
def test_merge_upsert_concurrent_commit_detected(spark, tmp_path, monkeypatch):
    """Lost-update guard: the publish is a CAS against the seq the
    merge read — a writer committing in between surfaces as
    ConcurrentCommitError (retry converges), never a silent overwrite
    of the racer's rows."""
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
