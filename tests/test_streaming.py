"""Structured Streaming tests (SURVEY.md §2.9 T3/T4/T5): windowed daily
net with watermark, stateful replay across micro-batches — each drained
with availableNow and checked against the batch computation."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from tests.conftest import SF_SMALL


@pytest.fixture()
def events_stream_dir(spark, tmp_path):
    """Events re-written time-ordered in one file: micro-batches then
    arrive in event-time order, so the watermark never drops windows
    retroactively (out-of-order file arrival is valid streaming behavior
    but makes exact batch comparison impossible)."""
    from osmart_etl_spark.io.sources import read_table

    p = str(tmp_path / "events_stream")
    read_table(spark, SF_SMALL, "events").orderBy("ts").coalesce(1).write.parquet(p)
    return p


def _read_stream(spark, path):
    schema = spark.read.parquet(path).schema
    return spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(path)


def test_windowed_daily_net_stream_matches_batch(spark, tmp_path, events_stream_dir):
    from osmart_etl_spark.streaming.replay_stream import daily_net_windowed, run_available_now

    stream = _read_stream(spark, events_stream_dir)
    rows = run_available_now(
        daily_net_windowed(stream), str(tmp_path / "ckpt1"), "daily_net_t"
    )
    got = {(r["user_id"], r["day_start"]): (round(r["net_value"], 6), r["n_events"]) for r in rows}

    batch = daily_net_windowed(spark.read.parquet(events_stream_dir))
    want = {
        (r["user_id"], r["day_start"]): (round(r["net_value"], 6), r["n_events"])
        for r in batch.collect()
    }
    # append-mode emits only watermark-sealed windows: every emitted
    # window must match the batch value exactly; only windows within the
    # 1-day watermark delay of the stream's end may be unsealed
    assert got
    for k, v in got.items():
        assert want[k] == v
    missing = set(want) - set(got)
    max_day = max(d for (_, d) in want)
    import datetime as dt

    for (_, d) in missing:
        assert d >= max_day - dt.timedelta(days=1), f"non-tail window unsealed: {d}"


def test_stateful_replay_stream_matches_batch(spark, tmp_path, events_stream_dir):
    """T5: applyInPandasWithState replay over multiple micro-batches ==
    batch W2-style replay (double arithmetic variant), proving state
    continuity in the state store.

    Caveat: parquet micro-batches split by FILE, and a key's events can
    span files out of time order across batches — so restrict the check
    to per-key FINAL balances, which are order-insensitive within a key
    only if each batch is internally ordered AND batches arrive in time
    order. To guarantee that, the stream fixture is re-partitioned by
    time range below.
    """
    from osmart_etl_spark.io.sources import read_table
    from osmart_etl_spark.streaming.replay_stream import replay_stateful, run_available_now

    # time-range partitioned files → micro-batches arrive in event-time order
    src = read_table(spark, SF_SMALL, "events").orderBy("ts")
    ordered_dir = str(tmp_path / "events_ordered")
    src.coalesce(1).write.parquet(ordered_dir)

    stream = spark.readStream.schema(
        spark.read.parquet(ordered_dir).schema
    ).option("maxFilesPerTrigger", 1).parquet(ordered_dir)

    rows = run_available_now(
        replay_stateful(stream), str(tmp_path / "ckpt2"), "replay_t"
    )
    assert rows
    # final balance per key = row with max (ts, event_id)
    final = {}
    for r in rows:
        cur = final.get(r["user_id"])
        if cur is None or (r["ts"], r["event_id"]) > cur[0]:
            final[r["user_id"]] = ((r["ts"], r["event_id"]), r["running"])

    # batch equivalent in double arithmetic
    ev = spark.read.parquet(ordered_dir).orderBy("ts", "event_id").collect()
    bal: dict = {}
    for r in ev:
        v = float(r["value"])
        if r["event_type"] == "signup":
            bal[r["user_id"]] = v
        elif r["event_type"] == "error":
            bal[r["user_id"]] = bal.get(r["user_id"], 0.0) - v
        else:
            bal[r["user_id"]] = bal.get(r["user_id"], 0.0) + v

    assert set(final) == set(bal)
    for k, (_, running) in final.items():
        assert running == pytest.approx(bal[k], abs=1e-9)


def test_foreachbatch_upsert_sink(spark, tmp_path, events_stream_dir):
    """T6 — the standard exactly-once sink recipe: streaming
    foreachBatch + keyed upsert. Re-delivered micro-batches overwrite
    idempotently, so the sink holds one row per key with the latest
    state regardless of redelivery."""
    from osmart_etl_spark.io.atomic import read_committed, upsert_versioned

    sink = str(tmp_path / "fb_sink")

    def merge_batch(batch_df, batch_id):
        agg = batch_df.groupBy("user_id").agg(
            F.max("ts").alias("last_ts"), F.count(F.lit(1)).alias("n")
        )
        upsert_versioned(
            spark, agg.withColumn("batch_id", F.lit(batch_id)),
            sink, keys=["user_id"], order_col="last_ts",
        )

    stream = spark.readStream.schema(
        spark.read.parquet(events_stream_dir).schema
    ).option("maxFilesPerTrigger", 1).parquet(events_stream_dir)

    q = (
        stream.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", str(tmp_path / "fb_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    out = read_committed(spark, sink)
    # one row per user, and last_ts == global max ts per user
    assert out.groupBy("user_id").count().filter(F.col("count") > 1).count() == 0
    want = {
        r["user_id"]: r["m"]
        for r in spark.read.parquet(events_stream_dir)
        .groupBy("user_id").agg(F.max("ts").alias("m")).collect()
    }
    got = {r["user_id"]: r["last_ts"] for r in out.collect()}
    assert got == want


def test_transform_with_state_matches_applyinpandas(spark, tmp_path, events_stream_dir):
    """Spark 4 transformWithStateInPandas replay == applyInPandasWithState
    replay on the same ordered stream (both stateful APIs, same semantics).

    transformWithStateInPandas talks to the state server over protobuf;
    skipped where google.protobuf is unavailable (this container)."""
    try:
        from google.protobuf import descriptor  # noqa: F401
    except ImportError:
        pytest.skip("transformWithStateInPandas requires google.protobuf (not in container)")
    from osmart_etl_spark.streaming.replay_stream import (
        replay_stateful,
        replay_transform_with_state,
        run_available_now,
    )

    def run(factory, name, ckpt):
        stream = spark.readStream.schema(
            spark.read.parquet(events_stream_dir).schema
        ).option("maxFilesPerTrigger", 1).parquet(events_stream_dir)
        return {
            r["event_id"]: round(r["running"], 9)
            for r in run_available_now(factory(stream), str(tmp_path / ckpt), name)
        }

    a = run(replay_stateful, "tws_a", "ck_a")
    b = run(replay_transform_with_state, "tws_b", "ck_b")
    assert a == b
    assert len(a) == spark.read.parquet(events_stream_dir).count()


def test_session_window_stream_matches_batch(spark, tmp_path, events_stream_dir):
    """Native session_window twin: streaming (append mode, availableNow)
    == the same sessionize() on the batch DataFrame, for every session
    the watermark sealed; only tail sessions may be unsealed."""
    from osmart_etl_spark.streaming.replay_stream import run_available_now, sessionize

    stream = _read_stream(spark, events_stream_dir)
    rows = run_available_now(
        sessionize(stream), str(tmp_path / "ckpt_sw"), "sessions_t"
    )
    got = {
        (r["user_id"], r["session_start"], r["session_end"]): (
            r["n_events"],
            round(r["session_value"], 9),
        )
        for r in rows
    }

    batch = sessionize(spark.read.parquet(events_stream_dir)).collect()
    want = {
        (r["user_id"], r["session_start"], r["session_end"]): (
            r["n_events"],
            round(r["session_value"], 9),
        )
        for r in batch
    }
    assert got, "no sessions emitted"
    for k, v in got.items():
        assert want[k] == v, f"session {k}: stream {v} != batch {want[k]}"
    # unsealed sessions: only those the 1-day watermark cannot have
    # passed (session_end + 6h gap within watermark delay of stream end)
    import datetime as dt

    max_ts = max(e for (_, _, e) in want)
    for (u, s, e) in set(want) - set(got):
        assert e >= max_ts - dt.timedelta(days=1, hours=6), (
            f"non-tail session unsealed: ({u}, {s}, {e})"
        )


def test_session_window_batch_matches_islands(spark, events_stream_dir):
    """sessionize() in batch mode == the gaps-and-islands batch query
    (session_windows) on the same events — the stream/batch semantics
    are one definition. Guard: the exact-6h-gap boundary (the one
    open/closed divergence between session_window's [start, last+gap)
    extent and the islands' `> 6h` test) must not occur in the fixture."""
    from pyspark.sql import Window

    ev = spark.read.parquet(events_stream_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.unix_micros(F.col("ts")) - F.lag(F.unix_micros(F.col("ts"))).over(w)
    assert (
        ev.withColumn("g", gap_us).filter(F.col("g") == 6 * 3600 * 1_000_000).count() == 0
    ), "fixture has an exact-6h gap; boundary semantics differ there"

    from osmart_etl_spark.streaming.replay_stream import sessionize

    native = {
        (r["user_id"], r["session_start"], r["session_end"]): (
            r["n_events"],
            round(r["session_value"], 9),
        )
        for r in sessionize(ev).collect()
    }

    marked = ev.withColumn(
        "is_new_session",
        F.when(gap_us.isNull() | (gap_us > 6 * 3600 * 1_000_000), F.lit(1)).otherwise(
            F.lit(0)
        ),
    )
    frame = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    islands = (
        marked.withColumn("session_id", F.sum("is_new_session").over(frame))
        .groupBy("user_id", "session_id")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("session_value"),
        )
    )
    want = {
        (r["user_id"], r["session_start"], r["session_end"]): (
            r["n_events"],
            round(r["session_value"], 9),
        )
        for r in islands.collect()
    }
    assert native == want


@pytest.mark.slow
def test_session_window_drops_late_data(spark, tmp_path):
    """Watermark contract: an event arriving in a LATER incremental run
    with event time older than the checkpointed watermark is dropped —
    the already-sealed session emitted WITHOUT it and is never
    retracted (append mode). Two availableNow drains against one
    checkpoint = two cron-style runs, the reference's operating mode."""
    import datetime as dt

    from osmart_etl_spark.streaming.replay_stream import sessionize

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    schema = "user_id long, event_id long, ts timestamp, value double"
    d = tmp_path / "late_src"
    d.mkdir()
    ckpt = str(tmp_path / "ckpt_late")
    out = str(tmp_path / "sessions_out")

    def drain(name):
        # parquet sink (memory sink cannot recover a checkpoint, and the
        # whole point here is watermark continuity across two runs)
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(d) + "/*.parquet")
        )
        q = (
            sessionize(stream, gap="6 hours", late="1 hour")
            .writeStream.format("parquet")
            .outputMode("append")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return spark.read.parquet(out).collect()

    # run 1: session A (2 events) + a far-future event that pushes the
    # watermark way past session A's end → A seals and emits
    spark.createDataFrame(
        [
            (1, 1, t0, 10.0),
            (1, 2, t0 + dt.timedelta(hours=1), 5.0),
            (1, 3, t0 + dt.timedelta(days=30), 1.0),
        ],
        schema,
    ).coalesce(1).write.parquet(str(d / "b1.parquet"))
    drain("late_sessions_r1")

    # run 2: a late event that WOULD extend session A, but its event
    # time is far below the checkpointed watermark (max - 1h) → dropped
    spark.createDataFrame(
        [(1, 4, t0 + dt.timedelta(hours=2), 100.0)], schema
    ).coalesce(1).write.parquet(str(d / "b2.parquet"))
    rows = drain("late_sessions_r2")  # sink dir holds both runs' output

    sealed = {
        (r["user_id"], r["session_start"]): (r["n_events"], r["session_value"])
        for r in rows
    }
    # session A sealed with exactly the 2 on-time events; the late
    # event neither extended it nor spawned a retro session
    assert sealed == {(1, t0): (2, 15.0)}


@pytest.mark.slow
def test_dedup_within_watermark_two_runs(spark, tmp_path):
    """Streaming exact-dedup (U5 twin): re-deliveries inside the
    lateness window dedup across micro-batches AND across two
    availableNow runs sharing a checkpoint (the at-least-once replay
    failure mode); fresh keys pass through. State is watermark-bounded."""
    import datetime as dt

    from osmart_etl_spark.streaming.replay_stream import dedup_within_watermark

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    schema = "event_id long, user_id long, ts timestamp, value double"
    d = tmp_path / "dd_src"
    d.mkdir()
    ckpt = str(tmp_path / "dd_ckpt")
    out = str(tmp_path / "dd_out")

    def drain():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(d) + "/*.parquet")
        )
        q = (
            dedup_within_watermark(stream, ["event_id"], late="1 day")
            .writeStream.format("parquet")
            .outputMode("append")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return spark.read.parquet(out).collect()

    # run 1, two files => two micro-batches; event 2 duplicated within
    # batch 1 and re-delivered in batch 2
    spark.createDataFrame(
        [(1, 10, t0, 1.0), (2, 11, t0 + dt.timedelta(minutes=5), 2.0),
         (2, 11, t0 + dt.timedelta(minutes=5), 2.0)],
        schema,
    ).coalesce(1).write.parquet(str(d / "b1.parquet"))
    spark.createDataFrame(
        [(2, 11, t0 + dt.timedelta(minutes=5), 2.0),
         (3, 12, t0 + dt.timedelta(hours=1), 3.0)],
        schema,
    ).coalesce(1).write.parquet(str(d / "b2.parquet"))
    rows = drain()
    assert sorted(r["event_id"] for r in rows) == [1, 2, 3]

    # run 2 against the same checkpoint: replay of event 3 (inside the
    # 1-day window of its first arrival) dropped, fresh event 4 kept
    spark.createDataFrame(
        [(3, 12, t0 + dt.timedelta(hours=1), 3.0),
         (4, 13, t0 + dt.timedelta(hours=2), 4.0)],
        schema,
    ).coalesce(1).write.parquet(str(d / "b3.parquet"))
    rows = drain()
    assert sorted(r["event_id"] for r in rows) == [1, 2, 3, 4]


def test_stream_stream_join_matches_batch(spark, tmp_path, events_stream_dir):
    """Stream-stream interval join (purchase ← preceding clicks within
    1 hour, per user) drained with availableNow must emit exactly the
    batch join's pairs — inner joins emit eagerly, so after a full
    drain nothing is left buffered."""
    from osmart_etl_spark.streaming.replay_stream import (
        purchase_click_attribution,
        run_available_now,
    )

    stream = _read_stream(spark, events_stream_dir)
    out = purchase_click_attribution(
        stream.filter(F.col("event_type") == "purchase"),
        stream.filter(F.col("event_type") == "click"),
    )
    rows = run_available_now(out, str(tmp_path / "ckpt_ssj"), "ssj_t")
    got = {(r["purchase_id"], r["click_id"]) for r in rows}

    ev = spark.read.parquet(events_stream_dir)
    batch = purchase_click_attribution(
        ev.filter(F.col("event_type") == "purchase"),
        ev.filter(F.col("event_type") == "click"),
    )
    want = {(r["purchase_id"], r["click_id"]) for r in batch.collect()}
    assert want, "batch twin produced no pairs — fixture too sparse"
    assert got == want


@pytest.mark.slow
def test_ewma_stream_matches_batch_bitwise(spark, tmp_path):
    """The streaming EWMA (applyInPandasWithState, O(depth) state) must
    equal the batch lag-chain EWMA bit-for-bit across MULTIPLE
    micro-batches — proving both state continuity and identical FP
    addition order. Three time-range files with strictly increasing
    mtimes force three in-order batches."""
    import os
    import time as _time

    from osmart_etl_spark.io.sources import read_table
    from osmart_etl_spark.queries.scale_ops import ewma_lag_chain
    from osmart_etl_spark.streaming.replay_stream import ewma_stateful, run_available_now

    ev = read_table(spark, SF_SMALL, "events").orderBy("ts", "event_id")
    rows = ev.collect()
    cuts = [len(rows) // 3, 2 * len(rows) // 3, len(rows)]
    src = str(tmp_path / "ewma_stream")
    os.makedirs(src)
    start = 0
    now = _time.time()
    for i, end in enumerate(cuts):
        part = spark.createDataFrame(rows[start:end], ev.schema)
        pdir = str(tmp_path / f"ewma_part{i}")
        part.coalesce(1).write.parquet(pdir)
        fname = [f for f in os.listdir(pdir) if f.endswith(".parquet")][0]
        dst = os.path.join(src, f"batch_{i}.parquet")
        os.rename(os.path.join(pdir, fname), dst)
        os.utime(dst, (now + i, now + i))  # strictly increasing mtimes
        start = end

    stream = _read_stream(spark, src)
    out = run_available_now(ewma_stateful(stream), str(tmp_path / "ewma_ckpt"), "ewma_t")
    got = {r.event_id: r.ewma8 for r in out}

    want = {r.event_id: r.ewma8 for r in ewma_lag_chain(spark, SF_SMALL).collect()}
    assert len(got) == len(want)
    assert all(got[k] == want[k] for k in want)


def test_hopping_window_stream_matches_batch(spark, tmp_path, events_stream_dir):
    """T4-sliding: the streaming 7d/1d hopping window (append mode,
    sealed by watermark) must agree with the batch explode-based
    hopping query on every window both paths emit (count + exact
    decimal total; distinct-users is approx in the stream, so only
    sanity-bounded)."""
    from osmart_etl_spark.queries.analytics4 import hopping_window_engagement
    from osmart_etl_spark.streaming.replay_stream import (
        hopping_engagement_windowed,
        run_available_now,
    )

    stream = _read_stream(spark, events_stream_dir)
    rows = run_available_now(
        hopping_engagement_windowed(stream), str(tmp_path / "hop_ckpt"), "hop_t"
    )
    assert rows
    got = {r.win_start: (r.n_events, r.total_value, r.n_users_approx) for r in rows}

    batch = {
        r.win_start: (r.n_events, r.total_value, r.n_users)
        for r in hopping_window_engagement(spark, SF_SMALL).collect()
    }
    # append mode seals only watermark-passed windows: subset of batch
    assert got
    for w, (n, tv, nu_approx) in got.items():
        bn, btv, bnu = batch[w]
        assert n == bn
        assert tv == btv
        assert abs(nu_approx - bnu) <= max(3, 0.15 * bnu)


@pytest.mark.slow
def test_lsh_dedup_stream_matches_batch(spark, tmp_path):
    """Streaming foreachBatch incremental LSH dedup == the batch
    dedup_incremental_lsh query on the same base/new split: stream the
    'new' 20% of documents in doc_id-ordered micro-batches against the
    base 80%, and the union of per-batch band collisions must equal the
    batch query's (id_new, id_match, from_base) set exactly; docs with
    no collision land in the novel output."""
    from osmart_etl_spark.io.sources import read_table
    from osmart_etl_spark.queries.base import REGISTRY
    from osmart_etl_spark.streaming.lsh_stream import run_lsh_dedup_stream

    sf_dir = "/root/testdata/sf0.001"
    docs = read_table(spark, sf_dir, "documents")
    base = docs.filter(F.col("doc_id") % 10 < 8)
    new = docs.filter(F.col("doc_id") % 10 >= 8).select("doc_id", "text")

    # three doc_id-ordered files so availableNow processes ordered
    # micro-batches (earlier arrivals have smaller ids, matching the
    # batch query's id-based tie-break)
    stream_src = str(tmp_path / "arrivals")
    ids = sorted(r["doc_id"] for r in new.select("doc_id").collect())
    cuts = [ids[len(ids) // 3], ids[2 * len(ids) // 3]]
    new.filter(F.col("doc_id") <= cuts[0]).coalesce(1).write.parquet(
        stream_src + "/f0"
    )
    new.filter(
        (F.col("doc_id") > cuts[0]) & (F.col("doc_id") <= cuts[1])
    ).coalesce(1).write.parquet(stream_src + "/f1")
    new.filter(F.col("doc_id") > cuts[1]).coalesce(1).write.parquet(
        stream_src + "/f2"
    )

    stream = (
        spark.readStream.schema(new.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stream_src + "/f*")
    )
    matches, novel = run_lsh_dedup_stream(
        spark, stream, base, str(tmp_path / "lsh_work")
    )

    got = {
        (r["id_new"], r["id_match"], r["from_base"]) for r in matches.collect()
    }
    want = {
        (r["id_new"], r["id_match"], r["from_base"])
        for r in REGISTRY["dedup_incremental_lsh"].fn(spark, sf_dir).collect()
    }
    assert got == want and len(want) > 0

    # novel = new docs that never collided, each exactly once
    matched_ids = {t[0] for t in want}
    novel_ids = [r["doc_id"] for r in novel.collect()]
    assert len(novel_ids) == len(set(novel_ids))
    assert set(novel_ids) == {i for i in ids if i not in matched_ids}


@pytest.mark.slow
def test_span_dedup_stream_matches_batch(spark, tmp_path):
    """Streaming foreachBatch ExactSubstr span dedup == batch
    span_excision restricted to the streamed docs — including the
    RETROACTIVE case where an earlier arrival's spans are only
    established by a later batch duplicating its grams."""
    from osmart_etl_spark.io.sources import read_table
    from osmart_etl_spark.ops.dedup import span_excision
    from osmart_etl_spark.streaming.span_stream import run_span_dedup_stream

    sf_dir = "/root/testdata/sf0.001"
    docs = read_table(spark, sf_dir, "documents")
    base = docs.filter(F.col("doc_id") % 10 < 8).select("doc_id", "text")
    new = docs.filter(F.col("doc_id") % 10 >= 8).select("doc_id", "text")

    stream_src = str(tmp_path / "span_arrivals")
    ids = sorted(r["doc_id"] for r in new.select("doc_id").collect())
    cuts = [ids[len(ids) // 3], ids[2 * len(ids) // 3]]
    new.filter(F.col("doc_id") <= cuts[0]).coalesce(1).write.parquet(
        stream_src + "/f0"
    )
    new.filter(
        (F.col("doc_id") > cuts[0]) & (F.col("doc_id") <= cuts[1])
    ).coalesce(1).write.parquet(stream_src + "/f1")
    new.filter(F.col("doc_id") > cuts[1]).coalesce(1).write.parquet(
        stream_src + "/f2"
    )
    stream = (
        spark.readStream.schema(new.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stream_src + "/f*")
    )
    got_df = run_span_dedup_stream(
        spark, stream, base, str(tmp_path / "span_work"), k=8
    )
    got = {
        (r["doc_id"], r["span_start"], r["span_end"], r["span_len"], r["n_windows"])
        for r in got_df.collect()
    }
    new_ids = set(ids)
    want = {
        (r["doc_id"], r["span_start"], r["span_end"], r["span_len"], r["n_windows"])
        for r in span_excision(docs, "doc_id", "text", k=8).collect()
        if r["doc_id"] in new_ids
    }
    assert got == want and len(want) > 0


@pytest.mark.slow
def test_span_dedup_stream_retroactive_marking(spark, tmp_path):
    """Planted: batch-1 doc X and batch-2 doc Y share a paragraph that
    appears nowhere in the base corpus. X's span can only be
    established retroactively when Y arrives — the case a naive
    probe-only incremental design silently misses."""
    from osmart_etl_spark.ops.dedup import span_excision
    from osmart_etl_spark.streaming.span_stream import run_span_dedup_stream

    para = "p1 p2 p3 p4 p5 p6 p7 p8 p9 p10"
    base = spark.createDataFrame(
        [(1, " ".join(f"b{i}" for i in range(20)))], ["doc_id", "text"]
    )
    x = (10, "xa xb " + para + " xc")
    y = (20, para + " yz1 yz2")
    z = (30, " ".join(f"z{i}" for i in range(15)))  # clean doc, batch 2
    src = str(tmp_path / "retro_src")
    spark.createDataFrame([x], ["doc_id", "text"]).coalesce(1).write.parquet(
        src + "/f0"
    )
    spark.createDataFrame([y, z], ["doc_id", "text"]).coalesce(1).write.parquet(
        src + "/f1"
    )
    stream = (
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/f*")
    )
    got_df = run_span_dedup_stream(spark, stream, base, str(tmp_path / "retro_w"), k=8)
    got = {
        (r["doc_id"], r["span_start"], r["span_end"]) for r in got_df.collect()
    }
    all_docs = base.unionByName(
        spark.createDataFrame([x, y, z], ["doc_id", "text"])
    )
    want = {
        (r["doc_id"], r["span_start"], r["span_end"])
        for r in span_excision(all_docs, "doc_id", "text", k=8).collect()
        if r["doc_id"] in (10, 20, 30)
    }
    # X (doc 10, arrived first) must carry a span established by Y
    assert any(d == 10 for d, _s, _e in got)
    assert got == want
