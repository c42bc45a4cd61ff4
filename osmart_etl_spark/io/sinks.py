"""Sink connectors (SURVEY.md §2.1 S6-S10).

The reference loads with multi-row INSERTs (S6) and idempotent
``INSERT ... ON DUPLICATE KEY UPDATE`` upserts over composite natural PKs
(S7/S8 — etl_sales/db/db_helpers.py:25-40, seed_stock_points.py:155-175).
Spark-first:

- append sink = ``df.write.mode("append")`` (the file committer makes the
  write atomic — the reference's tmp-file ``os.replace`` dance, S9, is
  free);
- upsert sink = Delta ``MERGE INTO`` where Delta is available, else the
  keep-latest transform here (union new over old, keep the newest row
  per key via ``row_number()`` — same semantics as ON DUPLICATE KEY
  UPDATE), published through io/atomic's commit log. Every keyed sink
  has exactly one write path: ``io/atomic.upsert_versioned`` (whole-table
  versions), ``merge_upsert_partitioned`` (versions that rewrite only
  the touched buckets, listed by a table-level manifest) and
  ``merge_accumulate_versioned`` (aggregate + ledger in one version).

Partitioned layout replaces MySQL index design (§4): the raw event log
partitions by store + event date, files sorted by (art_id, fecha) so
parquet min/max stats skip irrelevant row groups — the Spark analogue of
the reference's (art_id,tienda_id,fecha) secondary index
(create_raw_stock_movements.sql:17-20).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F


def write_append(
    df: DataFrame,
    path: str,
    *,
    partition_by: tuple[str, ...] = (),
    fmt: str = "parquet",
) -> None:
    """Append sink (S6). Partition columns drive partition pruning on read."""
    writer = df.write.mode("append").format(fmt)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.save(path)


def upsert_keep_latest(
    old: DataFrame | None,
    new: DataFrame,
    keys: list[str],
    order_col: str,
) -> DataFrame:
    """Keep-latest-per-key upsert semantics (S7/S8) as a pure transform.

    Equivalent to MySQL ``INSERT ... ON DUPLICATE KEY UPDATE`` on the
    composite PK (db_helpers.py:25-40): for each key, the row with the
    greatest ``order_col`` wins, new rows out-ranking old on ties.

    Pure DataFrame→DataFrame so it composes and stays testable;
    ``io/atomic.upsert_versioned`` (whole table) and
    ``merge_upsert_partitioned`` (touched buckets only) materialize it.
    With Delta available the same semantics are one ``MERGE INTO`` keyed
    on ``keys``.
    """
    staged = new.withColumn("__gen", F.lit(1))
    if old is not None:
        staged = old.withColumn("__gen", F.lit(0)).unionByName(staged)
    w = Window.partitionBy(*keys).orderBy(F.col(order_col).desc(), F.col("__gen").desc())
    return (
        staged.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__gen")
    )


def merge_upsert_partitioned(
    spark: SparkSession,
    new: DataFrame,
    path: str,
    keys: list[str],
    order_col: str,
    *,
    n_buckets: int = 64,
    combine: Callable[[DataFrame | None, DataFrame], DataFrame] | None = None,
    watermark: tuple[str, object, object] | None = None,
    touched: list[int] | None = None,
) -> list[int]:
    """MERGE-style upsert with O(delta) write cost (S7/S8 scale path).

    The MySQL reference upserts via ``INSERT … ON DUPLICATE KEY UPDATE``
    (db_helpers.py:25-40) — the engine touches only the rows whose PKs
    appear in the batch. ``io/atomic.upsert_versioned`` has the same
    semantics but rewrites the WHOLE table per batch; at 100 TB that is
    the first real wall. This sink restores the O(delta) property on
    plain parquet, with one commit log at the table root:

    1. every key lives in bucket ``pmod(hash(keys…), n_buckets)`` — a
       deterministic function of the key, so a key never changes bucket;
    2. a batch reads back only the buckets its keys hash to, merges
       them with the batch, and writes those buckets in ONE Spark job
       straight into a new version directory ``_v-<token>/__bucket=<b>/``
       (one file per bucket);
    3. the version's ``_manifest.json`` (``io/atomic.MANIFEST``) lists
       EVERY live bucket under the version whose directory holds it —
       this one for the touched buckets, older ones for the rest — plus
       the layout, the table schema and the writers' watermarks;
    4. one ``io/atomic.publish_staged`` CAS on the sequence the merge
       read publishes it (the single-log, manifest-listed commit of
       Delta Lake and Iceberg). A crash before it leaves the whole old
       table; a concurrent writer surfaces as ``ConcurrentCommitError``
       and a retry converges (keep-latest is idempotent). Readers
       resolve one manifest, so they see one cross-bucket snapshot.

    ``combine(old, new)`` replaces keep-latest: given the touched
    buckets' rows (read once; None on the first write) and the batch, it
    returns the rows those buckets hold next; buckets are re-derived
    from the keys. A fold that is not idempotent (sums) pairs it with
    ``watermark=(writer, expected, new)``: unless the manifest's
    ``watermarks[writer]`` is ``expected`` (None when absent),
    ``ConcurrentCommitError`` is raised before any Spark work; the
    published manifest holds ``new``. Data and watermark are one commit
    (Delta Lake's transaction ids), so each batch folds exactly once.
    ``read_merge_watermark`` reads a writer's watermark.

    Per-batch cost: O(|delta| + size of touched buckets) and one commit.
    The touched-bucket set and the written rows come from one
    evaluation of ``new``: the sink localCheckpoints it, reads the set
    from an ``Observation`` on that checkpoint (no extra job) and
    releases the checkpoint before it returns. A caller that already
    holds ``new`` as a checkpoint passes the set it observed on it as
    ``touched`` (``F.collect_set(bucket_column(keys, n_buckets))``) and
    the sink takes no checkpoint of its own; ``touched`` with a ``new``
    that is not a checkpoint raises ``ValueError``.
    With Delta Lake available the same call is one ``MERGE INTO``.

    The layout (n_buckets, key list, order column) lives in every
    manifest; a batch with a different layout would hash keys to other
    buckets and is refused with ``ValueError``. The first commit claims
    seq 1 by CAS, which settles concurrent creators. A directory with
    entries but no commit log — a table written before the table-level
    manifest (``bucket=<b>`` dirs with a ``_layout`` sidecar) or any
    foreign data — raises ``RuntimeError`` and keeps every file, and so
    does a ``watermark=`` call on a table whose manifest has no
    ``watermarks`` map.

    Returns the sorted list of touched bucket ids.
    """
    import uuid

    from osmart_etl_spark.io.atomic import (
        BUCKET_COL,
        MANIFEST,
        ConcurrentCommitError,
        _gc,
        _write_small_json,
        bucket_dir,
        manifest_buckets,
        manifest_runs,
        publish_staged,
    )

    base = path.rstrip("/")
    layout = {"n_buckets": n_buckets, "keys": list(keys), "order_col": order_col}
    seq, manifest = _snapshot(spark, base)
    if manifest is not None and manifest["layout"] != layout:
        # F.hash is order-sensitive over its arguments, so the key LIST
        # (not set) must match exactly.
        raise ValueError(
            f"merge_upsert_partitioned layout mismatch at {path}: table was "
            f"created with {manifest['layout']}, this batch supplies {layout}. "
            "Changing n_buckets/keys re-homes keys to different buckets; "
            "rebuild the table instead."
        )
    marks = manifest.get("watermarks") if manifest else {}
    if watermark is not None:
        writer, expected, new_mark = watermark
        committed = _watermarks(base, manifest).get(writer)
        if committed != expected:
            raise ConcurrentCommitError(
                f"{base}: watermark of {writer!r} is {committed!r}, "
                f"this batch was extracted past {expected!r}"
            )
        marks = {**marks, writer: new_mark}
    bucket = bucket_column(keys, n_buckets)
    # ONE materialization of the incoming batch: the touched-bucket set
    # and the written rows must come from the same evaluation — a
    # nondeterministic source re-evaluated at write time could emit rows
    # into buckets absent from `touched`, silently losing pre-existing
    # rows of those buckets.
    own = None
    if touched is None:
        obs = Observation()
        new = own = new.observe(obs, F.collect_set(bucket).alias("b")).localCheckpoint(eager=True)
        touched = obs.get["b"]
    elif not _is_checkpoint(new):
        raise ValueError("touched= needs `new` to be the checkpoint it was observed on")
    touched = sorted(touched)
    try:
        if not touched:
            return []
        held = manifest_buckets(manifest) if manifest else {}
        old = [f"{base}/{bucket_dir(held[b], b)}" for b in touched if b in held]
        # bucket dirs hold user columns only (the bucket is the dir); the
        # manifest's schema spares a schema-inference job
        old_rows = spark.read.schema(manifest["schema"]).parquet(*old) if old else None
        if combine is None:
            merged = new if old_rows is None else upsert_keep_latest(old_rows, new, keys, order_col)
        else:
            merged = combine(old_rows, new)
        merged = merged.withColumn(BUCKET_COL, bucket)
        if seq == 0:
            # a crashed creator's dead lock on seq 1 would otherwise wedge
            # creation: _gc (TTL-gated) normally runs only after a commit
            _gc(spark, base, 2, 3600.0)

        token = uuid.uuid4().hex[:12]
        # a bucket hashes to one write task, so each bucket dir is one file
        # whatever the task count; a few tasks beat one per touched bucket
        n_tasks = min(len(touched), spark.sparkContext.defaultParallelism)
        (
            merged.repartition(n_tasks, F.col(BUCKET_COL))
            .write.mode("overwrite")
            .partitionBy(BUCKET_COL)
            .parquet(f"{base}/_v-{token}")
        )
        held.update(dict.fromkeys(touched, token))
        doc = {
            "layout": layout,
            "schema": merged.drop(BUCKET_COL).schema.toDDL(),
            "buckets": manifest_runs(held),
        }
        if marks is not None:
            doc["watermarks"] = marks
        _write_small_json(spark, f"{base}/_v-{token}/{MANIFEST}", doc)
        publish_staged(spark, base, token, expected_seq=seq)
        return touched
    finally:
        if own is not None:
            release_checkpoint(own)


def bucket_column(keys: list[str], n_buckets: int) -> Column:
    """The ``merge_upsert_partitioned`` bucket of a row: a deterministic
    function of its key, so a key never changes bucket."""
    return F.pmod(F.hash(*[F.col(k) for k in keys]), F.lit(n_buckets))


def _snapshot(spark: SparkSession, base: str) -> tuple[int, dict | None]:
    """(committed seq, manifest) of a merge table — one commit-log
    listing and one file read; (0, None) for an absent or empty one.
    A directory that holds entries outside a commit log, or whose
    current version has no manifest, raises ``RuntimeError``."""
    from osmart_etl_spark.io.atomic import _listdir, current_version, read_manifest

    cur = current_version(spark, base)
    if cur is None:
        foreign = sorted(
            n for n in _listdir(spark, base)
            if n == "_layout" or not n.startswith(("_", "."))
        )
        if foreign:
            raise RuntimeError(
                f"{base}: holds {foreign} but no table manifest — a merge table "
                "written before the table-level manifest, or foreign data. "
                "Refusing to merge over rows it cannot read; rebuild it by "
                "loading its rows into a new merge_upsert_partitioned table."
            )
        return 0, None
    manifest = read_manifest(spark, base, cur[1])
    if manifest is None:
        raise RuntimeError(
            f"{base}: committed version {cur[0]} has no table manifest — "
            "not a merge_upsert_partitioned table"
        )
    return cur[0], manifest


def _is_checkpoint(df: DataFrame) -> bool:
    """True when ``df`` is the rows of a materialized (local) checkpoint
    as they are, so evaluating it twice reads the same rows."""
    plan = df._jdf.queryExecution().logical()
    return plan.getClass().getSimpleName() == "LogicalRDD" and plan.rdd().isCheckpointed()


def release_checkpoint(df: DataFrame) -> None:
    """Drop the blocks of ``df``, a ``localCheckpoint`` (a local
    checkpoint lives in the block manager until its RDD is unpersisted
    or garbage-collected). ``df`` must not be read afterwards."""
    df._jdf.queryExecution().logical().rdd().unpersist(False)


def _watermarks(base: str, manifest: dict | None) -> dict:
    """The ``watermarks`` map of a merge table's manifest ({} before the
    first commit)."""
    if manifest is None:
        return {}
    if "watermarks" not in manifest:
        raise RuntimeError(
            f"{base}: the table manifest has no watermarks map, so it was "
            "written before watermarks were committed with the data (a sales "
            "table of that layout keeps its sums in a '<table>_accum' sibling) "
            "and folding into it would count every applied batch again. "
            "Rebuild it: delete both directories and run a backfill."
        )
    return manifest["watermarks"]


def read_merge_watermark(spark: SparkSession, path: str, writer: str):
    """``writer``'s committed watermark in a ``merge_upsert_partitioned``
    table, or None when it has none: one commit-log listing and one
    manifest read, no Spark job. Raises ``RuntimeError`` for a manifest
    without a ``watermarks`` map, like ``watermark=`` does."""
    base = path.rstrip("/")
    _seq, manifest = _snapshot(spark, base)
    return _watermarks(base, manifest).get(writer)


def read_merge_table(spark: SparkSession, path: str) -> DataFrame:
    """Read a ``merge_upsert_partitioned`` table at its current version:
    one commit-log listing, one manifest read, then a parquet read of
    the bucket directories the manifest names with the manifest's
    schema. The files are listed when this returns, so the DataFrame
    keeps that snapshot while later merges publish (``keep_versions``
    retains it). Raises ``FileNotFoundError`` for a table with no
    commit, and refuses an old-layout or foreign directory like the
    writer does."""
    from osmart_etl_spark.io.atomic import bucket_dir, manifest_buckets

    base = path.rstrip("/")
    _seq, manifest = _snapshot(spark, base)
    if manifest is None:
        raise FileNotFoundError(f"no committed version under {base}")
    dirs = [f"{base}/{bucket_dir(t, b)}" for b, t in sorted(manifest_buckets(manifest).items())]
    return spark.read.schema(manifest["schema"]).parquet(*dirs)


def write_quarantine(df: DataFrame, path: str) -> None:
    """Append-mode quarantine sink (S9, dq_exclusions_csv.py:57-66).

    The reference dedups + atomically replaces a CSV; Spark's committer
    gives atomicity, and dedup happens at read time via dropDuplicates on
    the ``uniq`` key (U5).
    """
    df.write.mode("append").parquet(path)


def scd2_apply(
    current: DataFrame | None,
    changes: DataFrame,
    keys: list[str],
    order_col: str,
    attrs: list[str],
) -> DataFrame:
    """Type-2 slowly-changing-dimension merge as a pure transform — the
    versioned-history completion of the upsert family (S7/S8 keep ONLY
    the latest row; SCD2 keeps every version with its validity window).

    ``changes`` carries (keys, attrs, order_col = change timestamp);
    ``current`` is the existing history (keys, attrs, valid_from,
    valid_to NULL = open, is_current) or None for the initial load.
    Output invariants (locked by tests):

    - per key, versions form a contiguous chain: each row's ``valid_to``
      equals the next ``valid_from``; exactly one open row;
    - a change identical to the key's previous version (NULL-safe
      attribute compare) is a no-op — redelivered batches are absorbed,
      so the merge is idempotent;
    - already-closed history rows are never rewritten.

    Scale shape: everything partitions by the dimension key — one
    exchange, three same-partition window passes over (open ∪ changes),
    which is O(open + batch), never O(closed history); closed rows pass
    through untouched.
    """
    from functools import reduce

    new_v = changes.select(
        *keys, *attrs, F.col(order_col).alias("valid_from")
    ).withColumn("__gen", F.lit(1))
    closed = None
    if current is not None:
        closed = current.filter(F.col("valid_to").isNotNull()).select(
            *keys, *attrs, "valid_from", "valid_to"
        )
        open_rows = (
            current.filter(F.col("valid_to").isNull())
            .select(*keys, *attrs, "valid_from")
            .withColumn("__gen", F.lit(0))
        )
        # Late-arrival guard (the T2 watermark rule applied to dimension
        # maintenance): a redelivered change OLDER than the key's open
        # version was already superseded and closed — re-admitting it
        # would duplicate closed history. Exact ties are kept and
        # resolved by __gen below.
        base_vf = open_rows.select(*keys, F.col("valid_from").alias("__open_vf"))
        new_v = (
            new_v.join(base_vf, keys, "left")
            .filter(F.col("__open_vf").isNull() | (F.col("valid_from") >= F.col("__open_vf")))
            .drop("__open_vf")
        )
        versions = open_rows.unionByName(new_v)
    else:
        versions = new_v

    # exact-timestamp tie: the incoming change beats the stored version.
    # Same key partitioning as every window below — one exchange total.
    w_tie = Window.partitionBy(*keys).orderBy("valid_from", F.col("__gen").desc())
    versions = (
        versions.withColumn(
            "__dup_tie",
            F.coalesce(F.col("valid_from") == F.lag("valid_from").over(w_tie), F.lit(False)),
        )
        .filter(~F.col("__dup_tie"))
        .drop("__dup_tie", "__gen")
    )

    # drop consecutive no-op versions (NULL-safe attr compare)
    w = Window.partitionBy(*keys).orderBy("valid_from")
    same_as_prev = reduce(
        lambda a, b: a & b, [F.col(a).eqNullSafe(F.lag(a).over(w)) for a in attrs]
    )
    versions = (
        versions.withColumn("__same", F.coalesce(same_as_prev, F.lit(False)))
        .filter(~F.col("__same"))
        .drop("__same")
    )

    out = versions.withColumn("valid_to", F.lead("valid_from").over(w)).withColumn(
        "is_current", F.col("valid_to").isNull()
    )
    if closed is not None:
        out = closed.withColumn("is_current", F.lit(False)).unionByName(out)
    return out


def _additive_partial(updates: DataFrame, keys: list[str], sum_cols: list[str]):
    """Per-key partial sums of a batch (map-side combined) with the
    accumulator types pinned ONCE. Convention: accumulated sums are
    0-based, not NULL-based (an all-NULL key stores 0) — applied
    identically on the first write and every merge, so a key's
    representation cannot depend on which batch it arrived in. This
    deliberately diverges from SQL SUM's all-NULL→NULL semantics;
    matching that incrementally would need a has-nonnull flag per
    column for no operational benefit. Without the cast-back, decimal
    sums widen by one digit per merge (28,2 → 29,2 → … → 38,2),
    changing the stored schema every batch until the cap."""
    partial = updates.groupBy(*keys).agg(
        *[F.coalesce(F.sum(F.col(c)), F.lit(0)).alias(c) for c in sum_cols],
    )
    acc_types = {c: partial.schema[c].dataType.simpleString() for c in sum_cols}
    partial = partial.select(
        *keys, *[F.col(c).cast(acc_types[c]).alias(c) for c in sum_cols]
    )
    return partial, acc_types


def _additive_merge(
    cur: DataFrame,
    partial: DataFrame,
    keys: list[str],
    sum_cols: list[str],
    acc_types: dict,
) -> DataFrame:
    """Full-outer fold of a batch's partials into the aggregate table
    (one row per key ever — the compact thing a 100 TB event history
    folds down to): sum columns add."""
    from functools import reduce

    p = partial.select(
        *[F.col(k).alias(f"__k_{k}") for k in keys],
        *[F.col(c).alias(f"__u_{c}") for c in sum_cols],
    )
    cond = reduce(
        lambda a, b: a & b,
        [cur[k].eqNullSafe(F.col(f"__k_{k}")) for k in keys],
    )
    return cur.join(p, cond, "full_outer").select(
        *[F.coalesce(cur[k], F.col(f"__k_{k}")).alias(k) for k in keys],
        *[
            (
                F.coalesce(cur[c], F.lit(0))
                + F.coalesce(F.col(f"__u_{c}"), F.lit(0))
            ).cast(acc_types[c]).alias(c)
            for c in sum_cols
        ],
    )


def _parse_ledger_json(spark: SparkSession, path: str) -> dict:
    """Applied-batch ledger file ``{"v": 2, "hwm": {...}, "ids": [...]}``
    → ``{"hwm": {...}, "ids": [...]}``. Any other form raises: a ledger
    this code cannot read must not pass as "nothing applied yet", or a
    redelivered batch would double-count."""
    import json as _json

    from osmart_etl_spark.io.atomic import _read_small_text

    obj = _json.loads(_read_small_text(spark, path))
    if not isinstance(obj, dict) or obj.get("v") != 2:
        raise ValueError(f"{path}: not a v2 applied-batch ledger: {str(obj)[:80]}")
    return {"hwm": obj.get("hwm", {}), "ids": obj.get("ids", [])}


def read_accumulate_ledger(spark: SparkSession, table: str) -> dict:
    """The COMMITTED applied-batch ledger of a
    ``merge_accumulate_versioned`` table: ``{"hwm": {writer: max_seq},
    "ids": [opaque...]}``. One metadata file read at the commit log's
    altitude — used by callers that must distinguish a legitimate
    crash-replay no-op (seq == hwm) from a state/checkpoint mismatch
    (seq < hwm), e.g. streaming/accumulate_stream.py."""
    from osmart_etl_spark.io.atomic import current_version

    cur = current_version(spark, table)
    if cur is None:
        raise FileNotFoundError(f"no committed version at {table}")
    return _parse_ledger_json(spark, f"{table.rstrip('/')}/_v-{cur[1]}/_ledger.json")


def merge_accumulate_versioned(
    spark: SparkSession,
    updates: DataFrame,
    table: str,
    keys: list[str],
    sum_cols: list[str],
    *,
    batch_id: str | tuple[str, int],
    keep_versions: int = 8,
    max_retries: int = 10,
) -> bool:
    """Exactly-once additive incremental-view maintenance: fold a batch's
    per-key partial sums into a materialized per-key aggregate table.
    The batch is reduced to per-key partials first (map-side combine),
    then full-outer merged into the table, which holds one row per key
    ever. (The sales pipeline folds through ``merge_upsert_partitioned``'s
    ``combine``/``watermark`` instead: its table is bucketed and carries
    derived columns besides the sums.)

    Keep-latest upserts are naturally idempotent — re-applying a batch
    rewrites the same rows. Accumulation is NOT: re-adding a redelivered
    batch double-counts, and two folds that both read the same snapshot
    would each drop the other's contribution. Both are closed by making
    the aggregate table AND its applied-batch ledger one atomic commit
    through ``io/atomic``'s log (the same idea Structured Streaming uses
    for sink idempotence — epoch ids in the commit log — available to
    any cron-style incremental run):

    - each committed version directory holds the aggregate rows at its
      root and the FULL ledger as a ``_ledger.json`` sidecar file
      (underscore-prefixed, so aggregate reads never see it; written
      and read driver-side — the ledger is O(batches) metadata, the
      commit log's altitude, not a per-fold Spark job) — table+ledger
      cannot diverge, because they are published by the same marker
      rename;
    - the publish is a CAS on the version sequence (create claims
      exactly seq 1, folds claim cur+1): a concurrent fold surfaces as
      ``ConcurrentCommitError`` and retries from a FRESH snapshot —
      re-checking the ledger first, so a racer that already applied
      this batch turns the retry into a no-op;
    - a crash anywhere leaves the previous version (with its matching
      ledger) fully readable; replaying the batch is rejected by the
      committed ledger.

    Ledger size: ``batch_id`` accepts two forms, with two
    growth laws —

    - ``(writer_id, seq)`` tuple: the ledger keeps ONE high-water-mark
      per writer (``hwm[writer_id] = max seq applied``); a batch with
      ``seq <= hwm[writer_id]`` is a duplicate. The ledger is O(distinct
      writers) FOREVER — the bounded form every long-lived pipeline
      should use. Contract: each writer applies its seqs in increasing
      order (the natural shape of a sequential producer — Structured
      Streaming's foreachBatch epoch ids, a cron run's tick counter); an
      out-of-order seq from the same writer is REJECTED as a duplicate,
      which is exactly-once's answer to regressing epochs.
    - opaque ``str``: membership list, one entry per batch forever —
      kept for ad-hoc ids with no writer structure; at daily folds for
      years, prefer the tuple form.

    Both forms coexist in one ledger; a version's ``_ledger.json`` is
    ``{"v": 2, "hwm": {writer: seq}, "ids": [...]}`` (any other form
    raises). Read the aggregate with ``io/atomic.read_committed``.
    ``keep_versions`` defaults HIGHER than the upsert sinks (8 vs 2): a
    version here is a small per-key aggregate, and under W concurrent
    folders a loser's snapshot must survive up to W-1 winner commits or
    its attempts burn on GC'd-snapshot reads instead of clean CAS losses.

    Returns True if the batch was applied, False if it was already in
    the committed ledger.
    """
    import time as _time
    import uuid

    from osmart_etl_spark.io.atomic import (
        ConcurrentCommitError,
        _fs,
        _gc,
        _write_small_json,
        current_version,
        publish_staged,
    )

    base = table.rstrip("/")
    partial, acc_types = _additive_partial(updates, keys, sum_cols)
    jvm, fs, _ = _fs(spark, base)

    if isinstance(batch_id, tuple):
        writer_id, seq = str(batch_id[0]), int(batch_id[1])
    else:
        writer_id, seq = None, None

    def _is_dup(led: dict) -> bool:
        if writer_id is not None:
            return led["hwm"].get(writer_id, -1) >= seq
        return batch_id in led["ids"]

    def _applied(led: dict) -> dict:
        if writer_id is not None:
            return {"hwm": {**led["hwm"], writer_id: seq}, "ids": led["ids"]}
        return {"hwm": led["hwm"], "ids": led["ids"] + [batch_id]}

    for attempt in range(max_retries):
        token = uuid.uuid4().hex[:12]
        stage = f"{base}/_v-{token}"
        try:
            cur = current_version(spark, base)
            if cur is None:
                # a crashed creator's dead first lock would otherwise
                # wedge creation until a commit runs _gc — sweep on entry
                # (same round-9 rule as upsert_versioned)
                _gc(spark, base, keep_versions, 3600.0)
                merged = partial
                new_ledger = _applied({"hwm": {}, "ids": []})
                expected = 0
            else:
                ver_dir = f"{base}/_v-{cur[1]}"
                ledger = _parse_ledger_json(spark, f"{ver_dir}/_ledger.json")
                if _is_dup(ledger):
                    return False
                merged = _additive_merge(
                    spark.read.parquet(ver_dir), partial, keys, sum_cols, acc_types
                )
                new_ledger = _applied(ledger)
                expected = cur[0]
            # staging reads the OLD version dir while writing the NEW one
            # — nothing pinned, a crash leaves the live table untouched.
            merged.write.mode("overwrite").parquet(stage)
            # private staging dir — plain create, no exclusivity needed
            _write_small_json(spark, f"{stage}/_ledger.json", {"v": 2, **new_ledger})
        except Exception:  # noqa: BLE001 — snapshot/staging races are retryable
            # Under heavy contention the version dir this attempt reads
            # (dup check, merge input) can be GC'd by RACING winners
            # before the attempt finishes (keep_versions guards
            # keep_versions-1 newer commits, not unbounded ones): the
            # read dies with a FileNotFound, not a CAS conflict. Nothing
            # was published, so deleting our stage and retrying from a
            # fresh snapshot is always safe; a non-transient error
            # (schema mismatch, bad path) re-raises after max_retries
            # bounded attempts. PUBLISH is deliberately OUTSIDE this
            # except: once the commit marker may exist, cleanup here
            # would delete a published version's data.
            fs.delete(jvm.org.apache.hadoop.fs.Path(stage), True)
            if attempt == max_retries - 1:
                raise
        else:
            try:
                publish_staged(
                    spark, base, token,
                    expected_seq=expected, keep_versions=keep_versions,
                )
                return True
            except ConcurrentCommitError:
                # publish_staged already removed our staged dir
                if attempt == max_retries - 1:
                    raise
        # full-jitter exponential backoff (the contention-probe rule)
        delay = min(2.0, 0.1 * (2**attempt))
        _time.sleep(delay * (0.5 + (hash((batch_id, attempt)) % 1000) / 2000.0))
    return False  # unreachable; loop either returns or raises

