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
  versions), ``merge_upsert_partitioned`` (per-bucket versions) and
  ``merge_accumulate_versioned`` (aggregate + ledger in one version).

Partitioned layout replaces MySQL index design (§4): the raw event log
partitions by store + event date, files sorted by (art_id, fecha) so
parquet min/max stats skip irrelevant row groups — the Spark analogue of
the reference's (art_id,tienda_id,fecha) secondary index
(create_raw_stock_movements.sql:17-20).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
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


#: Partition column of the merge sink's staging write, pinned in every
#: ``_layout`` sidecar under the ``bucket_col`` key. Committed bucket
#: versions live under ``bucket=<b>/``.
_BUCKET_COL = "__bucket"


def merge_upsert_partitioned(
    spark: SparkSession,
    new: DataFrame,
    path: str,
    keys: list[str],
    order_col: str,
    *,
    n_buckets: int = 64,
) -> list[int]:
    """MERGE-style upsert with O(delta) write cost (S7/S8 scale path).

    The MySQL reference upserts via ``INSERT … ON DUPLICATE KEY UPDATE``
    (db_helpers.py:25-40) — the engine touches only the rows whose PKs
    appear in the batch. ``io/atomic.upsert_versioned`` has the same
    semantics but rewrites the WHOLE table per batch; at 100 TB that is
    the first real wall. This sink restores the O(delta) property on
    plain parquet:

    1. the table is laid out partitioned by ``pmod(hash(keys…), n_buckets)``
       — a deterministic function of the key, so every key lives in
       exactly one partition directory forever;
    2. an incoming batch touches only the buckets its keys hash to —
       read back JUST those buckets' current versions (directory
       pruning, not a table scan), merge keep-latest, and publish each
       touched bucket as a NEW immutable ``_v-<token>`` version through
       ``io/atomic``'s commit log (staged in one Spark job, renamed and
       CAS-published per bucket) — never an in-place overwrite, so a
       crash at any point leaves every bucket at a complete version.

    Per-batch cost: O(|delta| + size of touched buckets) ≈
    O(|delta| × table_size/n_buckets · distinct_buckets). With Delta Lake
    available the same call is one ``MERGE INTO`` (file-level instead of
    bucket-level granularity); this is the no-extra-dependency analogue.

    The key→bucket layout (n_buckets, key list, order column) is pinned
    in a ``_layout`` sidecar inside the table directory on first write
    (underscore-prefixed, so table reads never see it) and validated on
    every later batch: a batch with a different n_buckets or key order
    would hash keys to DIFFERENT directories, silently leaving stale
    versions unmerged — that is a hard error here, not a corruption.
    A table whose ``_layout`` is a directory (the Spark-written sidecar
    of the pre-commit-log layout, plain ``__bucket=<b>`` data dirs) is
    refused by ``_read_layout``: its rows live outside any commit log,
    and merging on top would drop them silently.

    Returns the list of touched bucket ids (for tests / observability).
    """
    import uuid

    from osmart_etl_spark.io.atomic import _fs, publish_staged
    from osmart_etl_spark.io.sources import path_exists

    base = path.rstrip("/")
    bucketed = new.withColumn(
        _BUCKET_COL, F.pmod(F.hash(*[F.col(k) for k in keys]), F.lit(n_buckets))
    )
    # ONE materialization of the incoming batch: the touched-bucket set
    # and the written rows must come from the same evaluation — a
    # nondeterministic source re-evaluated at write time could emit rows
    # into buckets absent from `touched`, silently losing pre-existing
    # rows of those directories.
    bucketed = bucketed.localCheckpoint(eager=True)

    layout = {
        "n_buckets": n_buckets,
        "keys": list(keys),
        "order_col": order_col,
        "bucket_col": _BUCKET_COL,
    }
    layout_path = f"{base}/_layout"
    if path_exists(spark, path):
        # F.hash is order-sensitive over its arguments, so the key LIST
        # (not set) must match exactly.
        try:
            stored = _read_layout(spark, layout_path)
        except (EmptyLayoutError, FileNotFoundError) as exc:
            # EmptyLayoutError(swept): creator died between the
            # sidecar's exclusive create and its content write, and
            # _read_layout just TTL-swept the dead file. Recreate it
            # with THIS batch's layout (the table's bucket dirs were
            # hashed by whoever keeps calling with this layout; a
            # mismatch surfaces on the next batch exactly like
            # first-write contention). FileNotFoundError: the sidecar
            # is GONE on an existing table — a READER already swept the
            # dead file (or an operator removed it per the repair
            # message); same heal. Inside the TTL the creator may be
            # alive mid-write — propagate, don't steal.
            if isinstance(exc, EmptyLayoutError) and not getattr(exc, "swept", False):
                raise
            from osmart_etl_spark.io.atomic import _listdir

            entries = _listdir(spark, base)
            bucketish = [e for e in entries if e.startswith("bucket=")]
            if isinstance(exc, FileNotFoundError):
                # heal ONLY a table that is recognizably this sink's
                # layout (bucket dirs, nothing else): a plain parquet
                # dir — or plain `__bucket=<b>` dirs — missing _layout
                # is a FOREIGN table; recreating a sidecar there would
                # silently shadow its rows (read_merge_table reads
                # committed bucket versions only). Keep the loud failure.
                foreign = [
                    e for e in entries
                    if not e.startswith((".", "_layout", "_stage-", "bucket="))
                ]
                if foreign or not bucketish:
                    raise
            # The heal pins THIS batch's layout, which the lost sidecar
            # can no longer confirm. Cross-check it against the on-disk
            # directories: a bucket id >= n_buckets proves the caller's
            # n_buckets is NOT what hashed this table — recreating the
            # sidecar would silently re-home keys and strand their old
            # versions (round-12 review). (A smaller-but-divisible lie
            # is undetectable from ids alone; the check catches the
            # common drift and the message says what to verify.)
            observed = [
                int(e.split("=", 1)[1])
                for e in bucketish
                if e.split("=", 1)[1].isdigit()
            ]
            if observed and max(observed) >= layout["n_buckets"]:
                raise ValueError(
                    f"refusing to heal _layout at {path}: on-disk bucket id "
                    f"{max(observed)} is outside this batch's n_buckets="
                    f"{layout['n_buckets']} — the table was created with a "
                    "different layout; recreate the sidecar by hand only "
                    "with the ORIGINAL n_buckets/keys."
                ) from exc
            if not _write_layout_exclusive(spark, layout_path, layout):
                stored = _read_layout(spark, layout_path)  # racer healed it
                if stored != layout:
                    raise ValueError(
                        f"merge_upsert_partitioned layout race at {path}: a "
                        f"concurrent healer pinned {stored}, this batch "
                        f"supplies {layout}."
                    )
            stored = layout
        if stored != layout:
            raise ValueError(
                f"merge_upsert_partitioned layout mismatch at {path}: "
                f"table was created with {stored}, this batch supplies {layout}. "
                "Changing n_buckets/keys re-homes keys to different directories; "
                "rebuild the table instead."
            )
    elif not _write_layout_exclusive(spark, layout_path, layout):
        # lost the creation race (round-11 contention probe: concurrent
        # first-writers used to collide overwriting the same sidecar) —
        # the winner's layout is authoritative; validate ours against it
        stored = _read_layout(spark, layout_path)
        if stored != layout:
            raise ValueError(
                f"merge_upsert_partitioned layout race at {path}: a concurrent "
                f"creator pinned {stored}, this batch supplies {layout}."
            )

    # ≤ n_buckets small ints — a bounded driver-side read, not a data scan.
    touched = sorted(r[0] for r in bucketed.select(_BUCKET_COL).distinct().collect())
    # snapshot each touched bucket's (version dir, committed seq): the
    # seq makes every publish a CAS — a writer that committed to the
    # same bucket after this read surfaces as ConcurrentCommitError
    # instead of a silently lost update (retry re-merges from the fresh
    # snapshot; keep-latest makes the retry converge)
    snapshots = {b: _bucket_snapshot(spark, base, b) for b in touched}
    old_dirs = [d for d, _seq in snapshots.values() if d is not None]
    if old_dirs:
        # the staged version dirs store only user columns (the bucket is
        # the directory); recompute the bucket from the keys — the same
        # deterministic hash — to restore the merge/partition column
        old_touched = spark.read.parquet(*old_dirs).withColumn(
            _BUCKET_COL, F.pmod(F.hash(*[F.col(k) for k in keys]), F.lit(n_buckets))
        )
        merged = upsert_keep_latest(old_touched, bucketed, keys, order_col)
    else:
        merged = bucketed
    merged = merged.localCheckpoint(eager=True)

    # Crash-safe per-bucket publish (round 10 — replaces the in-place
    # dynamic partition overwrite, whose delete-then-write window could
    # fail the job AFTER dropping partitions): stage every touched
    # bucket in ONE Spark job, then for each bucket rename the staged
    # directory to an immutable `bucket=<b>/_v-<token>` version and
    # CAS-publish it through io/atomic's commit log. A crash during
    # staging leaves every live bucket untouched; a crash between
    # bucket publishes leaves each bucket at a COMPLETE version (old or
    # new) and the keep-latest merge makes a replay of the same batch
    # converge — per-bucket atomicity + idempotent retry. Readers that
    # need a cross-bucket snapshot use `upsert_versioned` instead
    # (whole-table versions); this sink trades snapshot isolation for
    # O(delta) writes, and now loses nothing in a crash.
    token = uuid.uuid4().hex[:12]
    stage = f"{base}/_stage-{token}"
    # one shuffle task per touched bucket -> each version directory is
    # ~one file (a bucket is table_size/n_buckets by design, sized to
    # write in one task); without this, every one of the write's input
    # tasks leaves a file in every bucket it touches (n_par x buckets
    # small files per batch)
    (
        merged.repartition(max(len(touched), 1), F.col(_BUCKET_COL))
        .write.mode("overwrite")
        .partitionBy(_BUCKET_COL)
        .parquet(stage)
    )
    jvm, fs, _ = _fs(spark, base)
    Path = jvm.org.apache.hadoop.fs.Path
    # sweep crashed-writer staging debris (>1h old) — same TTL doctrine
    # as io/atomic._gc; never touches the current token's stage
    import time as _time

    for st in fs.listStatus(Path(base)):
        nm = st.getPath().getName()
        if (
            nm.startswith("_stage-")
            and nm != f"_stage-{token}"
            and st.getModificationTime() < (_time.time() - 3600.0) * 1000
        ):
            fs.delete(st.getPath(), True)
    for b in touched:
        bdir = f"{base}/bucket={b}"
        fs.mkdirs(Path(bdir))
        if not fs.rename(
            Path(f"{stage}/{_BUCKET_COL}={b}"), Path(f"{bdir}/_v-{token}")
        ):
            raise IOError(f"staging rename failed for bucket {b} under {base}")
        publish_staged(spark, bdir, token, expected_seq=snapshots[b][1])
    fs.delete(Path(stage), True)
    return touched


def writer_bucket_shard(
    df: DataFrame,
    keys: list[str],
    writer_id: int,
    n_writers: int,
    *,
    n_buckets: int = 64,
) -> DataFrame:
    """Shard a batch across W concurrent writers by merge bucket — the
    "shard writers by key range" operating rule (SCALE.md, merge sink
    under contention) as code (VERDICT r12 #5).

    Restricts ``df`` to the rows whose ``merge_upsert_partitioned``
    bucket this writer OWNS (``bucket % n_writers == writer_id``, with
    bucket computed by the sink's own hash — same pmod/hash, same key
    order, same ``n_buckets``). W writers that each apply their shard
    of a shared/replicated feed before merging touch pairwise-disjoint
    bucket directories, so the per-bucket CAS never conflicts: the
    fully-contended overlap storm becomes the zero-retry disjoint
    regime (SCALE.md's ``overlap_sharded`` row: the backoff-dominated
    wall collapses to protocol throughput).

    Use when every writer can see the same batch stream (replicated
    queue, fan-out consumer group) or as the ownership predicate when
    assigning key ranges to writers upstream. Writers with distinct,
    un-replicated inputs cannot use a filter to redistribute rows —
    route those through one writer per key range at the source instead.
    ``n_writers`` > ``n_buckets`` leaves some writers with no owned
    bucket (their shard is empty — harmless but wasteful).
    """
    if not 0 <= writer_id < n_writers:
        raise ValueError(f"writer_id {writer_id} not in [0, {n_writers})")
    bucket = F.pmod(F.hash(*[F.col(k) for k in keys]), F.lit(n_buckets))
    return df.filter(bucket % F.lit(n_writers) == F.lit(writer_id))


def _bucket_snapshot(
    spark: SparkSession, base: str, bucket: int
) -> tuple[str | None, int]:
    """(current committed version dir or None, committed seq — 0 for a
    never-written bucket) of one bucket."""
    from osmart_etl_spark.io.atomic import current_version
    from osmart_etl_spark.io.sources import path_exists

    bdir = f"{base}/bucket={bucket}"
    if not path_exists(spark, bdir):
        return None, 0
    cur = current_version(spark, bdir)
    return (None, 0) if cur is None else (f"{bdir}/_v-{cur[1]}", cur[0])


def _write_layout_exclusive(spark: SparkSession, layout_path: str, layout: dict) -> bool:
    """Create the ``_layout`` sidecar as ONE file with an exclusive
    create — the same CAS primitive as io/atomic's sequence locks — so
    concurrent table CREATORS race safely: exactly one wins, the loser
    returns False and validates against the winner's layout. Returns
    True if this writer created the sidecar."""
    import json as _json
    import os as _os

    from osmart_etl_spark.io.atomic import _assert_atomic_create_scheme, _fs

    data = _json.dumps(layout, sort_keys=True)
    jvm, fs, hpath = _fs(spark, layout_path)
    fs.mkdirs(hpath.getParent())
    scheme = fs.getUri().getScheme()
    if scheme == "file":
        local = hpath.toUri().getPath()
        try:
            fd = _os.open(local, _os.O_CREAT | _os.O_EXCL | _os.O_WRONLY)
        except FileExistsError:
            return False
        with _os.fdopen(fd, "w") as fh:
            fh.write(data)
        return True
    # same CAS-atomicity rule as io/atomic's commit locks: refuse
    # schemes whose create-no-overwrite is a check/act race
    _assert_atomic_create_scheme(spark, scheme)
    try:
        out = fs.create(hpath, False)
    except Exception as exc:  # py4j surfaces FileAlreadyExistsException
        if "AlreadyExists" in str(exc.__class__) + str(exc):
            return False
        raise
    out.write(bytearray(data.encode()))
    out.close()
    return True


class EmptyLayoutError(RuntimeError):
    """The ``_layout`` sidecar exists but has no content: a creator died
    between the exclusive create and the content write. Distinct from
    FileNotFoundError so a WRITER (which knows the layout it would have
    pinned) can self-heal by recreating the sidecar, while a reader gets
    an actionable message instead of a generic 'no readable layout'."""


def _read_layout(
    spark: SparkSession, layout_path: str, *, dead_ttl_s: float = 3600.0
) -> dict:
    """Read the ``_layout`` sidecar of a merge table (internal): one JSON
    file, written by ``_write_layout_exclusive``. A just-created file may
    be momentarily empty to a racing reader (create/write are two
    steps); retry briefly before giving up.

    A DIRECTORY at ``_layout`` is the Spark-written sidecar of the
    pre-commit-log layout, whose rows sit in plain ``__bucket=<b>`` dirs
    that no commit log covers. It raises ``RuntimeError`` and touches
    nothing, so neither ``merge_upsert_partitioned`` nor
    ``read_merge_table`` can treat such a table as empty.

    A PERMANENTLY empty sidecar (creator crashed between the exclusive
    create and the content write) would otherwise wedge the table
    forever: every reader/writer spins the full retry then fails. Same
    self-heal rule as io/atomic's dead-claim sweep — past ``dead_ttl_s``
    (mtime) the empty file is deleted so the next writer can recreate
    it; inside the TTL it might be a live creator mid-write, so only the
    distinct ``EmptyLayoutError`` is raised (round-12 ADVICE, low)."""
    import json as _json
    import time as _time

    from osmart_etl_spark.io.atomic import _fs, _read_small_text

    jvm, fs, hpath = _fs(spark, layout_path)
    saw_empty_file = False
    for _ in range(100):
        if not fs.exists(hpath):
            _time.sleep(0.05)
            continue
        if fs.getFileStatus(hpath).isDirectory():
            raise RuntimeError(
                f"{layout_path} is a directory: this merge table predates "
                "per-bucket commit logs and its rows sit in plain bucket dirs "
                "a merge would drop. Rebuild it: read those dirs and load them "
                "into a new merge_upsert_partitioned table."
            )
        content = _read_small_text(spark, layout_path)
        if content.strip():
            return _json.loads(content)
        saw_empty_file = True
        _time.sleep(0.05)  # winner mid-write
    if not (saw_empty_file and fs.exists(hpath)):
        raise FileNotFoundError(f"no readable layout at {layout_path}")
    age_s = _time.time() - fs.getFileStatus(hpath).getModificationTime() / 1000.0
    if age_s <= dead_ttl_s:
        exc = EmptyLayoutError(
            f"empty _layout sidecar at {layout_path}: a creator may be "
            f"mid-write (age {age_s:.0f}s <= TTL {dead_ttl_s:.0f}s); "
            "retry, or remove the file to repair if it persists"
        )
        exc.swept = False
        raise exc
    # TOCTOU guard (round-12 review): a healer may have swept and
    # RECREATED the sidecar with valid content between our last empty
    # read and this delete — re-read once and, if content appeared,
    # return it instead of deleting a freshly pinned layout.
    content = _read_small_text(spark, layout_path)
    if content.strip():
        return _json.loads(content)
    fs.delete(hpath, False)  # dead creation — sweep it
    exc = EmptyLayoutError(
        f"empty _layout sidecar at {layout_path} (creator died "
        f"mid-write, age {age_s:.0f}s > TTL {dead_ttl_s:.0f}s) — "
        "removed; the next merge_upsert_partitioned recreates it"
    )
    exc.swept = True
    raise exc


def read_merge_table(spark: SparkSession, path: str) -> DataFrame:
    """Read a ``merge_upsert_partitioned`` table: resolve every bucket's
    current committed version through its commit log (one directory
    listing per bucket — O(n_buckets) metadata, no data scan) and union
    the immutable version directories. An in-flight merge is invisible:
    unpublished ``_v-*`` staging never appears in a commit log. The
    ``_layout`` sidecar is read first, so a pre-commit-log table raises
    (see ``_read_layout``) instead of reading as empty."""
    from osmart_etl_spark.io.atomic import _listdir
    from osmart_etl_spark.io.sources import path_exists

    base = path.rstrip("/")
    if path_exists(spark, f"{base}/_layout"):
        _read_layout(spark, f"{base}/_layout")
    snapshots = (
        _bucket_snapshot(spark, base, int(name.split("=", 1)[1]))
        for name in _listdir(spark, base)
        if name.startswith("bucket=")
    )
    dirs = [d for d, _seq in snapshots if d is not None]
    if not dirs:
        raise FileNotFoundError(f"no committed buckets under {base}")
    return spark.read.parquet(*dirs)


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


def _additive_partial(
    updates: DataFrame,
    keys: list[str],
    sum_cols: list[str],
    max_cols: list[str] | None = None,
):
    """Per-key partial sums of a batch (map-side combined) with the
    accumulator types pinned ONCE. Convention: accumulated sums are
    0-based, not NULL-based (an all-NULL key stores 0) — applied
    identically on the first write and every merge, so a key's
    representation cannot depend on which batch it arrived in. This
    deliberately diverges from SQL SUM's all-NULL→NULL semantics;
    matching that incrementally would need a has-nonnull flag per
    column for no operational benefit. Without the cast-back, decimal
    sums widen by one digit per merge (28,2 → 29,2 → … → 38,2),
    changing the stored schema every batch until the cap.

    ``max_cols`` (round 12): keep-MAX accumulators alongside the sums —
    MAX is the other commutative/associative/idempotent monoid an
    incremental rollup needs (latest event time, high-water ids). NULLs
    stay NULL until a value arrives (MAX ignores NULLs on both the
    partial and the merge side), so an all-NULL key is distinguishable
    from one that saw an epoch-zero value."""
    max_cols = max_cols or []
    partial = updates.groupBy(*keys).agg(
        *[F.coalesce(F.sum(F.col(c)), F.lit(0)).alias(c) for c in sum_cols],
        *[F.max(F.col(c)).alias(c) for c in max_cols],
    )
    acc_types = {c: partial.schema[c].dataType.simpleString() for c in sum_cols}
    partial = partial.select(
        *keys,
        *[F.col(c).cast(acc_types[c]).alias(c) for c in sum_cols],
        *max_cols,
    )
    return partial, acc_types


def _additive_merge(
    cur: DataFrame,
    partial: DataFrame,
    keys: list[str],
    sum_cols: list[str],
    acc_types: dict,
    max_cols: list[str] | None = None,
) -> DataFrame:
    """Full-outer fold of a batch's partials into the aggregate table
    (one row per key ever — the compact thing a 100 TB event history
    folds down to). Sum columns add; ``max_cols`` keep the greatest
    value seen (F.greatest skips NULLs, so a one-sided key keeps its
    side's value)."""
    from functools import reduce

    max_cols = max_cols or []
    p = partial.select(
        *[F.col(k).alias(f"__k_{k}") for k in keys],
        *[F.col(c).alias(f"__u_{c}") for c in sum_cols + max_cols],
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
        *[
            F.greatest(cur[c], F.col(f"__u_{c}")).alias(c)
            for c in max_cols
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
    max_cols: list[str] | None = None,
) -> bool:
    """Exactly-once additive incremental-view maintenance: fold a batch's
    per-key partial sums (and ``max_cols`` maxima) into a materialized
    per-key aggregate table. The batch is reduced to per-key partials
    first (map-side combine), then full-outer merged into the table,
    which holds one row per key ever.

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

    Ledger size (round 12): ``batch_id`` accepts two forms, with two
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
    partial, acc_types = _additive_partial(updates, keys, sum_cols, max_cols)
    jvm, fs, _ = _fs(spark, base)

    if isinstance(batch_id, tuple):
        writer_id, seq = str(batch_id[0]), int(batch_id[1])
    else:
        writer_id, seq = None, None

    def _read_ledger(ver_dir: str) -> dict:
        return _parse_ledger_json(spark, f"{ver_dir}/_ledger.json")

    def _write_ledger(ver_dir: str, led: dict) -> None:
        # private staging dir — plain create, no exclusivity needed
        _write_small_json(spark, f"{ver_dir}/_ledger.json", {"v": 2, **led})

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
                ledger = _read_ledger(ver_dir)
                if _is_dup(ledger):
                    return False
                merged = _additive_merge(
                    spark.read.parquet(ver_dir), partial, keys, sum_cols,
                    acc_types, max_cols,
                )
                new_ledger = _applied(ledger)
                expected = cur[0]
            # staging reads the OLD version dir while writing the NEW one
            # — nothing pinned, a crash leaves the live table untouched.
            merged.write.mode("overwrite").parquet(stage)
            _write_ledger(stage, new_ledger)
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

