"""Manifest-committed versioned parquet tables — atomic overwrite
without a table format (SURVEY.md §2.1 S7-S10 hardening).

Rewriting a plain directory in place (delete-then-write, or a
two-rename swap) leaves a window where a crash loses or hides the
table. The reference has the same exposure in its tmp-file
``os.replace`` CSV dance (dq_exclusions_csv.py) and simply accepts it.
Every keyed sink here (``upsert_versioned`` below, and
``merge_upsert_partitioned`` / ``merge_accumulate_versioned`` in
io/sinks.py) writes through this module instead.

This module removes the window with the two-phase protocol already
proven for the Python DataSource sink (io/pydatasource.py
JsonLinesWriter: stage under job-token names, publish via a manifest):

    table/
      _commits/00000001.lock          sequence claims (create-exclusive
                                      — the CAS primitive)
      _commits/00000001-<token>       commit log: one empty marker file
                                      per committed version, created
                                      ONCE and never rewritten
      _v-<token>/part-*.parquet       immutable version directories

- A writer stages a complete new version directory first (crash here
  leaves orphaned staging; the live table is untouched).
- Publishing claims the sequence number with ONE exclusive create of
  ``_commits/<seq>.lock`` (atomic at the HDFS namenode; on ``file:``
  paths via POSIX ``O_CREAT|O_EXCL`` on the driver, because Hadoop's
  RawLocalFileSystem implements ``overwrite=False`` as a non-atomic
  exists-then-create; one contended filename per sequence), then binds
  the claimed sequence to the staged token with the empty
  ``<seq>-<token>`` marker. A CAS writer (``expected_seq`` set) claims
  EXACTLY ``expected_seq+1``, so two racing writers cannot both claim
  a sequence and a racer that committed first is always detected:
  first wins, the loser's merge was based on a stale snapshot and must
  re-run — a real CAS.
- Readers resolve the highest committed sequence and read that version
  directory only: they never observe a partial write, and a reader
  mid-scan keeps a consistent snapshot because version directories are
  immutable (old versions are retained for ``keep_versions`` commits
  before GC, so one in-flight commit never yanks a current scan).

Underscore-prefixed names keep both the log and the staging invisible
to any stray ``spark.read.parquet(table)`` (Spark skips ``_``/``.``
paths), so a mis-aimed plain read fails loudly (no data files) instead
of returning a mix of versions.

Scale notes: the commit log is O(commits) empty files and version
resolution is one directory listing — no data scan. Each commit of
``upsert_versioned`` writes one full new version, which is the right
cost model for the keep-latest upsert below at dimension-table scale.
For 100 TB fact tables the bucket-granular ``merge_upsert_partitioned``
is the O(delta) path: a version directory holds only the buckets that
commit rewrote, plus a ``_manifest.json`` naming every live bucket's
data directory, older versions' included. It is still ONE
``publish_staged`` CAS per merge, so both upsert tiers share one
crash-safety story and a reader sees one cross-bucket snapshot.
``_gc`` keeps every directory a retained manifest names.
"""

from __future__ import annotations

import json
import logging
import os
import re
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

_MARKER_RE = re.compile(r"^(\d{8})-([0-9a-f]{12})$")
_LOCK_RE = re.compile(r"^(\d{8})\.lock$")

#: Manifest file of a version directory (io/sinks.merge_upsert_partitioned):
#: ``{"layout": {...}, "schema": "<DDL>", "buckets": {token: [[lo, hi], ...]},
#: "watermarks": {writer: value}}`` lists every live bucket under the
#: version whose directory holds it — this one for the buckets it rewrote,
#: older ones for the rest — as runs of consecutive bucket ids
#: (``manifest_buckets`` expands them), and each writer's watermark,
#: carried forward by every commit. Bucket ``b`` of version ``token`` is
#: ``bucket_dir(token, b)``. ``_gc`` keeps every bucket dir a retained
#: version's manifest names.
MANIFEST = "_manifest.json"
#: Partition column of a merge version's data: Spark's ``partitionBy``
#: writes bucket ``b`` to ``<version dir>/__bucket=<b>/``.
BUCKET_COL = "__bucket"

#: The table schema (DDL) of a ``commit_version`` version, which
#: ``read_committed`` reads it with.
SCHEMA_FILE = "_schema.json"

log = logging.getLogger(__name__)


class ConcurrentCommitError(RuntimeError):
    """Another writer published the sequence number this commit staged
    against: the staged version was derived from a stale snapshot.
    Re-read and retry the whole operation."""


def _fs(spark: SparkSession, path: str):
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    return jvm, hpath.getFileSystem(spark._jsc.hadoopConfiguration()), hpath


#: Filesystems whose ``create(path, overwrite=False)`` is a real atomic
#: check-and-create (enforced server-side at one metadata authority).
_ATOMIC_CREATE_SCHEMES = {"hdfs", "viewfs", "webhdfs", "ofs", "o3fs"}


def _assert_atomic_create_scheme(spark: SparkSession, scheme: str) -> None:
    """Refuse create-no-overwrite CAS claims on schemes not known (or
    attested) atomic — see ``_exclusive_create``. Shared by every
    exclusive-create site (commit locks, layout sidecars)."""
    if scheme in _ATOMIC_CREATE_SCHEMES:
        return
    conf = spark._jsc.hadoopConfiguration()
    attested = conf.getBoolean("osmart.etl.assume.atomic.create", False) or (
        scheme == "s3a"
        and conf.getBoolean("fs.s3a.create.conditional.enabled", False)
    )
    if not attested:
        raise RuntimeError(
            f"exclusive create on scheme '{scheme}' is not known to be "
            "atomic (classic S3A does HEAD-then-PUT — racing writers "
            "could both claim the commit lock and silently lose an "
            "update). Enable conditional creates "
            "(fs.s3a.create.conditional.enabled=true on Hadoop 3.4.1+) "
            "or set osmart.etl.assume.atomic.create=true to attest the "
            "store's create-no-overwrite is atomic."
        )


def _exclusive_create(spark: SparkSession, path: str) -> None:
    """Create an empty file, failing with ``FileExistsError`` if it
    already exists — the CAS primitive, and it must be TRULY atomic.

    Hadoop's ``fs.create(p, overwrite=False)`` is atomic at the HDFS
    namenode, but ``RawLocalFileSystem`` implements it as
    exists()-then-create — a check/act race. For ``file:`` paths the
    claim therefore goes through POSIX ``O_CREAT|O_EXCL`` on the
    driver, which the kernel guarantees exclusive.

    Object stores (round-12 review): classic S3A implements
    overwrite=False as HEAD-then-PUT — two racing writers can BOTH
    believe they claimed the lock and silently shadow each other, the
    exact lost update the lock exists to prevent. Rather than quietly
    degrade, unknown schemes are REFUSED unless the deployment attests
    atomicity: ``fs.s3a.create.conditional.enabled=true`` (Hadoop
    3.4.1+ maps create-no-overwrite onto S3 conditional writes /
    If-None-Match, which IS atomic) or the explicit
    ``osmart.etl.assume.atomic.create=true`` escape hatch for stores
    with conditional-create semantics (ABFS etag-gated create, GCS
    preconditions)."""
    jvm, fs, hpath = _fs(spark, path)
    scheme = fs.getUri().getScheme()
    if scheme == "file":
        local = hpath.toUri().getPath()
        fd = os.open(local, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        os.close(fd)
        return
    _assert_atomic_create_scheme(spark, scheme)
    try:
        fs.create(hpath, False).close()
    except Exception as exc:  # py4j surfaces FileAlreadyExistsException
        if "AlreadyExists" in str(exc.__class__) + str(exc):
            raise FileExistsError(path) from exc
        raise


def _read_small_text(spark: SparkSession, path: str) -> str:
    """One small metadata file → str, driver-side via the Hadoop FS API
    (works for file:, hdfs:, s3a:, …). The single shared read idiom for
    every sidecar/ledger/layout file (round-12 review: five copies of
    the IOUtils dance collapsed here)."""
    jvm, fs, hpath = _fs(spark, path)
    stream = fs.open(hpath)
    try:
        return jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
    finally:
        stream.close()


def _read_small_json(spark: SparkSession, path: str) -> dict | None:
    """One small metadata file → JSON, or None when it does not exist."""
    _, fs, hpath = _fs(spark, path)
    if not fs.exists(hpath):
        return None
    return json.loads(_read_small_text(spark, path))


def _write_small_json(
    spark: SparkSession, path: str, obj, *, overwrite: bool = True
) -> None:
    """One small metadata file ← JSON, driver-side (the write twin of
    ``_read_small_text``; sort_keys for byte-stable artifacts)."""
    jvm, fs, hpath = _fs(spark, path)
    out = fs.create(hpath, overwrite)
    out.write(bytearray(json.dumps(obj, sort_keys=True, separators=(",", ":")).encode()))
    out.close()


def bucket_dir(token: str, bucket: int) -> str:
    """Table-relative data directory of ``bucket`` in version ``token``."""
    return f"_v-{token}/{BUCKET_COL}={bucket}"


def manifest_buckets(manifest: dict) -> dict[int, str]:
    """bucket -> token of the version whose directory holds it."""
    return {
        b: token
        for token, runs in manifest["buckets"].items()
        for lo, hi in runs
        for b in range(lo, hi + 1)
    }


def manifest_runs(held: dict[int, str]) -> dict[str, list[list[int]]]:
    """The inverse of ``manifest_buckets``: token -> runs of consecutive
    buckets, which keeps a manifest a few hundred bytes however many
    buckets a version lists."""
    runs: dict[str, list[list[int]]] = {}
    for b in sorted(held):
        r = runs.setdefault(held[b], [])
        if r and r[-1][1] == b - 1:
            r[-1][1] = b
        else:
            r.append([b, b])
    return runs


def read_manifest(spark: SparkSession, table: str, token: str) -> dict | None:
    """The ``MANIFEST`` of version ``_v-<token>``, or None when that
    version carries none (a table no merge sink wrote)."""
    return _read_small_json(spark, f"{table.rstrip('/')}/_v-{token}/{MANIFEST}")


def _listdir(spark: SparkSession, path: str) -> list[str]:
    jvm, fs, hpath = _fs(spark, path)
    if not fs.exists(hpath):
        return []
    return [st.getPath().getName() for st in fs.listStatus(hpath)]


def _commit_log(spark: SparkSession, table: str) -> list[tuple[int, str]]:
    """(seq, token) pairs from the commit log, ascending. Non-conforming
    names (e.g. a crashed publisher's temp marker) are ignored."""
    out = []
    for name in _listdir(spark, f"{table.rstrip('/')}/_commits"):
        m = _MARKER_RE.match(name)
        if m:
            out.append((int(m.group(1)), m.group(2)))
    return sorted(out)


def current_version(spark: SparkSession, table: str) -> tuple[int, str] | None:
    """Latest committed (seq, token), or None for an empty/absent table."""
    log = _commit_log(spark, table)
    return log[-1] if log else None


def read_committed(spark: SparkSession, table: str, at: int | None = None) -> DataFrame:
    """Read the latest committed version (or, with ``at``, a retained
    historical sequence — bounded time travel for free from the
    immutable-version layout). A version ``commit_version`` wrote is
    read with the schema it recorded, which spares a schema-inference
    job; other versions infer it."""
    log = _commit_log(spark, table)
    if not log:
        raise FileNotFoundError(f"no committed version at {table}")
    if at is None:
        seq, token = log[-1]
    else:
        match = [(s, t) for s, t in log if s == at]
        if not match:
            raise FileNotFoundError(
                f"version {at} not in commit log at {table} "
                f"(have {[s for s, _ in log]})"
            )
        seq, token = match[0]
    ver = f"{table.rstrip('/')}/_v-{token}"
    recorded = _read_small_json(spark, f"{ver}/{SCHEMA_FILE}")
    reader = spark.read if recorded is None else spark.read.schema(recorded["schema"])
    return reader.parquet(ver)


def commit_version(
    spark: SparkSession,
    df: DataFrame,
    table: str,
    *,
    expected_seq: int | None = None,
    keep_versions: int = 2,
    partition_by: tuple[str, ...] = (),
    orphan_ttl_s: float = 3600.0,
    sidecar: dict | None = None,
) -> int:
    """Write ``df`` as the table's next version and publish it atomically.

    Phase 1 (staging): the full version directory ``_v-<token>`` is
    written. A crash anywhere in this phase leaves the live table
    untouched (orphan swept by the next successful commit).

    Phase 2 (publish): a hidden temp marker is renamed to
    ``_commits/<next_seq>-<token>`` — one atomic, no-replace rename.
    ``expected_seq`` (the sequence this write was derived from; None =
    creating) turns the publish into a compare-and-swap: if any other
    writer committed in between, ``ConcurrentCommitError`` is raised
    and the staged orphan is removed.

    ``sidecar`` (round 12): optional JSON-serializable table stats —
    e.g. per-key histogram summaries a downstream tick uses for skew
    dispatch — written as ``_sidecar.json`` INSIDE the staged version
    directory before publish, so stats and data are one atomic commit
    (the same transactional trick as the accumulate sink's ledger).
    Underscore-prefixed, invisible to parquet reads; read it back with
    :func:`read_sidecar`. The version's schema is recorded the same way
    (``SCHEMA_FILE``), so ``read_committed`` reads it without inference.

    Returns the committed sequence number.
    """
    base = table.rstrip("/")
    token = uuid.uuid4().hex[:12]

    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(f"{base}/_v-{token}")
    # partition columns read back last, after the data columns
    fields = [f for f in df.schema if f.name not in partition_by]
    fields += [df.schema[c] for c in partition_by]
    _write_small_json(
        spark, f"{base}/_v-{token}/{SCHEMA_FILE}", {"schema": StructType(fields).toDDL()}
    )
    if sidecar is not None:
        _write_small_json(spark, f"{base}/_v-{token}/_sidecar.json", sidecar)

    return publish_staged(
        spark,
        base,
        token,
        expected_seq=expected_seq,
        keep_versions=keep_versions,
        orphan_ttl_s=orphan_ttl_s,
    )


def publish_staged(
    spark: SparkSession,
    table: str,
    token: str,
    *,
    expected_seq: int | None = None,
    keep_versions: int = 2,
    orphan_ttl_s: float = 3600.0,
) -> int:
    """Phase 2 of ``commit_version``, exposed for callers that stage
    ``_v-<token>`` themselves (the merge sink writes its touched buckets
    and manifest there; the watermark store writes one JSON file):
    claim the next sequence with one exclusive create, bind it to the
    token with the marker file, GC. The staged directory must already
    be complete — a crash before this call leaves the live table
    untouched and the orphan swept later."""
    base = table.rstrip("/")
    jvm, fs, _ = _fs(spark, base)

    commits = _commit_log(spark, base)
    last_seq = commits[-1][0] if commits else 0
    if expected_seq is not None and last_seq != expected_seq:
        fs.delete(jvm.org.apache.hadoop.fs.Path(f"{base}/_v-{token}"), True)
        raise ConcurrentCommitError(
            f"{base}: derived from seq {expected_seq} but log is at {last_seq}"
        )
    commits_dir = f"{base}/_commits"
    fs.mkdirs(jvm.org.apache.hadoop.fs.Path(commits_dir))
    if expected_seq is not None:
        # CAS path: claim EXACTLY expected_seq + 1. Claiming any later
        # number would reopen the skip-ahead hole (round-7 fix): a racer
        # that claimed AND committed expected_seq+1 in the window between
        # our log read above and a lock scan here would pass unnoticed —
        # our exclusive create at a higher sequence would succeed and
        # silently supersede the racer's version with a merge derived
        # from a stale snapshot. With the exact claim, any occupant of
        # expected_seq+1 (committed racer OR a crashed claimant's dead
        # lock) surfaces as ConcurrentCommitError; a dead claim makes
        # that conflict spurious until the TTL GC sweeps it — a bounded
        # liveness cost, never a lost update.
        next_seq = expected_seq + 1
    else:
        # Blind write (create / overwrite-latest — no derived-from
        # contract to protect): next sequence skips DEAD CLAIMS too (a
        # lock whose marker never appeared): claimed, never reused.
        lock_seqs = [
            int(m.group(1))
            for m in (_LOCK_RE.match(n) for n in _listdir(spark, commits_dir))
            if m
        ]
        next_seq = max([last_seq, *lock_seqs]) + 1

    # Publish phase 1 — CLAIM the sequence number: one exclusive create
    # of ``<seq>.lock``. A single contended filename per sequence is
    # what makes this a real CAS (the token-suffixed marker alone is
    # not: two racers would create two different filenames for the same
    # sequence and both "succeed"). The create is namenode-atomic on
    # HDFS and O_CREAT|O_EXCL-atomic on local paths (_exclusive_create);
    # a rename would NOT work as the primitive because Hadoop's local
    # filesystem maps it to POSIX rename(2), which silently replaces
    # the destination. Once we hold the lock for expected_seq+1, no
    # other writer can publish that sequence (markers require the
    # lock), so no post-claim log re-read is needed: any concurrent
    # commit either landed before our staleness check (caught there) or
    # needed this very lock (caught here).
    try:
        _exclusive_create(spark, f"{commits_dir}/{next_seq:08d}.lock")
    except FileExistsError as exc:
        # a racer (or a crashed claimant) holds next_seq
        fs.delete(jvm.org.apache.hadoop.fs.Path(f"{base}/_v-{token}"), True)
        raise ConcurrentCommitError(
            f"{base}: lost publish race for seq {next_seq}"
        ) from exc

    # Publish phase 2 — the marker binds the claimed sequence to the
    # staged version's token. Content-free: existence IS the commit,
    # so there is no partially-written state a reader could observe.
    # Uncontended (we own the sequence), so plain create. A crash
    # between claim and marker leaves a dead claim: invisible to
    # readers (resolution walks markers only), never reused by writers
    # (see next_seq above), swept by GC once stale.
    final = jvm.org.apache.hadoop.fs.Path(f"{commits_dir}/{next_seq:08d}-{token}")
    fs.create(final, True).close()

    # The commit is durable from here. GC is best-effort: any residual
    # cross-writer race in the sweep must not convert a SUCCESSFUL
    # publish into an apparent failure (the next commit re-runs GC).
    try:
        _gc(spark, base, keep_versions, orphan_ttl_s)
    except Exception:  # noqa: BLE001 — GC retries on the next commit
        log.warning("%s: GC after commit %d failed", base, next_seq, exc_info=True)
    return next_seq


def _gc(
    spark: SparkSession, base: str, keep_versions: int, orphan_ttl_s: float
) -> None:
    """Retire version directories beyond the retention horizon, plus
    crashed-writer debris (``_v-*`` staging no commit ever referenced
    and stale ``.tmp-*`` markers). Never touches the last
    ``keep_versions`` committed versions, so concurrent readers of the
    previous version survive this commit.

    Unreferenced staging is only swept once OLDER than
    ``orphan_ttl_s`` (filesystem modification time): a concurrent
    writer mid-staging is indistinguishable from a crashed one by name
    alone, and deleting its directory just before it publishes would
    commit a data-less version — the exact class of race the CAS
    publish exists to prevent. Set the TTL above the longest staging
    write (Delta's VACUUM retention rule, same reasoning). Versions in
    RETIRED commit markers carry no such ambiguity (they were
    published; no writer still owns them) and are removed
    unconditionally.

    A retired version that a retained version's ``MANIFEST`` still
    names keeps the named directories and its commit marker; the rest
    of it is swept. Once no retained manifest names it, it goes like
    any retired version, so a merge table holds at most
    ``keep_versions`` manifests' worth of bucket directories."""
    import time

    jvm, fs, _ = _fs(spark, base)
    log = _commit_log(spark, base)
    committed = {token for _, token in log}
    live = {token for _, token in log[-keep_versions:]}
    horizon_ms = (time.time() - orphan_ttl_s) * 1000.0
    named: dict[str, set[str]] = {}  # token -> bucket dirs a retained manifest names
    for token in live:
        manifest = read_manifest(spark, base, token)
        for b, held in (manifest_buckets(manifest) if manifest else {}).items():
            named.setdefault(held, set()).add(f"{BUCKET_COL}={b}")

    def _old_enough(path: str) -> bool:
        p = jvm.org.apache.hadoop.fs.Path(path)
        try:
            return fs.getFileStatus(p).getModificationTime() <= horizon_ms
        except Exception:  # noqa: BLE001 — racing GC already removed it
            # Concurrent writers each run this sweep; a path listed a
            # moment ago may be gone by the stat. "Already gone" means
            # nothing to sweep — it must NOT abort the publish that
            # invoked this GC (round-11 contention probe: an abort here
            # surfaced AFTER the commit marker existed, tricking the
            # caller's cleanup into deleting a published version).
            return False

    for name in _listdir(spark, base):
        if not name.startswith("_v-") or name[3:] in live:
            continue
        full = f"{base}/{name}"
        if name[3:] in named:
            for sub in _listdir(spark, full):
                if sub not in named[name[3:]]:
                    fs.delete(jvm.org.apache.hadoop.fs.Path(f"{full}/{sub}"), True)
        elif name[3:] in committed or _old_enough(full):
            fs.delete(jvm.org.apache.hadoop.fs.Path(full), True)
    marker_seqs = {seq for seq, _ in log}
    for name in _listdir(spark, f"{base}/_commits"):
        full = f"{base}/_commits/{name}"
        m = _MARKER_RE.match(name)
        lk = _LOCK_RE.match(name)
        if m and m.group(2) not in live and m.group(2) not in named:
            fs.delete(jvm.org.apache.hadoop.fs.Path(full), False)
        elif lk and (int(lk.group(1)) in marker_seqs or _old_enough(full)):
            # a lock whose marker exists is a resolved claim; a stale
            # markerless lock is a dead claim (TTL-gated: inside the
            # TTL it may be a live writer between claim and marker)
            fs.delete(jvm.org.apache.hadoop.fs.Path(full), False)
        elif not m and not lk and _old_enough(full):
            # foreign debris (e.g. an editor/tool temp file) — swept on
            # the same TTL so resolution listings stay small
            fs.delete(jvm.org.apache.hadoop.fs.Path(full), False)


def read_sidecar(
    spark: SparkSession, table: str, version: tuple[int, str] | None = None
) -> dict | None:
    """Stats sidecar (``_sidecar.json``) of ``version`` (a
    ``current_version`` pair; default the table's CURRENT committed
    version), or None when the version carries none. One file read at
    the commit log's altitude — never a Spark job."""
    base = table.rstrip("/")
    cur = version or current_version(spark, base)
    if cur is None:
        return None
    return _read_small_json(spark, f"{base}/_v-{cur[1]}/_sidecar.json")


def upsert_versioned(
    spark: SparkSession,
    new: DataFrame,
    table: str,
    keys: list[str],
    order_col: str,
    *,
    keep_versions: int = 2,
    sidecar: dict | None = None,
    expected_seq: int | None = None,
) -> int:
    """Keep-latest upsert (S7/S8 semantics, io/sinks.upsert_keep_latest)
    materialized through the commit log:

    - no ``localCheckpoint(eager=True)`` barrier — the merge reads the
      OLD version directory while writing a NEW one, so nothing is ever
      pinned in executor memory and an executor loss mid-write just
      fails the staging job, old table intact;
    - a crash at ANY point leaves the previous version fully readable;
    - a concurrent upsert is detected (CAS on the sequence), not
      silently lost.

    The table directory holds only ``_``/``.``-prefixed entries (the
    commit log and version directories). Any other entry — plain
    parquet written by some other tool, or a stray file — is refused
    with a ``RuntimeError`` naming it and is left untouched: merging
    without it would drop its rows, and deleting it is not this sink's
    call. Move such files aside, or load them as the first batch.

    ``expected_seq`` is the sequence the caller derived ``new`` from (0
    for an empty table). If the log has moved past it, the upsert raises
    ``ConcurrentCommitError`` before any Spark work; otherwise it merges
    with that version and publishes with a CAS on it. None takes the
    current version.
    """
    from osmart_etl_spark.io.sinks import upsert_keep_latest

    base = table.rstrip("/")
    plain = sorted(n for n in _listdir(spark, base) if not n.startswith(("_", ".")))
    if plain:
        raise RuntimeError(
            f"{base}: holds entries outside the commit log {plain} — refusing "
            "to upsert over rows it cannot read. Move them aside or re-point "
            "the sink."
        )
    cur = current_version(spark, base)
    seq = cur[0] if cur else 0
    if expected_seq is not None and expected_seq != seq:
        raise ConcurrentCommitError(f"{base}: derived from seq {expected_seq} but log is at {seq}")
    if cur is None:
        # Round-9 (ADVICE): the create path CAS-claims exactly lock
        # 00000001, and _gc — the only thing that TTL-sweeps a crashed
        # claimant's dead markerless lock — otherwise runs only AFTER a
        # successful commit on this table, which a dead first lock
        # makes unreachable: every retry would raise
        # ConcurrentCommitError forever. Sweep on entry instead; inside
        # the TTL the conflict stays (could be a live racer mid-publish,
        # the documented bounded-liveness window), past it the table
        # unwedges itself.
        _gc(spark, base, keep_versions, 3600.0)
        # expected_seq=0, NOT None: a blind create would let two
        # concurrent FIRST upserts both publish (the second computes
        # next_seq past the first's lock and silently shadows its
        # batch). Claiming exactly seq 1 makes the loser surface as
        # ConcurrentCommitError — the same CAS every later upsert gets.
        merged = upsert_keep_latest(None, new, keys, order_col)
    else:
        merged = upsert_keep_latest(read_committed(spark, base), new, keys, order_col)
    return commit_version(
        spark, merged, base, expected_seq=seq,
        keep_versions=keep_versions, sidecar=sidecar,
    )
