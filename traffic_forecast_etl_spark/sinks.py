"""Idempotent sinks (SURVEY §2.1 S8-S10, §4 'not free' row).

The reference gets idempotence from Postgres `ON CONFLICT DO
NOTHING`, one row-at-a-time INSERT per forecast row
(dags/utils.py:206-215, 267-276). Spark has no upsert on plain
parquet and no enforced UNIQUE — the engine provides the set-based
equivalents:

  - ``insert_if_absent``: stage → anti-join against the sink keys
    RESTRICTED to the batch's key range (pushed filter / partition
    pruning — the scan is O(batch window), not O(sink lifetime)) →
    one observed materialization of the new keys, which counts them
    → append it only when it is non-empty. Re-running the same batch
    is a no-op that writes no file (the ON CONFLICT contract), and
    the write is one distributed append, not N commits — at a
    12-row forecast batch, one parquet file per append.
  - ``merge_upsert``: MERGE emulation for engines without
    Delta/Iceberg. With ``partition_by``, only the partitions the
    batch touches are read and rewritten (dynamic partition
    overwrite); unpartitioned sinks rewrite through a uniquely-named
    staging dir swapped by rename.

Both take the sink as a *path* (parquet dir) — at 100 TB these would
be Delta/Iceberg tables and ``MERGE INTO`` (jars not shipped in this
environment; the API surface is the same).
"""

from __future__ import annotations

import os
import shutil
import uuid
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


class ConcurrentWriterError(RuntimeError):
    """Another live writer holds the sink's merge lease."""


def _lease_path(path: str) -> str:
    return f"{path}__lease"


def acquire_writer_lease(
    path: str, holder: str | None = None, ttl_seconds: float = 600.0
) -> str:
    """Serialize concurrent ``merge_upsert`` writers on one sink: an
    atomically-created ``__lease`` file (O_CREAT|O_EXCL — the POSIX
    lock primitive) naming the holder. A second writer arriving while
    the lease is live ABORTS with ConcurrentWriterError instead of
    entering the read-modify-write race (last-rename-wins would
    silently drop the other writer's merge). A lease older than
    ``ttl_seconds`` belongs to a dead writer — the commit-marker
    recovery generalized — and is broken; the O_EXCL re-create
    decides between two simultaneous breakers.

    Returns the holder token; pass it to ``release_writer_lease``.
    Genuine multi-writer ISOLATION (concurrent merges that both
    commit) remains Delta/Iceberg territory; this lease makes the
    failure mode an explicit abort instead of silent lost updates.
    """
    import json
    import socket
    import time

    lease = _lease_path(path)
    holder = holder or f"{socket.gethostname()}:{os.getpid()}:{uuid.uuid4().hex[:8]}"
    for attempt in range(2):
        try:
            fd = os.open(lease, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            with os.fdopen(fd, "w") as f:
                json.dump({"holder": holder, "acquired_at": time.time()}, f)
                f.flush()
                os.fsync(f.fileno())
            return holder
        except FileExistsError:
            try:
                age = time.time() - os.path.getmtime(lease)
                with open(lease) as f:
                    current = json.load(f).get("holder", "<unknown>")
            except (OSError, ValueError):
                current, age = "<torn>", ttl_seconds + 1  # torn lease: break it
            if age <= ttl_seconds:
                raise ConcurrentWriterError(
                    f"sink {path} is being merged by {current} "
                    f"(lease age {age:.0f}s <= ttl {ttl_seconds:.0f}s); "
                    "retry after it finishes or raise ttl_seconds if the "
                    "holder is known dead"
                ) from None
            try:  # stale: break and re-contend via O_EXCL
                os.remove(lease)
            except FileNotFoundError:
                pass
    raise ConcurrentWriterError(f"could not acquire lease on {path}")


def release_writer_lease(path: str, holder: str) -> None:
    """Release ``holder``'s lease; a lease stolen after TTL expiry
    (no longer ours) is left for its new owner."""
    import json

    lease = _lease_path(path)
    try:
        with open(lease) as f:
            if json.load(f).get("holder") != holder:
                return
        os.remove(lease)
    except (OSError, ValueError):
        pass


def _sink_exists(spark: SparkSession, path: str) -> bool:
    # local-fs check is fine for this environment; on HDFS/S3 use the
    # Hadoop FileSystem API via spark._jvm (same semantics).
    return os.path.exists(path)


def fresh_rows(
    spark: SparkSession,
    batch: DataFrame,
    path: str,
    keys: Sequence[str],
    range_key: str | None = None,
) -> DataFrame:
    """The rows of ``batch`` (key-deduped) whose ``keys`` are absent
    from the sink at ``path`` — the plan ``insert_if_absent`` appends.
    Exposed so the pruning contract is testable: the existing-side
    scan must carry a pushed/partition filter on the batch's
    ``range_key`` range (see insert_if_absent docstring for why that
    restriction is sound)."""
    deduped = batch.dropDuplicates(list(keys))
    if not _sink_exists(spark, path):
        return deduped
    rk = range_key or keys[0]
    # the raw batch's range: dedup can only narrow it, and the probe
    # skips the dedup exchange. An empty batch has nothing to look up;
    # a batch of only null range values keeps the unfiltered scan
    lo, hi, n = batch.agg(F.min(rk), F.max(rk), F.count(F.lit(1))).first()
    if not n:
        return deduped
    # project the range key too when it is not a key column (e.g. a
    # time-ranged scan of a hash-keyed sink); the extra column rides
    # on the anti-join's build side and never reaches the output. The
    # batch's types give the scan its schema: no footer-inference job
    cols = list(dict.fromkeys([*keys, rk]))
    existing = spark.read.schema(StructType([batch.schema[c] for c in cols])).parquet(path)
    if lo is not None:
        existing = existing.filter(F.col(rk).between(F.lit(lo), F.lit(hi)))
    return deduped.join(existing, on=list(keys), how="left_anti")


_FRESH_ROWS = "sinks.insert_if_absent.fresh_rows"


def insert_if_absent(
    spark: SparkSession,
    batch: DataFrame,
    path: str,
    keys: Sequence[str],
    partition_by: Sequence[str] | None = None,
    range_key: str | None = None,
) -> int:
    """Append rows of ``batch`` whose ``keys`` are not yet in the sink
    (exactly `INSERT ... ON CONFLICT DO NOTHING`). Returns the number
    of rows appended. Duplicate keys *within* the batch are collapsed
    to the first occurrence, like the reference's per-row conflict
    checks would.

    The existing-side scan is restricted to the batch's
    ``[min, max]`` range of ``range_key`` (default: ``keys[0]``)
    before the anti-join — it stops the anti-join from rereading the
    sink's entire accumulated history every batch. The predicate
    reaches the parquet scan as a pushed min/max filter; with a
    layout partitioned on (a function of) the range key it becomes
    partition pruning. A steady 12-h ingest (reference
    dags/traffic_dag.py cadence) therefore scans O(batch window), not
    O(sink lifetime).

    Soundness: when ``range_key`` is a key column, a sink row equal
    to a batch row on ALL keys necessarily falls inside the batch's
    range of it. A non-key ``range_key`` (e.g. the timestamp a
    surrogate hash key derives from — the traffic sink's shape, where
    a range on the hash itself prunes nothing) is sound iff its value
    is functionally determined by the keys; that contract is the
    caller's to uphold and is documented at the call site.

    The fresh rows are materialized and counted in one observed pass
    and appended only when there are any: a replay writes no file,
    and a forecast-sized batch appends one.
    """
    # the count is a named observation read off the checkpoint's own
    # query: an ``Observation`` object would register with the
    # session's observation manager, which (Spark 4.1) leaves the
    # session unserializable, and a later model holding a session
    # reference (a logistic regression's training summary) then fails
    # with "Task not serializable". The checkpoint lives only between
    # the count and the write: a lost executor fails this call, and
    # re-running it is a no-op for the rows already written
    observed = fresh_rows(spark, batch, path, keys, range_key).observe(
        _FRESH_ROWS, F.count(F.lit(1)).alias("n")
    )
    fresh = observed.localCheckpoint(eager=True)
    metrics = observed._jdf.queryExecution().observedMetrics()  # noqa: SLF001
    n = metrics.apply(_FRESH_ROWS).getLong(0)
    if n:  # writing no rows would still leave an empty part file
        writer = fresh.write.mode("append")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(path)
    return n


def merge_upsert(
    spark: SparkSession,
    batch: DataFrame,
    path: str,
    keys: Sequence[str],
    partition_by: Sequence[str] | None = None,
    lease_ttl_seconds: float = 600.0,
) -> None:
    """MERGE (upsert) emulation on a parquet sink: keep existing rows
    whose key is absent from the batch, union the batch, rewrite.
    Last-writer-wins per key within the batch is made deterministic by
    dropDuplicates on keys.

    With ``partition_by`` the rewrite is PARTITION-SCOPED: only the
    partitions the batch touches are read (pruned scan) and rewritten
    (dynamic partition overwrite) — untouched history is never moved.
    A 12-h batch against a years-deep sink rewrites two date
    partitions, not the sink. CONTRACT: partition values must be
    functionally determined by ``keys`` (the date-derived-from-key
    layout this engine writes). If a key could change partitions
    between batches, its old row in the untouched partition would
    survive the merge — that shape needs the unpartitioned path or a
    transactional MERGE. Without ``partition_by`` the whole sink
    rewrites (unavoidable for an unpartitioned parquet dir) through a
    unique staging dir swapped in by rename.

    CRASH-SAFE publish, single-writer: the unpartitioned rewrite
    follows a commit-marker protocol — (1) write the complete staging
    dir, (2) atomically create a ``__commit_<token>`` marker naming
    it, (3) rename the old copy aside, (4) rename staging into place,
    (5) remove marker + old. A crash at ANY point leaves either the
    old or the new complete copy recoverable: ``recover_sink``
    (called here on entry, and by ``read_sink``) rolls the recorded
    intent forward — the marker is only ever written AFTER staging is
    complete, so roll-forward is always safe. What this protocol does
    NOT give is isolation against a CONCURRENT merge or a reader
    racing the rename pair (single-writer contract; a reader can
    still observe the sub-second gap between renames — use
    ``read_sink`` which retries through recovery). The transactional
    100 TB answer is Delta/Iceberg `MERGE INTO` — jars absent here,
    same call shape.

    CONCURRENT writers serialize on a TTL'd lease
    (``acquire_writer_lease``): the second merge to arrive while one
    is in flight raises ConcurrentWriterError and leaves the sink
    untouched — an explicit abort instead of last-rename-wins losing
    a merge. A crashed holder's lease expires after
    ``lease_ttl_seconds`` and the next writer breaks it (then rolls
    the crashed swap forward via recover_sink as before).
    """
    holder = acquire_writer_lease(path, ttl_seconds=lease_ttl_seconds)
    try:
        _merge_upsert_locked(spark, batch, path, keys, partition_by)
    finally:
        release_writer_lease(path, holder)


def _merge_upsert_locked(
    spark: SparkSession,
    batch: DataFrame,
    path: str,
    keys: Sequence[str],
    partition_by: Sequence[str] | None,
) -> None:
    recover_sink(path)
    deduped = batch.dropDuplicates(list(keys))
    exists = _sink_exists(spark, path)

    if partition_by and exists:
        if not deduped.limit(1).count():
            return  # empty batch: MERGE of nothing is a no-op
        # restrict the existing-side read to the touched partitions
        touched = deduped.select(*partition_by).distinct().collect()
        pred = None
        for row in touched:
            clause = None
            for c in partition_by:
                eq = F.col(c).eqNullSafe(F.lit(row[c]))
                clause = eq if clause is None else (clause & eq)
            pred = clause if pred is None else (pred | clause)
        existing = spark.read.parquet(path).filter(pred)
        kept = existing.join(deduped.select(*keys), on=list(keys), how="left_anti")
        # localCheckpoint breaks the plan's lineage to `path` so Spark
        # allows overwriting a path the job was derived from; it also
        # materializes only the touched partitions (small per batch)
        out = kept.unionByName(deduped).localCheckpoint(eager=True)
        (
            out.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(*partition_by)
            .parquet(path)
        )
        return

    if exists:
        existing = spark.read.parquet(path)
        kept = existing.join(deduped.select(*keys), on=list(keys), how="left_anti")
        out = kept.unionByName(deduped)
    else:
        out = deduped
    # unique staging dir (concurrent merges can't collide), then a
    # marker-protected rename swap: the marker is written only once
    # staging is COMPLETE, so recovery can always roll forward
    token = uuid.uuid4().hex
    tmp = f"{path}__staging_{token}"
    writer = out.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(tmp)
    old = f"{path}__old_{token}"
    _write_commit_marker(path, token, existed=exists)
    if exists:
        os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old, ignore_errors=True)
    os.remove(_marker_path(path, token))


def _marker_path(path: str, token: str) -> str:
    return f"{path}__commit_{token}"


def _write_commit_marker(path: str, token: str, existed: bool) -> None:
    """Atomically publish commit intent: a ``__commit_<token>`` file
    recording whether the sink existed pre-swap. Created via
    write-tmp + os.replace (atomic on POSIX), and ONLY after the
    staging dir is complete — the invariant recover_sink relies on."""
    import json

    marker = _marker_path(path, token)
    tmp = marker + ".tmp"
    with open(tmp, "w") as f:
        json.dump({"token": token, "existed": existed}, f)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, marker)


def recover_sink(path: str, min_marker_age_seconds: float = 0.0) -> str | None:
    """Roll an interrupted merge_upsert swap forward (or, if the
    staging copy is gone, back) so ``path`` is always a complete,
    readable table. Safe to call any time under the single-writer
    contract; called by merge_upsert on entry and by read_sink.

    Crash-state resolution per ``__commit_<token>`` marker (the
    marker exists only when staging was complete at write time):

    - staging present            → finish the swap: move any current
      ``path`` aside, rename staging into place  (crash between
      marker write and swap, or mid-swap before the final rename)
    - staging gone, path present → swap finished, cleanup died: drop
      the ``__old`` copy and the marker
    - staging gone, path gone    → roll back: restore the ``__old``
      copy (staging lost externally, e.g. janitor raced a dead
      writer)

    ``min_marker_age_seconds`` skips markers younger than the gate —
    callers that may run CONCURRENTLY with a live writer (the janitor,
    readers) pass a gate so an in-flight swap is never hijacked;
    the writer itself recovers its dead predecessor ungated.

    Returns the action taken ('rolled_forward', 'cleaned',
    'rolled_back') or None if no marker was found.
    """
    import json
    import time

    parent = os.path.dirname(os.path.abspath(path)) or "."
    base = os.path.basename(os.path.abspath(path))
    action = None
    if not os.path.isdir(parent):
        return None
    now = time.time()
    for name in sorted(os.listdir(parent)):
        if not name.startswith(base + "__commit_") or name.endswith(".tmp"):
            continue
        marker = os.path.join(parent, name)
        try:
            if now - os.path.getmtime(marker) < min_marker_age_seconds:
                continue  # plausibly a live writer's in-flight swap
            with open(marker) as f:
                token = json.load(f)["token"]
        except (OSError, ValueError, KeyError):
            continue  # torn marker file: .tmp never replaced — ignore
        staging = f"{path}__staging_{token}"
        old = f"{path}__old_{token}"
        if os.path.isdir(staging):
            if os.path.isdir(path):
                if os.path.isdir(old):  # defensive: not an in-protocol state
                    shutil.rmtree(path)
                else:
                    os.rename(path, old)
            os.rename(staging, path)
            action = "rolled_forward"
        elif os.path.isdir(path):
            action = "cleaned"
        elif os.path.isdir(old):
            os.rename(old, path)
            action = "rolled_back"
        else:  # nothing left to recover from; drop the stale marker
            action = "cleaned"
        shutil.rmtree(old, ignore_errors=True)
        os.remove(marker)
    return action


def read_sink(
    spark: SparkSession, path: str, swap_grace_seconds: float = 2.0
) -> DataFrame:
    """Read a merge_upsert-managed parquet sink, riding through the
    swap protocol: if ``path`` exists it is always a complete copy
    (old or new) — read it directly. If it is missing, either a live
    writer is inside the sub-second rename gap (wait it out) or the
    writer died mid-swap (age-gated recover_sink rolls the recorded
    intent forward). Either way the reader sees a complete table."""
    import time

    if os.path.isdir(path):
        return spark.read.parquet(path)
    deadline = time.time() + swap_grace_seconds
    while time.time() < deadline and not os.path.isdir(path):
        time.sleep(0.1)
    if not os.path.isdir(path):
        recover_sink(path, min_marker_age_seconds=swap_grace_seconds)
    return spark.read.parquet(path)
