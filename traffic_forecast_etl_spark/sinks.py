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

The sink is a *path* (parquet dir) — at 100 TB it would be a
Delta/Iceberg table and ``MERGE INTO`` (jars not shipped in this
environment; the API surface is the same). MERGE (upsert) lives in
one place, :func:`..tablefmt.snapshot_merge`: an atomic manifest
commit with txn replay protection. The writer lease below serializes
its commits.
"""

from __future__ import annotations

import os
import uuid
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


class ConcurrentWriterError(RuntimeError):
    """Another live writer holds the table's writer lease."""


def _lease_path(path: str) -> str:
    return f"{path}__lease"


def acquire_writer_lease(
    path: str, holder: str | None = None, ttl_seconds: float = 600.0
) -> str:
    """Serialize concurrent writers on one table (every
    :mod:`..tablefmt` commit, and an ``ann_index`` append or
    recluster): an
    atomically-created ``__lease`` file (O_CREAT|O_EXCL — the POSIX
    lock primitive) naming the holder. A second writer arriving while
    the lease is live ABORTS with ConcurrentWriterError instead of
    entering the read-modify-write race (the later commit would
    silently drop the other writer's). A lease older than
    ``ttl_seconds`` belongs to a dead writer and is broken; the
    O_EXCL re-create decides between two simultaneous breakers.

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
                    f"table {path} is being written by {current} "
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
    batch_range: tuple | None = None,
) -> DataFrame:
    """The rows of ``batch`` (key-deduped) whose ``keys`` are absent
    from the sink at ``path`` — the plan ``insert_if_absent`` appends.
    Exposed so the pruning contract is testable: the existing-side
    scan must carry a pushed/partition filter on the batch's
    ``range_key`` range (see insert_if_absent docstring for why that
    restriction is sound, and for a caller's ``batch_range``)."""
    deduped = batch.dropDuplicates(list(keys))
    if not _sink_exists(spark, path):
        return deduped
    rk = range_key or keys[0]
    # the raw batch's range: dedup can only narrow it, and the probe
    # skips the dedup exchange. An empty batch has nothing to look up;
    # a batch of only null range values keeps the unfiltered scan
    lo, hi, n = batch_range or batch.agg(F.min(rk), F.max(rk), F.count(F.lit(1))).first()
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


def _observed_checkpoint(df: DataFrame, name: str, *metrics) -> tuple:
    """Eagerly local-checkpoint ``df``; return it and the JVM row of
    ``metrics`` observed as ``name`` in that pass, read off its own
    query: an ``Observation`` object registers with the session, which
    (Spark 4.1) then fails to serialize once a model holds it (a
    logistic regression's training summary): "Task not serializable"."""
    observed = df.observe(name, *metrics)
    out = observed.localCheckpoint(eager=True)
    return out, observed._jdf.queryExecution().observedMetrics().apply(name)  # noqa: SLF001


_FRESH_ROWS = "sinks.insert_if_absent.fresh_rows"


def insert_if_absent(
    spark: SparkSession,
    batch: DataFrame,
    path: str,
    keys: Sequence[str],
    partition_by: Sequence[str] | None = None,
    range_key: str | None = None,
    batch_range: tuple | None = None,
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

    Soundness: any range covering the batch's ``range_key`` values is
    sound; a wider one only admits more sink rows to the anti-join. A
    sink row equal to a batch row on ALL keys falls inside the batch's
    range of a key column. A non-key ``range_key`` (e.g. the timestamp
    a surrogate hash key derives from — the traffic sink's shape,
    where a range on the hash prunes nothing) is sound iff the keys
    determine its value, as the call site documents. ``batch_range``,
    a caller-observed ``(lo, hi, n)`` (e.g. of a superset frame),
    replaces the probe job; ``n == 0`` returns 0 and scans no sink.

    The fresh rows are materialized and counted in one observed pass
    and appended only when there are any: a replay writes no file,
    and a forecast-sized batch appends one. A lost executor fails the
    call; re-running it is a no-op for the rows already written.
    """
    if batch_range is not None and not batch_range[2]:
        return 0
    fresh, metrics = _observed_checkpoint(
        fresh_rows(spark, batch, path, keys, range_key, batch_range), _FRESH_ROWS, F.count(F.lit(1))
    )
    n = metrics.getLong(0)
    if n:  # writing no rows would still leave an empty part file
        writer = fresh.write.mode("append")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(path)
    return n
