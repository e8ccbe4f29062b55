"""Structured Streaming plane (SURVEY §2.7).

The reference's "real-time" plane is a 12-hour polled Airflow DAG
with ON-CONFLICT dedup (dags/DAG.py:23, dags/utils.py:210). The
engine models it as Structured Streaming:

  - ``trigger(availableNow=True)`` = run-to-completion micro-batch —
    the scheduler-friendly form of the 12-hour poll (R2);
  - ``foreachBatch`` + a txn-keyed snapshot commit (tablefmt.py)
    gives effectively-exactly-once delivery;
  - windowed/session aggregations are the streaming twins of catalog
    queries w5/w7 — same operators, same semantics, batch and stream.

At 100 TB-scale streams the same topology holds: source partitions
map to Kafka partitions, watermark bounds state, and the sink's
anti-join key set is the only per-batch lookup.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

def _events_schema(ts_type: T.DataType) -> T.StructType:
    return T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", ts_type),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )


# default published schema: instant-typed ts (what every downstream
# operator consumes after read_events_stream's normalization)
EVENTS_SCHEMA = _events_schema(T.TimestampType())


def _peek_ts_encoding(path_dir: str) -> str:
    """A file-source stream needs its schema declared up front, but
    the events `ts` column has three on-disk encodings in the wild:
    INT64 TIMESTAMP(NANOS) (pandas datetime64[ns] via some writers),
    timestamp[us] with isAdjustedToUTC=false (pandas/pyarrow default
    — Spark reads TIMESTAMP_NTZ), and UTC-adjusted timestamp (Spark's
    own writer). Peek ONE parquet footer driver-side (O(KB), plan
    build time) and pick the matching declared type; the stream then
    normalizes to instant-typed micros whatever the source wrote."""
    import glob as _glob
    import os as _os

    cands: list[str] = []
    for p in sorted(_glob.glob(path_dir)) or [path_dir]:
        if _os.path.isdir(p):
            cands.extend(
                sorted(_glob.glob(_os.path.join(p, "**", "*.parquet"), recursive=True))
            )
        elif _os.path.isfile(p):
            cands.append(p)
    for f in cands:
        try:
            import pyarrow.parquet as pq

            typ = pq.read_schema(f).field("ts").type
        except Exception:
            continue
        if str(typ) == "int64":
            return "nanos_long"
        if getattr(typ, "tz", None) is None and str(typ).startswith("timestamp"):
            return "ntz"
        return "utc"
    return "utc"


def read_events_stream(spark: SparkSession, path_dir: str) -> DataFrame:
    """File-source stream over the events parquet directory (the
    local stand-in for a Kafka topic; swap format for production).
    Output `ts` is always instant-typed TimestampType (UTC session),
    regardless of the source file encoding — see _peek_ts_encoding."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    if path_dir.endswith(".parquet"):
        # the file-stream source wants a directory or a glob; a bare
        # file path trips its basePath inference — turn the file into
        # a single-match glob
        path_dir = path_dir[: -len("parquet")] + "parq*"
    kind = _peek_ts_encoding(path_dir)
    if kind == "nanos_long":
        raw = spark.readStream.schema(_events_schema(T.LongType())).parquet(path_dir)
        # integer `div` — see sources/tables.py: double division loses
        # integer precision on epoch-nanos
        return raw.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    if kind == "ntz":
        raw = spark.readStream.schema(_events_schema(T.TimestampNTZType())).parquet(
            path_dir
        )
        # naive-UTC on disk, UTC session tz -> pure re-tag to instant
        return raw.withColumn("ts", F.col("ts").cast("timestamp"))
    return spark.readStream.schema(EVENTS_SCHEMA).parquet(path_dir)


def streaming_tumbling_agg(
    events: DataFrame, window: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Streaming twin of catalog w5: watermarked tumbling-window
    count/sum per event_type (append-mode capable)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy("event_type", F.window("ts", window).alias("w"))
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 6).alias("sum_value"))
        .select("event_type", F.col("w.start").alias("win_start"), "n", "sum_value")
    )


def streaming_sessionize(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Streaming twin of catalog w7 using the native session_window
    operator (gap-based, state bounded by the watermark)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id", F.session_window("ts", gap).alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 6).alias("session_value"))
        .select("user_id", F.col("w.start").alias("session_start"), "n_events", "session_value")
    )


def streaming_interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str = "user_id",
    interval: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream INNER equi-join with a time-range condition —
    the remaining core Structured Streaming operator family (st1
    covers windowed agg, st2 sessions, st3 custom state). Both sides
    carry a watermark and the join predicate bounds right.ts to
    [left.ts, left.ts + interval], so Spark derives a state watermark
    for BOTH buffers: each side holds at most watermark + interval of
    history, regardless of stream length — the property that makes
    the join runnable forever at 100 TB/day (state is O(rate ×
    window), not O(stream)).

    Semantics: each left event pairs with every right event of the
    same key within the interval after it (e.g. "view followed by
    purchase within the hour") — matches emit once (append mode).
    """
    l = left.withWatermark("ts", watermark).select(
        F.col(key).alias("__k"),
        F.col("ts").alias("l_ts"),
        F.col("event_id").alias("l_event_id"),
        F.col("value").alias("l_value"),
    )
    r = right.withWatermark("ts", watermark).select(
        F.col(key).alias("__r_k"),
        F.col("ts").alias("r_ts"),
        F.col("event_id").alias("r_event_id"),
        F.col("value").alias("r_value"),
    )
    cond = (
        (l["__k"] == r["__r_k"])
        & (r["r_ts"] >= l["l_ts"])
        & (r["r_ts"] <= l["l_ts"] + F.expr(f"INTERVAL {interval}"))
    )
    return l.join(r, cond, "inner").select(
        F.col("__k").alias(key),
        "l_event_id",
        "r_event_id",
        "l_ts",
        "r_ts",
        F.round(F.col("l_value") + F.col("r_value"), 6).alias("pair_value"),
    )


def streaming_rollup_maintenance(
    events: DataFrame,
    rollup_path: str,
    window: str = "1 hour",
    watermark: str = "2 hours",
    checkpoint: str | None = None,
) -> StreamingQuery:
    """CONTINUOUS AGGREGATE maintenance — the hypertable-rollup /
    materialized-view pattern: a watermarked tumbling-window aggregate
    in UPDATE output mode, whose changed windows are MERGEd per
    micro-batch into a :mod:`..tablefmt` snapshot table keyed by
    (win_start, event_type) — :func:`streaming_snapshot_merge`.

    Why this shape at 100 TB:
      - update mode emits only windows whose aggregate CHANGED this
        micro-batch (O(touched windows) rows, never the full history);
      - the state store holds open windows only — the watermark closes
        and evicts them, so state is O(windows within watermark), not
        O(stream length);
      - ``snapshot_merge`` prunes files by the min/max of the leading
        key, ``win_start`` (``event_type`` prunes nothing): a
        late-arriving correction rewrites the few files whose window
        range it overlaps, not years of history;
      - the rollup is then a snapshot table any reader scans
        (``snapshot_read``) WITHOUT re-aggregating the raw stream, and
        never half-published: each micro-batch is one atomic commit.

    Late data inside the watermark folds in automatically (the window
    re-emits with its corrected aggregate and the MERGE replaces that
    row); data later than the watermark is dropped by the aggregate —
    the documented streaming-semantics tradeoff.

    Restart-safe: the checkpoint carries watermark + window state, so
    an AvailableNow tick per scheduler run (R2's cadence) resumes
    exactly; replaying a tick with no new files merges zero rows. Each
    micro-batch commits under ``(txn_app, epoch_id)`` with ``txn_app``
    naming the checkpoint, so a redelivered epoch commits nothing.
    Without a checkpoint Spark's temporary one restarts epoch ids at
    0, so every such run takes a fresh ``txn_app``.
    """
    import os
    import uuid

    agg = (
        events.withWatermark("ts", watermark)
        .groupBy("event_type", F.window("ts", window).alias("w"))
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 6).alias("sum_value"))
        .select(F.col("w.start").alias("win_start"), "event_type", "n", "sum_value")
    )
    lineage = os.path.abspath(checkpoint) if checkpoint else uuid.uuid4().hex
    return streaming_snapshot_merge(
        agg,
        rollup_path,
        keys=["win_start", "event_type"],
        txn_app=f"streaming_rollup_maintenance:{lineage}",
        checkpoint=checkpoint,
    )


def streaming_snapshot_merge(
    stream: DataFrame,
    table_path: str,
    keys: list[str],
    txn_app: str = "streaming_snapshot_merge",
    checkpoint: str | None = None,
    trigger: dict | None = None,
    change_feed: bool = False,
) -> StreamingQuery:
    """EXACTLY-ONCE streaming upsert into a :mod:`..tablefmt`
    snapshot table: each micro-batch is one versioned, atomically
    published MERGE commit carrying ``(txn_app, epoch_id)``.

    foreachBatch is AT-LEAST-ONCE — a crash between the sink call and
    the checkpoint advance redelivers the same epoch on restart. The
    table turns that into exactly-once: the manifest's writer-app →
    last-version map (carried forward through every commit, so it
    survives history expiry) makes the replayed ``snapshot_merge`` a
    structural NO-OP — the Delta txnAppId/txnVersion pattern on the
    plain-parquet format.

    Readers get point-in-time snapshots and time travel while the
    stream is mid-commit — a reader never sees a half-published
    micro-batch. The stream is written in UPDATE output mode: an
    upsert sink consumes changed rows, so an aggregating stream (the
    st6 rollup, :func:`streaming_rollup_maintenance`) emits only the
    windows a micro-batch touched; a non-aggregating stream emits
    every new row (Spark treats update mode as append there).

    CAVEAT (same as Delta's txnAppId contract): ``txn_app`` names a
    (logical stream, checkpoint lineage) pair. Epoch ids restart at 0
    under a NEW checkpoint, so pointing a fresh-checkpoint stream with
    NEW data at the same table under the SAME txn_app silently skips
    its early batches as "replays". Starting over on purpose →
    new txn_app; recovering the same stream → keep both.

    ``trigger`` is passed straight to ``DataStreamWriter.trigger``
    (e.g. ``{"processingTime": "10 seconds"}`` for a long-lived
    stream); the default ``None`` → AvailableNow, the scheduled-tick
    cadence (reference: the 12-h batch schedule, R2).

    ``change_feed=True`` records row-level change files per
    micro-batch commit, so a downstream
    :func:`streaming_snapshot_replica`/:func:`consume_snapshot_changes`
    consumer gets exact deltas — the full streaming write → CDF →
    read loop through the storage layer.
    """
    from .. import tablefmt as TF

    def _merge(batch: DataFrame, epoch_id: int) -> None:
        TF.snapshot_merge(
            batch.sparkSession,
            batch,
            table_path,
            keys=keys,
            txn_app=txn_app,
            txn_version=int(epoch_id),
            change_feed=change_feed,
        )

    writer = (
        stream.writeStream.outputMode("update")
        .foreachBatch(_merge)
        .trigger(**(trigger if trigger is not None else {"availableNow": True}))
    )
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer.start()


def streaming_audited_append(
    stream: DataFrame,
    table_path: str,
    audit,
    txn_app: str = "streaming_audited_append",
    checkpoint: str | None = None,
    trigger: dict | None = None,
    stats_cols: list[str] | None = None,
    quarantine_path: str | None = None,
) -> StreamingQuery:
    """Quality-GATED exactly-once streaming ingestion via the table
    format's write–audit–publish: each micro-batch is STAGED (data
    files written, LATEST untouched), the ``audit`` callable examines
    the staged view, and the batch PUBLISHES only on approval — a
    rejected batch is abandoned (files become vacuum-collectable
    orphans; optionally dumped to ``quarantine_path`` for forensics)
    and the table records a metadata-only marker commit so the
    rejection is exactly-once too. Readers never see an unaudited
    row. A crash BETWEEN stage and publish/abandon never exposes a
    half batch, but it does leave a live staged manifest behind: the
    replayed epoch stages a fresh wap_id, so nothing ever abandons
    the orphaned stage and vacuum() deliberately treats its files as
    referenced. Sweep those with
    ``vacuum(path, stale_staged_older_than=...)`` (cutoff well past
    the audit window) as part of table maintenance (ADVICE r7).

    ``audit(staged_view, batch) -> bool`` — ``staged_view`` is the
    table AS IT WOULD LOOK after publishing (so gates can check
    corpus-level invariants: totals, key collisions, drift), ``batch``
    the raw micro-batch. Truthy → publish.

    Exactly-once bookkeeping: publish carries ``(txn_app, epoch_id)``
    through the usual txn map; a REJECTED batch commits an EMPTY
    append with the same marker, so a replayed epoch is skipped
    before staging either way. Quarantine writes sit outside the
    transaction — at-least-once, the usual dead-letter contract.

    First batch on a missing table bootstraps an empty table from the
    batch schema (so the stage-audit-publish cycle applies to batch
    one as well, unlike a raw snapshot_write)."""
    from .. import tablefmt as TF

    def _sink(batch: DataFrame, epoch_id: int) -> None:
        spark = batch.sparkSession
        if TF.current_version(table_path) is None:
            TF.snapshot_write(
                spark, batch.limit(0), table_path,
                stats_cols=stats_cols or [],
            )
        last = TF.last_txn_version(table_path, txn_app)
        if last is not None and last >= int(epoch_id):
            return  # replayed epoch (published OR rejected): skip
        wap = TF.snapshot_stage_write(
            spark, batch, table_path, mode="append",
            stats_cols=stats_cols or [],
        )
        staged_view = TF.snapshot_read_staged(spark, table_path, wap)
        if bool(audit(staged_view, batch)):
            TF.snapshot_publish(
                table_path, wap, txn_app=txn_app, txn_version=int(epoch_id)
            )
        else:
            TF.snapshot_abandon(table_path, wap)
            if quarantine_path:
                batch.write.mode("append").parquet(quarantine_path)
            # marker commit: rejection is recorded exactly-once
            TF.snapshot_write(
                spark, batch.limit(0), table_path, mode="append",
                txn_app=txn_app, txn_version=int(epoch_id),
            )

    writer = stream.writeStream.foreachBatch(_sink).trigger(
        **(trigger if trigger is not None else {"availableNow": True})
    )
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer.start()


def run_available_now(
    df: DataFrame,
    sink: Callable[[DataFrame, int], None] | None = None,
    query_name: str = "out",
    output_mode: str = "complete",
) -> DataFrame:
    """Run a streaming frame to completion with the AvailableNow
    trigger and return the result as a batch DataFrame (memory sink).
    The synchronous harness for tests and the 12-hour-cadence batch
    runner (R2): an external scheduler calls this per tick."""
    spark = df.sparkSession
    q = (
        df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(query_name)


def streaming_enrich_join(
    stream: DataFrame, dim: DataFrame, on, how: str = "inner"
) -> DataFrame:
    """Stream-static enrichment join: every micro-batch joins against
    the (broadcast) dimension snapshot — the lookup-table pattern for
    attaching slowly-changing reference data to an event stream.
    Stateless (no watermark, no state store): each batch is enriched
    independently, so state never accumulates regardless of stream
    length. The static side re-resolves per micro-batch, which is
    what makes dimension updates visible mid-stream on a real
    deployment."""
    return stream.join(F.broadcast(dim), on, how)


DOCUMENTS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        # long, not int: the testdata stores int64 and a parquet file
        # stream cannot downcast a declared narrower type
        T.StructField("n_chars", T.LongType()),
    ]
)


def read_documents_stream(spark: SparkSession, path_dir: str) -> DataFrame:
    """File-source stream over the documents parquet — the local
    stand-in for a crawl-ingest topic. The text-scoring operators
    (token stats, quality, PII redaction, lang-id, fingerprints) are
    map-only Column expressions, so they apply to this stream
    UNCHANGED — the same curation code scores batch corpora and live
    ingest (proven by the batch/stream parity test)."""
    if path_dir.endswith(".parquet"):
        path_dir = path_dir[: -len("parquet")] + "parq*"
    return spark.readStream.schema(DOCUMENTS_SCHEMA).format("parquet").load(path_dir)


# ---------------------------------------------------------------------------
# Streaming change-data-feed consumer (VERDICT r6 #6): the read-side
# dual of streaming_snapshot_merge, closing the write -> read loop.
# ---------------------------------------------------------------------------

def _read_cursor(cursor_path: str) -> int | None:
    import json
    import os

    if not os.path.exists(cursor_path):
        return None
    with open(cursor_path) as f:
        return int(json.load(f)["version"])


def _write_cursor(cursor_path: str, version: int) -> None:
    import json
    import os
    import uuid

    os.makedirs(os.path.dirname(cursor_path) or ".", exist_ok=True)
    tmp = cursor_path + f".tmp-{uuid.uuid4().hex}"
    with open(tmp, "w") as f:
        json.dump({"version": version}, f)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, cursor_path)


def consume_snapshot_changes(
    spark: SparkSession,
    src_path: str,
    process: Callable[[DataFrame, int], None],
    cursor_path: str,
    start_version: int | None = None,
    end_version: int | None = None,
) -> int:
    """Micro-batch pull consumer over a snapshot table's row-level
    change feed (tablefmt.read_snapshot_changes): each commit after
    the persisted version cursor becomes ONE batch —
    ``process(changes_df, version)`` — and the cursor advances (tmp +
    os.replace, the manifest pointer's own atomicity) only AFTER the
    batch returns. The foreachBatch dual of
    ``streaming_snapshot_merge``: that operator gives exactly-once
    WRITES into a snapshot table; this one gives resumable READS out
    of it, so a table maintained by one stream can drive the next
    stage without rescanning.

    Delivery is AT-LEAST-ONCE by construction (crash between process
    and the cursor write replays that version); pair the batch with a
    txn-keyed snapshot commit downstream (``txn_app`` +
    ``version``-derived txn ids) for end-to-end exactly-once — the
    same at-least-once -> idempotent-sink composition as the write
    side. Versions with no logical changes (compaction) surface as
    empty batches and still advance the cursor. Returns the cursor
    after the run. ``start_version`` seeds a missing cursor (default:
    the table's OLDEST retained version minus one, i.e. consume
    everything retained).

    Reference anchor: the reference's consumers re-poll whole
    Postgres serving tables on a schedule (dags/utils.py:98-127);
    this replaces the re-poll with exact deltas."""
    from .. import tablefmt as TF

    cur = _read_cursor(cursor_path)
    if cur is None:
        if start_version is not None:
            cur = start_version
        else:
            cur = TF.oldest_version(src_path) - 1
    end = (
        TF.current_version(src_path) if end_version is None else end_version
    )
    while cur < end:
        nxt = cur + 1
        chg = TF.read_snapshot_changes(
            spark, src_path, since_version=cur, version=nxt
        )
        process(chg, nxt)
        _write_cursor(cursor_path, nxt)
        cur = nxt
    return cur


def streaming_snapshot_replica(
    spark: SparkSession,
    src_path: str,
    dst_path: str,
    keys: list[str],
    cursor_path: str,
    txn_app: str = "snapshot_replica",
    start_version: int | None = None,
    end_version: int | None = None,
) -> int:
    """Maintain ``dst_path`` as an exactly-once row-level replica of
    ``src_path`` by consuming its change feed: per source commit,
    inserts/updates MERGE into the replica and pure deletions (a
    deleted key with no same-commit re-insert) DELETE from it — each
    as a txn-marked snapshot commit (txn ids ``2v``/``2v+1`` derive
    from the source version), so a replayed batch after a crash
    between apply and cursor-advance commits nothing twice: the
    at-least-once consumer composes with the idempotent table into
    exactly-once, end to end, THROUGH the storage layer.

    This is the continuous-pipeline shape a 100 TB curation stack
    needs — stage N's maintained table feeds stage N+1 as exact row
    deltas (O(changed) per tick), not as re-scans."""
    from .. import tablefmt as TF

    def _apply(chg: DataFrame, version: int) -> None:
        data_cols = [
            c for c in chg.columns
            if c not in ("_change_type", "_commit_version")
        ]
        ups = chg.filter(F.col("_change_type") == "insert").select(*data_cols)
        del_keys = (
            chg.filter(F.col("_change_type") == "delete")
            .select(*keys)
            .join(ups.select(*keys), on=keys, how="left_anti")
            .distinct()
        )
        # deletes first: a same-commit delete+insert of one key must
        # land as the insert
        if TF.current_version(dst_path) is not None:
            TF.snapshot_delete(
                spark, dst_path, keys=keys, keys_df=del_keys,
                change_feed=False,
                txn_app=txn_app, txn_version=2 * version,
            )
        TF.snapshot_merge(
            spark, ups, dst_path, keys=keys,
            txn_app=txn_app, txn_version=2 * version + 1,
        )

    return consume_snapshot_changes(
        spark, src_path, _apply, cursor_path,
        start_version=start_version, end_version=end_version,
    )
