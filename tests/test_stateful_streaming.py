"""Custom stateful streaming operator (applyInPandasWithState).

The catalog query st3 checks single-batch parity against the DuckDB
closed form; these tests pin the part only a multi-batch run can show:
per-key state CARRIES ACROSS micro-batches and the final answer equals
the batch closed form regardless of how the stream was chopped up.
"""

from __future__ import annotations

import math

from pyspark.sql import functions as F


def _closed_form_ewma(spark, events_df, alpha=0.1):
    """Batch closed form (same as the st3 DuckDB oracle), per user."""
    w = "PARTITION BY user_id ORDER BY ts, event_id"
    return (
        events_df.selectExpr(
            "user_id",
            "value",
            f"row_number() OVER ({w}) AS rn",
            "count(*) OVER (PARTITION BY user_id) AS n",
        )
        .groupBy("user_id")
        .agg(
            F.max("n").alias("n_events"),
            F.sum(
                F.expr(
                    f"CASE WHEN rn = 1 THEN pow({1 - alpha}, n - 1) * value "
                    f"ELSE {alpha} * pow({1 - alpha}, n - rn) * value END"
                )
            ).alias("ewma"),
        )
    )


def test_state_carries_across_microbatches(spark, tmp_path):
    from traffic_forecast_etl_spark.sources.tables import load_table
    from traffic_forecast_etl_spark.streaming.micro_batch import (
        read_events_stream,
        run_available_now,
    )
    from traffic_forecast_etl_spark.streaming.stateful import streaming_ewma

    events = load_table(spark, "events", "/root/testdata/sf0.001")
    cutoff = events.selectExpr("percentile(cast(ts as double), 0.5)").first()[0]
    src = str(tmp_path / "stream_src")
    # two time-ordered files -> with maxFilesPerTrigger=1 the stream
    # runs as two micro-batches; every user straddling the cutoff has
    # its EWMA continued from checkpointed state in batch 2
    events.filter(F.col("ts").cast("double") <= cutoff).coalesce(1).write.parquet(
        src + "/p1"
    )
    events.filter(F.col("ts").cast("double") > cutoff).coalesce(1).write.parquet(
        src + "/p2"
    )

    stream = (
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, event_type string, "
            "value double, props string"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/p*")
    )
    out = run_available_now(
        streaming_ewma(stream, alpha=0.1), query_name="ewma_mb", output_mode="update"
    )
    rows = out.collect()
    # update mode: straddling users emitted once per batch -> >1 row
    per_user = {}
    multi = 0
    for r in rows:
        prev = per_user.get(r.user_id)
        if prev is not None:
            multi += 1
        if prev is None or r.n_events > prev[0]:
            per_user[r.user_id] = (r.n_events, r.ewma)
    assert multi > 0, "expected straddling users to be updated in both batches"

    expected = {
        r.user_id: (r.n_events, r.ewma)
        for r in _closed_form_ewma(spark, events).collect()
    }
    assert per_user.keys() == expected.keys()
    for uid, (n, e) in per_user.items():
        en, ee = expected[uid]
        assert n == en
        assert math.isclose(e, ee, rel_tol=1e-9, abs_tol=1e-9), (uid, e, ee)


def test_first_event_initializes_state(spark):
    """ewma_1 = x_1 (not alpha * x_1): a single-event user's EWMA is
    exactly its value."""
    from traffic_forecast_etl_spark.streaming.stateful import streaming_ewma
    from traffic_forecast_etl_spark.streaming.micro_batch import run_available_now

    df = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00", 7, 42.5, "x"), (2, "2024-01-01 00:01:00", 8, 10.0, "x"),
         (3, "2024-01-01 00:02:00", 8, 20.0, "x")],
        "event_id long, ts_s string, user_id long, value double, props string",
    ).withColumn("ts", F.to_timestamp("ts_s"))
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        df.select("event_id", "ts", "user_id", "value").coalesce(1).write.mode(
            "overwrite"
        ).parquet(d + "/one")
        stream = spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, value double"
        ).parquet(d + "/one")
        out = run_available_now(
            streaming_ewma(stream, alpha=0.1), query_name="ewma_one", output_mode="update"
        )
        got = {r.user_id: (r.n_events, r.ewma) for r in out.collect()}
    assert got[7] == (1, 42.5)
    # user 8: ewma = 0.1*20 + 0.9*10 = 11.0
    assert got[8][0] == 2 and math.isclose(got[8][1], 11.0)


def test_text_scoring_is_stream_compatible(spark, sf_dir):
    """The corpus-scoring plane runs UNCHANGED on a document stream:
    map-only operators are mode-agnostic, so live ingest is scored by
    the same code as batch corpora. AvailableNow over the static
    source must equal the batch answer row-for-row."""
    from traffic_forecast_etl_spark.operators.text import quality_score, token_stats
    from traffic_forecast_etl_spark.sources.tables import load_table
    from traffic_forecast_etl_spark.streaming.micro_batch import (
        read_documents_stream,
        run_available_now,
    )

    docs_path = f"{sf_dir}/documents.parquet"
    stream = read_documents_stream(spark, docs_path)
    streamed = run_available_now(
        quality_score(stream, "text", "doc_id"),
        query_name="score_stream",
        output_mode="append",
    )
    batch = quality_score(load_table(spark, "documents", sf_dir), "text", "doc_id")
    got = {r["doc_id"]: r["quality"] for r in streamed.collect()}
    want = {r["doc_id"]: r["quality"] for r in batch.collect()}
    assert got == want and len(got) > 0


def test_watermark_drops_late_data_after_window_eviction(spark, tmp_path):
    """The late-data contract of the streaming plane, pinned at the
    boundary Structured Streaming actually GUARANTEES: an event
    arriving after its window's state has been EVICTED (watermark
    passed the window end in an earlier, committed batch) must be
    dropped — append mode emits each window exactly once, with the
    on-time count, and a too-late straggler can neither resurrect the
    window nor append a duplicate row for it. (Within the same batch
    that evicts the state, Spark documents that late-but-not-yet-
    evicted data MAY still be aggregated — so the straggler here
    arrives a full batch after eviction, where dropping is
    guaranteed, not best-effort.)"""
    import os
    import time as _time
    from datetime import datetime

    from traffic_forecast_etl_spark.streaming.micro_batch import (
        run_available_now,
        streaming_tumbling_agg,
    )

    def ev(eid, hh, mm):
        return (eid, datetime(2024, 3, 1, hh, mm), 1, "click", 1.0, "{}")

    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    src = str(tmp_path / "late_src")
    # batch 0: five events in [10:00, 11:00) plus one at 11:45 that
    # advances the watermark (delay 30m) to 11:15 > window end
    spark.createDataFrame(
        [ev(1, 10, 5), ev(2, 10, 10), ev(3, 10, 20), ev(4, 10, 30),
         ev(5, 10, 40), ev(6, 11, 45)],
        schema,
    ).coalesce(1).write.parquet(src + "/p1")
    # batch 1: on-time event at 12:30 — [10:00,11:00) is emitted with
    # n=5 and its state evicted during this batch; watermark -> 12:00
    spark.createDataFrame([ev(7, 12, 30)], schema).coalesce(1).write.parquet(
        src + "/p2"
    )
    # batch 2: the too-late straggler at 10:15 (its window was evicted
    # a batch ago — MUST be dropped) plus 13:45 to push the
    # watermark (13:15) past 12:00-window end, closing [12:00,13:00)
    spark.createDataFrame([ev(8, 10, 15), ev(9, 13, 45)], schema).coalesce(
        1
    ).write.parquet(src + "/p3")
    # FileStreamSource orders files by modification time — force the
    # three writes (milliseconds apart) into distinct, ordered batches
    now = _time.time()
    for d, t in (("/p1", now - 120), ("/p2", now - 60), ("/p3", now)):
        for f in os.listdir(src + d):
            os.utime(os.path.join(src + d, f), (t, t))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/p*")
    )
    out = run_available_now(
        streaming_tumbling_agg(stream, window="1 hour", watermark="30 minutes"),
        query_name="late_append",
        output_mode="append",
    )
    rows = [(r["win_start"].hour, r["n"]) for r in out.collect()]
    # exactly one row per closed window; the straggler neither bumped
    # [10:00,11:00) past its on-time 5 nor appended a duplicate row;
    # [13:00,14:00) is still open and must not have been emitted.
    assert sorted(rows) == [(10, 5), (11, 1), (12, 1)], rows


def test_streaming_audited_append_gate_replay_quarantine(spark, tmp_path):
    """streaming_audited_append (r7): per-batch stage->audit->publish.
    The poisoned batch never reaches readers (abandoned stage +
    quarantined), accepted batches land exactly once, a fresh
    checkpoint replay of the same epochs commits NOTHING twice
    (publish and rejection markers both ride the txn map), and
    vacuum collects the abandoned stage's files."""
    import glob
    import os
    import shutil

    from traffic_forecast_etl_spark import tablefmt as T
    from traffic_forecast_etl_spark.streaming.micro_batch import (
        streaming_audited_append,
    )

    src = str(tmp_path / "src")
    table = str(tmp_path / "t")
    quarantine = str(tmp_path / "q")
    base = spark.createDataFrame(
        [(i, f"e{i % 3}", float(i)) for i in range(400)],
        "event_id long, event_type string, v double",
    )
    for k in range(4):
        base.filter(F.pmod("event_id", 4) == k).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    def run(ckpt):
        stream = (
            spark.readStream.schema("event_id long, event_type string, v double")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = streaming_audited_append(
            stream,
            table,
            audit=lambda staged, batch: batch.filter(
                F.pmod(F.col("event_id"), 4) == 2
            ).limit(1).count()
            == 0,
            checkpoint=ckpt,
            stats_cols=["event_id"],
            quarantine_path=quarantine,
        )
        q.awaitTermination()

    run(str(tmp_path / "ckpt1"))
    got = sorted(r.event_id for r in T.snapshot_read(spark, table).collect())
    assert got == [i for i in range(400) if i % 4 != 2]
    # rejected rows quarantined
    qrows = sorted(r.event_id for r in spark.read.parquet(quarantine).collect())
    assert qrows == [i for i in range(400) if i % 4 == 2]
    # no live stages remain; abandoned files are vacuum-collectable
    assert not T.snapshot_list_staged(table)
    removed = T.vacuum(table)
    assert any(r.startswith("data/") for r in removed), removed
    assert sorted(
        r.event_id for r in T.snapshot_read(spark, table).collect()
    ) == got
    v_before = T.current_version(table)
    # fresh checkpoint, same table + txn_app: every epoch replays and
    # must commit nothing (accepted AND rejected markers both skip)
    run(str(tmp_path / "ckpt2"))
    assert T.current_version(table) == v_before
    assert sorted(
        r.event_id for r in T.snapshot_read(spark, table).collect()
    ) == got
    # replay didn't even re-quarantine (epochs skipped before staging)
    assert sorted(
        r.event_id for r in spark.read.parquet(quarantine).collect()
    ) == qrows


def test_cdf_source_reads_each_delete_file_once_per_version(spark, tmp_path, monkeypatch):
    """Planning a version of a merge-on-read table reads each
    equality-delete file once, not once per synthesized data file, and
    every dropped data file still carries all the keys that mask it."""
    import os

    import pyarrow.parquet as pq

    from traffic_forecast_etl_spark import tablefmt as T
    from traffic_forecast_etl_spark.streaming.cdf_source import (
        SnapshotChangesDataSource,
    )

    path = str(tmp_path / "t")
    rows = spark.createDataFrame([(i, f"v{i}") for i in range(12)], "id long, val string")
    T.snapshot_write(spark, rows.repartition(4), path, stats_cols=["id"])
    for k in (3, 7):  # two merge-on-read delete files
        T.snapshot_delete(
            spark, path, keys=["id"],
            keys_df=spark.createDataFrame([(k,)], "id long"), mode="mor",
        )
    T.snapshot_write(spark, rows.limit(1), path)  # overwrite: drops the 4 files
    parent = T.read_manifest(path, 2)
    delete_files = {os.path.join(path, d["path"]) for d in parent["eq_deletes"]}
    assert len(delete_files) == 2 and len(T.manifest_files(path, parent)) == 4

    reads: list[str] = []
    read_table = pq.read_table

    def counting_read_table(source, *args, **kwargs):
        reads.append(str(source))
        return read_table(source, *args, **kwargs)

    monkeypatch.setattr(pq, "read_table", counting_read_table)
    source = SnapshotChangesDataSource({"path": path})
    reader = source.streamReader(source.schema())
    parts = reader.partitions({"version": 2}, {"version": 3})
    assert sorted(reads) == sorted(delete_files)

    dropped = [p for p in parts if p.change_type == "delete"]
    assert len(dropped) == 4
    for p in dropped:
        assert p.del_filters == [(("id",), {(3,), (7,)})]
    assert [p.del_filters for p in parts if p.change_type == "insert"] == [[]]
