"""Source/sink tests: delimiter probing + mixed-dialect detector
files (SURVEY S2-S3, E3 fixtures), idempotent sinks (S8), the
streaming rollup's snapshot-table upsert."""

from __future__ import annotations

from pyspark.sql import functions as F

from traffic_forecast_etl_spark.plans.detector_prep import prepare_detector_series
from traffic_forecast_etl_spark.sinks import insert_if_absent
from traffic_forecast_etl_spark.sources.csv import probe_delimiter, read_csv_auto

DIALECT_A = """Detector,Datum,Uur,Waarde,Long,Lat
1.2,2015-01-01,0,10.0,5.14,52.09
1.2,2015-01-01,0,20.0,5.14,52.09
1.2,2015-01-01,1,30.0,5.14,52.09
9.9,2015-01-01,1,99.0,5.14,52.09
"""

DIALECT_B = """Detector;Datum;Uur;Waarde;Long;Lat
1.2;02-01-2015;5;40.0;5,14429;52,0955
1.2;02-01-2015;5;60.0;5,14429;52,0955
9.9;02-01-2015;6;99.0;5,14429;52,0955
"""


def _write_fixture_files(tmp_path):
    a = tmp_path / "ind_a.csv"
    b = tmp_path / "ind_b.csv"
    a.write_text(DIALECT_A)
    b.write_text(DIALECT_B)
    return str(tmp_path / "ind*")


def test_probe_delimiter(tmp_path):
    pattern = _write_fixture_files(tmp_path)
    assert probe_delimiter(str(tmp_path / "ind_a.csv")) == ","
    assert probe_delimiter(str(tmp_path / "ind_b.csv")) == ";"


def test_detector_prep_mixed_dialects(spark, tmp_path):
    """The E3 pipeline over one ','-file and one ';'-file: filter to
    detector 1.2, per-(date,hour) mean, both date formats parsed,
    decimal-comma coordinates normalized."""
    pattern = _write_fixture_files(tmp_path)
    out = prepare_detector_series(spark, pattern, 1.2)
    rows = {(str(r.Date), r.Hour): r for r in out.collect()}
    assert set(rows) == {("2015-01-01", 0), ("2015-01-01", 1), ("2015-01-02", 5)}
    assert rows[("2015-01-01", 0)].Waarde == 15.0  # mean(10, 20)
    assert rows[("2015-01-02", 5)].Waarde == 50.0  # mean(40, 60)
    assert abs(rows[("2015-01-02", 5)].longitude - 5.14429) < 1e-9  # "5,14429"


def test_read_csv_auto_corrupt_records(spark, tmp_path):
    """PERMISSIVE mode: malformed rows land in _corrupt_record, the
    scan never throws (the engine's replacement for the reference's
    try/except re-read loop)."""
    f = tmp_path / "bad.csv"
    f.write_text("Detector,Datum,Uur,Waarde,Long,Lat\n1.2,2015-01-01,0,10.0,5.1,52.0\nnot,a,valid,row,at,all\n")
    from traffic_forecast_etl_spark.plans.detector_prep import DETECTOR_SCHEMA

    # caching is required before filtering on _corrupt_record alone
    # (documented Spark restriction on raw-file corrupt-column queries)
    df = read_csv_auto(spark, str(f), schema=DETECTOR_SCHEMA).cache()
    assert df.count() == 2
    assert df.filter(F.col("_corrupt_record").isNotNull()).count() == 1
    df.unpersist()


def test_insert_if_absent_idempotent(spark, tmp_path):
    path = str(tmp_path / "sink")
    batch = spark.createDataFrame([(1, "a"), (2, "b")], "id int, v string")
    assert insert_if_absent(spark, batch, path, ["id"]) == 2
    assert insert_if_absent(spark, batch, path, ["id"]) == 0  # re-run: no-op
    batch2 = spark.createDataFrame([(2, "b2"), (3, "c")], "id int, v string")
    assert insert_if_absent(spark, batch2, path, ["id"]) == 1  # only id=3
    out = {r.id: r.v for r in spark.read.parquet(path).collect()}
    assert out == {1: "a", 2: "b", 3: "c"}  # id=2 kept ORIGINAL value


def test_insert_if_absent_leaves_session_serializable(spark, tmp_path):
    """Counting the appended rows must not leave state on the session
    that breaks task serialization: a logistic regression keeps the
    session in its training summary, and its transform ships the model
    to the executors."""
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.linalg import Vectors

    path = str(tmp_path / "sink")
    batch = spark.createDataFrame([(1, "a"), (2, "b")], "id int, v string")
    assert insert_if_absent(spark, batch, path, ["id"]) == 2
    train = spark.createDataFrame(
        [(float(i % 2), Vectors.dense([float(i % 2), float(i)])) for i in range(20)],
        ["label", "features"],
    )
    model = LogisticRegression(maxIter=5).fit(train)
    assert model.hasSummary
    assert len(model.transform(train).collect()) == 20


def test_insert_if_absent_prunes_existing_scan(spark, tmp_path):
    """At a steady ingest cadence the anti-join must NOT reread the
    sink's full history: the existing-side scan carries the batch's
    [min, max] range of the leading key as a pushed parquet filter
    (partition pruning under a partitioned layout)."""
    from traffic_forecast_etl_spark.sinks import fresh_rows

    path = str(tmp_path / "pruned_sink")
    history = spark.range(0, 1000).selectExpr("id AS ts", "id * 2 AS v")
    history.write.parquet(path)
    batch = spark.createDataFrame([(990, 0), (1005, 1)], "ts long, v long")
    df = fresh_rows(spark, batch, path, ["ts"])
    explained = df._jdf.queryExecution().explainString(  # noqa: SLF001
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    # the parquet scan of the sink must carry the range predicate
    assert "PushedFilters" in explained
    pushed = [ln for ln in explained.splitlines() if "PushedFilters" in ln]
    assert any(
        "GreaterThanOrEqual(ts,990)" in ln and "LessThanOrEqual(ts,1005)" in ln
        for ln in pushed
    ), pushed
    # and pruning must not change semantics: 990 exists, 1005 is new
    assert {r.ts for r in df.collect()} == {1005}


def test_ddl_create_tables_idempotent(spark, tmp_path):
    """S10: the reference's create_db DDL (dags/utils.py:91-136) as
    Spark SQL — create-twice is a no-op, schema matches the SURVEY
    §1.2 type mapping, and data written between the two creates
    survives the second (IF NOT EXISTS, not replace)."""
    from traffic_forecast_etl_spark.ddl import (
        TRAFFIC_SCHEMA,
        WEATHER_SCHEMA,
        create_tables,
        drop_tables,
    )

    db = "ddl_test_db"
    try:
        names = create_tables(
            spark,
            database=db,
            weather_location=str(tmp_path / "weather"),
            traffic_location=str(tmp_path / "traffic"),
        )
        assert names == [f"{db}.weather", f"{db}.traffic"]
        got = [(f.name, f.dataType.simpleString()) for f in spark.table(f"{db}.weather").schema]
        spark_type = {"BIGINT": "bigint", "TIMESTAMP": "timestamp", "INT": "int", "BOOLEAN": "boolean"}
        assert got == [(c, spark_type[t]) for c, t in WEATHER_SCHEMA]
        assert [f.name for f in spark.table(f"{db}.traffic").schema] == [c for c, _ in TRAFFIC_SCHEMA]
        spark.sql(
            f"INSERT INTO {db}.weather VALUES (1, TIMESTAMP '2015-06-01 12:00:00', 5, 21, false)"
        )
        # second create: no-op, data intact
        assert create_tables(
            spark,
            database=db,
            weather_location=str(tmp_path / "weather"),
            traffic_location=str(tmp_path / "traffic"),
        ) == names
        assert spark.table(f"{db}.weather").count() == 1
    finally:
        drop_tables(spark, db)
        spark.sql(f"DROP DATABASE IF EXISTS {db}")


def test_streaming_rollup_maintenance_incremental(spark, tmp_path):
    """Continuous-aggregate semantics across ticks: tick 2's events
    land in windows tick 1 already wrote (the event_id split
    interleaves timestamps), so the maintained rollup is only correct
    if (a) window state carries across restarts via the checkpoint and
    (b) the MERGE replaces the stale window rows. Final table must
    equal the from-scratch batch aggregate; a no-new-files replay
    changes nothing."""
    import shutil

    from traffic_forecast_etl_spark.streaming.micro_batch import (
        read_events_stream,
        streaming_rollup_maintenance,
    )
    from traffic_forecast_etl_spark.tablefmt import snapshot_read

    src = tmp_path / "events_src"
    src.mkdir()
    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    first = events.filter("event_id < 500")
    second = events.filter("event_id >= 500")
    first.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "b1"))
    for f in (tmp_path / "b1").glob("*.parquet"):
        shutil.copy(f, src / "batch1.parquet")

    rollup, ckpt = str(tmp_path / "rollup"), str(tmp_path / "ck")
    # watermark wide enough that the id-split's timestamp interleaving
    # never crosses it — the test pins merge semantics, not lateness
    # drops (those are w5/st1 territory)
    def tick():
        q = streaming_rollup_maintenance(
            read_events_stream(spark, str(src)),
            rollup,
            watermark="3650 days",
            checkpoint=ckpt,
        )
        q.awaitTermination()

    def rollup_rows():
        return {
            (r.event_type, r.win_start, r.n, r.sum_value)
            for r in snapshot_read(spark, rollup)
            .select("event_type", "win_start", "n", "sum_value")
            .collect()
        }

    def batch_agg(df):
        return {
            (r.event_type, r.win_start, r.n, r.sum_value)
            for r in df.groupBy(
                "event_type", F.date_trunc("hour", "ts").alias("win_start")
            )
            .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 6).alias("sum_value"))
            .collect()
        }

    from traffic_forecast_etl_spark.sources.tables import load_table

    ev_norm = load_table(spark, "events", "/root/testdata/sf0.001")
    tick()
    assert rollup_rows() == batch_agg(ev_norm.filter("event_id < 500"))

    # tick 2: remaining events update existing windows in place
    second.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "b2"))
    for f in (tmp_path / "b2").glob("*.parquet"):
        shutil.copy(f, src / "batch2.parquet")
    tick()
    full = batch_agg(ev_norm)
    assert rollup_rows() == full

    # replay with nothing new: the maintained table is untouched
    tick()
    assert rollup_rows() == full


def test_streaming_rollup_replayed_epoch_commits_nothing(spark, tmp_path):
    """The rollup commits each micro-batch under one txn_app named by
    its checkpoint and the epoch id: after two ticks the manifest
    holds that one app at the checkpoint's last committed epoch, and
    a redelivery of that epoch (foreachBatch is at-least-once) adds no
    table version and changes no row."""
    import os
    import shutil

    from traffic_forecast_etl_spark import tablefmt as TF
    from traffic_forecast_etl_spark.streaming.micro_batch import (
        read_events_stream,
        streaming_rollup_maintenance,
    )

    src = tmp_path / "events_src"
    src.mkdir()
    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    rollup, ckpt = str(tmp_path / "rollup"), str(tmp_path / "ck")
    for i, part in enumerate(["event_id < 500", "event_id >= 500"]):
        events.filter(part).coalesce(1).write.parquet(str(tmp_path / f"b{i}"))
        for f in (tmp_path / f"b{i}").glob("*.parquet"):
            shutil.copy(f, src / f"batch{i}.parquet")
        streaming_rollup_maintenance(
            read_events_stream(spark, str(src)),
            rollup,
            watermark="3650 days",
            checkpoint=ckpt,
        ).awaitTermination()

    txns = TF.read_manifest(rollup)["txns"]
    assert len(txns) == 1
    (app,) = txns
    assert os.path.abspath(ckpt) in app
    last_epoch = max(int(n) for n in os.listdir(f"{ckpt}/commits") if n.isdigit())
    assert TF.last_txn_version(rollup, app) == last_epoch

    version = TF.current_version(rollup)
    rows = sorted(tuple(r) for r in TF.snapshot_read(spark, rollup).collect())
    redelivered = TF.snapshot_read(spark, rollup).withColumn("n", F.lit(-1))
    assert TF.snapshot_merge(
        spark, redelivered, rollup, keys=["win_start", "event_type"],
        txn_app=app, txn_version=last_epoch,
    ) == version
    assert TF.current_version(rollup) == version
    assert sorted(tuple(r) for r in TF.snapshot_read(spark, rollup).collect()) == rows


def test_fresh_rows_nonkey_range_key(spark, tmp_path):
    """The traffic-sink shape: hash surrogate key, pruning on the
    timestamp the hash derives from — the non-key range column must
    be projected for the filter and must not leak into the output."""
    from traffic_forecast_etl_spark.sinks import fresh_rows

    path = str(tmp_path / "hash_sink")
    hist = spark.range(0, 100).selectExpr(
        "xxhash64(id) AS date_id", "id AS datetime", "id * 2 AS v"
    )
    hist.write.parquet(path)
    batch = spark.range(99, 105).selectExpr(
        "xxhash64(id) AS date_id", "id AS datetime", "id * 2 AS v"
    )
    out = fresh_rows(spark, batch, path, ["date_id"], range_key="datetime")
    assert sorted(out.columns) == ["date_id", "datetime", "v"]
    assert sorted(r.datetime for r in out.collect()) == [100, 101, 102, 103, 104]


def test_fresh_rows_probe_range_covers_dropped_duplicates(spark, tmp_path):
    """The pushed range is the batch's before dedup. A duplicate that
    dedup drops may carry the batch's extreme range value; the scan
    must still cover it, so fresh_rows returns exactly the absent keys
    for a key and for a non-key range_key."""
    from traffic_forecast_etl_spark.sinks import fresh_rows

    # key range_key: both copies of the existing key 990 sit at the minimum
    path = str(tmp_path / "key_sink")
    spark.range(0, 1000).selectExpr("id AS ts", "id * 2 AS v").write.parquet(path)
    batch = spark.createDataFrame(
        [(990, 1), (1005, 0), (990, 0)], "ts long, v long"
    ).coalesce(1)
    assert {r.ts for r in fresh_rows(spark, batch, path, ["ts"]).collect()} == {1005}

    # non-key range_key: one partition keeps the first copy of key 5
    # (range value 1000) and drops the second, whose range value 50 is
    # the batch minimum and the one the sink row carries
    path = str(tmp_path / "nonkey_sink")
    spark.range(1, 11).selectExpr("id AS k", "id * 10 AS t").write.parquet(path)
    batch = spark.createDataFrame(
        [(5, 1000), (5, 50), (11, 110), (12, 120)], "k long, t long"
    ).coalesce(1)
    out = fresh_rows(spark, batch, path, ["k"], range_key="t")
    assert sorted(r.k for r in out.collect()) == [11, 12]


def test_fresh_rows_caller_range_matches_probe(spark, tmp_path):
    """A caller-supplied range covering the batch, here the wider one
    of a superset frame, returns the rows the probe would, for a key
    and for a non-key range_key."""
    from traffic_forecast_etl_spark.sinks import fresh_rows

    path = str(tmp_path / "key_sink")
    spark.range(0, 1000).selectExpr("id AS ts", "id * 2 AS v").write.parquet(path)
    batch = spark.createDataFrame([(990, 1), (1005, 0), (990, 0)], "ts long, v long")
    probed = {tuple(r) for r in fresh_rows(spark, batch, path, ["ts"]).collect()}
    given = fresh_rows(spark, batch, path, ["ts"], batch_range=(950, 1100, 5))
    assert probed == {(1005, 0)} == {tuple(r) for r in given.collect()}

    path = str(tmp_path / "hash_sink")
    spark.range(0, 100).selectExpr(
        "xxhash64(id) AS date_id", "id AS datetime", "id * 2 AS v"
    ).write.parquet(path)
    batch = spark.range(95, 105).selectExpr(
        "xxhash64(id) AS date_id", "id AS datetime", "id * 2 AS v"
    )
    probed = fresh_rows(spark, batch, path, ["date_id"], range_key="datetime")
    given = fresh_rows(
        spark, batch, path, ["date_id"], range_key="datetime", batch_range=(90, 110, 20)
    )
    assert sorted(r.datetime for r in probed.collect()) == list(range(100, 105))
    assert sorted(r.datetime for r in given.collect()) == list(range(100, 105))


def test_fresh_rows_empty_batch_reads_no_sink(spark, tmp_path):
    """An empty batch (every payload element rejected upstream) has no
    range to push: fresh_rows returns it without planning a scan of
    the sink, and insert_if_absent appends nothing and writes no
    file."""
    import glob

    from traffic_forecast_etl_spark.sinks import fresh_rows

    path = str(tmp_path / "sink")
    spark.range(0, 100).selectExpr("id AS ts", "id * 2 AS v").write.parquet(path)
    files = sorted(glob.glob(path + "/*.parquet"))
    batch = spark.createDataFrame([], "ts long, v long")
    explained = fresh_rows(spark, batch, path, ["ts"])._jdf.queryExecution().explainString(  # noqa: SLF001
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "parquet" not in explained.lower(), explained
    assert insert_if_absent(spark, batch, path, ["ts"]) == 0
    assert sorted(glob.glob(path + "/*.parquet")) == files


# ---------------------------------------------------------------------------
# Delta log interop (sources/delta_log.py, r8) — the PUBLIC Delta
# transaction-log protocol read/written directly, no jars. Pinned
# self-consistent + against the protocol document; cross-validation
# vs delta-spark is environment-blocked.
# ---------------------------------------------------------------------------


def _rows_set(df):
    return sorted(tuple(r) for r in df.collect())


def test_delta_roundtrip_and_time_travel(spark, tmp_path):
    from traffic_forecast_etl_spark.sources import delta_log as DL

    path = str(tmp_path / "dt")
    df0 = spark.createDataFrame(
        [(i, f"v{i}") for i in range(10)], "id long, val string"
    )
    assert DL.write_delta_append(spark, df0, path) == 0
    df1 = spark.createDataFrame(
        [(i, f"w{i}") for i in range(10, 15)], "id long, val string"
    )
    assert DL.write_delta_append(spark, df1, path) == 1

    got = DL.read_delta(spark, path)
    assert _rows_set(got) == _rows_set(df0.unionByName(df1))
    # time travel: version 0 sees only the first batch
    assert _rows_set(DL.read_delta(spark, path, version=0)) == _rows_set(df0)
    # planning surface: O(log) arithmetic, no data reads
    files = DL.delta_snapshot_files(spark, path)
    assert all(f["dataChange"] for f in files)
    assert len(files) >= 2
    # log layout follows the protocol naming
    import os

    assert os.path.exists(path + "/_delta_log/00000000000000000000.json")
    # schema mismatch on append is refused (v1 contract)
    import pytest as _pytest

    bad = spark.createDataFrame([(1.0,)], "id double")
    with _pytest.raises(ValueError, match="schema"):
        DL.write_delta_append(spark, bad, path)


def test_delta_partitioned_write_read_and_null_partition(spark, tmp_path):
    """Partition columns live ONLY in the log (protocol): data files
    exclude them, read_delta re-attaches them typed, NULL partitions
    round-trip through the hive null sentinel."""
    import os

    from pyspark.sql import functions as F

    from traffic_forecast_etl_spark.sources import delta_log as DL

    path = str(tmp_path / "dt")
    df = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "a", 30.0), (4, None, 40.0)],
        "id long, cat string, v double",
    )
    DL.write_delta_append(spark, df, path, partition_by=["cat"])
    got = DL.read_delta(spark, path)
    assert got.schema["cat"].dataType.simpleString() == "string"
    assert _rows_set(got) == _rows_set(df)
    # the staged data files must NOT contain the partition column
    a_file = next(
        os.path.join(r, n)
        for r, _, ns in os.walk(path)
        for n in ns
        if n.endswith(".parquet") and "_delta_log" not in r
    )
    assert "cat" not in spark.read.parquet(a_file).columns
    # partition pruning is log arithmetic: filter admitted adds by value
    adds = DL.delta_snapshot_files(spark, path)
    a_only = [a for a in adds if a["partitionValues"]["cat"] == "a"]
    assert 1 <= len(a_only) < len(adds)
    # appends must keep the partitioning
    import pytest as _pytest

    with _pytest.raises(ValueError, match="partitioned by"):
        DL.write_delta_append(spark, df, path, partition_by=["id"])


def test_delta_checkpoint_replay(spark, tmp_path):
    """Reader honors _last_checkpoint: state reconstructs from the
    checkpoint parquet + later JSON commits even when the earlier
    JSON commits are gone (log cleanup)."""
    import json
    import os

    from traffic_forecast_etl_spark.sources import delta_log as DL

    path = str(tmp_path / "dt")
    df0 = spark.createDataFrame([(i,) for i in range(5)], "id long")
    df1 = spark.createDataFrame([(i,) for i in range(5, 8)], "id long")
    df2 = spark.createDataFrame([(i,) for i in range(8, 9)], "id long")
    DL.write_delta_append(spark, df0, path)
    DL.write_delta_append(spark, df1, path)

    # synthesize the v1 checkpoint per the spec's columnar layout:
    # one action per row in add/metaData/protocol struct columns
    actions = []
    with open(path + "/_delta_log/00000000000000000000.json") as f:
        actions += [json.loads(x) for x in f if x.strip()]
    with open(path + "/_delta_log/00000000000000000001.json") as f:
        actions += [json.loads(x) for x in f if x.strip()]
    rows = [json.dumps(a) for a in actions if "commitInfo" not in a]
    cp_df = spark.read.json(spark.sparkContext.parallelize(rows))
    cp = path + "/_delta_log/00000000000000000001.checkpoint.parquet"
    import tempfile

    tmpd = tempfile.mkdtemp()
    cp_df.coalesce(1).write.mode("overwrite").parquet(tmpd)
    part = next(
        os.path.join(tmpd, n) for n in os.listdir(tmpd) if n.endswith(".parquet")
    )
    os.rename(part, cp)
    with open(path + "/_delta_log/_last_checkpoint", "w") as f:
        json.dump({"version": 1, "size": len(rows)}, f)
    # drop the pre-checkpoint JSON commits — replay must survive
    os.remove(path + "/_delta_log/00000000000000000000.json")
    os.remove(path + "/_delta_log/00000000000000000001.json")

    DL.write_delta_append(spark, df2, path)
    got = DL.read_delta(spark, path)
    assert got.count() == 9
    assert {r.id for r in got.collect()} == set(range(9))


def _rewrite_commit(path, version, mutate):
    """Edit one commit JSON in place (test helper for forging
    protocol/metaData shapes our writer never emits)."""
    import json
    import os

    vf = path + f"/_delta_log/{version:020d}.json"
    lines = [json.loads(x) for x in open(vf) if x.strip()]
    for a in lines:
        mutate(a)
    os.remove(vf)
    with open(vf, "w") as f:
        for a in lines:
            f.write(json.dumps(a) + "\n")


def test_delta_reader_feature_guard(spark, tmp_path):
    """deletionVectors is now a SUPPORTED reader feature (r9 —
    VERDICT r8 missing #1 flips this guard positive); anything beyond
    it is still refused loudly, never mis-read."""
    import pytest as _pytest

    from traffic_forecast_etl_spark.sources import delta_log as DL

    path = str(tmp_path / "dt")
    df0 = spark.createDataFrame([(1,)], "id long")
    DL.write_delta_append(spark, df0, path)

    def dv_only(a):
        if "protocol" in a:
            a["protocol"] = {
                "minReaderVersion": 3,
                "minWriterVersion": 7,
                "readerFeatures": ["deletionVectors"],
            }

    _rewrite_commit(path, 0, dv_only)
    # POSITIVE: DV-feature tables (with no actual DVs yet) read fine
    assert DL.read_delta(spark, path).count() == 1

    def unknown_feature(a):
        if "protocol" in a:
            a["protocol"]["readerFeatures"] = ["deletionVectors", "v2Checkpoint"]

    _rewrite_commit(path, 0, unknown_feature)
    with _pytest.raises(NotImplementedError, match="v2Checkpoint"):
        DL.read_delta(spark, path)


def test_delta_column_mapping_guards(spark, tmp_path):
    """ADVICE r8 (medium), upgraded in r9/r10: the all-NULL hazard is
    structurally closed — an 'id'-mode table whose schema LACKS
    delta.columnMapping.id annotations is malformed and errors loudly
    (well-formed id tables READ via field ids since r10), and a
    'name'-mode table missing physicalName metadata likewise."""
    import pytest as _pytest

    from traffic_forecast_etl_spark.sources import delta_log as DL

    path = str(tmp_path / "dt")
    DL.write_delta_append(spark, spark.createDataFrame([(1,)], "id long"), path)

    def set_id_mode(a):
        if "metaData" in a:
            a["metaData"]["configuration"] = {"delta.columnMapping.mode": "id"}

    _rewrite_commit(path, 0, set_id_mode)
    with _pytest.raises(ValueError, match="delta.columnMapping.id"):
        DL.read_delta(spark, path)

    def set_name_mode_without_metadata(a):
        if "metaData" in a:
            a["metaData"]["configuration"] = {"delta.columnMapping.mode": "name"}

    _rewrite_commit(path, 0, set_name_mode_without_metadata)
    with _pytest.raises(ValueError, match="physicalName"):
        DL.read_delta(spark, path)


def test_delta_column_mapping_name_mode_read(spark, tmp_path):
    """'name'-mode column mapping READS (r9): data files carry
    col-<uuid> physical names, the logical schema maps to them via
    delta.columnMapping.physicalName, partitionValues key by the
    PHYSICAL name — the reader aliases everything back to logical
    names with correct values (the exact table shape Databricks
    writes by default since DBR 14)."""
    import json

    import pytest as _pytest

    from traffic_forecast_etl_spark.sources import delta_log as DL

    path = str(tmp_path / "dt")
    # files on disk use physical names; the forged metaData maps them
    phys = spark.createDataFrame(
        [(1, "a", 1.5), (2, "b", 2.5), (3, "a", 3.5)],
        "`col-111` long, `col-222` string, `col-333` double",
    )
    DL.write_delta_append(spark, phys, path, partition_by=["col-222"])

    logical_schema = {
        "type": "struct",
        "fields": [
            {
                "name": "id",
                "type": "long",
                "nullable": True,
                "metadata": {
                    "delta.columnMapping.id": 1,
                    "delta.columnMapping.physicalName": "col-111",
                },
            },
            {
                "name": "cat",
                "type": "string",
                "nullable": True,
                "metadata": {
                    "delta.columnMapping.id": 2,
                    "delta.columnMapping.physicalName": "col-222",
                },
            },
            {
                "name": "v",
                "type": "double",
                "nullable": True,
                "metadata": {
                    "delta.columnMapping.id": 3,
                    "delta.columnMapping.physicalName": "col-333",
                },
            },
        ],
    }

    def map_schema(a):
        if "metaData" in a:
            a["metaData"]["schemaString"] = json.dumps(logical_schema)
            a["metaData"]["partitionColumns"] = ["cat"]
            a["metaData"]["configuration"] = {
                "delta.columnMapping.mode": "name",
                "delta.columnMapping.maxColumnId": "3",
            }
        if "protocol" in a:
            a["protocol"] = {"minReaderVersion": 2, "minWriterVersion": 5}

    _rewrite_commit(path, 0, map_schema)
    got = DL.read_delta(spark, path)
    assert got.columns == ["id", "cat", "v"]
    assert sorted(map(tuple, got.collect())) == [
        (1, "a", 1.5), (2, "b", 2.5), (3, "a", 3.5),
    ]
    # write-side mapping is out of scope, loudly — the writer
    # protocol GATE (ADVICE r9 #3) fires first: minWriterVersion 5
    # implies columnMapping among other unimplemented features
    with _pytest.raises(NotImplementedError, match="columnMapping"):
        DL.delete_from_delta(spark, path, "id = 1")


def test_delta_timestamp_ntz_feature_allowed(spark, tmp_path):
    """timestampNtz is a pure type-presence reader feature — the
    schema-driven parquet scan already handles it, so the guard lets
    it through."""
    import datetime

    from traffic_forecast_etl_spark.sources import delta_log as DL

    path = str(tmp_path / "dt")
    df = spark.createDataFrame(
        [(1, datetime.datetime(2024, 5, 1, 12, 0))], "id long, ts timestamp_ntz"
    )
    DL.write_delta_append(spark, df, path)

    def add_feature(a):
        if "protocol" in a:
            a["protocol"] = {
                "minReaderVersion": 3,
                "minWriterVersion": 7,
                "readerFeatures": ["timestampNtz"],
                "writerFeatures": ["timestampNtz"],
            }

    _rewrite_commit(path, 0, add_feature)
    got = DL.read_delta(spark, path).collect()
    assert got[0].ts == datetime.datetime(2024, 5, 1, 12, 0)


def test_delta_concurrent_commit_put_if_absent(spark, tmp_path):
    """Two writers racing to the same version: exactly one wins the
    O_EXCL create; the loser re-plans (the protocol's storage
    contract)."""
    import pytest as _pytest

    from traffic_forecast_etl_spark.sources import delta_log as DL

    path = str(tmp_path / "dt")
    DL.write_delta_append(spark, spark.createDataFrame([(1,)], "id long"), path)
    with _pytest.raises(FileExistsError):
        DL._commit_delta(path, 0, [{"commitInfo": {"operation": "X"}}])
    # a fresh append re-plans to version 1 and succeeds
    assert DL.write_delta_append(
        spark, spark.createDataFrame([(2,)], "id long"), path
    ) == 1


# ---------------------------------------------------------------------------
# Deletion vectors (sources/delta_dv.py + delete_from_delta, r9 —
# VERDICT r8 missing #1). Codec pins are session-free; the table
# pins exercise the full write -> protocol upgrade -> executor-side
# positional filter -> time-travel loop.
# ---------------------------------------------------------------------------


def test_z85_known_vector_and_roundtrip():
    """ZeroMQ RFC 32's published test vector plus a UUID roundtrip
    (the protocol armors DV UUIDs/inline payloads in Z85)."""
    import uuid as _uuid

    from traffic_forecast_etl_spark.sources import delta_dv as DV

    assert DV.z85_encode(bytes([0x86, 0x4F, 0xD2, 0x6F, 0xB5, 0x59, 0xF7, 0x5B])) == "HelloWorld"
    assert DV.z85_decode("HelloWorld") == bytes([0x86, 0x4F, 0xD2, 0x6F, 0xB5, 0x59, 0xF7, 0x5B])
    u = _uuid.uuid4()
    assert len(DV.z85_encode(u.bytes)) == 20
    assert DV.z85_decode(DV.z85_encode(u.bytes)) == u.bytes


def test_roaring_array_roundtrip_array_bitmap_and_64bit():
    """Portable RoaringBitmapArray: array containers (<=4096), bitset
    containers (>4096 in one 64K chunk), multi-chunk, and >32-bit row
    positions all round-trip."""
    from traffic_forecast_etl_spark.sources import delta_dv as DV

    cases = [
        [0],
        [0, 1, 5, 65535],
        [1, 65536 + 2, 3 * 65536 + 7],            # multiple 16-bit chunks
        list(range(10_000)),                        # bitset container
        [5, (1 << 32) + 3, (1 << 32) + 70_000, (7 << 32) | 123],  # 64-bit keys
    ]
    for positions in cases:
        data = DV.roaring_array_serialize(positions)
        assert DV.roaring_array_deserialize(data) == sorted(positions)
    # payload framing: magic enforced
    payload = DV.dv_payload_encode([3, 9])
    assert DV.dv_payload_decode(payload) == [3, 9]
    import pytest as _pytest

    with _pytest.raises(ValueError, match="magic"):
        DV.dv_payload_decode(b"\x00\x00\x00\x00" + payload[4:])


def test_roaring_run_container_decode():
    """Real Delta writers emit RUN containers (cookie 12347) — decode
    a handcrafted one per the RoaringFormatSpec: run cookie with
    size-1 in the high 16 bits, run-flag bitset, (start, length)
    pairs meaning start..start+length inclusive."""
    import struct

    from traffic_forecast_etl_spark.sources import delta_dv as DV

    # one container (key 0, cardinality 7): runs [2..5] and [10..12]
    cookie = 12347 | (0 << 16)
    buf = struct.pack("<I", cookie)
    buf += bytes([0b1])                      # container 0 is a run
    buf += struct.pack("<HH", 0, 6)          # key 0, card-1 = 6
    # size < 4 with run cookie: no offset header
    buf += struct.pack("<H", 2)              # 2 runs
    buf += struct.pack("<HH", 2, 3)          # 2..5
    buf += struct.pack("<HH", 10, 2)         # 10..12
    arr = struct.pack("<Q", 1) + struct.pack("<I", 0) + buf
    assert DV.roaring_array_deserialize(arr) == [2, 3, 4, 5, 10, 11, 12]


def test_dv_file_layout_and_checksum(tmp_path):
    """DV .bin files: version byte, per-payload BE size + CRC-32
    trailer; size mismatch and corruption are both caught."""
    import pytest as _pytest

    from traffic_forecast_etl_spark.sources import delta_dv as DV

    p1 = DV.dv_payload_encode([1, 2, 3])
    p2 = DV.dv_payload_encode([100, 200])
    f = str(tmp_path / "dv.bin")
    offsets = DV.dv_file_write(f, [p1, p2])
    assert offsets[0] == 1  # right after the version byte
    assert DV.dv_file_read(f, offsets[0], len(p1)) == p1
    assert DV.dv_file_read(f, offsets[1], len(p2)) == p2
    with _pytest.raises(ValueError, match="size mismatch"):
        DV.dv_file_read(f, offsets[0], len(p1) + 4)
    raw = bytearray(open(f, "rb").read())
    raw[offsets[0] + 4 + 2] ^= 0xFF  # flip a payload byte
    open(f, "wb").write(bytes(raw))
    with _pytest.raises(ValueError, match="checksum"):
        DV.dv_file_read(f, offsets[0], len(p1))


def test_delta_delete_dv_roundtrip_and_time_travel(spark, tmp_path):
    """delete_from_delta writes spec-shaped DVs (no data-file
    rewrite), upgrades the protocol to the deletionVectors feature,
    read_delta masks the positions executor-side, time travel to the
    pre-delete version still sees every row, and a SECOND delete
    merges with the existing DV."""
    import os

    from traffic_forecast_etl_spark.sources import delta_log as DL

    path = str(tmp_path / "dt")
    df = spark.createDataFrame(
        [(i, i % 5, float(i)) for i in range(50)], "id long, k long, v double"
    )
    DL.write_delta_append(spark, df, path)
    data_files = {
        n for r, _, ns in os.walk(path) for n in ns
        if n.endswith(".parquet") and "_delta_log" not in r
    }

    v = DL.delete_from_delta(spark, path, "k = 2")
    assert v == 1
    got = DL.read_delta(spark, path)
    assert {r.id for r in got.collect()} == {i for i in range(50) if i % 5 != 2}
    # no data file was rewritten; exactly one DV sidecar appeared
    after = {
        n for r, _, ns in os.walk(path) for n in ns
        if n.endswith(".parquet") and "_delta_log" not in r
    }
    assert after == data_files
    assert len([n for n in os.listdir(path) if n.endswith(".bin")]) == 1
    # only files actually holding k=2 rows carry a descriptor; their
    # cardinalities sum to the 10 deleted rows
    adds = DL.delta_snapshot_files(spark, path)
    dvs = [a["deletionVector"] for a in adds if a.get("deletionVector")]
    assert dvs and all(
        d["storageType"] == "u" and len(d["pathOrInlineDv"]) == 20 for d in dvs
    )
    assert sum(d["cardinality"] for d in dvs) == 10
    # time travel: pre-delete version sees all 50 rows
    assert DL.read_delta(spark, path, version=0).count() == 50

    # second delete merges with the existing DVs
    DL.delete_from_delta(spark, path, "id < 7")
    got2 = {r.id for r in DL.read_delta(spark, path).collect()}
    assert got2 == {i for i in range(7, 50) if i % 5 != 2}
    # deleting nothing is a no-op commit-wise
    latest = DL._latest_version(path)
    assert DL.delete_from_delta(spark, path, "id > 999") == latest


def test_delta_delete_on_partition_column(spark, tmp_path):
    """The DELETE condition may reference partition columns (they are
    not in the data files — the scan re-attaches them from the log
    before evaluating)."""
    from traffic_forecast_etl_spark.sources import delta_log as DL

    path = str(tmp_path / "dt")
    df = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0), (3, "a", 3.0), (4, "b", 4.0)],
        "id long, cat string, v double",
    )
    DL.write_delta_append(spark, df, path, partition_by=["cat"])
    DL.delete_from_delta(spark, path, "cat = 'a' AND v > 1.5")
    got = DL.read_delta(spark, path)
    assert sorted((r.id, r.cat) for r in got.collect()) == [
        (1, "a"), (2, "b"), (4, "b"),
    ]


def test_delta_inline_dv_read(spark, tmp_path):
    """storageType 'i' (inline, Z85-armored payload in the descriptor
    itself) decodes without any sidecar file — forged onto a real add
    action to pin the reader's third storage mode."""
    import json

    from traffic_forecast_etl_spark.sources import delta_dv as DV
    from traffic_forecast_etl_spark.sources import delta_log as DL

    path = str(tmp_path / "dt")
    df = spark.createDataFrame([(i,) for i in range(10)], "id long")
    df.coalesce(1).createOrReplaceTempView("_tmp")
    DL.write_delta_append(spark, spark.table("_tmp"), path)
    payload = DV.dv_payload_encode([0, 3])  # delete positions 0 and 3
    pad = (-len(payload)) % 4
    inline = DV.z85_encode(payload + b"\x00" * pad) if pad else DV.z85_encode(payload)
    # Z85 needs 4-byte alignment; payloads are already aligned here
    assert pad == 0
    adds = DL.delta_snapshot_files(spark, path)
    assert len(adds) == 1
    new_add = dict(adds[0])
    new_add["deletionVector"] = {
        "storageType": "i",
        "pathOrInlineDv": inline,
        "sizeInBytes": len(payload),
        "cardinality": 2,
    }
    DL._commit_delta(
        path,
        1,
        [
            {
                "protocol": {
                    "minReaderVersion": 3,
                    "minWriterVersion": 7,
                    "readerFeatures": ["deletionVectors"],
                    "writerFeatures": ["deletionVectors"],
                }
            },
            {"remove": {"path": adds[0]["path"], "dataChange": True}},
            {"add": new_add},
        ],
    )
    # positions 0 and 3 of the single file (ids 0 and 3) are gone
    assert {r.id for r in DL.read_delta(spark, path).collect()} == set(range(10)) - {0, 3}


def test_delta_append_race_cleans_staged_files(spark, tmp_path, monkeypatch):
    """ADVICE r8: a lost put-if-absent race must not orphan the
    already-moved data files — the loser deletes them before
    re-raising. The race is injected mid-flight: a rival steals the
    planned version AFTER the appender moved its files but before its
    commit."""
    import os

    import pytest as _pytest

    from traffic_forecast_etl_spark.sources import delta_log as DL

    path = str(tmp_path / "dt")
    DL.write_delta_append(spark, spark.createDataFrame([(1,)], "id long"), path)
    before = {
        os.path.join(r, n) for r, _, ns in os.walk(path) for n in ns
        if n.endswith(".parquet") and "_delta_log" not in r
    }
    orig = DL._commit_delta

    def racy(p, version, actions):
        orig(p, version, [{"commitInfo": {"operation": "STEAL"}}])  # rival wins
        return orig(p, version, actions)  # loser: FileExistsError

    monkeypatch.setattr(DL, "_commit_delta", racy)
    with _pytest.raises(FileExistsError):
        DL.write_delta_append(spark, spark.createDataFrame([(2,)], "id long"), path)
    monkeypatch.setattr(DL, "_commit_delta", orig)
    after = {
        os.path.join(r, n) for r, _, ns in os.walk(path) for n in ns
        if n.endswith(".parquet") and "_delta_log" not in r
    }
    assert after == before  # loser's files were cleaned up
    assert DL.read_delta(spark, path).count() == 1


def test_delta_checkpoint_write_and_log_truncation(spark, tmp_path):
    """write_delta_checkpoint (r9): our own appends now compact into
    spec-shaped parquet checkpoints — delete every commit JSON at or
    below the checkpoint version and the table (including DV
    descriptors and partition values) still reads. Auto-checkpointing
    fires every checkpoint_interval commits."""
    import os

    from traffic_forecast_etl_spark.sources import delta_log as DL

    path = str(tmp_path / "dt")
    for i in range(4):
        DL.write_delta_append(
            spark,
            spark.createDataFrame(
                [(i * 10 + j, "a" if j % 2 == 0 else "b") for j in range(10)],
                "id long, cat string",
            ),
            path,
            partition_by=["cat"] if i == 0 else None,
            checkpoint_interval=None,
        )
    DL.delete_from_delta(spark, path, "id % 10 = 9")  # version 4, DVs
    v = DL.write_delta_checkpoint(path)
    assert v == 4
    assert os.path.exists(path + "/_delta_log/00000000000000000004.checkpoint.parquet")
    # drop EVERY commit JSON <= checkpoint version: replay must come
    # entirely from the checkpoint
    for i in range(5):
        os.remove(path + f"/_delta_log/{i:020d}.json")
    got = DL.read_delta(spark, path)
    assert {r.id for r in got.collect()} == {
        i * 10 + j for i in range(4) for j in range(10) if j != 9
    }
    assert got.schema["cat"].dataType.simpleString() == "string"
    # appends continue past the checkpoint
    DL.write_delta_append(
        spark,
        spark.createDataFrame([(999, "a")], "id long, cat string"),
        path,
        checkpoint_interval=None,
    )
    assert DL.read_delta(spark, path).count() == 37

    # auto-checkpoint: interval=2 fires at even versions
    p2 = str(tmp_path / "dt2")
    for i in range(3):
        DL.write_delta_append(
            spark,
            spark.createDataFrame([(i,)], "id long"),
            p2,
            checkpoint_interval=2,
        )
    assert os.path.exists(p2 + "/_delta_log/00000000000000000002.checkpoint.parquet")
    assert os.path.exists(p2 + "/_delta_log/_last_checkpoint")


# ---------------------------------------------------------------------------
# Iceberg metadata interop (sources/iceberg_meta.py + avro_io.py, r9 —
# VERDICT r8 missing #2). Pure-Python Avro + metadata-tree replay;
# cross-validation vs real Iceberg jars is environment-blocked.
# ---------------------------------------------------------------------------


def test_avro_roundtrip_all_types(tmp_path):
    """Object-container roundtrip over every type the Iceberg
    manifest schemas use: records, unions, arrays, maps, enums,
    fixed, named-type references, negative varints."""
    from traffic_forecast_etl_spark.sources import avro_io as AV

    schema = {
        "type": "record",
        "name": "top",
        "fields": [
            {"name": "i", "type": "int"},
            {"name": "l", "type": "long"},
            {"name": "s", "type": "string"},
            {"name": "b", "type": "bytes"},
            {"name": "f", "type": "float"},
            {"name": "d", "type": "double"},
            {"name": "bool", "type": "boolean"},
            {"name": "opt", "type": ["null", "long"]},
            {"name": "arr", "type": {"type": "array", "items": "long"}},
            {"name": "m", "type": {"type": "map", "values": "string"}},
            {"name": "e", "type": {"type": "enum", "name": "col", "symbols": ["R", "G"]}},
            {"name": "fx", "type": {"type": "fixed", "name": "fx8", "size": 2}},
            {
                "name": "nested",
                "type": {
                    "type": "record",
                    "name": "inner",
                    "fields": [{"name": "x", "type": "long"}],
                },
            },
            {"name": "nested2", "type": "inner"},  # named-type reference
        ],
    }
    rows = [
        {
            "i": -3, "l": 1 << 40, "s": "héllo", "b": b"\x00\xff",
            "f": 1.5, "d": -2.25, "bool": True, "opt": None,
            "arr": [1, -2, 3], "m": {"k1": "v1", "k2": "v2"}, "e": "G",
            "fx": b"ab", "nested": {"x": 7}, "nested2": {"x": -9},
        },
        {
            "i": 0, "l": -1, "s": "", "b": b"", "f": 0.0, "d": 0.0,
            "bool": False, "opt": 42, "arr": [], "m": {}, "e": "R",
            "fx": b"cd", "nested": {"x": 0}, "nested2": {"x": 1},
        },
    ]
    p = str(tmp_path / "t.avro")
    AV.write_avro(p, schema, rows)
    got_schema, got = AV.read_avro(p)
    assert got_schema == schema
    assert got == rows


def test_avro_deflate_codec(tmp_path):
    """Real Iceberg writers default to deflate-compressed manifest
    blocks — forge one (raw DEFLATE payload) and decode it."""
    import io
    import json as _json
    import os as _os
    import zlib

    from traffic_forecast_etl_spark.sources import avro_io as AV

    schema = {
        "type": "record",
        "name": "r",
        "fields": [{"name": "x", "type": "long"}],
    }
    body = io.BytesIO()
    reg = AV._Registry()
    for v in (1, 2, 3):
        AV._encode(schema, {"x": v}, body, reg)
    payload = zlib.compress(body.getvalue())[2:-4]  # strip zlib header/adler
    out = io.BytesIO()
    out.write(b"Obj\x01")
    AV._encode(
        {"type": "map", "values": "bytes"},
        {"avro.schema": _json.dumps(schema).encode(), "avro.codec": b"deflate"},
        out,
        AV._Registry(),
    )
    sync = _os.urandom(16)
    out.write(sync)
    AV._write_long(out, 3)
    AV._write_long(out, len(payload))
    out.write(payload)
    out.write(sync)
    p = str(tmp_path / "d.avro")
    open(p, "wb").write(out.getvalue())
    _, got = AV.read_avro(p)
    assert got == [{"x": 1}, {"x": 2}, {"x": 3}]


def test_iceberg_roundtrip_and_time_travel(spark, tmp_path):
    """write -> metadata tree (vN.metadata.json, Avro manifest list,
    Avro manifest) -> read replays the live file set; snapshot_id=
    time-travels to the first append."""
    import os

    from traffic_forecast_etl_spark.sources import iceberg_meta as IM

    path = str(tmp_path / "ice")
    df0 = spark.createDataFrame(
        [(i, f"v{i}", float(i)) for i in range(10)], "id long, val string, v double"
    )
    s1 = IM.write_iceberg_append(spark, df0, path)
    df1 = spark.createDataFrame(
        [(i, f"w{i}", float(i)) for i in range(10, 15)], "id long, val string, v double"
    )
    s2 = IM.write_iceberg_append(spark, df1, path)
    assert s1 != s2

    got = IM.read_iceberg(spark, path)
    assert {r.id for r in got.collect()} == set(range(15))
    assert {r.id for r in IM.read_iceberg(spark, path, snapshot_id=s1).collect()} == set(range(10))
    # spec-shaped layout on disk
    assert os.path.exists(path + "/metadata/version-hint.text")
    assert os.path.exists(path + "/metadata/v2.metadata.json")
    avros = [n for n in os.listdir(path + "/metadata") if n.endswith(".avro")]
    assert len(avros) == 4  # 2 manifests + 2 manifest lists
    # planning surface: live files with counts, no data reads
    files = IM.iceberg_snapshot_files(path)
    assert sum(f["record_count"] for f in files) == 15
    # unknown snapshot id is a loud error
    import pytest as _pytest

    with _pytest.raises(ValueError, match="snapshot"):
        IM.read_iceberg(spark, path, snapshot_id=999)
    # schema drift on append refused (fixture writer contract)
    with _pytest.raises(ValueError, match="schema"):
        IM.write_iceberg_append(
            spark, spark.createDataFrame([(1,)], "id long"), path
        )


def test_iceberg_deleted_entries_and_guards(spark, tmp_path):
    """Manifest entries with status DELETED leave the live set;
    equality delete files and non-parquet data files are refused
    loudly (position deletes READ since r10)."""
    import os

    import pytest as _pytest

    from traffic_forecast_etl_spark.sources import avro_io as AV
    from traffic_forecast_etl_spark.sources import iceberg_meta as IM

    path = str(tmp_path / "ice")
    df = spark.createDataFrame([(i,) for i in range(6)], "id long")
    IM.write_iceberg_append(spark, df, path)

    # mark one manifest entry DELETED in place
    mdir = path + "/metadata"
    manifest = next(
        os.path.join(mdir, n) for n in os.listdir(mdir)
        if n.endswith("-m0.avro")
    )
    schema, entries = AV.read_avro(manifest)
    victim_idx = next(
        i for i, e in enumerate(entries) if e["data_file"]["record_count"] > 0
    )
    victim = entries[victim_idx]["data_file"]["file_path"]
    victim_ids = {
        r.id for r in spark.read.parquet(os.path.join(path, victim)).collect()
    }
    entries[victim_idx]["status"] = 2  # DELETED
    AV.write_avro(manifest, schema, entries)
    live = IM.iceberg_snapshot_files(path)
    assert victim not in {f["file_path"] for f in live}
    got_ids = {r.id for r in IM.read_iceberg(spark, path).collect()}
    assert got_ids == set(range(6)) - victim_ids  # exactly those rows gone

    # non-parquet format refused (on a LIVE entry, not the deleted one)
    schema2, entries2 = AV.read_avro(manifest)
    live_idx = next(i for i, e in enumerate(entries2) if e["status"] != 2)
    entries2[live_idx]["data_file"]["file_format"] = "ORC"
    AV.write_avro(manifest, schema2, entries2)
    with _pytest.raises(NotImplementedError, match="ORC"):
        IM.iceberg_snapshot_files(path)
    AV.write_avro(manifest, schema2, entries)  # restore

    # an EQUALITY delete entry missing its equality_ids is malformed —
    # loud error, never a silent mis-read (well-formed equality deletes
    # READ since r10; see test_iceberg_equality_deletes_roundtrip)
    schema3, entries3 = AV.read_avro(manifest)
    entries3[live_idx]["data_file"]["content"] = 2
    AV.write_avro(manifest, schema3, entries3)
    with _pytest.raises(ValueError, match="equality_ids"):
        IM.iceberg_snapshot_files(path)


def test_iceberg_empty_table_schema(spark, tmp_path):
    """A metadata tree with no current snapshot reads as an empty
    frame with the declared Iceberg schema mapped to Spark types."""
    import json
    import os

    from traffic_forecast_etl_spark.sources import iceberg_meta as IM

    path = str(tmp_path / "ice")
    os.makedirs(path + "/metadata")
    meta = {
        "format-version": 1,
        "table-uuid": "u",
        "location": path,
        "schema": {
            "type": "struct",
            "schema-id": 0,
            "fields": [
                {"id": 1, "name": "id", "required": False, "type": "long"},
                {"id": 2, "name": "name", "required": False, "type": "string"},
            ],
        },
        "partition-spec": [],
        "properties": {},
        "current-snapshot-id": -1,
        "snapshots": [],
    }
    with open(path + "/metadata/v1.metadata.json", "w") as f:
        json.dump(meta, f)
    got = IM.read_iceberg(spark, path)
    assert got.count() == 0
    assert [f.dataType.simpleString() for f in got.schema.fields] == ["bigint", "string"]


def test_roaring_property_roundtrip():
    """Property pin: ANY set of u64 row positions round-trips through
    the portable RoaringBitmapArray — mixed container types, chunk
    boundaries, high-32 keys, dense runs."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from traffic_forecast_etl_spark.sources import delta_dv as DV

    @settings(max_examples=200, deadline=None)
    @given(
        st.sets(
            st.one_of(
                st.integers(min_value=0, max_value=200_000),
                st.integers(min_value=65_530, max_value=65_545),  # chunk edge
                st.integers(min_value=(1 << 32) - 5, max_value=(1 << 32) + 5),
                st.integers(min_value=0, max_value=(1 << 40)),
            ),
            max_size=300,
        )
    )
    def rt(positions):
        data = DV.dv_payload_encode(positions)
        assert DV.dv_payload_decode(data) == sorted(positions)

    rt()


def test_z85_property_roundtrip():
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from traffic_forecast_etl_spark.sources import delta_dv as DV

    @settings(max_examples=200, deadline=None)
    @given(st.binary(min_size=0, max_size=64).filter(lambda b: len(b) % 4 == 0))
    def rt(raw):
        assert DV.z85_decode(DV.z85_encode(raw)) == raw

    rt()


def test_avro_property_roundtrip():
    """Property pin: random records over the manifest-like schema
    round-trip through the object container."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from traffic_forecast_etl_spark.sources import avro_io as AV

    schema = {
        "type": "record",
        "name": "r",
        "fields": [
            {"name": "s", "type": "string"},
            {"name": "n", "type": "long"},
            {"name": "opt", "type": ["null", "long"]},
            {"name": "arr", "type": {"type": "array", "items": "long"}},
            {"name": "m", "type": {"type": "map", "values": "long"}},
        ],
    }
    rec = st.fixed_dictionaries(
        {
            "s": st.text(max_size=20),
            "n": st.integers(min_value=-(1 << 62), max_value=1 << 62),
            "opt": st.one_of(st.none(), st.integers(min_value=0, max_value=9)),
            "arr": st.lists(st.integers(min_value=-5, max_value=5), max_size=5),
            "m": st.dictionaries(st.text(max_size=5), st.integers(min_value=0, max_value=9), max_size=4),
        }
    )

    @settings(max_examples=50, deadline=None)
    @given(st.lists(rec, max_size=8))
    def rt(records):
        import tempfile

        with tempfile.NamedTemporaryFile(suffix=".avro") as f:
            AV.write_avro(f.name, schema, records)
            _, got = AV.read_avro(f.name)
            assert got == records

    rt()


def test_delta_column_mapping_with_deletion_vectors(spark, tmp_path):
    """The real DBR-14+ table shape: 'name'-mode column mapping AND
    deletion vectors on the same table — the physical-name scan, the
    executor-side DV mask, and the logical rename must compose."""
    import json

    from traffic_forecast_etl_spark.sources import delta_dv as DV
    from traffic_forecast_etl_spark.sources import delta_log as DL

    path = str(tmp_path / "dt")
    phys = spark.createDataFrame(
        [(i, float(i)) for i in range(10)], "`col-aa` long, `col-bb` double"
    ).coalesce(1)
    DL.write_delta_append(spark, phys, path)
    logical = {
        "type": "struct",
        "fields": [
            {"name": "id", "type": "long", "nullable": True,
             "metadata": {"delta.columnMapping.id": 1,
                          "delta.columnMapping.physicalName": "col-aa"}},
            {"name": "v", "type": "double", "nullable": True,
             "metadata": {"delta.columnMapping.id": 2,
                          "delta.columnMapping.physicalName": "col-bb"}},
        ],
    }

    def forge(a):
        if "metaData" in a:
            a["metaData"]["schemaString"] = json.dumps(logical)
            a["metaData"]["configuration"] = {
                "delta.columnMapping.mode": "name"
            }
        if "protocol" in a:
            a["protocol"] = {
                "minReaderVersion": 3, "minWriterVersion": 7,
                "readerFeatures": ["columnMapping", "deletionVectors"],
                "writerFeatures": ["columnMapping", "deletionVectors"],
            }

    _rewrite_commit(path, 0, forge)
    # attach an inline DV deleting physical row positions 2 and 5
    adds = DL.delta_snapshot_files(spark, path)
    assert len(adds) == 1
    payload = DV.dv_payload_encode([2, 5])
    assert len(payload) % 4 == 0
    new_add = dict(adds[0])
    new_add["deletionVector"] = {
        "storageType": "i",
        "pathOrInlineDv": DV.z85_encode(payload),
        "sizeInBytes": len(payload),
        "cardinality": 2,
    }
    DL._commit_delta(
        path, 1,
        [{"remove": {"path": adds[0]["path"], "dataChange": True}},
         {"add": new_add}],
    )
    got = DL.read_delta(spark, path)
    assert got.columns == ["id", "v"]
    assert {r.id for r in got.collect()} == set(range(10)) - {2, 5}
    # pre-delete version: logical names, all rows
    assert DL.read_delta(spark, path, version=0).count() == 10


def test_delta_dv_path_with_space_and_fail_closed(spark, tmp_path):
    """ADVICE r9 #1: Spark reports scanned files as URL-ENCODED URIs,
    so a table path needing encoding (space here) must still match its
    DV descriptors — deleted rows must NOT silently reappear. And the
    mask FAILS CLOSED: a file routed to the DV scan without a
    descriptor raises instead of passing rows through."""
    import pytest as _pytest

    from traffic_forecast_etl_spark.sources import delta_log as DL

    path = str(tmp_path / "dir with space" / "t")
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(30)], "id long, v double"
    )
    DL.write_delta_append(spark, df, path)
    DL.delete_from_delta(spark, path, "id % 3 = 0")
    got = {r.id for r in DL.read_delta(spark, path).collect()}
    assert got == {i for i in range(30) if i % 3 != 0}

    # fail-closed: scanning a file through the DV path with no
    # descriptor for it raises rather than resurrecting rows
    import os

    from pyspark.sql import types as T

    data_file = next(
        os.path.join(r, n)
        for r, _, ns in os.walk(path)
        for n in ns
        if n.endswith(".parquet") and "_delta_log" not in r
    )
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("v", T.DoubleType()),
        ]
    )
    bad = DL._dv_filtered_scan(spark, [data_file], schema, path, {})
    with _pytest.raises(Exception, match="refusing to fail open"):
        bad.collect()


def test_delta_delete_protocol_upgrade_merges_features(spark, tmp_path):
    """ADVICE r9 #2: upgrading a foreign minReaderVersion-3 table to
    deletionVectors must UNION its existing reader/writer features and
    carry legacy-implied writer features, never replace them
    wholesale."""
    import json

    from traffic_forecast_etl_spark.sources import delta_log as DL

    path = str(tmp_path / "dt")
    df = spark.createDataFrame([(i,) for i in range(10)], "id long")
    DL.write_delta_append(spark, df, path)

    def forge(a):
        if "protocol" in a:
            a["protocol"] = {
                "minReaderVersion": 3,
                "minWriterVersion": 7,
                "readerFeatures": ["timestampNtz"],
                "writerFeatures": ["timestampNtz", "appendOnly"],
            }

    _rewrite_commit(path, 0, forge)
    # appendOnly FEATURE present but config not set -> appends/deletes OK
    DL.delete_from_delta(spark, path, "id = 3")
    protocol, _, _ = DL._replay(path)
    assert protocol["minReaderVersion"] == 3
    assert protocol["minWriterVersion"] == 7
    assert set(protocol["readerFeatures"]) == {"timestampNtz", "deletionVectors"}
    assert set(protocol["writerFeatures"]) == {
        "timestampNtz", "appendOnly", "deletionVectors",
    }

    # a legacy (1,2) table crossing into table features carries the
    # implied appendOnly/invariants writer features forward
    path2 = str(tmp_path / "dt2")
    DL.write_delta_append(spark, df, path2)
    DL.delete_from_delta(spark, path2, "id = 3")
    protocol2, _, _ = DL._replay(path2)
    assert set(protocol2["writerFeatures"]) == {
        "appendOnly", "invariants", "deletionVectors",
    }
    assert protocol2["readerFeatures"] == ["deletionVectors"]


def test_delta_writer_protocol_gate(spark, tmp_path):
    """ADVICE r9 #3: the shim refuses to COMMIT to tables whose
    protocol demands unimplemented writer behavior — appendOnly
    forbids DELETE, declared invariants / CHECK constraints refuse
    both ops, unknown writer features refuse, CDF tables refuse
    DELETE."""
    import pytest as _pytest

    from traffic_forecast_etl_spark.sources import delta_log as DL

    df = spark.createDataFrame([(i,) for i in range(6)], "id long")

    def mk(name, mutate):
        p = str(tmp_path / name)
        DL.write_delta_append(spark, df, p)
        _rewrite_commit(p, 0, mutate)
        return p

    def set_conf(conf):
        def m(a):
            if "metaData" in a:
                a["metaData"]["configuration"] = conf
        return m

    # appendOnly: append fine, DELETE refused
    p = mk("ao", set_conf({"delta.appendOnly": "true"}))
    DL.write_delta_append(spark, df, p)
    with _pytest.raises(ValueError, match="appendOnly"):
        DL.delete_from_delta(spark, p, "id = 1")

    # CDF: DELETE refused (no cdc actions produced), append fine
    p = mk("cdf", set_conf({"delta.enableChangeDataFeed": "true"}))
    DL.write_delta_append(spark, df, p)
    with _pytest.raises(NotImplementedError, match="cdc"):
        DL.delete_from_delta(spark, p, "id = 1")

    # declared column invariant: both ops refused
    def add_invariant(a):
        if "metaData" in a:
            import json as _json

            s = _json.loads(a["metaData"]["schemaString"])
            s["fields"][0]["metadata"] = {
                "delta.invariants": '{"expression":{"expression":"id > 0"}}'
            }
            a["metaData"]["schemaString"] = _json.dumps(s)
    p = mk("inv", add_invariant)
    with _pytest.raises(NotImplementedError, match="invariants"):
        DL.write_delta_append(spark, df, p)
    with _pytest.raises(NotImplementedError, match="invariants"):
        DL.delete_from_delta(spark, p, "id = 1")

    # CHECK constraints: refused
    p = mk("chk", set_conf({"delta.constraints.c1": "id < 100"}))
    with _pytest.raises(NotImplementedError, match="constraints"):
        DL.write_delta_append(spark, df, p)

    # unknown writer feature at v7: refused
    def unknown_wf(a):
        if "protocol" in a:
            a["protocol"] = {
                "minReaderVersion": 1,
                "minWriterVersion": 7,
                "writerFeatures": ["rowTracking"],
            }
    p = mk("wf", unknown_wf)
    with _pytest.raises(NotImplementedError, match="rowTracking"):
        DL.write_delta_append(spark, df, p)

    # legacy minWriterVersion 4 (CDF/generated columns): refused
    def legacy4(a):
        if "protocol" in a:
            a["protocol"] = {"minReaderVersion": 1, "minWriterVersion": 4}
    p = mk("l4", legacy4)
    with _pytest.raises(NotImplementedError, match="minWriterVersion 4"):
        DL.write_delta_append(spark, df, p)


def test_dv_numpy_codecs_bit_identical():
    """The vectorized encoder/decoder twins are bit-identical to the
    list forms across container kinds (array, bitset, multi-high-32,
    empty-adjacent keys)."""
    import numpy as np

    from traffic_forecast_etl_spark.sources import delta_dv as DV

    cases = [
        [],
        [0],
        [0, 1, 2, 65535, 65536, 1 << 20],
        list(range(5000)),  # bitset container
        [7, 9, (1 << 33) + 5, (1 << 33) + 6, (1 << 40)],
        sorted({(i * 2654435761) % (1 << 34) for i in range(3000)}),
    ]
    for pos in cases:
        a = DV.dv_payload_encode(pos)
        b = DV.dv_payload_encode_np(np.asarray(pos, dtype=np.int64))
        assert a == b, f"encode mismatch for {len(pos)} positions"
        back = DV.dv_payload_decode_np(a)
        assert back.tolist() == sorted(pos)
        assert DV.dv_payload_decode(a) == sorted(pos)
    # run-container decode: reuse the handcrafted fixture semantics
    # via the list decoder parity on a run-heavy payload
    run_heavy = list(range(100, 1100)) + list(range(70000, 70010))
    enc = DV.dv_payload_encode(run_heavy)
    assert DV.dv_payload_decode_np(enc).tolist() == run_heavy


def _forge_commit(path, actions):
    """Append a raw commit (test helper standing in for a foreign
    writer emitting actions ours never does — plain removes, txn)."""
    from traffic_forecast_etl_spark.sources import delta_log as DL

    v = DL._latest_version(path) + 1
    DL._commit_delta(path, v, actions)
    return v


def test_delta_checkpoint_carries_tombstones_and_txn(spark, tmp_path):
    """ADVICE r9 #4: checkpoints carry unexpired remove tombstones and
    txn actions, so external readers keep vacuum/idempotency state
    once commit JSONs are cleaned. Expired tombstones fall out."""
    import glob
    import os
    import time

    from traffic_forecast_etl_spark.sources import delta_log as DL

    path = str(tmp_path / "dt")
    df = spark.createDataFrame([(i, float(i)) for i in range(20)],
                               "id long, v double")
    DL.write_delta_append(spark, df, path)
    adds = DL.delta_snapshot_files(spark, path)
    import pyarrow.parquet as pq

    victim = next(
        a["path"] for a in adds
        if pq.read_metadata(os.path.join(path, a["path"])).num_rows > 0
    )
    now_ms = int(time.time() * 1000)
    # foreign writer: one fresh tombstone, one expired, one txn
    _forge_commit(path, [
        {"remove": {"path": victim, "deletionTimestamp": now_ms,
                    "dataChange": True}},
        {"remove": {"path": "ghost-expired.parquet",
                    "deletionTimestamp": now_ms - 30 * 24 * 3600 * 1000,
                    "dataChange": True}},
        {"txn": {"appId": "stream-42", "version": 7,
                 "lastUpdated": now_ms}},
    ])
    DL.write_delta_checkpoint(path)
    # clean ALL commit JSONs <= checkpoint; replay must come from it
    for f in glob.glob(path + "/_delta_log/*.json"):
        os.remove(f)
    state = DL._replay_full(path)
    assert victim not in state["adds"]
    assert victim in state["removes"]
    assert state["removes"][victim]["deletionTimestamp"] == now_ms
    assert "ghost-expired.parquet" not in state["removes"]  # expired
    assert state["txns"]["stream-42"]["version"] == 7
    import pyarrow.parquet as pq

    victim_rows = pq.read_metadata(os.path.join(path, victim)).num_rows
    assert victim_rows > 0
    assert DL.read_delta(spark, path).count() == 20 - victim_rows


def test_delta_multipart_and_v2_checkpoint_replay(spark, tmp_path):
    """VERDICT r9 #3: multi-part and v2 (sidecar) checkpoints replay
    to the SAME state as JSON-only replay — pinned by deleting every
    commit JSON after each checkpoint form and re-reading."""
    import glob
    import os

    from traffic_forecast_etl_spark.sources import delta_log as DL

    def fresh(name, **cp_kwargs):
        path = str(tmp_path / name)
        df = spark.createDataFrame(
            [(i, i % 3, float(i)) for i in range(30)],
            "id long, k long, v double",
        )
        DL.write_delta_append(spark, df, path, partition_by=["k"],
                              checkpoint_interval=None)
        DL.write_delta_append(
            spark,
            spark.createDataFrame([(100 + i, i % 3, 0.5) for i in range(6)],
                                  "id long, k long, v double"),
            path, checkpoint_interval=None,
        )
        DL.delete_from_delta(spark, path, "id % 5 = 0")
        expect = sorted(
            r.id for r in DL.read_delta(spark, path).collect()
        )
        DL.write_delta_checkpoint(path, **cp_kwargs)
        for f in glob.glob(path + "/_delta_log/*.json"):
            os.remove(f)
        got = sorted(r.id for r in DL.read_delta(spark, path).collect())
        assert got == expect, f"{name}: checkpoint replay diverged"
        return path

    fresh("classic")
    p = fresh("multipart", parts=3)
    names = os.listdir(p + "/_delta_log")
    assert sum(".checkpoint.0000000001.0000000003." in n for n in names) == 1
    assert sum(".checkpoint." in n and n.endswith(".parquet") for n in names) == 3
    p = fresh("v2", v2=True)
    names = os.listdir(p + "/_delta_log")
    assert os.path.isdir(p + "/_delta_log/_sidecars")
    assert len(os.listdir(p + "/_delta_log/_sidecars")) == 1
    # exactly one v2 top file, no classic file
    tops = [n for n in names if ".checkpoint." in n and n.endswith(".parquet")]
    assert len(tops) == 1 and not tops[0].endswith(".checkpoint.parquet")


def test_delta_v2_json_checkpoint_read(spark, tmp_path):
    """A v2 checkpoint in JSON form (foreign writers may emit
    .checkpoint.<uuid>.json) replays identically."""
    import glob
    import json as _json
    import os

    from traffic_forecast_etl_spark.sources import delta_log as DL

    path = str(tmp_path / "dt")
    df = spark.createDataFrame([(i, float(i)) for i in range(12)],
                               "id long, v double")
    DL.write_delta_append(spark, df, path, checkpoint_interval=None)
    DL.delete_from_delta(spark, path, "id = 3")
    expect = sorted(r.id for r in DL.read_delta(spark, path).collect())
    state = DL._replay_full(path)
    v = DL._latest_version(path)
    d = path + "/_delta_log"
    with open(os.path.join(d, f"{v:020d}.checkpoint.abcdef01.json"), "w") as f:
        f.write(_json.dumps({"checkpointMetadata": {"version": v}}) + "\n")
        f.write(_json.dumps({"protocol": state["protocol"]}) + "\n")
        f.write(_json.dumps({"metaData": state["meta"]}) + "\n")
        for a in state["adds"].values():
            f.write(_json.dumps({"add": a}) + "\n")
    with open(os.path.join(d, "_last_checkpoint"), "w") as f:
        _json.dump({"version": v, "size": 3 + len(state["adds"])}, f)
    for f2 in glob.glob(d + "/0*.json"):
        if ".checkpoint." not in f2:
            os.remove(f2)
    got = sorted(r.id for r in DL.read_delta(spark, path).collect())
    assert got == expect
    # a version mismatch in checkpointMetadata is refused
    import pytest as _pytest

    with open(os.path.join(d, f"{v:020d}.checkpoint.abcdef01.json")) as f:
        lines = f.readlines()
    lines[0] = _json.dumps({"checkpointMetadata": {"version": v + 9}}) + "\n"
    with open(os.path.join(d, f"{v:020d}.checkpoint.abcdef01.json"), "w") as f:
        f.writelines(lines)
    with _pytest.raises(ValueError, match="declares version"):
        DL.read_delta(spark, path)


def test_avro_union_multi_nonnull_branch(tmp_path):
    """ADVICE r9 #5: a union with two non-null branches encodes each
    value against the branch matching its PYTHON type; ambiguity
    (two branches accepting the same type) refuses rather than
    corrupting output."""
    import pytest as _pytest

    from traffic_forecast_etl_spark.sources.avro_io import read_avro, write_avro

    schema = {
        "type": "record",
        "name": "rec",
        "fields": [
            {"name": "x", "type": ["null", "long", "string"]},
            {"name": "y", "type": ["boolean", "double"]},
        ],
    }
    rows = [
        {"x": None, "y": True},
        {"x": 42, "y": 2.5},
        {"x": "forty-two", "y": False},
    ]
    p = str(tmp_path / "u.avro")
    write_avro(p, schema, rows)
    _, back = read_avro(p)
    assert back == rows
    # bool is NOT an int branch match (Python bool subclasses int)
    schema2 = {
        "type": "record", "name": "r2",
        "fields": [{"name": "x", "type": ["long", "boolean"]}],
    }
    p2 = str(tmp_path / "u2.avro")
    write_avro(p2, schema2, [{"x": True}, {"x": 3}])
    _, back2 = read_avro(p2)
    assert back2 == [{"x": True}, {"x": 3}]
    # ambiguous: two branches accept a str
    amb = {
        "type": "record", "name": "r3",
        "fields": [{"name": "x", "type": [
            "string",
            {"type": "enum", "name": "E", "symbols": ["a", "b"]},
        ]}],
    }
    with _pytest.raises(ValueError, match="ambiguous"):
        write_avro(str(tmp_path / "u3.avro"), amb, [{"x": "a"}])


def test_delta_column_mapping_id_mode_read(spark, tmp_path):
    """VERDICT r9 #2 flips positive: an 'id'-mode table (the
    Iceberg-converted shape — parquet column names match NEITHER the
    logical nor the physicalName; only field ids are authoritative)
    reads value-correctly by resolving each file's footer field ids.
    Files with DIFFERENT parquet names for the same ids group and
    read together, and deletion vectors compose on top."""
    import json as _json
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from traffic_forecast_etl_spark.sources import delta_log as DL

    path = str(tmp_path / "dt")
    os.makedirs(path + "/_delta_log")

    def write_file(name, ids_to_names, rows):
        arrays, fields = [], []
        for (fid, pname), vals in zip(ids_to_names, rows):
            typ = pa.int64() if isinstance(vals[0], int) else pa.float64()
            fields.append(
                pa.field(pname, typ, metadata={b"PARQUET:field_id": str(fid).encode()})
            )
            arrays.append(pa.array(vals, type=typ))
        pq.write_table(pa.table(dict(zip([f.name for f in fields], arrays)),
                                schema=pa.schema(fields)),
                       os.path.join(path, name))
        return os.path.getsize(os.path.join(path, name))

    # file A: original Iceberg names; file B: renamed columns, same ids
    sz_a = write_file("a.parquet", [(1, "ice_id"), (2, "ice_v")],
                      [[0, 1, 2], [0.0, 1.0, 2.0]])
    sz_b = write_file("b.parquet", [(1, "renamed_id"), (2, "renamed_v")],
                      [[3, 4], [3.0, 4.0]])
    logical_schema = {
        "type": "struct",
        "fields": [
            {"name": "id", "type": "long", "nullable": True,
             "metadata": {"delta.columnMapping.id": 1,
                          "delta.columnMapping.physicalName": "col-aaa"}},
            {"name": "v", "type": "double", "nullable": True,
             "metadata": {"delta.columnMapping.id": 2,
                          "delta.columnMapping.physicalName": "col-bbb"}},
        ],
    }
    actions = [
        {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
        {"metaData": {
            "id": "fixture", "format": {"provider": "parquet", "options": {}},
            "schemaString": _json.dumps(logical_schema),
            "partitionColumns": [],
            "configuration": {"delta.columnMapping.mode": "id",
                              "delta.columnMapping.maxColumnId": "2"},
            "createdTime": 0,
        }},
        {"add": {"path": "a.parquet", "partitionValues": {}, "size": sz_a,
                 "modificationTime": 0, "dataChange": True}},
        {"add": {"path": "b.parquet", "partitionValues": {}, "size": sz_b,
                 "modificationTime": 0, "dataChange": True}},
    ]
    DL._commit_delta(path, 0, actions)

    got = DL.read_delta(spark, path)
    assert got.columns == ["id", "v"]
    assert sorted(map(tuple, got.collect())) == [
        (0, 0.0), (1, 1.0), (2, 2.0), (3, 3.0), (4, 4.0),
    ]
    # a file missing a wanted field id errors loudly
    import pytest as _pytest

    sz_c = write_file("c.parquet", [(1, "only_id")], [[9]])
    DL._commit_delta(path, 1, [
        {"add": {"path": "c.parquet", "partitionValues": {}, "size": sz_c,
                 "modificationTime": 0, "dataChange": True}},
    ])
    with _pytest.raises(ValueError, match="no .*field id 2"):
        DL.read_delta(spark, path)
    # time travel back to version 0 still reads
    assert DL.read_delta(spark, path, version=0).count() == 5


def test_iceberg_position_deletes_roundtrip(spark, tmp_path):
    """VERDICT r9 #1 flips positive: a v2 table with POSITION delete
    files reads the surviving rows exactly — delete manifests replay,
    footer stats bound the affected files, masks apply executor-side.
    Snapshot time travel to the pre-delete snapshot still sees every
    row; a second delete composes; appends after a delete stay
    readable."""
    import os

    from traffic_forecast_etl_spark.sources import iceberg_meta as IM

    path = str(tmp_path / "ice")
    df = spark.createDataFrame(
        [(i, i % 4, float(i)) for i in range(40)], "id long, k long, v double"
    )
    s1 = IM.write_iceberg_append(spark, df, path)
    s2 = IM.delete_from_iceberg(spark, path, "k = 1")
    assert s2 == s1 + 1
    got = {r.id for r in IM.read_iceberg(spark, path).collect()}
    assert got == {i for i in range(40) if i % 4 != 1}
    # no data file rewritten; exactly one delete parquet appeared
    meta = IM.load_table_metadata(path)
    assert meta["format-version"] == 2
    deletes = IM._snapshot_state(path)[1]
    assert len(deletes) == 1 and deletes[0]["content"] == 1
    # pre-delete snapshot sees every row
    assert IM.read_iceberg(spark, path, snapshot_id=s1).count() == 40
    # second delete composes (overlapping positions are harmless)
    IM.delete_from_iceberg(spark, path, "id < 6")
    got2 = {r.id for r in IM.read_iceberg(spark, path).collect()}
    assert got2 == {i for i in range(6, 40) if i % 4 != 1}
    # append after delete: new files unaffected by old delete files
    IM.write_iceberg_append(
        spark,
        spark.createDataFrame([(100, 1, 0.0)], "id long, k long, v double"),
        path,
    )
    got3 = {r.id for r in IM.read_iceberg(spark, path).collect()}
    assert got3 == got2 | {100}
    # deleting nothing is a metadata no-op
    cur = IM.load_table_metadata(path)["current-snapshot-id"]
    assert IM.delete_from_iceberg(spark, path, "id > 9000") == cur


def test_iceberg_equality_deletes_roundtrip(spark, tmp_path):
    """Equality deletes (r10): rows matching the delete keys
    disappear for data files with STRICTLY SMALLER sequence numbers —
    re-inserts in later snapshots stay visible (the spec's sequencing
    rule); null keys match null-safely; composite keys and
    composition with position deletes work; time travel to the
    pre-delete snapshot sees every row."""
    from traffic_forecast_etl_spark.sources import iceberg_meta as IM

    path = str(tmp_path / "ice")
    df = spark.createDataFrame(
        [(i, ["a", "b", "c"][i % 3], float(i)) for i in range(30)]
        + [(99, None, 9.9)],
        "id long, cat string, v double",
    )
    s1 = IM.write_iceberg_append(spark, df, path)
    # equality delete on cat in ('b') and the NULL row (null-safe)
    keys = spark.createDataFrame([("b",), (None,)], "cat string")
    s2 = IM.write_iceberg_equality_delete(spark, path, keys)
    assert s2 == s1 + 1
    got = {r.id for r in IM.read_iceberg(spark, path).collect()}
    assert got == {i for i in range(30) if i % 3 != 1}
    # re-insert AFTER the delete: later sequence number -> visible
    IM.write_iceberg_append(
        spark,
        spark.createDataFrame([(200, "b", 1.0)], "id long, cat string, v double"),
        path,
    )
    got2 = {r.id for r in IM.read_iceberg(spark, path).collect()}
    assert got2 == got | {200}
    # pre-delete snapshot: all 31 rows
    assert IM.read_iceberg(spark, path, snapshot_id=s1).count() == 31
    # composite-key equality delete + POSITION delete composition
    IM.write_iceberg_equality_delete(
        spark,
        path,
        spark.createDataFrame([(0, "a"), (6, "a")], "id long, cat string"),
    )
    IM.delete_from_iceberg(spark, path, "id = 3")
    got3 = {r.id for r in IM.read_iceberg(spark, path).collect()}
    assert got3 == got2 - {0, 6, 3}
    # unknown equality column refused
    import pytest as _pytest

    with _pytest.raises(ValueError, match="not in the table schema"):
        IM.write_iceberg_equality_delete(
            spark, path, spark.createDataFrame([(1,)], "nope long")
        )


def test_delta_tombstones_txn_survive_multipart_and_v2(spark, tmp_path):
    """Tombstone + txn state survives log cleanup through the
    MULTI-PART and V2 checkpoint forms too (the classic form is
    pinned in test_delta_checkpoint_carries_tombstones_and_txn) —
    multi-part spreads action rows round-robin across parts, v2 puts
    file actions in a sidecar while txn stays in the top file."""
    import glob
    import os
    import time

    from traffic_forecast_etl_spark.sources import delta_log as DL

    for name, kwargs in (("mp", {"parts": 2}), ("v2", {"v2": True})):
        path = str(tmp_path / name)
        df = spark.createDataFrame([(i,) for i in range(10)], "id long")
        DL.write_delta_append(spark, df, path, checkpoint_interval=None)
        now_ms = int(time.time() * 1000)
        victim = DL.delta_snapshot_files(spark, path)[-1]["path"]
        _forge_commit(path, [
            {"remove": {"path": victim, "deletionTimestamp": now_ms,
                        "dataChange": True}},
            {"txn": {"appId": "app-1", "version": 3, "lastUpdated": now_ms}},
        ])
        DL.write_delta_checkpoint(path, **kwargs)
        for f in glob.glob(path + "/_delta_log/0*.json"):
            if ".checkpoint." not in f:
                os.remove(f)
        state = DL._replay_full(path)
        assert victim in state["removes"], name
        assert victim not in state["adds"], name
        assert state["txns"]["app-1"]["version"] == 3, name
        got = {r.id for r in DL.read_delta(spark, path).collect()}
        assert len(got) < 10, f"{name}: removed file still read"


def test_uri_local_path_forms():
    """Spark reports scanned files in several URI spellings — all
    normalize to the same local path; non-file schemes pass through."""
    from traffic_forecast_etl_spark.sources.delta_log import _uri_local_path

    assert _uri_local_path("file:/a/b.parquet") == "/a/b.parquet"
    assert _uri_local_path("file:///a/b.parquet") == "/a/b.parquet"
    assert _uri_local_path("file:/a/dir%20x/b%25y.parquet") == "/a/dir x/b%y.parquet"
    assert _uri_local_path("/plain/path.parquet") == "/plain/path.parquet"
    assert _uri_local_path("s3://bucket/k.parquet") == "s3://bucket/k.parquet"
