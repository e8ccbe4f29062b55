"""Pins for the snapshot-versioned table format (tablefmt.py):
commit atomicity by ordering, time travel, merge upsert semantics +
file-level pruning, compaction row-equality, expire/vacuum GC, and
writer-lease serialization. All on plain parquet + JSON manifests —
the Delta/Iceberg CONCEPTS without the (sandbox-absent) jars.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from traffic_forecast_etl_spark import tablefmt as T
from traffic_forecast_etl_spark.sinks import (
    ConcurrentWriterError,
    acquire_writer_lease,
    release_writer_lease,
)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _mk(spark, ids, val="v"):
    return spark.createDataFrame(
        [(i, f"{val}{i}") for i in ids], "id long, val string"
    )


def test_write_read_roundtrip_and_versions(spark, tmp_path):
    path = str(tmp_path / "t")
    v0 = T.snapshot_write(spark, _mk(spark, range(10)), path)
    assert v0 == 0
    assert _rows(T.snapshot_read(spark, path)) == _rows(_mk(spark, range(10)))
    v1 = T.snapshot_write(spark, _mk(spark, range(5), "w"), path)
    assert v1 == 1
    # latest is the overwrite; v0 stays readable (time travel)
    assert _rows(T.snapshot_read(spark, path)) == _rows(_mk(spark, range(5), "w"))
    assert _rows(T.snapshot_read(spark, path, version=0)) == _rows(
        _mk(spark, range(10))
    )


def test_append_is_metadata_only_carry(spark, tmp_path):
    path = str(tmp_path / "t")
    T.snapshot_write(spark, _mk(spark, range(5)), path)
    files_v0 = {e["path"] for e in T.read_manifest(path, 0)["files"]}
    T.snapshot_write(spark, _mk(spark, range(5, 8)), path, mode="append")
    m1 = T.read_manifest(path, 1)
    # every v0 file carried forward BY NAME, untouched
    assert files_v0 <= {e["path"] for e in m1["files"]}
    assert _rows(T.snapshot_read(spark, path)) == _rows(_mk(spark, range(8)))


def test_merge_upsert_semantics(spark, tmp_path):
    path = str(tmp_path / "t")
    T.snapshot_merge(spark, _mk(spark, range(10)), path, keys=["id"])
    # update 3..5, insert 10..12
    batch = _mk(spark, [3, 4, 5, 10, 11, 12], "u")
    T.snapshot_merge(spark, batch, path, keys=["id"])
    got = {r.id: r.val for r in T.snapshot_read(spark, path).collect()}
    expect = {i: f"v{i}" for i in range(10)}
    expect.update({i: f"u{i}" for i in [3, 4, 5, 10, 11, 12]})
    assert got == expect


def test_merge_last_writer_wins_within_batch(spark, tmp_path):
    path = str(tmp_path / "t")
    batch = spark.createDataFrame(
        [(1, "a"), (1, "b")], "id long, val string"
    )
    T.snapshot_merge(spark, batch, path, keys=["id"])
    assert T.snapshot_read(spark, path).count() == 1


def test_merge_prunes_untouched_files(spark, tmp_path):
    """The 100 TB contract: a narrow-key batch rewrites only files
    whose key range can contain it; every other file is carried into
    the new manifest by name."""
    path = str(tmp_path / "t")
    # range-clustered layout: repartitionByRange gives disjoint id
    # ranges per file
    base = _mk(spark, range(1000)).repartitionByRange(8, "id")
    T.snapshot_merge(spark, base, path, keys=["id"])
    m0 = T.read_manifest(path)
    assert len(m0["files"]) == 8
    # a batch touching only ids 0..10 must carry >=6 files untouched
    T.snapshot_merge(spark, _mk(spark, range(11), "u"), path, keys=["id"])
    m1 = T.read_manifest(path)
    carried = {e["path"] for e in m0["files"]} & {e["path"] for e in m1["files"]}
    assert len(carried) >= 6, (len(carried), len(m0["files"]))
    got = {r.id: r.val for r in T.snapshot_read(spark, path).collect()}
    assert got[5] == "u5" and got[500] == "v500" and len(got) == 1000


def test_merge_exact_prune_skips_range_overlap_without_membership(spark, tmp_path):
    """Sparse batch keys inside a wide range: exact membership prune
    must skip files whose [min,max] overlaps the batch range but
    contains none of the batch keys."""
    path = str(tmp_path / "t")
    base = _mk(spark, range(1000)).repartitionByRange(8, "id")
    T.snapshot_merge(spark, base, path, keys=["id"])
    m0 = T.read_manifest(path)
    # keys 0 and 999: range [0,999] overlaps every file, membership
    # only the two edge files
    T.snapshot_merge(spark, _mk(spark, [0, 999], "u"), path, keys=["id"])
    m1 = T.read_manifest(path)
    carried = {e["path"] for e in m0["files"]} & {e["path"] for e in m1["files"]}
    assert len(carried) == 6, len(carried)


def test_compact_preserves_rows_and_shrinks_file_count(spark, tmp_path):
    path = str(tmp_path / "t")
    frag = _mk(spark, range(200)).repartition(16)
    T.snapshot_write(spark, frag, path, stats_cols=["id"])
    before = T.snapshot_read(spark, path)
    n_before = len(T.read_manifest(path)["files"])
    v = T.snapshot_compact(spark, path)
    m = T.read_manifest(path, v)
    assert len(m["files"]) < n_before
    assert _rows(T.snapshot_read(spark, path)) == _rows(before)
    # stats carried so merge pruning keeps working post-compaction
    assert all("id" in e["stats"] for e in m["files"] if e["rows"])
    # fragmented version still readable
    assert T.snapshot_read(spark, path, version=0).count() == 200


def test_compact_noop_when_nothing_small(spark, tmp_path):
    path = str(tmp_path / "t")
    T.snapshot_write(spark, _mk(spark, range(5)).coalesce(1), path)
    assert T.snapshot_compact(spark, path) == 0  # no empty commit


def test_crash_between_manifest_and_pointer_is_invisible(spark, tmp_path):
    """Commit ordering: a manifest written without the pointer swap
    (crash window) leaves readers on the old version; the next
    commit surfaces the conflict loudly instead of silently
    overwriting the orphaned version."""
    path = str(tmp_path / "t")
    T.snapshot_write(spark, _mk(spark, range(5)), path)
    # simulate: v1 manifest exists, LATEST still 0
    T._atomic_write_json(
        T._manifest_path(path, 1),
        {"version": 1, "parent": 0, "op": "overwrite", "schema": "{}", "files": []},
    )
    assert T.current_version(path) == 0
    assert T.snapshot_read(spark, path).count() == 5
    with pytest.raises(T.SnapshotConflictError):
        T.snapshot_write(spark, _mk(spark, range(3)), path)


def test_orphaned_stage_and_vacuum(spark, tmp_path):
    path = str(tmp_path / "t")
    T.snapshot_write(spark, _mk(spark, range(5)), path)
    # crash orphans: a staged dir and an unreferenced data file
    os.makedirs(os.path.join(path, "__stage_dead"))
    orphan = os.path.join(path, T._DATA_DIR, "deadbeef-part00000.parquet")
    with open(orphan, "wb") as f:
        f.write(b"junk")
    removed = T.vacuum(path)
    assert "__stage_dead" in removed
    assert f"{T._DATA_DIR}/deadbeef-part00000.parquet" in removed
    assert not os.path.exists(orphan)
    assert T.snapshot_read(spark, path).count() == 5


def test_expire_drops_old_versions_and_their_files(spark, tmp_path):
    path = str(tmp_path / "t")
    for i in range(4):
        T.snapshot_write(spark, _mk(spark, range(5), f"v{i}_"), path)
    removed = T.snapshot_expire(path, keep_last=2)
    assert removed  # v0/v1-only files are gone
    assert T.current_version(path) == 3
    assert T.snapshot_read(spark, path).count() == 5
    assert T.snapshot_read(spark, path, version=2).count() == 5
    with pytest.raises(FileNotFoundError):
        T.read_manifest(path, 0)
    with pytest.raises(ValueError):
        T.snapshot_expire(path, keep_last=0)


def test_history_surface(spark, tmp_path):
    path = str(tmp_path / "t")
    T.snapshot_write(spark, _mk(spark, range(7)), path)
    T.snapshot_merge(spark, _mk(spark, [1, 2], "u"), path, keys=["id"])
    hist = T.snapshot_history(path)
    assert [h["version"] for h in hist] == [0, 1]
    assert [h["op"] for h in hist] == ["overwrite", "merge"]
    assert hist[1]["n_rows"] == 7


def test_writer_lease_serializes_commits(spark, tmp_path):
    path = str(tmp_path / "t")
    os.makedirs(path, exist_ok=True)
    holder = acquire_writer_lease(path)
    try:
        with pytest.raises(ConcurrentWriterError):
            T.snapshot_write(spark, _mk(spark, range(3)), path)
    finally:
        release_writer_lease(path, holder)
    # released -> commit proceeds
    assert T.snapshot_write(spark, _mk(spark, range(3)), path) == 0


def test_writer_lease_breaks_stale_and_ignores_stolen_release(spark, tmp_path):
    """A lease older than its TTL (default 600 s) belongs to a dead
    writer: the next commit breaks it and lands. The dead holder's late
    release is a no-op, also when a new holder owns the lease."""
    import time

    path = str(tmp_path / "t")
    T.snapshot_write(spark, _mk(spark, range(3)), path)
    lease = path + "__lease"

    def back_date():
        old = time.time() - 3600
        os.utime(lease, (old, old))

    holder_dead = acquire_writer_lease(path)
    back_date()
    T.snapshot_merge(spark, _mk(spark, [3]), path, keys=["id"])
    assert T.snapshot_read(spark, path).count() == 4
    assert not os.path.exists(lease)  # the new holder released its lease
    release_writer_lease(path, holder_dead)  # no-op: not ours anymore

    holder_dead = acquire_writer_lease(path)
    back_date()
    holder_live = acquire_writer_lease(path)  # breaks the stale lease
    release_writer_lease(path, holder_dead)
    with open(lease) as f:
        assert json.load(f)["holder"] == holder_live
    with pytest.raises(ConcurrentWriterError):
        T.snapshot_merge(spark, _mk(spark, [4]), path, keys=["id"])
    release_writer_lease(path, holder_live)
    assert not os.path.exists(lease)


def test_empty_table_read_keeps_schema(spark, tmp_path):
    path = str(tmp_path / "t")
    empty = spark.createDataFrame([], "id long, val string")
    T.snapshot_write(spark, empty, path)
    out = T.snapshot_read(spark, path)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == ["id", "val"]


def test_merge_empty_batch_is_carry_commit(spark, tmp_path):
    path = str(tmp_path / "t")
    T.snapshot_merge(spark, _mk(spark, range(5)), path, keys=["id"])
    empty = spark.createDataFrame([], "id long, val string")
    v = T.snapshot_merge(spark, empty, path, keys=["id"])
    assert v == 1
    assert T.snapshot_read(spark, path).count() == 5


def test_stats_in_manifest(spark, tmp_path):
    path = str(tmp_path / "t")
    T.snapshot_write(
        spark,
        _mk(spark, range(100)).repartitionByRange(4, "id"),
        path,
        stats_cols=["id"],
    )
    m = T.read_manifest(path)
    mins = sorted(e["stats"]["id"][0] for e in m["files"])
    maxs = sorted(e["stats"]["id"][1] for e in m["files"])
    assert mins[0] == 0 and maxs[-1] == 99
    assert sum(e["rows"] for e in m["files"]) == 100


# ---------------------------------------------------------------------------
# idempotent transactions (the streaming exactly-once contract)
# ---------------------------------------------------------------------------

def test_txn_replay_is_noop(spark, tmp_path):
    """Same (app, version) re-delivered -> structural no-op: table
    version unchanged, rows unchanged. A HIGHER version applies."""
    path = str(tmp_path / "t")
    v0 = T.snapshot_merge(
        spark, _mk(spark, range(5)), path, ["id"], txn_app="app", txn_version=0
    )
    n0 = T.snapshot_read(spark, path).count()
    # replay of epoch 0 (at-least-once foreachBatch redelivery)
    v_replay = T.snapshot_merge(
        spark, _mk(spark, range(5)), path, ["id"], txn_app="app", txn_version=0
    )
    assert v_replay == v0
    assert T.current_version(path) == v0
    assert T.snapshot_read(spark, path).count() == n0
    # the next epoch applies
    v1 = T.snapshot_merge(
        spark, _mk(spark, range(5, 8)), path, ["id"], txn_app="app", txn_version=1
    )
    assert v1 == v0 + 1
    assert T.snapshot_read(spark, path).count() == 8
    assert T.last_txn_version(path, "app") == 1
    assert T.last_txn_version(path, "other") is None


def test_txn_map_survives_compact_and_expire(spark, tmp_path):
    """The writer-app map is carried FORWARD through every commit, so
    replay detection outlives snapshot_expire dropping the manifest
    that recorded the transaction."""
    path = str(tmp_path / "t")
    T.snapshot_merge(spark, _mk(spark, range(3)), path, ["id"],
                     txn_app="app", txn_version=7)
    T.snapshot_merge(spark, _mk(spark, range(3, 6)), path, ["id"])  # no txn
    T.snapshot_compact(spark, path, target_bytes=1 << 30)
    T.snapshot_expire(path, keep_last=1)  # drops the txn-recording manifest
    assert T.last_txn_version(path, "app") == 7
    # replay of epoch 7 after expiry is still a no-op
    v = T.current_version(path)
    assert T.snapshot_merge(spark, _mk(spark, range(3)), path, ["id"],
                            txn_app="app", txn_version=7) == v


def test_txn_args_must_pair(spark, tmp_path):
    path = str(tmp_path / "t")
    with pytest.raises(ValueError):
        T.snapshot_merge(spark, _mk(spark, [1]), path, ["id"], txn_app="a")
    with pytest.raises(ValueError):
        T.snapshot_write(spark, _mk(spark, [1]), path, txn_version=1)


def test_streaming_snapshot_merge_exactly_once(spark, tmp_path):
    """foreachBatch redelivery (fresh checkpoint => epoch ids restart
    at 0) commits nothing twice: row count and table version hold."""
    from traffic_forecast_etl_spark.streaming.micro_batch import (
        read_events_stream,
        streaming_snapshot_merge,
    )

    table = str(tmp_path / "events_table")
    src = "/root/testdata/sf0.001/events.parquet"
    q = streaming_snapshot_merge(
        read_events_stream(spark, src), table, ["event_id"],
        checkpoint=str(tmp_path / "ck1"),
    )
    q.awaitTermination()
    n1, v1 = T.snapshot_read(spark, table).count(), T.current_version(table)
    assert n1 == 1000
    # fresh checkpoint over the same source: epoch 0 replays; the txn
    # marker makes it a no-op instead of a duplicate merge
    q2 = streaming_snapshot_merge(
        read_events_stream(spark, src), table, ["event_id"],
        checkpoint=str(tmp_path / "ck2"),
    )
    q2.awaitTermination()
    assert T.snapshot_read(spark, table).count() == n1
    assert T.current_version(table) == v1


# ---------------------------------------------------------------------------
# schema evolution
# ---------------------------------------------------------------------------

def test_append_new_column_requires_merge_schema(spark, tmp_path):
    path = str(tmp_path / "t")
    T.snapshot_write(spark, _mk(spark, range(3)), path)
    wider = _mk(spark, range(3, 5)).withColumn("score", F.lit(0.5))
    with pytest.raises(T.SchemaEvolutionError):
        T.snapshot_write(spark, wider, path, mode="append")
    T.snapshot_write(spark, wider, path, mode="append", merge_schema=True)
    out = T.snapshot_read(spark, path)
    assert out.columns == ["id", "val", "score"]
    got = {r.id: r.score for r in out.collect()}
    # pre-evolution files null-fill the new column
    assert got[0] is None and got[4] == 0.5
    # time travel to v0 reads with THAT version's schema
    assert T.snapshot_read(spark, path, version=0).columns == ["id", "val"]


def test_merge_new_column_and_omitted_column(spark, tmp_path):
    path = str(tmp_path / "t")
    T.snapshot_merge(spark, _mk(spark, range(4)), path, ["id"])
    batch = _mk(spark, [2, 9], "w").withColumn("score", F.lit(1.0))
    T.snapshot_merge(spark, batch, path, ["id"], merge_schema=True)
    got = {r.id: (r.val, r.score) for r in T.snapshot_read(spark, path).collect()}
    assert got[2] == ("w2", 1.0) and got[9] == ("w9", 1.0)  # replaced + new
    assert got[0] == ("v0", None)  # untouched row null-fills
    # a later batch OMITTING the evolved column: new rows get null there
    T.snapshot_merge(spark, _mk(spark, [11]), path, ["id"])
    got = {r.id: r.score for r in T.snapshot_read(spark, path).collect()}
    assert got[11] is None and got[9] == 1.0


def test_type_change_always_raises(spark, tmp_path):
    path = str(tmp_path / "t")
    T.snapshot_write(spark, _mk(spark, range(3)), path)
    bad = spark.createDataFrame([(1, 2)], "id long, val long")
    with pytest.raises(T.SchemaEvolutionError):
        T.snapshot_write(spark, bad, path, mode="append", merge_schema=True)
    with pytest.raises(T.SchemaEvolutionError):
        T.snapshot_merge(spark, bad, path, ["id"], merge_schema=True)


def test_compact_after_evolution_keeps_evolved_schema(spark, tmp_path):
    """Fragments written pre-evolution must compact INTO the evolved
    schema (manifest schema drives the rewrite, not footers)."""
    path = str(tmp_path / "t")
    T.snapshot_write(spark, _mk(spark, range(3)).coalesce(1), path)
    wider = _mk(spark, range(3, 6)).withColumn("score", F.lit(2.0)).coalesce(1)
    T.snapshot_write(spark, wider, path, mode="append", merge_schema=True)
    T.snapshot_compact(spark, path, target_bytes=1 << 30)
    out = T.snapshot_read(spark, path)
    assert out.columns == ["id", "val", "score"]
    got = {r.id: r.score for r in out.collect()}
    assert got[1] is None and got[5] == 2.0
    assert out.count() == 6


# ---------------------------------------------------------------------------
# incremental (CDC-style) reads
# ---------------------------------------------------------------------------

def test_incremental_read_returns_only_new_files(spark, tmp_path):
    path = str(tmp_path / "t")
    v0 = T.snapshot_write(spark, _mk(spark, range(5)), path)
    v1 = T.snapshot_write(spark, _mk(spark, range(5, 9)), path, mode="append")
    v2 = T.snapshot_write(spark, _mk(spark, range(9, 12)), path, mode="append")
    inc = T.snapshot_incremental(spark, path, since_version=v0)
    assert {r.id for r in inc.collect()} == set(range(5, 12))
    inc1 = T.snapshot_incremental(spark, path, since_version=v1, version=v2)
    assert {r.id for r in inc1.collect()} == set(range(9, 12))
    # caught-up consumer: empty frame, table schema preserved
    same = T.snapshot_incremental(spark, path, since_version=v2)
    assert same.count() == 0 and same.columns == ["id", "val"]
    with pytest.raises(ValueError):
        T.snapshot_incremental(spark, path, since_version=v2 + 5)


def test_incremental_read_merge_surfaces_rewritten_files(spark, tmp_path):
    """Copy-on-write semantics documented on the function: a merge
    surfaces every row of its rewritten files (changed keys AND their
    co-located neighbours), never rows of carried files."""
    path = str(tmp_path / "t")
    base = _mk(spark, range(100)).repartitionByRange(4, "id")
    T.snapshot_merge(spark, base, path, ["id"])
    v1 = T.current_version(path)
    T.snapshot_merge(spark, _mk(spark, [3], "u"), path, ["id"])
    got = {(r.id, r.val) for r in
           T.snapshot_incremental(spark, path, since_version=v1).collect()}
    assert ("u3" == dict(got)[3])
    # the rewritten file's co-located rows surface; carried files don't
    assert 0 < len(got) < 100


def test_incremental_read_after_schema_evolution(spark, tmp_path):
    path = str(tmp_path / "t")
    v0 = T.snapshot_write(spark, _mk(spark, range(3)), path)
    wider = _mk(spark, range(3, 5)).withColumn("score", F.lit(9.0))
    T.snapshot_write(spark, wider, path, mode="append", merge_schema=True)
    inc = T.snapshot_incremental(spark, path, since_version=v0)
    assert inc.columns == ["id", "val", "score"]
    assert {r.id for r in inc.collect()} == {3, 4}


# ---------------------------------------------------------------------------
# typed stats: date/timestamp/decimal/binary keys (ADVICE r5: raw
# json.dump raised TypeError after data files were already staged)
# ---------------------------------------------------------------------------

def _mk_dated(spark, days, val="v"):
    import datetime as dt

    return spark.createDataFrame(
        [(dt.date(2026, 1, 1) + dt.timedelta(days=int(d)), f"{val}{d}")
         for d in days],
        "day date, val string",
    )


def test_stats_date_key_commit_and_merge_prune(spark, tmp_path):
    """A date-keyed table must commit (stats encode to ISO strings)
    and merge must still file-prune on the decoded date range."""
    path = str(tmp_path / "t")
    base = _mk_dated(spark, range(365)).repartitionByRange(8, "day")
    T.snapshot_merge(spark, base, path, keys=["day"])
    m0 = T.read_manifest(path)
    assert len(m0["files"]) == 8
    # stats are JSON-safe ISO strings
    st = m0["files"][0]["stats"]["day"]
    assert isinstance(st[0], str) and st[0].startswith("2026-")
    # a one-week batch carries most files untouched
    T.snapshot_merge(spark, _mk_dated(spark, range(7), "u"), path, keys=["day"])
    m1 = T.read_manifest(path)
    carried = {e["path"] for e in m0["files"]} & {e["path"] for e in m1["files"]}
    assert len(carried) >= 6, len(carried)
    import datetime as dt

    got = {r.day: r.val for r in T.snapshot_read(spark, path).collect()}
    assert got[dt.date(2026, 1, 2)] == "u1"
    assert got[dt.date(2026, 6, 1)].startswith("v")
    assert len(got) == 365


def test_stats_timestamp_decimal_binary_roundtrip(spark, tmp_path):
    """Every advertised stats type commits and decodes back to its
    native Python form (order-preserving for pruning)."""
    import datetime as dt
    from decimal import Decimal

    from traffic_forecast_etl_spark.tablefmt import _dec_stat, _enc_stat

    df = spark.createDataFrame(
        [
            (dt.datetime(2026, 1, 1, 8, 0, 0, 500000), Decimal("12.34"),
             bytearray(b"ab")),
            (dt.datetime(2026, 1, 2, 9, 30, 1), Decimal("-7.50"),
             bytearray(b"zz")),
        ],
        "ts timestamp, amt decimal(10,2), blob binary",
    )
    path = str(tmp_path / "t")
    T.snapshot_write(spark, df, path, stats_cols=["ts", "amt", "blob"])
    m = T.read_manifest(path)
    schema_json = m["schema"]
    from traffic_forecast_etl_spark.tablefmt import _col_type

    for col, expect_min in [
        ("ts", dt.datetime(2026, 1, 1, 8, 0, 0, 500000)),
        ("amt", Decimal("-7.50")),
        ("blob", b"ab"),
    ]:
        lo = min(
            _dec_stat(e["stats"][col][0], _col_type(schema_json, col))
            for e in m["files"] if e["stats"].get(col)
        )
        assert lo == expect_min, (col, lo)
    # enc/dec identity on JSON-native types
    assert _enc_stat(5) == 5 and _enc_stat("x") == "x" and _enc_stat(None) is None


def test_stats_unsupported_type_raises_before_commit(spark, tmp_path):
    """A stats column of an unencodable type must raise a clear
    TypeError (not a json.dump stack) — and not publish a version."""
    df = spark.createDataFrame(
        [([1, 2], "a")], "arr array<int>, val string"
    )
    path = str(tmp_path / "t")
    with pytest.raises(TypeError, match="stats/key columns"):
        T.snapshot_write(spark, df, path, stats_cols=["arr"])
    assert T.current_version(path) is None


# ---------------------------------------------------------------------------
# snapshot_scan: manifest-stats file pruning for reads (r6 #1)
# ---------------------------------------------------------------------------

def test_scan_admits_only_overlapping_files(spark, tmp_path):
    """The pyarrow-footer-style contract: a range query's plan admits
    only files whose manifest [min,max] overlaps the bounds."""
    path = str(tmp_path / "t")
    base = _mk(spark, range(1000)).repartitionByRange(8, "id")
    T.snapshot_merge(spark, base, path, keys=["id"])
    m, admitted = T.snapshot_scan_files(path, "id", 100, 160)
    assert len(m["files"]) == 8
    assert 1 <= len(admitted) <= 2, [e["stats"]["id"] for e in admitted]
    # point lookup: exactly one file in a disjoint range layout
    _, pt = T.snapshot_scan_files(path, "id", 500, 500)
    assert len(pt) == 1
    # inverted range: empty plan
    _, none = T.snapshot_scan_files(path, "id", 9, 3)
    assert none == []
    # unbounded: everything
    _, allf = T.snapshot_scan_files(path, "id")
    assert len(allf) == 8


def test_scan_rows_equal_read_plus_filter(spark, tmp_path):
    """snapshot_scan must be row-identical to snapshot_read + filter
    on every bound shape (both, lower-only, upper-only, point, empty)."""
    path = str(tmp_path / "t")
    T.snapshot_merge(
        spark, _mk(spark, range(300)).repartitionByRange(6, "id"), path, ["id"]
    )
    full = T.snapshot_read(spark, path)
    for lo, hi in [(50, 99), (250, None), (None, 10), (7, 7), (400, 500)]:
        got = T.snapshot_scan(spark, path, "id", lo, hi)
        expect = full
        if lo is not None:
            expect = expect.filter(F.col("id") >= lo)
        if hi is not None:
            expect = expect.filter(F.col("id") <= hi)
        assert _rows(got) == _rows(expect), (lo, hi)


def test_scan_date_key_prunes_and_matches(spark, tmp_path):
    import datetime as dt

    path = str(tmp_path / "t")
    T.snapshot_merge(
        spark,
        _mk_dated(spark, range(365)).repartitionByRange(8, "day"),
        path,
        keys=["day"],
    )
    lo, hi = dt.date(2026, 3, 1), dt.date(2026, 3, 31)
    _, admitted = T.snapshot_scan_files(path, "day", lo, hi)
    assert 1 <= len(admitted) <= 2, len(admitted)
    got = T.snapshot_scan(spark, path, "day", lo, hi)
    expect = T.snapshot_read(spark, path).filter(
        (F.col("day") >= F.lit(lo)) & (F.col("day") <= F.lit(hi))
    )
    assert _rows(got) == _rows(expect)
    assert got.count() == 31


def test_scan_time_travel_and_missing_stats_conservative(spark, tmp_path):
    """Scan at an old version plans from THAT manifest; files written
    without stats for the key are admitted conservatively."""
    path = str(tmp_path / "t")
    v0 = T.snapshot_write(
        spark,
        _mk(spark, range(100)).repartitionByRange(4, "id"),
        path,
        stats_cols=["id"],
    )
    # second version appends files with NO id stats
    T.snapshot_write(spark, _mk(spark, range(100, 120)), path, mode="append")
    # latest: the no-stats files must be admitted even out-of-range
    m, admitted = T.snapshot_scan_files(path, "id", 0, 10)
    no_stats = [e for e in admitted if not e.get("stats", {}).get("id")]
    assert no_stats, "files without stats must be admitted"
    got = T.snapshot_scan(spark, path, "id", 0, 10)
    assert got.count() == 11  # residual filter still exact
    # time travel to v0: plans from the v0 manifest (4 files, stats'd)
    _, adm0 = T.snapshot_scan_files(path, "id", 0, 10, version=v0)
    assert 1 <= len(adm0) <= 2


def test_scan_after_schema_evolution(spark, tmp_path):
    """Post-evolution scan reads with the manifest schema: old files
    null-fill the new column; pruning still works on the key."""
    path = str(tmp_path / "t")
    T.snapshot_merge(
        spark, _mk(spark, range(100)).repartitionByRange(4, "id"), path, ["id"]
    )
    wider = _mk(spark, range(100, 110)).withColumn("score", F.lit(9.0))
    T.snapshot_write(
        spark, wider, path, mode="append", merge_schema=True, stats_cols=["id"]
    )
    got = T.snapshot_scan(spark, path, "id", 95, 105)
    assert got.columns == ["id", "val", "score"]
    rows = {r.id: r.score for r in got.collect()}
    assert rows[95] is None and rows[105] == 9.0 and len(rows) == 11
    _, admitted = T.snapshot_scan_files(path, "id", 0, 10)
    assert len(admitted) < len(T.read_manifest(path)["files"])


def test_scan_over_zorder_layout_prunes_both_dims(spark, tmp_path):
    """snapshot_scan × z-order integration: cluster a table on two
    dims with stats on BOTH — a bounded scan on EITHER dim must open
    a strict subset of the files, and stay row-identical to
    read+filter."""
    df = spark.range(0, 4096).select(
        F.col("id").alias("x"),
        ((F.col("id") * 2654435761) % 4096).alias("y"),
    )
    path = str(tmp_path / "t")
    T.snapshot_write(spark, df, path, stats_cols=["x", "y"])
    T.snapshot_cluster(spark, path, ["x", "y"], n_files=16, bits=6)
    n_total = len(T.read_manifest(path)["files"])
    assert n_total >= 8
    for dim in ("x", "y"):
        _, admitted = T.snapshot_scan_files(path, dim, 0, 255)
        assert len(admitted) < n_total, (dim, len(admitted), n_total)
        got = T.snapshot_scan(spark, path, dim, 0, 255)
        expect = T.snapshot_read(spark, path).filter(
            (F.col(dim) >= 0) & (F.col(dim) <= 255)
        )
        assert _rows(got) == _rows(expect), dim


def test_scan_multi_intersects_prunes_and_matches(spark, tmp_path):
    """Conjunctive scan over a z-order layout: the admitted set is
    the intersection of per-dim prunes (stricter than either alone),
    rows identical to read + both filters."""
    df = spark.range(0, 4096).select(
        F.col("id").alias("x"),
        ((F.col("id") * 2654435761) % 4096).alias("y"),
    )
    path = str(tmp_path / "t")
    T.snapshot_write(spark, df, path, stats_cols=["x", "y"])
    T.snapshot_cluster(spark, path, ["x", "y"], n_files=16, bits=6)
    _, ax = T.snapshot_scan_files(path, "x", 0, 511)
    _, ay = T.snapshot_scan_files(path, "y", 0, 511)
    got = T.snapshot_scan_multi(spark, path, {"x": (0, 511), "y": (0, 511)})
    expect = T.snapshot_read(spark, path).filter(
        (F.col("x") <= 511) & (F.col("y") <= 511) & (F.col("x") >= 0) & (F.col("y") >= 0)
    )
    assert _rows(got) == _rows(expect)
    # the conjunctive prune is at most each single-dim prune
    n_multi = len(got.inputFiles())
    assert n_multi <= min(len(ax), len(ay)), (n_multi, len(ax), len(ay))
    # inverted bound on one dim: empty, schema kept
    empty = T.snapshot_scan_multi(spark, path, {"x": (9, 3), "y": (0, 511)})
    assert empty.count() == 0 and empty.columns == ["x", "y"]


def test_randomized_workload_matches_shadow_model(spark):
    """Randomized op-sequence simulation: a shadow dict replays every
    write/append/merge/compact/expire against plain Python state; at
    each step the table's latest snapshot must equal the shadow
    exactly, and every retained historical version must stay readable
    with its own contents. The whole-format integration pin."""
    import random
    import tempfile

    rng = random.Random(20260816)
    with tempfile.TemporaryDirectory() as td:
        path = f"{td}/t"
        shadow: dict[int, str] = {}
        history: dict[int, dict[int, str]] = {}

        def frame(rows):
            return spark.createDataFrame(
                [(k, v) for k, v in rows.items()], "id long, val string"
            )

        T.snapshot_write(spark, frame({i: f"v{i}" for i in range(20)}), path,
                         stats_cols=["id"])
        shadow = {i: f"v{i}" for i in range(20)}
        history[T.current_version(path)] = dict(shadow)
        for step in range(12):
            op = rng.choice(["append", "merge", "merge", "overwrite",
                             "compact", "expire"])
            if op == "append":
                lo = rng.randint(100, 10_000)
                new = {lo + i: f"a{step}_{i}" for i in range(rng.randint(1, 8))}
                # append semantics: duplicate ids would double-count;
                # keep ids fresh like a real ingest
                new = {k: v for k, v in new.items() if k not in shadow}
                T.snapshot_write(spark, frame(new), path, mode="append",
                                 stats_cols=["id"])
                shadow.update(new)
            elif op == "merge":
                keys = rng.sample(sorted(shadow), k=min(len(shadow), 5))
                batch = {k: f"m{step}_{k}" for k in keys}
                batch[rng.randint(20_000, 30_000)] = f"new{step}"
                T.snapshot_merge(spark, frame(batch), path, keys=["id"])
                shadow.update(batch)
            elif op == "overwrite":
                shadow = {i: f"o{step}_{i}" for i in range(rng.randint(5, 15))}
                T.snapshot_write(spark, frame(shadow), path, stats_cols=["id"])
            elif op == "compact":
                T.snapshot_compact(spark, path, target_bytes=1 << 20)
            elif op == "expire":
                keep = rng.randint(2, 4)
                T.snapshot_expire(path, keep_last=keep)
                retained = sorted(history)[-(keep - 0):]
                history = {v: h for v, h in history.items()
                           if v in retained or v == T.current_version(path)}
            got = {r.id: r.val for r in T.snapshot_read(spark, path).collect()}
            assert got == shadow, (step, op)
            history[T.current_version(path)] = dict(shadow)
            # spot-check one retained historical version
            hv = rng.choice(sorted(history))
            try:
                old = {r.id: r.val
                       for r in T.snapshot_read(spark, path, version=hv).collect()}
                assert old == history[hv], (step, op, hv)
            except FileNotFoundError:
                history.pop(hv, None)  # expired between bookkeeping steps
            # a random key-range scan must equal read+filter
            if shadow:
                ks = sorted(shadow)
                lo = rng.choice(ks); hi = rng.choice(ks)
                lo, hi = min(lo, hi), max(lo, hi)
                got_scan = {r.id: r.val
                            for r in T.snapshot_scan(spark, path, "id", lo, hi).collect()}
                assert got_scan == {k: v for k, v in shadow.items() if lo <= k <= hi}


# ---------------------------------------------------------------------------
# row-level DELETE + change-data-feed (VERDICT r6 #1)
# ---------------------------------------------------------------------------

def test_delete_by_keys_equals_anti_join(spark, tmp_path):
    """delete(keys_df) ≡ snapshot_read anti-join keys_df; the parent
    version keeps the rows (time travel)."""
    path = str(tmp_path / "t")
    T.snapshot_write(spark, _mk(spark, range(100)), path, stats_cols=["id"])
    dels = spark.createDataFrame([(i,) for i in (3, 7, 50, 99)], "id long")
    v = T.snapshot_delete(spark, path, keys=["id"], keys_df=dels)
    assert v == 1
    expect = _rows(
        T.snapshot_read(spark, path, version=0).join(dels, "id", "left_anti")
    )
    assert _rows(T.snapshot_read(spark, path)) == expect
    assert len(_rows(T.snapshot_read(spark, path, version=0))) == 100


def test_delete_prunes_untouched_files(spark, tmp_path):
    """Deletes prune like merges: a narrow-key delete rewrites only
    files whose stats range can contain the keys (admitted-file count
    assert, the VERDICT done criterion)."""
    path = str(tmp_path / "t")
    base = _mk(spark, range(1000)).repartitionByRange(8, "id")
    T.snapshot_merge(spark, base, path, keys=["id"])
    m0 = T.read_manifest(path)
    dels = spark.createDataFrame([(i,) for i in range(11)], "id long")
    T.snapshot_delete(spark, path, keys=["id"], keys_df=dels)
    m1 = T.read_manifest(path)
    carried = {e["path"] for e in m0["files"]} & {e["path"] for e in m1["files"]}
    assert len(carried) >= 6, (len(carried), len(m0["files"]))
    got = {r.id for r in T.snapshot_read(spark, path).collect()}
    assert got == set(range(11, 1000))


def test_delete_exact_prune_skips_range_overlap(spark, tmp_path):
    """Sparse delete keys [0, 999]: exact-membership prune keeps the
    6 middle files out of the rewrite even though the range overlaps
    all 8."""
    path = str(tmp_path / "t")
    base = _mk(spark, range(1000)).repartitionByRange(8, "id")
    T.snapshot_merge(spark, base, path, keys=["id"])
    m0 = T.read_manifest(path)
    dels = spark.createDataFrame([(0,), (999,)], "id long")
    T.snapshot_delete(spark, path, keys=["id"], keys_df=dels)
    m1 = T.read_manifest(path)
    carried = {e["path"] for e in m0["files"]} & {e["path"] for e in m1["files"]}
    assert len(carried) == 6, len(carried)
    assert len(_rows(T.snapshot_read(spark, path))) == 998


def test_delete_predicate_null_keeps_row(spark, tmp_path):
    """SQL DELETE semantics: rows where the predicate is NULL are
    KEPT, not deleted."""
    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, 10), (2, None), (3, 30)], "id long, score int"
    )
    T.snapshot_write(spark, df, path)
    T.snapshot_delete(spark, path, predicate="score > 15")
    got = sorted(r.id for r in T.snapshot_read(spark, path).collect())
    assert got == [1, 2]  # id=2 (NULL predicate) survives


def test_delete_predicate_prune_bounds(spark, tmp_path):
    """Predicate delete with prune_bounds: only files overlapping the
    bounds are rewritten."""
    path = str(tmp_path / "t")
    base = _mk(spark, range(1000)).repartitionByRange(8, "id")
    T.snapshot_merge(spark, base, path, keys=["id"])
    m0 = T.read_manifest(path)
    T.snapshot_delete(
        spark, path, predicate="id >= 5 and id <= 10",
        prune_bounds={"id": (5, 10)},
    )
    m1 = T.read_manifest(path)
    carried = {e["path"] for e in m0["files"]} & {e["path"] for e in m1["files"]}
    assert len(carried) >= 6
    assert len(_rows(T.snapshot_read(spark, path))) == 994


def test_delete_txn_replay_is_noop(spark, tmp_path):
    path = str(tmp_path / "t")
    T.snapshot_write(spark, _mk(spark, range(20)), path, stats_cols=["id"])
    dels = spark.createDataFrame([(1,), (2,)], "id long")
    v1 = T.snapshot_delete(
        spark, path, keys=["id"], keys_df=dels, txn_app="gdpr", txn_version=7
    )
    # replay: same txn version → no new commit, same table version
    v2 = T.snapshot_delete(
        spark, path, keys=["id"], keys_df=dels, txn_app="gdpr", txn_version=7
    )
    assert v2 == v1 == T.current_version(path)
    assert len(_rows(T.snapshot_read(spark, path))) == 18


def test_delete_empty_keys_is_carry_commit(spark, tmp_path):
    path = str(tmp_path / "t")
    T.snapshot_write(spark, _mk(spark, range(5)), path, stats_cols=["id"])
    empty = spark.createDataFrame([], "id long")
    v = T.snapshot_delete(spark, path, keys=["id"], keys_df=empty)
    assert v == 1
    assert len(_rows(T.snapshot_read(spark, path))) == 5


def test_delete_mode_validation(spark, tmp_path):
    path = str(tmp_path / "t")
    T.snapshot_write(spark, _mk(spark, range(5)), path)
    dels = spark.createDataFrame([(1,)], "id long")
    with pytest.raises(ValueError, match="exactly one"):
        T.snapshot_delete(spark, path, keys=["id"], keys_df=dels,
                          predicate="id = 1")
    with pytest.raises(ValueError, match="exactly one"):
        T.snapshot_delete(spark, path, keys=["id"])
    with pytest.raises(ValueError, match="keys column list"):
        T.snapshot_delete(spark, path, keys_df=dels)


def test_delete_after_schema_evolution(spark, tmp_path):
    """Delete on an evolved table: kept rows in rewritten files carry
    the evolved schema (null-filled where the file predates the
    column)."""
    path = str(tmp_path / "t")
    T.snapshot_write(spark, _mk(spark, range(10)), path, stats_cols=["id"])
    evolved = spark.createDataFrame(
        [(100, "x100", 1.5)], "id long, val string, score double"
    )
    T.snapshot_write(spark, evolved, path, mode="append", merge_schema=True)
    dels = spark.createDataFrame([(0,), (100,)], "id long")
    T.snapshot_delete(spark, path, keys=["id"], keys_df=dels)
    rows = T.snapshot_read(spark, path).collect()
    assert {r.id for r in rows} == set(range(1, 10))
    assert all(r.score is None for r in rows)


def test_delete_on_zorder_layout(spark, tmp_path):
    """Delete over a z-ordered two-dim layout via prune_bounds on
    both dims: result ≡ read + anti-filter, and pruning admits a
    strict subset of files."""
    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(x, y, f"p{x}_{y}") for x in range(32) for y in range(32)],
        "x int, y int, payload string",
    )
    T.snapshot_write(spark, df, path, stats_cols=["x", "y"])
    T.snapshot_cluster(spark, path, ["x", "y"], n_files=16, bits=6)
    m0 = T.read_manifest(path)
    T.snapshot_delete(
        spark, path,
        predicate="x between 4 and 7 and y between 4 and 7",
        prune_bounds={"x": (4, 7), "y": (4, 7)},
    )
    m1 = T.read_manifest(path)
    carried = {e["path"] for e in m0["files"]} & {e["path"] for e in m1["files"]}
    assert len(carried) > 0  # z-order locality keeps distant tiles out
    got = {(r.x, r.y) for r in T.snapshot_read(spark, path).collect()}
    assert got == {(x, y) for x in range(32) for y in range(32)
                   if not (4 <= x <= 7 and 4 <= y <= 7)}


def test_change_feed_delete_records_removed_rows(spark, tmp_path):
    path = str(tmp_path / "t")
    T.snapshot_write(spark, _mk(spark, range(10)), path, stats_cols=["id"])
    dels = spark.createDataFrame([(2,), (5,)], "id long")
    T.snapshot_delete(spark, path, keys=["id"], keys_df=dels)
    chg = T.read_snapshot_changes(spark, path, since_version=0)
    rows = sorted((r.id, r.val, r._change_type, r._commit_version)
                  for r in chg.collect())
    assert rows == [(2, "v2", "delete", 1), (5, "v5", "delete", 1)]


def test_change_feed_merge_records_both_sides(spark, tmp_path):
    """A CDF-enabled merge records delete-preimages of replaced rows
    plus inserts of the batch — an update reads as delete(old) +
    insert(new)."""
    path = str(tmp_path / "t")
    T.snapshot_write(spark, _mk(spark, range(5)), path, stats_cols=["id"])
    batch = spark.createDataFrame(
        [(2, "u2"), (9, "u9")], "id long, val string"
    )
    T.snapshot_merge(spark, batch, path, keys=["id"], change_feed=True)
    chg = T.read_snapshot_changes(spark, path, since_version=0)
    rows = sorted((r.id, r.val, r._change_type) for r in chg.collect())
    assert rows == [
        (2, "u2", "insert"), (2, "v2", "delete"), (9, "u9", "insert"),
    ]


def test_change_feed_net_equals_table_diff(spark, tmp_path):
    """The pinned equivalence: net CDF of an adjacent-version range,
    mapped to added/removed/changed per key, equals table_diff of the
    two snapshots — including a no-op rewrite (same value re-merged)
    netting to NOTHING."""
    from traffic_forecast_etl_spark.operators.relational import table_diff

    path = str(tmp_path / "t")
    T.snapshot_write(spark, _mk(spark, range(10)), path, stats_cols=["id"])
    batch = spark.createDataFrame(
        # v3 is a no-op rewrite (same value); v4 changes; id 77 is new
        [(3, "v3"), (4, "u4"), (77, "n77")], "id long, val string"
    )
    T.snapshot_merge(spark, batch, path, keys=["id"], change_feed=True)
    dels = spark.createDataFrame([(0,)], "id long")
    T.snapshot_delete(spark, path, keys=["id"], keys_df=dels)

    for since, upto in [(0, 1), (1, 2)]:
        chg = T.read_snapshot_changes(
            spark, path, since_version=since, version=upto, net=True
        )
        per_key = {}
        for r in chg.collect():
            per_key.setdefault(r.id, set()).add(r._change_type)
        cdf_status = {
            k: ("changed" if v == {"insert", "delete"}
                else "added" if v == {"insert"} else "removed")
            for k, v in per_key.items()
        }
        diff = {
            r.id: r.diff_status
            for r in table_diff(
                T.snapshot_read(spark, path, version=since),
                T.snapshot_read(spark, path, version=upto),
                keys=["id"],
            ).collect()
        }
        assert cdf_status == diff, (since, upto)
    # the no-op rewrite of id=3 must not appear at all in net mode
    chg01 = T.read_snapshot_changes(spark, path, 0, 1, net=True)
    assert 3 not in {r.id for r in chg01.collect()}


def test_change_feed_append_and_overwrite_synthesized(spark, tmp_path):
    """Appends and overwrites need no recorded change files: inserts
    come from added files, overwrite deletes from the parent's."""
    path = str(tmp_path / "t")
    T.snapshot_write(spark, _mk(spark, range(3)), path)
    T.snapshot_write(spark, _mk(spark, range(3, 5)), path, mode="append")
    chg = T.read_snapshot_changes(spark, path, since_version=0)
    rows = sorted((r.id, r._change_type) for r in chg.collect())
    assert rows == [(3, "insert"), (4, "insert")]
    T.snapshot_write(spark, _mk(spark, [9], "w"), path)  # overwrite
    chg2 = T.read_snapshot_changes(spark, path, since_version=1)
    rows2 = sorted((r.id, r._change_type, r._commit_version)
                   for r in chg2.collect())
    assert rows2 == [
        (0, "delete", 2), (1, "delete", 2), (2, "delete", 2),
        (3, "delete", 2), (4, "delete", 2), (9, "insert", 2),
    ]


def test_change_feed_unrecorded_merge_raises(spark, tmp_path):
    path = str(tmp_path / "t")
    T.snapshot_write(spark, _mk(spark, range(5)), path, stats_cols=["id"])
    T.snapshot_merge(
        spark, _mk(spark, [1], "u"), path, keys=["id"]  # change_feed off
    )
    with pytest.raises(ValueError, match="no recorded change feed"):
        T.read_snapshot_changes(spark, path, since_version=0)


def test_change_feed_skips_compact(spark, tmp_path):
    path = str(tmp_path / "t")
    for i in range(3):
        T.snapshot_write(spark, _mk(spark, [i]), path, mode="append")
    T.snapshot_compact(spark, path, target_bytes=1 << 20)
    chg = T.read_snapshot_changes(spark, path, since_version=0)
    rows = sorted((r.id, r._change_type) for r in chg.collect())
    assert rows == [(1, "insert"), (2, "insert")]


def test_change_feed_gc_with_expire_and_vacuum(spark, tmp_path):
    """Expire deletes change files only when no retained manifest
    references them; vacuum never touches referenced change files."""
    path = str(tmp_path / "t")
    T.snapshot_write(spark, _mk(spark, range(10)), path, stats_cols=["id"])
    dels = spark.createDataFrame([(1,)], "id long")
    T.snapshot_delete(spark, path, keys=["id"], keys_df=dels)  # v1 + changes
    T.snapshot_write(spark, _mk(spark, range(3), "w"), path)   # v2
    T.snapshot_write(spark, _mk(spark, range(4), "x"), path)   # v3
    chg_dir = os.path.join(path, "_changes")
    assert os.path.isdir(chg_dir) and len(os.listdir(chg_dir)) > 0
    removed_vac = T.vacuum(path)
    assert not any(p.startswith("_changes/") for p in removed_vac)
    T.snapshot_expire(path, keep_last=2)  # drops v0, v1 → changes orphaned
    assert all(
        not n.endswith(".parquet") for n in
        (os.listdir(chg_dir) if os.path.isdir(chg_dir) else [])
    )


def test_change_feed_empty_range_and_ahead_raise(spark, tmp_path):
    path = str(tmp_path / "t")
    T.snapshot_write(spark, _mk(spark, range(3)), path)
    chg = T.read_snapshot_changes(spark, path, since_version=0)
    assert chg.count() == 0
    assert "_change_type" in chg.columns
    with pytest.raises(ValueError, match="ahead"):
        T.read_snapshot_changes(spark, path, since_version=5)


def test_change_feed_first_commit_synthesizes_inserts(spark, tmp_path):
    path = str(tmp_path / "t")
    T.snapshot_merge(spark, _mk(spark, range(4)), path, keys=["id"])
    chg = T.read_snapshot_changes(spark, path, since_version=-1)
    rows = sorted((r.id, r._change_type, r._commit_version)
                  for r in chg.collect())
    assert rows == [(i, "insert", 0) for i in range(4)]


def test_scan_bound_type_mismatch_raises_clearly(spark, tmp_path):
    """ADVICE r6: mixed-type scan bounds raise a descriptive
    ValueError naming the column, the bound's type, and the expected
    type — not a bare TypeError mid-prune."""
    import datetime as dt

    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, dt.date(2024, 1, 1)), (2, dt.date(2024, 6, 1))],
        "id long, d date",
    )
    T.snapshot_write(spark, df, path, stats_cols=["id", "d"])
    with pytest.raises(ValueError, match="column 'id'.*str.*bigint"):
        T.snapshot_scan_files(path, "id", "0", 5)
    # datetime on a date column: rejected explicitly (datetime IS a
    # date subclass — the silent-wrong-comparison trap)
    with pytest.raises(ValueError, match="column 'd'.*datetime"):
        T.snapshot_scan_files(path, "d", dt.datetime(2024, 1, 1), None)
    with pytest.raises(ValueError, match="column 'id'"):
        T.snapshot_scan_multi(spark, path, {"id": (None, "9")})
    # valid bounds still work
    _, adm = T.snapshot_scan_files(path, "d", dt.date(2024, 5, 1), None)
    assert len(adm) >= 1


# ---------------------------------------------------------------------------
# manifest sharding (VERDICT r6 #2 — the Iceberg manifest-list design)
# ---------------------------------------------------------------------------

def _force_sharded(monkeypatch, inline_max=4, max_segments=64):
    monkeypatch.setattr(T, "_INLINE_MAX_FILES", inline_max)
    monkeypatch.setattr(T, "_MAX_SEGMENTS", max_segments)


def test_sharded_upgrade_and_append_carries_segments_by_name(
    spark, tmp_path, monkeypatch
):
    """Past the inline threshold the manifest shards; an append then
    writes ONE new segment and carries every parent segment by
    reference — the O(new files) commit contract."""
    _force_sharded(monkeypatch)
    path = str(tmp_path / "t")
    base = _mk(spark, range(100)).repartitionByRange(8, "id")
    T.snapshot_write(spark, base, path, stats_cols=["id"])
    m0 = T.read_manifest(path)
    assert "segments" in m0 and "files" not in m0
    T.snapshot_write(
        spark, _mk(spark, range(100, 110)).coalesce(1), path,
        mode="append", stats_cols=["id"],
    )
    m1 = T.read_manifest(path)
    s0 = {s["path"] for s in m0["segments"]}
    s1 = {s["path"] for s in m1["segments"]}
    assert s0 <= s1, "parent segments must carry by name"
    assert len(s1 - s0) == 1, "append adds exactly one new segment"
    assert _rows(T.snapshot_read(spark, path)) == _rows(_mk(spark, range(110)))


def test_sharded_merge_rewrites_only_affected_segments(
    spark, tmp_path, monkeypatch
):
    _force_sharded(monkeypatch)
    path = str(tmp_path / "t")
    base = _mk(spark, range(1000)).repartitionByRange(8, "id")
    T.snapshot_merge(spark, base, path, keys=["id"])
    m0 = T.read_manifest(path)
    assert "segments" in m0
    T.snapshot_merge(spark, _mk(spark, range(11), "u"), path, keys=["id"])
    m1 = T.read_manifest(path)
    carried = {s["path"] for s in m0["segments"]} & {
        s["path"] for s in m1["segments"]
    }
    # at least the untouched-range segments survive by reference
    assert len(carried) >= 1, (len(m0["segments"]), len(m1["segments"]))
    got = {r.id: r.val for r in T.snapshot_read(spark, path).collect()}
    assert got[5] == "u5" and got[500] == "v500" and len(got) == 1000


def test_sharded_file_prune_equals_inline_prune(spark, tmp_path, monkeypatch):
    """The file-LEVEL admitted set must be identical whether the
    manifest is inline or sharded (segment pruning is a superset
    filter, never a different answer)."""
    path_a = str(tmp_path / "a")
    path_b = str(tmp_path / "b")
    base = _mk(spark, range(1000)).repartitionByRange(8, "id")
    T.snapshot_write(spark, base, path_a, stats_cols=["id"])
    monkeypatch.setattr(T, "_INLINE_MAX_FILES", 2)
    T.snapshot_write(spark, base, path_b, stats_cols=["id"])
    assert "segments" in T.read_manifest(path_b)

    # both tables stage the same 8 files; file names differ only in
    # their per-commit token, so compare the part suffixes
    def parts(paths):
        return sorted(os.path.basename(p).split("-", 1)[1] for p in paths)

    for lo, hi in [(0, 99), (500, 501), (990, None), (None, 10), (7, 7)]:
        _, adm_a = T.snapshot_scan_files(path_a, "id", lo, hi)
        _, adm_b = T.snapshot_scan_files(path_b, "id", lo, hi)
        assert parts(e["path"] for e in adm_a) == parts(
            e["path"] for e in adm_b
        ), (lo, hi)
        assert _rows(T.snapshot_scan(spark, path_b, "id", lo, hi)) == _rows(
            T.snapshot_scan(spark, path_a, "id", lo, hi)
        )
    for values in [[5], [5, 500, 990], [123, 124], [None, 7], [5000]]:
        _, adm_a = T.snapshot_lookup_files(path_a, "id", values)
        _, adm_b = T.snapshot_lookup_files(path_b, "id", values)
        assert parts(e["path"] for e in adm_a) == parts(
            e["path"] for e in adm_b
        ), values
    for bounds in [
        {"id": (0, 99), "val": ("v0", "v5")},
        {"id": (900, None)},
        {"id": (40, 30)},
        {},
    ]:
        multi_a = T.snapshot_scan_multi(spark, path_a, bounds)
        multi_b = T.snapshot_scan_multi(spark, path_b, bounds)
        assert parts(multi_a.inputFiles()) == parts(multi_b.inputFiles()), bounds
        assert _rows(multi_a) == _rows(multi_b), bounds


def test_sharded_delete_and_change_feed(spark, tmp_path, monkeypatch):
    _force_sharded(monkeypatch)
    path = str(tmp_path / "t")
    base = _mk(spark, range(200)).repartitionByRange(8, "id")
    T.snapshot_write(spark, base, path, stats_cols=["id"])
    dels = spark.createDataFrame([(5,), (150,)], "id long")
    T.snapshot_delete(spark, path, keys=["id"], keys_df=dels)
    got = {r.id for r in T.snapshot_read(spark, path).collect()}
    assert got == set(range(200)) - {5, 150}
    chg = T.read_snapshot_changes(spark, path, since_version=0)
    assert sorted((r.id, r._change_type) for r in chg.collect()) == [
        (5, "delete"), (150, "delete"),
    ]


def test_sharded_incremental_reads_only_new(spark, tmp_path, monkeypatch):
    _force_sharded(monkeypatch)
    path = str(tmp_path / "t")
    T.snapshot_write(
        spark, _mk(spark, range(50)).repartition(8), path, stats_cols=["id"]
    )
    v0 = T.current_version(path)
    T.snapshot_write(
        spark, _mk(spark, range(50, 60)).coalesce(1), path,
        mode="append", stats_cols=["id"],
    )
    inc = T.snapshot_incremental(spark, path, since_version=v0)
    assert sorted(r.id for r in inc.collect()) == list(range(50, 60))


def test_sharded_expire_and_vacuum_gc_segment_files(
    spark, tmp_path, monkeypatch
):
    _force_sharded(monkeypatch)
    path = str(tmp_path / "t")
    for i in range(3):
        T.snapshot_write(
            spark, _mk(spark, range(50), f"v{i}_").repartition(8), path,
            stats_cols=["id"],
        )
    mdir = os.path.join(path, "_manifests")
    # orphan segment (crashed commit): vacuum removes it
    orphan = os.path.join(mdir, "seg-deadbeef.json")
    with open(orphan, "w") as f:
        json.dump({"files": []}, f)
    removed = T.vacuum(path)
    assert "_manifests/seg-deadbeef.json" in removed
    n_segs_before = len([n for n in os.listdir(mdir) if n.startswith("seg-")])
    T.snapshot_expire(path, keep_last=1)
    n_segs_after = len([n for n in os.listdir(mdir) if n.startswith("seg-")])
    assert n_segs_after < n_segs_before
    assert T.snapshot_read(spark, path).count() == 50


def test_sharded_compact_and_history(spark, tmp_path, monkeypatch):
    _force_sharded(monkeypatch)
    path = str(tmp_path / "t")
    T.snapshot_write(
        spark, _mk(spark, range(200)).repartition(16), path, stats_cols=["id"]
    )
    before = _rows(T.snapshot_read(spark, path))
    h0 = T.snapshot_history(path)[-1]
    assert h0["n_files"] == 16 and h0["n_rows"] == 200
    T.snapshot_compact(spark, path, target_bytes=1 << 20)
    assert _rows(T.snapshot_read(spark, path)) == before
    h1 = T.snapshot_history(path)[-1]
    assert h1["n_rows"] == 200 and h1["n_files"] < 16


def test_sharded_segment_consolidation_bounds_segment_count(
    spark, tmp_path, monkeypatch
):
    """Many small appends accrete one segment each; past _MAX_SEGMENTS
    the sub-threshold segments consolidate so the manifest list stays
    bounded."""
    _force_sharded(monkeypatch, inline_max=2, max_segments=5)
    path = str(tmp_path / "t")
    T.snapshot_write(
        spark, _mk(spark, range(6)).repartition(3), path, stats_cols=["id"]
    )
    for i in range(8):
        T.snapshot_write(
            spark, _mk(spark, [100 + i]).coalesce(1), path,
            mode="append", stats_cols=["id"],
        )
    m = T.read_manifest(path)
    assert "segments" in m
    assert len(m["segments"]) <= 6, len(m["segments"])
    got = sorted(r.id for r in T.snapshot_read(spark, path).collect())
    assert got == sorted(list(range(6)) + [100 + i for i in range(8)])


def test_sharded_randomized_workload_matches_shadow_model(spark, monkeypatch):
    """The whole-format randomized simulation, forced onto the
    sharded path (tiny inline threshold) and extended with DELETE
    ops: latest snapshot ≡ shadow dict at every step, historical
    versions stay readable, scans equal read+filter."""
    import random
    import tempfile

    monkeypatch.setattr(T, "_INLINE_MAX_FILES", 3)
    monkeypatch.setattr(T, "_MAX_SEGMENTS", 4)
    rng = random.Random(20260815)
    with tempfile.TemporaryDirectory() as td:
        path = f"{td}/t"
        shadow: dict[int, str] = {}
        history: dict[int, dict[int, str]] = {}

        def frame(rows):
            return spark.createDataFrame(
                [(k, v) for k, v in rows.items()], "id long, val string"
            )

        T.snapshot_write(
            spark, frame({i: f"v{i}" for i in range(20)}).repartition(5),
            path, stats_cols=["id"],
        )
        shadow = {i: f"v{i}" for i in range(20)}
        history[T.current_version(path)] = dict(shadow)
        for step in range(14):
            op = rng.choice(["append", "merge", "delete", "delete_pred",
                             "overwrite", "compact", "expire"])
            if op == "append":
                lo = rng.randint(100, 10_000)
                new = {lo + i: f"a{step}_{i}" for i in range(rng.randint(1, 6))}
                new = {k: v for k, v in new.items() if k not in shadow}
                T.snapshot_write(spark, frame(new), path, mode="append",
                                 stats_cols=["id"])
                shadow.update(new)
            elif op == "merge":
                ks = rng.sample(sorted(shadow), k=min(len(shadow), 4))
                batch = {k: f"m{step}_{k}" for k in ks}
                batch[rng.randint(20_000, 30_000)] = f"new{step}"
                T.snapshot_merge(spark, frame(batch), path, keys=["id"])
                shadow.update(batch)
            elif op == "delete":
                if not shadow:
                    continue
                ks = rng.sample(sorted(shadow), k=min(len(shadow), 3))
                T.snapshot_delete(
                    spark, path, keys=["id"],
                    keys_df=spark.createDataFrame([(k,) for k in ks], "id long"),
                )
                for k in ks:
                    shadow.pop(k, None)
            elif op == "delete_pred":
                if not shadow:
                    continue
                cut = rng.choice(sorted(shadow))
                T.snapshot_delete(
                    spark, path, predicate=f"id >= {cut}",
                    prune_bounds={"id": (cut, None)},
                )
                shadow = {k: v for k, v in shadow.items() if k < cut}
            elif op == "overwrite":
                shadow = {i: f"o{step}_{i}" for i in range(rng.randint(3, 10))}
                T.snapshot_write(spark, frame(shadow), path, stats_cols=["id"])
            elif op == "compact":
                T.snapshot_compact(spark, path, target_bytes=1 << 20)
            elif op == "expire":
                keep = rng.randint(2, 4)
                T.snapshot_expire(path, keep_last=keep)
                history = {v: h for v, h in history.items()
                           if v > max(history) - keep
                           or v == T.current_version(path)}
            got = {r.id: r.val for r in T.snapshot_read(spark, path).collect()}
            assert got == shadow, (step, op)
            history[T.current_version(path)] = dict(shadow)
            hv = rng.choice(sorted(history))
            try:
                old = {r.id: r.val
                       for r in T.snapshot_read(spark, path, version=hv).collect()}
                assert old == history[hv], (step, op, hv)
            except FileNotFoundError:
                history.pop(hv, None)
            if shadow:
                ks = sorted(shadow)
                lo = rng.choice(ks); hi = rng.choice(ks)
                lo, hi = min(lo, hi), max(lo, hi)
                got_scan = {r.id: r.val
                            for r in T.snapshot_scan(spark, path, "id", lo, hi).collect()}
                assert got_scan == {k: v for k, v in shadow.items()
                                    if lo <= k <= hi}, (step, op)


# ---------------------------------------------------------------------------
# streaming CDF consumer (VERDICT r6 #6): version-cursor micro-batches,
# exactly-once replica through the storage layer
# ---------------------------------------------------------------------------

def test_snapshot_replica_follows_source(spark, tmp_path):
    from traffic_forecast_etl_spark.streaming.micro_batch import (
        streaming_snapshot_replica,
    )

    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    cursor = str(tmp_path / "cursor")
    T.snapshot_write(spark, _mk(spark, range(20)), src, stats_cols=["id"])
    T.snapshot_merge(
        spark, _mk(spark, [3, 25], "u"), src, keys=["id"], change_feed=True
    )
    T.snapshot_delete(
        spark, src, keys=["id"],
        keys_df=spark.createDataFrame([(7,), (8,)], "id long"),
    )
    v = streaming_snapshot_replica(spark, src, dst, ["id"], cursor)
    assert v == T.current_version(src)
    assert _rows(T.snapshot_read(spark, dst)) == _rows(T.snapshot_read(spark, src))
    # idempotent continuation: nothing new -> no new commits
    dst_v = T.current_version(dst)
    streaming_snapshot_replica(spark, src, dst, ["id"], cursor)
    assert T.current_version(dst) == dst_v
    # source keeps moving: only the delta is applied
    T.snapshot_merge(
        spark, _mk(spark, [100], "z"), src, keys=["id"], change_feed=True
    )
    streaming_snapshot_replica(spark, src, dst, ["id"], cursor)
    assert _rows(T.snapshot_read(spark, dst)) == _rows(T.snapshot_read(spark, src))


def test_snapshot_replica_replay_is_exactly_once(spark, tmp_path):
    """Crash between apply and cursor-advance (simulated by rolling
    the cursor back) must not double-apply: the replayed batch's
    txn-marked commits are structural no-ops."""
    from traffic_forecast_etl_spark.streaming.micro_batch import (
        _write_cursor,
        streaming_snapshot_replica,
    )

    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    cursor = str(tmp_path / "cursor")
    T.snapshot_write(spark, _mk(spark, range(10)), src, stats_cols=["id"])
    T.snapshot_merge(
        spark, _mk(spark, [1, 50], "u"), src, keys=["id"], change_feed=True
    )
    streaming_snapshot_replica(spark, src, dst, ["id"], cursor)
    expect = _rows(T.snapshot_read(spark, dst))
    dst_v = T.current_version(dst)
    _write_cursor(cursor, 0)  # crash-replay: re-deliver version 1
    streaming_snapshot_replica(spark, src, dst, ["id"], cursor)
    assert T.current_version(dst) == dst_v  # no new commits
    assert _rows(T.snapshot_read(spark, dst)) == expect


def test_consume_snapshot_changes_batches_and_cursor(spark, tmp_path):
    from traffic_forecast_etl_spark.streaming.micro_batch import (
        consume_snapshot_changes,
    )

    src = str(tmp_path / "src")
    cursor = str(tmp_path / "cursor")
    T.snapshot_write(spark, _mk(spark, range(5)), src, stats_cols=["id"])
    T.snapshot_write(spark, _mk(spark, [9]), src, mode="append",
                     stats_cols=["id"])
    T.snapshot_compact(spark, src, target_bytes=1 << 20)
    seen: list[tuple[int, int]] = []

    def proc(chg, v):
        seen.append((v, chg.count()))

    end = consume_snapshot_changes(spark, src, proc, cursor)
    assert end == T.current_version(src)
    # v0: 5 inserts, v1: 1 insert, v2 (compact): empty batch
    assert seen == [(0, 5), (1, 1), (2, 0)]
    # a mid-batch crash resumes from the cursor, not the beginning
    seen.clear()
    T.snapshot_write(spark, _mk(spark, [77]), src, mode="append",
                     stats_cols=["id"])
    consume_snapshot_changes(spark, src, proc, cursor)
    assert seen == [(3, 1)]


# ---------------------------------------------------------------------------
# UPDATE / RESTORE / as-of-timestamp (r7 completions)
# ---------------------------------------------------------------------------

def test_update_rows_and_change_feed(spark, tmp_path):
    """CoW UPDATE: matched rows get set_exprs, others carry verbatim;
    the change feed records delete-preimage + insert-postimage; the
    match flag is evaluated on PRE-update values (the bal<100 +100
    trap)."""
    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, 50.0), (2, 150.0), (3, 99.0), (4, None)],
        "id long, bal double",
    )
    T.snapshot_write(spark, df, path, stats_cols=["id"])
    T.snapshot_update(
        spark, path, {"bal": "bal + 100"}, predicate="bal < 100"
    )
    got = {r.id: r.bal for r in T.snapshot_read(spark, path).collect()}
    # NULL predicate keeps the row unchanged (SQL semantics)
    assert got == {1: 150.0, 2: 150.0, 3: 199.0, 4: None}
    chg = T.read_snapshot_changes(spark, path, since_version=0)
    rows = sorted((r.id, r.bal, r._change_type) for r in chg.collect())
    assert rows == [
        (1, 50.0, "delete"), (1, 150.0, "insert"),
        (3, 99.0, "delete"), (3, 199.0, "insert"),
    ]


def test_update_prunes_and_validates(spark, tmp_path):
    path = str(tmp_path / "t")
    base = _mk(spark, range(1000)).repartitionByRange(8, "id")
    T.snapshot_merge(spark, base, path, keys=["id"])
    m0 = T.read_manifest(path)
    T.snapshot_update(
        spark, path, {"val": "upper(val)"},
        predicate="id between 3 and 9", prune_bounds={"id": (3, 9)},
    )
    m1 = T.read_manifest(path)
    carried = {e["path"] for e in m0["files"]} & {e["path"] for e in m1["files"]}
    assert len(carried) >= 6
    got = {r.id: r.val for r in T.snapshot_read(spark, path).collect()}
    assert got[5] == "V5" and got[500] == "v500"
    with pytest.raises(ValueError, match="not in the table schema"):
        T.snapshot_update(spark, path, {"nope": "1"}, predicate="id = 1")
    with pytest.raises(ValueError, match="at least one column"):
        T.snapshot_update(spark, path, {}, predicate="id = 1")
    # txn replay is a no-op
    v = T.snapshot_update(
        spark, path, {"val": "'x'"}, predicate="id = 0",
        txn_app="fix", txn_version=1,
    )
    assert T.snapshot_update(
        spark, path, {"val": "'y'"}, predicate="id = 0",
        txn_app="fix", txn_version=1,
    ) == v
    assert {r.val for r in T.snapshot_read(spark, path)
            .filter(F.col("id") == 0).collect()} == {"x"}


def test_version_as_of_timestamp(spark, tmp_path):
    import datetime as dt
    import time

    path = str(tmp_path / "t")
    T.snapshot_write(spark, _mk(spark, range(3)), path)
    t0 = dt.datetime.now(dt.timezone.utc)
    time.sleep(0.05)
    T.snapshot_write(spark, _mk(spark, range(5)), path)
    t1 = dt.datetime.now(dt.timezone.utc)
    assert T.snapshot_version_as_of(path, t0) == 0
    assert T.snapshot_version_as_of(path, t1) == 1
    assert T.snapshot_read(
        spark, path, version=T.snapshot_version_as_of(path, t0)
    ).count() == 3
    with pytest.raises(ValueError, match="at or before"):
        T.snapshot_version_as_of(path, t0 - dt.timedelta(days=1))


def test_streaming_write_to_cdf_replica_loop(spark, tmp_path):
    """The full loop: a stream MERGES into a source table with CDF
    recording on, and the replica consumer rebuilds an identical
    table purely from the change feed — streaming write -> storage ->
    streaming read, exactly-once on both sides."""
    from traffic_forecast_etl_spark.streaming.micro_batch import (
        read_events_stream,
        streaming_snapshot_merge,
        streaming_snapshot_replica,
    )

    src_table = str(tmp_path / "src")
    dst_table = str(tmp_path / "dst")
    q = streaming_snapshot_merge(
        read_events_stream(spark, "/root/testdata/sf0.001/events.parquet"),
        src_table, ["event_id"],
        checkpoint=str(tmp_path / "ck"),
        change_feed=True,
    )
    q.awaitTermination()
    streaming_snapshot_replica(
        spark, src_table, dst_table, ["event_id"],
        cursor_path=str(tmp_path / "cursor"),
    )
    assert _rows(T.snapshot_read(spark, dst_table)) == _rows(
        T.snapshot_read(spark, src_table)
    )


# ---------------------------------------------------------------------------
# native Structured Streaming CDF source (PySpark 4 Python Data Source)
# ---------------------------------------------------------------------------

def _drain_stream(spark, stream, name):
    q = (
        stream.writeStream.format("memory").queryName(name)
        .trigger(availableNow=True).start()
    )
    q.awaitTermination()
    return spark.sql(f"select * from {name}")


def test_cdf_stream_source_equals_batch_feed(spark, tmp_path):
    """The native readStream source must deliver exactly the batch
    read_snapshot_changes rows — recorded merge/delete files AND
    synthesized first-commit inserts."""
    from traffic_forecast_etl_spark.streaming.cdf_source import (
        read_snapshot_changes_stream,
    )

    path = str(tmp_path / "t")
    T.snapshot_write(spark, _mk(spark, range(10)), path, stats_cols=["id"])
    T.snapshot_merge(
        spark, _mk(spark, [3, 77], "u"), path, keys=["id"], change_feed=True
    )
    T.snapshot_delete(
        spark, path, keys=["id"],
        keys_df=spark.createDataFrame([(5,)], "id long"),
    )
    got = _rows(_drain_stream(
        spark, read_snapshot_changes_stream(spark, path), "cdf_eq_batch"
    ))
    want = _rows(T.read_snapshot_changes(spark, path, since_version=-1))
    assert got == want


def test_cdf_stream_checkpoint_resumes_at_version_cursor(spark, tmp_path):
    """Offsets ARE table versions: a restart from the checkpoint must
    surface ONLY versions committed after the first run."""
    from traffic_forecast_etl_spark.streaming.cdf_source import (
        read_snapshot_changes_stream,
    )

    path = str(tmp_path / "t")
    ck = str(tmp_path / "ck")
    out = str(tmp_path / "out")
    T.snapshot_write(spark, _mk(spark, range(5)), path, stats_cols=["id"])

    def run_once():
        q = (
            read_snapshot_changes_stream(spark, path)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()
    n1 = spark.read.parquet(out).count()
    assert n1 == 5
    T.snapshot_merge(
        spark, _mk(spark, [1, 9], "u"), path, keys=["id"], change_feed=True
    )
    run_once()
    df = spark.read.parquet(out)
    assert df.count() == n1 + 3  # delete(1) + insert(1) + insert(9) only
    assert df.filter(F.col("_commit_version") == 0).count() == 5  # not re-read


def test_cdf_stream_starting_version_and_schema_evolution(spark, tmp_path):
    from traffic_forecast_etl_spark.streaming.cdf_source import (
        read_snapshot_changes_stream,
    )

    path = str(tmp_path / "t")
    T.snapshot_write(spark, _mk(spark, range(3)), path, stats_cols=["id"])
    evolved = spark.createDataFrame(
        [(50, "x", 1.5)], "id long, val string, score double"
    )
    T.snapshot_write(spark, evolved, path, mode="append", merge_schema=True)
    got = _drain_stream(
        spark,
        read_snapshot_changes_stream(spark, path, starting_version=0),
        "cdf_startv",
    ).collect()
    assert [(r.id, r.score, r._change_type) for r in got] == [(50, 1.5, "insert")]
    # pre-evolution files null-fill the new column through the source
    all_rows = _drain_stream(
        spark, read_snapshot_changes_stream(spark, path), "cdf_evol"
    ).collect()
    assert {r.score for r in all_rows if r.id < 3} == {None}


def test_cdf_stream_unrecorded_merge_fails_loudly(spark, tmp_path):
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from traffic_forecast_etl_spark.streaming.cdf_source import (
        read_snapshot_changes_stream,
    )

    path = str(tmp_path / "t")
    T.snapshot_write(spark, _mk(spark, range(3)), path, stats_cols=["id"])
    T.snapshot_merge(spark, _mk(spark, [1], "u"), path, keys=["id"])  # no CDF
    q = (
        read_snapshot_changes_stream(spark, path)
        .writeStream.format("memory").queryName("cdf_fail")
        .trigger(availableNow=True).start()
    )
    with pytest.raises(StreamingQueryException, match="no recorded change feed"):
        q.awaitTermination()


def test_cdf_cluster_version_contributes_nothing(spark, tmp_path):
    """A z-order clustering rewrite moves rows between files without
    changing any: the batch feed and the streaming source share one
    change-feed rule, so both drain ZERO rows for it (the stream once
    raised 'no recorded change feed' on a cluster version)."""
    from traffic_forecast_etl_spark.streaming.cdf_source import (
        read_snapshot_changes_stream,
    )

    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, (i * 7) % 64) for i in range(64)], "a long, b long"
    )
    T.snapshot_write(spark, df, path, stats_cols=["a", "b"])
    T.snapshot_cluster(spark, path, ["a", "b"])
    assert T.read_manifest(path)["op"] == "cluster"
    assert T.read_snapshot_changes(spark, path, since_version=0).count() == 0
    got = _drain_stream(
        spark,
        read_snapshot_changes_stream(spark, path, starting_version=0),
        "cdf_cluster",
    ).collect()
    assert got == []


def test_empty_keyed_delete_keeps_change_feed_readable(spark, tmp_path):
    """A keyed delete whose key set is empty commits a no-op version;
    with the change feed on (the default) it records an EMPTY feed, so
    the feed over it stays readable instead of raising."""
    path = str(tmp_path / "t")
    T.snapshot_write(spark, _mk(spark, range(3)), path, stats_cols=["id"])
    T.snapshot_delete(
        spark, path, keys=["id"],
        keys_df=spark.createDataFrame([], "id long"),
    )
    assert T.read_manifest(path)["op"] == "delete"
    assert T.read_snapshot_changes(spark, path, since_version=0).count() == 0
    assert T.snapshot_read(spark, path).count() == 3


# ---------------------------------------------------------------------------
# merge-on-read equality deletes (r7 — the Iceberg v2 delete-file concept)
# ---------------------------------------------------------------------------

def test_mor_delete_touches_no_data_files(spark, tmp_path):
    """The point of MoR: a keyed delete writes ONE small delete file
    and carries every data file by name — zero rewrites — yet reads
    exclude the keys; time travel still shows them."""
    path = str(tmp_path / "t")
    base = _mk(spark, range(1000)).repartitionByRange(8, "id")
    T.snapshot_write(spark, base, path, stats_cols=["id"])
    m0 = T.read_manifest(path)
    dels = spark.createDataFrame([(3,), (500,), (999,)], "id long")
    T.snapshot_delete(
        spark, path, keys=["id"], keys_df=dels, mode="mor", change_feed=False
    )
    m1 = T.read_manifest(path)
    assert {e["path"] for e in m1["files"]} == {e["path"] for e in m0["files"]}
    assert len(m1["eq_deletes"]) >= 1
    got = {r.id for r in T.snapshot_read(spark, path).collect()}
    assert got == set(range(1000)) - {3, 500, 999}
    assert T.snapshot_read(spark, path, version=0).count() == 1000
    # scans apply the deletes too, still ≡ read+filter
    scan = {r.id for r in T.snapshot_scan(spark, path, "id", 0, 10).collect()}
    assert scan == set(range(11)) - {3}


def test_mor_reinsert_after_delete_is_visible(spark, tmp_path):
    """Sequencing rule: a key re-inserted AFTER its equality delete
    must be visible (the delete applies only to older files)."""
    path = str(tmp_path / "t")
    T.snapshot_write(spark, _mk(spark, range(10)), path, stats_cols=["id"])
    T.snapshot_delete(
        spark, path, keys=["id"],
        keys_df=spark.createDataFrame([(5,)], "id long"),
        mode="mor", change_feed=False,
    )
    assert 5 not in {r.id for r in T.snapshot_read(spark, path).collect()}
    T.snapshot_merge(spark, _mk(spark, [5], "re"), path, keys=["id"])
    got = {r.id: r.val for r in T.snapshot_read(spark, path).collect()}
    assert got[5] == "re5"
    assert len(got) == 10


def test_mor_merge_does_not_resurrect_and_compact_materializes(
    spark, tmp_path
):
    path = str(tmp_path / "t")
    T.snapshot_write(
        spark, _mk(spark, range(100)).repartition(6), path, stats_cols=["id"]
    )
    T.snapshot_delete(
        spark, path, keys=["id"],
        keys_df=spark.createDataFrame([(7,), (8,)], "id long"),
        mode="mor", change_feed=False,
    )
    # a merge rewriting the files that HELD 7/8 (for other keys) must
    # not bring them back
    T.snapshot_merge(spark, _mk(spark, [6, 9], "u"), path, keys=["id"])
    got = {r.id for r in T.snapshot_read(spark, path).collect()}
    assert 7 not in got and 8 not in got and len(got) == 98
    # compaction rewrites everything -> deletes materialized + retired
    T.snapshot_compact(spark, path, target_bytes=1 << 20)
    m = T.read_manifest(path)
    assert not m.get("eq_deletes"), m.get("eq_deletes")
    got2 = {r.id for r in T.snapshot_read(spark, path).collect()}
    assert got2 == got


def test_mor_change_feed_records_removed_rows(spark, tmp_path):
    path = str(tmp_path / "t")
    T.snapshot_write(spark, _mk(spark, range(10)), path, stats_cols=["id"])
    T.snapshot_delete(
        spark, path, keys=["id"],
        keys_df=spark.createDataFrame([(2,), (4,)], "id long"),
        mode="mor",  # change_feed defaults on
    )
    chg = T.read_snapshot_changes(spark, path, since_version=0)
    rows = sorted((r.id, r.val, r._change_type) for r in chg.collect())
    assert rows == [(2, "v2", "delete"), (4, "v4", "delete")]


def test_mor_validation_and_gc(spark, tmp_path):
    path = str(tmp_path / "t")
    T.snapshot_write(spark, _mk(spark, range(10)), path, stats_cols=["id"])
    with pytest.raises(ValueError, match="equality deletes"):
        T.snapshot_delete(spark, path, predicate="id = 1", mode="mor")
    with pytest.raises(ValueError, match="cow\\|mor"):
        T.snapshot_delete(
            spark, path, keys=["id"],
            keys_df=spark.createDataFrame([(1,)], "id long"), mode="lazy",
        )
    T.snapshot_delete(
        spark, path, keys=["id"],
        keys_df=spark.createDataFrame([(1,)], "id long"),
        mode="mor", change_feed=False,
    )
    del_dir = os.path.join(path, "_deletes")
    assert len(os.listdir(del_dir)) > 0
    # referenced delete files survive vacuum
    removed = T.vacuum(path)
    assert not any(p.startswith("_deletes/") for p in removed)
    # overwrite drops the deletes; expire retires the old version and
    # its delete file is GC'd
    T.snapshot_write(spark, _mk(spark, range(3), "w"), path)
    T.snapshot_write(spark, _mk(spark, range(3), "x"), path)
    T.snapshot_expire(path, keep_last=2)
    assert all(
        not n.endswith(".parquet") for n in os.listdir(del_dir)
    )


def test_mor_native_stream_synthesis_excludes_masked_rows(spark, tmp_path):
    """Overwrite-delta synthesis through the NATIVE streaming source:
    the parent's 'delete' rows must exclude keys already masked by a
    merge-on-read delete (9 visible rows, not 10)."""
    from traffic_forecast_etl_spark.streaming.cdf_source import (
        read_snapshot_changes_stream,
    )

    path = str(tmp_path / "t")
    T.snapshot_write(spark, _mk(spark, range(10)), path, stats_cols=["id"])
    T.snapshot_delete(
        spark, path, keys=["id"],
        keys_df=spark.createDataFrame([(3,)], "id long"),
        mode="mor",
    )
    T.snapshot_write(spark, _mk(spark, [77], "w"), path)  # overwrite
    got = _drain_stream(
        spark,
        read_snapshot_changes_stream(spark, path, starting_version=1),
        "cdf_mor_syn",
    ).collect()
    dels = sorted(r.id for r in got if r._change_type == "delete")
    assert dels == [0, 1, 2, 4, 5, 6, 7, 8, 9]  # 3 masked, not resurfaced
    assert [r.id for r in got if r._change_type == "insert"] == [77]
    # and the batch feed agrees
    batch = T.read_snapshot_changes(spark, path, since_version=1)
    assert sorted(
        r.id for r in batch.collect() if r._change_type == "delete"
    ) == dels


# ---------------------------------------------------------------------------
# hidden partitioning (Iceberg partition-transform concepts): spec
# storage, one-tuple-per-file staging, transform-predicate pruning in
# scans / merges / deletes, replace_partitions dynamic overwrite, and
# partition-preserving compaction
# ---------------------------------------------------------------------------

def _mk_events(spark, n=400, users=23, days=5):
    import datetime as dt

    return spark.createDataFrame(
        [
            (
                i,
                f"u{i % users}",
                dt.datetime(2024, 3, 1 + (i % days), i % 24, 30),
                float(i),
            )
            for i in range(n)
        ],
        "id bigint, user_id string, event_time timestamp, v double",
    )


_SPEC = [("days", "event_time"), ("bucket", "user_id", 8)]


def test_partitioned_write_read_parity_and_tuples(spark, tmp_path):
    """Partitioned content is row-identical to the source, the spec
    persists in the manifest, and every data file records exactly one
    partition tuple."""
    path = str(tmp_path / "t")
    df = _mk_events(spark)
    T.snapshot_write(spark, df, path, partition_spec=_SPEC, stats_cols=["id"])
    assert _rows(T.snapshot_read(spark, path)) == _rows(df)
    spec = T.snapshot_partition_spec(path)
    assert [f["transform"] for f in spec] == ["days", "bucket"]
    ents = T.manifest_files(path, T.read_manifest(path))
    assert all(
        e.get("partition") is not None and len(e["partition"]) == 2
        for e in ents
    )
    # 5 days x 8 buckets, every tuple in exactly one file
    tuples = [tuple(e["partition"]) for e in ents]
    assert len(tuples) == len(set(tuples))
    assert len(set(t[0] for t in tuples)) == 5
    # append inherits the spec; new files carry tuples too
    T.snapshot_write(spark, df.limit(10), path, mode="append")
    ents1 = T.manifest_files(path, T.read_manifest(path))
    assert all(e.get("partition") is not None for e in ents1)


def test_partition_scan_pruning_day_and_bucket(spark, tmp_path):
    """Admitted-file-count pins: a day range admits only that day's
    files; a point lookup admits exactly one bucket per day; results
    stay row-identical to read+filter."""
    import datetime as dt

    path = str(tmp_path / "t")
    df = _mk_events(spark)
    T.snapshot_write(spark, df, path, partition_spec=_SPEC)
    total = len(T.manifest_files(path, T.read_manifest(path)))
    lo, hi = dt.datetime(2024, 3, 2, 0), dt.datetime(2024, 3, 2, 23, 59)
    _, adm = T.snapshot_scan_files(path, "event_time", lo, hi)
    assert {e["partition"][0] for e in adm} == {"2024-03-02"}
    assert 0 < len(adm) < total
    got = T.snapshot_scan(spark, path, "event_time", lo, hi)
    exp = df.filter((F.col("event_time") >= lo) & (F.col("event_time") <= hi))
    assert _rows(got) == _rows(exp)
    # bucket point lookup: one bucket only (range stats on a random
    # key column could never prune this layout)
    _, adm2 = T.snapshot_scan_files(path, "user_id", "u7", "u7")
    assert len({e["partition"][1] for e in adm2}) == 1
    assert len(adm2) <= total // 8 + 1
    got2 = T.snapshot_scan(spark, path, "user_id", "u7", "u7")
    assert _rows(got2) == _rows(df.filter(F.col("user_id") == "u7"))
    # multi-bound scan intersects both prunes
    sm = T.snapshot_scan_multi(
        spark, path, {"event_time": (lo, hi), "user_id": ("u7", "u7")}
    )
    assert _rows(sm) == _rows(
        exp.filter(F.col("user_id") == "u7")
    )


def test_partition_merge_and_delete_prune_by_bucket(spark, tmp_path):
    """A keyed merge/delete on a bucket-partitioned table touches
    only files in the keys' buckets — the carried-file-count pin."""
    path = str(tmp_path / "t")
    df = _mk_events(spark)
    T.snapshot_write(spark, df, path, partition_spec=_SPEC)
    m0 = T.read_manifest(path)
    files0 = {e["path"] for e in T.manifest_files(path, m0)}
    batch = spark.createDataFrame(
        [(99999, "u3", None, 0.0)],
        "id bigint, user_id string, event_time timestamp, v double",
    )
    T.snapshot_merge(spark, batch, path, keys=["user_id"])
    m1 = T.read_manifest(path)
    files1 = {e["path"] for e in T.manifest_files(path, m1)}
    touched = files0 - files1
    # u3 lives in ONE bucket: at most one file per day was rewritten
    assert 0 < len(touched) <= 5, len(touched)
    ents0 = {e["path"]: e for e in T.manifest_files(path, m0)}
    assert len({ents0[p]["partition"][1] for p in touched}) == 1
    # keyed delete prunes identically
    files_pre = files1
    T.snapshot_delete(
        spark,
        path,
        keys=["user_id"],
        keys_df=spark.createDataFrame([("u11",)], "user_id string"),
        change_feed=False,
    )
    m2 = T.read_manifest(path)
    files2 = {e["path"] for e in T.manifest_files(path, m2)}
    assert 0 < len(files_pre - files2) <= 6
    assert T.snapshot_read(spark, path).filter("user_id = 'u11'").count() == 0


def test_replace_partitions_dynamic_overwrite(spark, tmp_path):
    """replace_partitions drops exactly the incoming tuples: other
    buckets of the same day survive, other days untouched BY NAME,
    and the change feed synthesizes the swap file-exactly."""
    import datetime as dt

    path = str(tmp_path / "t")
    df = _mk_events(spark)
    T.snapshot_write(spark, df, path, partition_spec=_SPEC)
    m0 = T.read_manifest(path)
    newday = spark.createDataFrame(
        [(9000 + i, "u3", dt.datetime(2024, 3, 2, 12), 1.0) for i in range(4)],
        "id bigint, user_id string, event_time timestamp, v double",
    )
    v = T.snapshot_write(spark, newday, path, mode="replace_partitions")
    cur = T.snapshot_read(spark, path)
    # the (day2, bucket(u3)) tuple holds exactly the new rows
    assert _rows(
        cur.filter("user_id = 'u3' and event_time >= '2024-03-02' "
                   "and event_time < '2024-03-03'")
    ) == _rows(newday)
    # replacement is at TUPLE granularity: the whole (day-2, bucket
    # of u3) file is swapped, which also drops OTHER users sharing
    # that bucket on that day — the documented dynamic-partition-
    # overwrite semantics. Survivors = rows outside the replaced tuple.
    from traffic_forecast_etl_spark.tablefmt import _bucket_py

    b3 = _bucket_py("u3", 8)
    dropped = df.filter(
        (F.col("event_time") >= "2024-03-02")
        & (F.col("event_time") < "2024-03-03")
    ).where(
        F.conv(F.substring(F.md5(F.col("user_id")), 1, 8), 16, 10)
        .cast("long") % 8 == b3
    )
    assert cur.count() == df.count() - dropped.count() + 4
    # other days' files carried BY NAME
    m1 = T.read_manifest(path)
    ents0 = T.manifest_files(path, m0)
    ents1 = {e["path"] for e in T.manifest_files(path, m1)}
    for e in ents0:
        if e["partition"][0] != "2024-03-02":
            assert e["path"] in ents1
    # CDF synthesis: the swap reads as file-level delete+insert
    chg = T.read_snapshot_changes(spark, path, since_version=v - 1, version=v)
    kinds = {r["_change_type"] for r in chg.select("_change_type").collect()}
    assert kinds == {"insert", "delete"}
    # validation: unpartitioned table refuses the mode
    p2 = str(tmp_path / "u")
    T.snapshot_write(spark, df, p2)
    with pytest.raises(ValueError, match="partitioned"):
        T.snapshot_write(spark, newday, p2, mode="replace_partitions")


def test_partition_compact_preserves_tuples_and_pruning(spark, tmp_path):
    """Compaction never mixes partition tuples in one file, and scan
    pruning still holds afterwards."""
    path = str(tmp_path / "t")
    df = _mk_events(spark, n=200, users=5, days=3)
    spec = [("days", "event_time"), ("bucket", "user_id", 4)]
    T.snapshot_write(spark, df, path, partition_spec=spec)
    # fragment: three appends
    for k in range(3):
        T.snapshot_write(spark, df.limit(30), path, mode="append")
    before = T.snapshot_read(spark, path)
    n_before = before.count()
    T.snapshot_compact(spark, path, target_bytes=1 << 26)
    ents = T.manifest_files(path, T.read_manifest(path))
    tuples = [tuple(e["partition"]) for e in ents if e.get("partition")]
    assert len(tuples) == len(set(tuples)), "compact mixed partition tuples"
    assert T.snapshot_read(spark, path).count() == n_before
    _, adm = T.snapshot_scan_files(path, "user_id", "u2", "u2")
    assert len({e["partition"][1] for e in adm}) == 1


def test_partition_null_source_files_prune_exactly(spark, tmp_path):
    """Rows with a NULL transform source land in their own files;
    bounded scans PRUNE them (no non-null predicate matches a NULL
    row) while unbounded reads keep them."""
    import datetime as dt

    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, "a", dt.datetime(2024, 1, 1)), (2, None, dt.datetime(2024, 1, 1)),
         (3, "b", None)],
        "id bigint, user_id string, event_time timestamp",
    )
    T.snapshot_write(
        spark, df, path,
        partition_spec=[("days", "event_time"), ("bucket", "user_id", 4)],
    )
    assert T.snapshot_read(spark, path).count() == 3
    _, adm = T.snapshot_scan_files(
        path, "event_time", dt.datetime(2024, 1, 1), dt.datetime(2024, 1, 2)
    )
    assert all(e["partition"][0] is not None for e in adm)
    assert T.snapshot_scan(
        spark, path, "event_time",
        dt.datetime(2024, 1, 1), dt.datetime(2024, 1, 2),
    ).count() == 2
    _, adm2 = T.snapshot_scan_files(path, "user_id", "a", "a")
    assert all(e["partition"][1] is not None for e in adm2)


def test_partition_identity_truncate_transforms(spark, tmp_path):
    """identity and truncate transforms prune exactly, including
    negative integers (floor-to-width semantics) and string prefixes."""
    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, f"cat{i % 3}", i - 50) for i in range(100)],
        "id bigint, label string, delta bigint",
    )
    T.snapshot_write(
        spark, df, path,
        partition_spec=[("identity", "label"), ("truncate", "delta", 20)],
    )
    _, adm = T.snapshot_scan_files(path, "label", "cat1", "cat1")
    assert {e["partition"][0] for e in adm} == {"cat1"}
    assert _rows(T.snapshot_scan(spark, path, "label", "cat1", "cat1")) == _rows(
        df.filter("label = 'cat1'")
    )
    # truncate: delta in [-50, 49]; floor(-50/20)*20 = -60
    _, adm2 = T.snapshot_scan_files(path, "delta", -5, 5)
    vals = {e["partition"][1] for e in adm2}
    assert vals <= {-20, 0}, vals
    assert _rows(T.snapshot_scan(spark, path, "delta", -5, 5)) == _rows(
        df.filter("delta between -5 and 5")
    )
    # string truncate
    p2 = str(tmp_path / "s")
    df2 = spark.createDataFrame(
        [(i, f"{w}-{i}") for i, w in enumerate(["alpha", "beta", "gamma"] * 10)],
        "id bigint, word string",
    )
    T.snapshot_write(spark, df2, p2, partition_spec=[("truncate", "word", 2)])
    _, adm3 = T.snapshot_scan_files(p2, "word", "beta", "beta-999")
    assert {e["partition"][0] for e in adm3} == {"be"}


def test_partition_spec_validation(spark, tmp_path):
    """Bad specs raise clearly; appends cannot change the spec."""
    path = str(tmp_path / "t")
    df = _mk_events(spark, n=20)
    with pytest.raises(ValueError, match="unknown partition transform"):
        T.snapshot_write(spark, df, path, partition_spec=[("zorder", "id")])
    with pytest.raises(ValueError, match="date/timestamp"):
        T.snapshot_write(spark, df, path, partition_spec=[("days", "id")])
    with pytest.raises(ValueError, match="bucket"):
        T.snapshot_write(spark, df, path, partition_spec=[("bucket", "v", 8)])
    with pytest.raises(ValueError, match="n >= 2"):
        T.snapshot_write(spark, df, path, partition_spec=[("bucket", "id", 1)])
    with pytest.raises(KeyError):
        T.snapshot_write(spark, df, path, partition_spec=[("identity", "nope")])
    T.snapshot_write(spark, df, path, partition_spec=_SPEC)
    with pytest.raises(ValueError, match="cannot change"):
        T.snapshot_write(
            spark, df, path, mode="append",
            partition_spec=[("days", "event_time")],
        )
    # passing the SAME spec on append is fine
    T.snapshot_write(spark, df, path, mode="append", partition_spec=_SPEC)


def test_partition_sharded_manifest_pruning(spark, tmp_path, monkeypatch):
    """Partition tuples survive the v2 manifest-list shard format:
    sharded pruning ≡ inline pruning, and replace_partitions rewrites
    only affected segments."""
    monkeypatch.setattr(T, "_INLINE_MAX_FILES", 8)
    import datetime as dt

    path = str(tmp_path / "t")
    df = _mk_events(spark, n=300, users=11, days=4)
    T.snapshot_write(spark, df, path, partition_spec=_SPEC)
    m = T.read_manifest(path)
    assert "segments" in m
    ents = T.manifest_files(path, m)
    assert all(e.get("partition") is not None for e in ents)
    lo, hi = dt.datetime(2024, 3, 3, 0), dt.datetime(2024, 3, 3, 23, 59)
    _, adm = T.snapshot_scan_files(path, "event_time", lo, hi)
    assert {e["partition"][0] for e in adm} == {"2024-03-03"}
    got = T.snapshot_scan(spark, path, "event_time", lo, hi)
    exp = df.filter((F.col("event_time") >= lo) & (F.col("event_time") <= hi))
    assert _rows(got) == _rows(exp)


# ---------------------------------------------------------------------------
# tags (Iceberg named-ref concept): read-by-tag, immutability, expire
# retention
# ---------------------------------------------------------------------------

def test_tag_read_and_immutability(spark, tmp_path):
    path = str(tmp_path / "t")
    T.snapshot_write(spark, _mk(spark, range(5)), path)
    T.snapshot_write(spark, _mk(spark, range(9), "w"), path)
    T.snapshot_tag(path, "train-2024-08", version=0)
    assert T.snapshot_ref_version(path, "train-2024-08") == 0
    assert _rows(T.snapshot_read(spark, path, ref="train-2024-08")) == _rows(
        _mk(spark, range(5))
    )
    # default tag = current version
    assert T.snapshot_tag(path, "head") == 1
    with pytest.raises(ValueError, match="already names"):
        T.snapshot_tag(path, "train-2024-08", version=1)
    T.snapshot_tag(path, "train-2024-08", version=1, replace=True)
    assert T.snapshot_ref_version(path, "train-2024-08") == 1
    with pytest.raises(ValueError, match="not both"):
        T.snapshot_read(spark, path, version=0, ref="head")
    with pytest.raises(KeyError):
        T.snapshot_ref_version(path, "nope")
    T.snapshot_untag(path, "head")
    with pytest.raises(KeyError):
        T.snapshot_read(spark, path, ref="head")


def test_tagged_version_survives_expire(spark, tmp_path):
    """Expire keeps tagged manifests AND their data files however
    old; untagging releases them to the next expire."""
    path = str(tmp_path / "t")
    T.snapshot_write(spark, _mk(spark, range(4)), path)  # v0
    T.snapshot_tag(path, "pin", version=0)
    for k in range(1, 5):
        T.snapshot_write(spark, _mk(spark, range(4), f"x{k}"), path)
    T.snapshot_expire(path, keep_last=2)
    # v0 retained by tag; v1..v2 gone
    assert _rows(T.snapshot_read(spark, path, ref="pin")) == _rows(
        _mk(spark, range(4))
    )
    with pytest.raises(FileNotFoundError):
        T.read_manifest(path, 1)
    T.snapshot_untag(path, "pin")
    T.snapshot_expire(path, keep_last=2)
    with pytest.raises(FileNotFoundError):
        T.read_manifest(path, 0)


def test_scan_by_ref(spark, tmp_path):
    """snapshot_scan/scan_files resolve ref= like snapshot_read."""
    path = str(tmp_path / "t")
    T.snapshot_write(spark, _mk(spark, range(10)), path, stats_cols=["id"])
    T.snapshot_tag(path, "pin")
    T.snapshot_write(spark, _mk(spark, range(100, 110)), path, stats_cols=["id"])
    got = T.snapshot_scan(spark, path, "id", 0, 50, ref="pin")
    assert {r.id for r in got.collect()} == set(range(10))
    with pytest.raises(ValueError, match="not both"):
        T.snapshot_scan_files(path, "id", 0, 1, version=0, ref="pin")


# ---------------------------------------------------------------------------
# Bloom-filter file skipping (r7): per-(file, col) sidecars under
# _blooms/, point-lookup planning, keyed CoW pruning, GC, and the
# MoR carried-file resurrection regression the bloom work surfaced.
# ---------------------------------------------------------------------------


def _uuid_table(spark, tmp_path, n=4000, files=16, bloom=True):
    """n uuid-keyed rows spread UNCLUSTERED over `files` files: every
    file's [min, max] spans ~the whole key space, so min/max pruning
    admits everything and only blooms can skip."""
    import random
    import uuid as _uuid

    rnd = random.Random(7)
    ids = [_uuid.UUID(int=rnd.getrandbits(128)).hex for _ in range(n)]
    df = spark.createDataFrame(
        [(ids[i], i) for i in range(n)], "doc_id string, n long"
    ).repartition(files)
    path = str(tmp_path / "t")
    T.snapshot_write(
        spark, df, path, stats_cols=["doc_id"],
        bloom_cols=["doc_id"] if bloom else None,
    )
    return path, ids


def test_bloom_lookup_prunes_where_minmax_cannot(spark, tmp_path):
    path, ids = _uuid_table(spark, tmp_path)
    # a TRUE range (two distinct bounds) — equality scans now route
    # through blooms too (test_equality_scan_uses_blooms), so the
    # min/max-only reference needs lo < hi
    lo, hi = sorted([ids[17], ids[18]])
    m, by_range = T.snapshot_scan_files(path, "doc_id", lo, hi)
    _, by_bloom = T.snapshot_lookup_files(path, "doc_id", [ids[17]])
    total = len(T.manifest_files(path, m))
    # min/max admits ~everything on unclustered uuids; blooms don't
    assert len(by_range) == total
    assert len(by_bloom) <= max(1, total // 4)
    # and the lookup read stays exact: present keys found, absent not
    got = T.snapshot_lookup(
        spark, path, "doc_id", [ids[17], ids[99], "zz_not_a_key"]
    )
    assert sorted(r.n for r in got.collect()) == [17, 99]


def test_bloom_false_positive_rate_within_budget(spark, tmp_path):
    """1000 ABSENT probes against ~10 bits/key blooms: expected fpp
    ~1%/file; assert a loose 5% ceiling on per-file admits (md5 is
    deterministic, so this never flakes)."""
    path, ids = _uuid_table(spark, tmp_path)
    m = T.read_manifest(path)
    total = len(T.manifest_files(path, m))
    admitted = 0
    for i in range(1000):
        _, adm = T.snapshot_lookup_files(path, "doc_id", [f"absent-{i:06d}"])
        admitted += len(adm)
    assert admitted <= 0.05 * 1000 * total, admitted


def test_bloom_merge_and_delete_prune_candidates(spark, tmp_path):
    path, ids = _uuid_table(spark, tmp_path)
    # candidate set for a 2-key batch (same planning rule as merge)
    _, cand = T.snapshot_lookup_files(path, "doc_id", [ids[5], ids[2000]])
    m = T.read_manifest(path)
    assert len(cand) < len(T.manifest_files(path, m))
    batch = spark.createDataFrame(
        [(ids[5], -1), (ids[2000], -2)], "doc_id string, n long"
    )
    T.snapshot_merge(spark, batch, path, keys=["doc_id"])
    got = {
        r.doc_id: r.n
        for r in T.snapshot_lookup(
            spark, path, "doc_id", [ids[5], ids[2000]]
        ).collect()
    }
    assert got == {ids[5]: -1, ids[2000]: -2}
    assert T.snapshot_read(spark, path).count() == len(ids)
    # rewritten files got FRESH blooms: the new values are findable
    T.snapshot_delete(
        spark, path, keys=["doc_id"],
        keys_df=spark.createDataFrame([(ids[10],)], "doc_id string"),
        change_feed=False,
    )
    assert T.snapshot_read(spark, path).count() == len(ids) - 1
    assert T.snapshot_lookup(spark, path, "doc_id", [ids[10]]).count() == 0


def test_bloom_typed_keys_roundtrip(spark, tmp_path):
    """Build-side (pandas/numpy) and probe-side (driver literals)
    canonical encodings agree for int, date, timestamp, and decimal
    keys — including a decimal probe at a different scale."""
    import datetime
    from decimal import Decimal

    rows = [
        (
            i,
            datetime.date(2024, 1 + i % 12, 1 + i % 28),
            datetime.datetime(2024, 1, 1, i % 24, i % 60),
            Decimal(i) / 4,
        )
        for i in range(600)
    ]
    df = spark.createDataFrame(
        rows, "k long, dt date, ts timestamp, dec decimal(10,2)"
    ).repartition(6)
    path = str(tmp_path / "t")
    T.snapshot_write(
        spark, df, path, stats_cols=["k"], bloom_cols=["k", "dt", "ts", "dec"]
    )
    for col, probe in [
        ("k", 123),
        ("dt", datetime.date(2024, 2, 2)),
        ("ts", datetime.datetime(2024, 1, 1, 5, 5)),
        ("dec", Decimal("25")),  # stored as 25.00
    ]:
        exact = df.filter(F.col(col) == F.lit(probe)).count()
        assert exact > 0, (col, "vacuous probe")
        got = T.snapshot_lookup(spark, path, col, [probe]).count()
        assert got == exact, (col, got, exact)
        _, adm = T.snapshot_lookup_files(path, col, [probe])
        assert len(adm) >= 1


def test_bloom_inheritance_and_validation(spark, tmp_path):
    path, ids = _uuid_table(spark, tmp_path)
    assert T.read_manifest(path).get("bloom_cols") == ["doc_id"]
    # append inherits and blooms its new files
    extra = spark.createDataFrame([("zzz-appended", 9999)], "doc_id string, n long")
    T.snapshot_write(spark, extra, path, mode="append")
    assert T.read_manifest(path).get("bloom_cols") == ["doc_id"]
    # every NON-EMPTY file carries a bloom (empty part files have no
    # rows to index and admit conservatively)
    missing = [
        e for e in T.manifest_files(path, T.read_manifest(path))
        if e["rows"] > 0 and not (e.get("blooms") or {}).get("doc_id")
    ]
    assert not missing, missing
    _, adm = T.snapshot_lookup_files(path, "doc_id", ["zzz-appended"])
    assert 1 <= len(adm) <= 2
    # append may not CHANGE the bloom spec
    with pytest.raises(ValueError, match="bloom_cols"):
        T.snapshot_write(
            spark, extra, path, mode="append", bloom_cols=["n"]
        )
    # overwrite without bloom_cols drops them (table redefined)
    T.snapshot_write(spark, extra, path)
    assert T.read_manifest(path).get("bloom_cols") is None


def test_bloom_missing_sidecar_admits_conservatively(spark, tmp_path):
    """Pruning is an optimization, never a filter: with sidecars
    deleted from disk, lookups admit the file and stay exact."""
    path, ids = _uuid_table(spark, tmp_path, n=500, files=4)
    import glob
    import os as _os

    T._BLOOM_CACHE.clear()
    for p in glob.glob(_os.path.join(path, T._BLOOMS_DIR, "*.bloom")):
        _os.remove(p)
    got = T.snapshot_lookup(spark, path, "doc_id", [ids[3]]).collect()
    assert [r.n for r in got] == [3]
    _, adm = T.snapshot_lookup_files(path, "doc_id", [ids[3]])
    assert len(adm) == 4  # all admitted: no bloom evidence to skip


def test_bloom_compact_rebuilds_and_gc_collects(spark, tmp_path):
    import glob
    import os as _os

    path, ids = _uuid_table(spark, tmp_path, n=1000, files=8)
    T.snapshot_compact(spark, path, target_bytes=1 << 22)
    # compacted files carry fresh blooms; lookups still exact
    assert T.snapshot_lookup(spark, path, "doc_id", [ids[42]]).count() == 1
    before = len(glob.glob(_os.path.join(path, T._BLOOMS_DIR, "*.bloom")))
    T.snapshot_expire(path, keep_last=1)
    after = glob.glob(_os.path.join(path, T._BLOOMS_DIR, "*.bloom"))
    assert len(after) < before
    refd = {
        _os.path.basename(b["path"])
        for e in T.manifest_files(path, T.read_manifest(path))
        for b in (e.get("blooms") or {}).values()
    }
    assert {_os.path.basename(p) for p in after} == refd
    # vacuum keeps every referenced sidecar
    T.vacuum(path)
    assert {
        _os.path.basename(p)
        for p in glob.glob(_os.path.join(path, T._BLOOMS_DIR, "*.bloom"))
    } == refd
    assert T.snapshot_lookup(spark, path, "doc_id", [ids[42]]).count() == 1


def test_bloom_null_probe_and_null_keys(spark, tmp_path):
    """NULLs are never inserted into blooms; a NULL probe admits all
    files (no pruning) and the residual filter keeps SQL IN
    semantics (NULL matches nothing)."""
    df = spark.createDataFrame(
        [("a", 1), (None, 2), ("b", 3)], "k string, n long"
    )
    path = str(tmp_path / "t")
    T.snapshot_write(spark, df, path, stats_cols=["k"], bloom_cols=["k"])
    m, adm = T.snapshot_lookup_files(path, "k", [None])
    assert len(adm) == len(T.manifest_files(path, m))
    assert T.snapshot_lookup(spark, path, "k", [None]).count() == 0
    assert T.snapshot_lookup(spark, path, "k", ["a", None]).count() == 1


def test_merge_keeps_pending_mor_deletes(spark, tmp_path):
    """r7 regression: a CoW merge whose batch does NOT touch the file
    holding a MoR-deleted key must carry the pending delete files
    into its commit — dropping them resurrected deleted rows."""
    path = str(tmp_path / "t")
    T.snapshot_write(
        spark,
        _mk(spark, range(10)).repartitionByRange(4, "id"),
        path,
        stats_cols=["id"],
    )
    T.snapshot_delete(
        spark, path, keys=["id"],
        keys_df=spark.createDataFrame([(3,)], "id long"),
        mode="mor", change_feed=False,
    )
    # range-clustered files: batch key 7 provably does NOT touch the
    # file holding id=3, which is carried by name into the new version
    T.snapshot_merge(spark, _mk(spark, [7], "u"), path, keys=["id"])
    got = {r.id for r in T.snapshot_read(spark, path).collect()}
    assert 3 not in got and len(got) == 9
    assert T.read_manifest(path).get("eq_deletes"), "delete files dropped"


# ---------------------------------------------------------------------------
# Write–Audit–Publish (r7): staged commits under _manifests/staged-*,
# audit reads, rebase/fast-forward publish, abandon + GC, txn replay.
# ---------------------------------------------------------------------------


def test_wap_stage_audit_publish_append(spark, tmp_path):
    path = str(tmp_path / "t")
    T.snapshot_write(spark, _mk(spark, range(5)), path, stats_cols=["id"])
    w = T.snapshot_stage_write(
        spark, _mk(spark, range(5, 8)), path, mode="append", stats_cols=["id"]
    )
    # LATEST unmoved; readers see the current version only
    assert T.current_version(path) == 0
    assert T.snapshot_read(spark, path).count() == 5
    # audit view = would-be published table
    aud = T.snapshot_read_staged(spark, path, w)
    assert sorted(r.id for r in aud.collect()) == list(range(8))
    staged = T.snapshot_list_staged(path)
    assert [s["wap_id"] for s in staged] == [w]
    assert staged[0]["n_rows"] == 3
    v = T.snapshot_publish(path, w)
    assert v == 1
    assert sorted(r.id for r in T.snapshot_read(spark, path).collect()) == list(
        range(8)
    )
    assert not T.snapshot_list_staged(path)
    with pytest.raises(FileNotFoundError):  # consumed
        T.snapshot_publish(path, w)


def test_wap_append_publish_rebases_over_concurrent_commit(spark, tmp_path):
    path = str(tmp_path / "t")
    T.snapshot_write(spark, _mk(spark, range(5)), path, stats_cols=["id"])
    w = T.snapshot_stage_write(spark, _mk(spark, [7]), path, mode="append")
    T.snapshot_write(spark, _mk(spark, [100]), path, mode="append")
    v = T.snapshot_publish(path, w)  # rebase: carry CURRENT files
    assert v == 2
    got = sorted(r.id for r in T.snapshot_read(spark, path).collect())
    assert got == [0, 1, 2, 3, 4, 7, 100]


def test_wap_overwrite_fast_forward_only(spark, tmp_path):
    path = str(tmp_path / "t")
    T.snapshot_write(spark, _mk(spark, range(5)), path)
    w = T.snapshot_stage_write(spark, _mk(spark, [1, 2], "z"), path, mode="overwrite")
    T.snapshot_write(spark, _mk(spark, [200]), path, mode="append")
    with pytest.raises(T.SnapshotConflictError, match="re-stage"):
        T.snapshot_publish(path, w)
    T.snapshot_abandon(path, w)
    w2 = T.snapshot_stage_write(spark, _mk(spark, [1, 2], "z"), path, mode="overwrite")
    T.snapshot_publish(path, w2)
    assert sorted(r.id for r in T.snapshot_read(spark, path).collect()) == [1, 2]


def test_wap_abandon_and_vacuum_gc(spark, tmp_path):
    import glob
    import os as _os

    path = str(tmp_path / "t")
    T.snapshot_write(spark, _mk(spark, range(3)), path)
    w = T.snapshot_stage_write(spark, _mk(spark, [50]), path, mode="append")
    # vacuum must NOT collect a live stage's files
    T.vacuum(path)
    aud = T.snapshot_read_staged(spark, path, w)
    assert sorted(r.id for r in aud.collect()) == [0, 1, 2, 50]
    T.snapshot_abandon(path, w)
    removed = T.vacuum(path)
    assert any(r.startswith(f"{T._DATA_DIR}/") for r in removed), removed
    with pytest.raises(FileNotFoundError):
        T.snapshot_read_staged(spark, path, w)
    # expire likewise protects a live stage
    w2 = T.snapshot_stage_write(spark, _mk(spark, [60]), path, mode="append")
    T.snapshot_write(spark, _mk(spark, [70]), path, mode="append")
    T.snapshot_expire(path, keep_last=1)
    assert sorted(
        r.id for r in T.snapshot_read_staged(spark, path, w2).collect()
    ) == [0, 1, 2, 60, 70]


def test_wap_publish_txn_replay_is_exactly_once(spark, tmp_path):
    path = str(tmp_path / "t")
    T.snapshot_write(spark, _mk(spark, range(3)), path)
    w = T.snapshot_stage_write(spark, _mk(spark, [60]), path, mode="append")
    v1 = T.snapshot_publish(path, w, txn_app="etl", txn_version=9)
    w2 = T.snapshot_stage_write(spark, _mk(spark, [60]), path, mode="append")
    v2 = T.snapshot_publish(path, w2, txn_app="etl", txn_version=9)
    assert v2 == v1  # replayed: consumed without committing
    assert T.snapshot_read(spark, path).filter("id = 60").count() == 1


def test_wap_audit_view_matches_publish_under_mor_deletes(spark, tmp_path):
    """Staged entries preview the publish sequence, so pending
    merge-on-read deletes never mask a staged re-insert in the audit
    view — audit result ≡ publish result, the property that makes the
    audit trustworthy."""
    path = str(tmp_path / "t")
    T.snapshot_write(spark, _mk(spark, range(5)), path, stats_cols=["id"])
    T.snapshot_delete(
        spark, path, keys=["id"],
        keys_df=spark.createDataFrame([(3,)], "id long"),
        mode="mor", change_feed=False,
    )
    w = T.snapshot_stage_write(spark, _mk(spark, [3], "re"), path, mode="append")
    aud = sorted(
        (r.id, r.val)
        for r in T.snapshot_read_staged(spark, path, w).collect()
    )
    T.snapshot_publish(path, w)
    pub = sorted(
        (r.id, r.val) for r in T.snapshot_read(spark, path).collect()
    )
    assert aud == pub
    assert (3, "re3") in pub and (3, "v3") not in pub


def test_wap_stage_requires_table_and_validates_mode(spark, tmp_path):
    path = str(tmp_path / "t")
    with pytest.raises(FileNotFoundError):
        T.snapshot_stage_write(spark, _mk(spark, [1]), path)
    T.snapshot_write(spark, _mk(spark, [1]), path)
    with pytest.raises(ValueError, match="append|overwrite"):
        T.snapshot_stage_write(spark, _mk(spark, [2]), path, mode="merge")


def test_wap_partitioned_append_checks_spec(spark, tmp_path):
    path = str(tmp_path / "t")
    ev = _mk_events(spark, n=100)
    T.snapshot_write(
        spark, ev, path, partition_spec=[("days", "event_time")],
        stats_cols=["id"],
    )
    w = T.snapshot_stage_write(spark, _mk_events(spark, n=10), path, mode="append")
    # staged files carry partition tuples; publish keeps pruning exact
    v = T.snapshot_publish(path, w)
    m = T.read_manifest(path, v)
    assert all(
        e.get("partition") is not None
        for e in T.manifest_files(path, m)
        if e["rows"] > 0
    )


# ---------------------------------------------------------------------------
# Partition-spec evolution (r7): metadata-only spec changes, per-file
# spec-id pruning, lazy migration, guards.
# ---------------------------------------------------------------------------


def _mk_ev2(spark, n0, n, days=3):
    import datetime as dt

    return spark.createDataFrame(
        [
            (
                i,
                f"u{i % 7}",
                dt.datetime(2024, 3, 1 + (i % days), i % 24, 0),
                float(i),
            )
            for i in range(n0, n0 + n)
        ],
        "id bigint, user_id string, ts timestamp, v double",
    )


def test_partition_evolution_metadata_only_and_stamping(spark, tmp_path):
    path = str(tmp_path / "t")
    T.snapshot_write(
        spark, _mk_ev2(spark, 0, 300), path,
        partition_spec=[("days", "ts")], stats_cols=["id"],
    )
    files_v0 = {e["path"] for e in T.manifest_files(path, T.read_manifest(path, 0))}
    v1 = T.snapshot_evolve_partition(
        path, [("days", "ts"), ("bucket", "user_id", 4)]
    )
    m1 = T.read_manifest(path, v1)
    assert m1["op"] == "evolve_partition"
    assert len(m1["partition_specs"]) == 2 and m1["default_spec_id"] == 1
    # zero data movement
    assert {e["path"] for e in T.manifest_files(path, m1)} == files_v0
    # appended files stage under the NEW spec with 2-field tuples;
    # old files keep their 1-field tuples and implicit spec 0
    T.snapshot_write(spark, _mk_ev2(spark, 300, 300), path, mode="append")
    ents = T.manifest_files(path, T.read_manifest(path))
    old = [e for e in ents if e.get("spec_id", 0) == 0 and e.get("partition")]
    new = [e for e in ents if e.get("spec_id", 0) == 1 and e.get("partition")]
    assert old and new
    assert all(len(e["partition"]) == 1 for e in old)
    assert all(len(e["partition"]) == 2 for e in new)
    # no-op evolve (same spec) commits nothing
    cur = T.current_version(path)
    assert T.snapshot_evolve_partition(
        path, [("days", "ts"), ("bucket", "user_id", 4)]
    ) == cur


def test_partition_evolution_mixed_spec_scan_and_merge(spark, tmp_path):
    import datetime as dt

    path = str(tmp_path / "t")
    T.snapshot_write(
        spark, _mk_ev2(spark, 0, 300), path,
        partition_spec=[("days", "ts")], stats_cols=["id"],
    )
    T.snapshot_evolve_partition(
        path, [("days", "ts"), ("bucket", "user_id", 4)]
    )
    T.snapshot_write(spark, _mk_ev2(spark, 300, 300), path, mode="append")
    lo, hi = dt.datetime(2024, 3, 2), dt.datetime(2024, 3, 2, 23, 59, 59)
    got = T.snapshot_scan(spark, path, "ts", lo, hi)
    exp = T.snapshot_read(spark, path).filter(
        (F.col("ts") >= lo) & (F.col("ts") <= hi)
    )
    assert got.count() == exp.count() > 0
    # pruning engages per-spec: day-2 admits a strict subset
    m, adm = T.snapshot_scan_files(path, "ts", lo, hi)
    ents = T.manifest_files(path, m)
    assert 0 < len(adm) < len(ents)
    # both spec generations prune (each admitted set is partial)
    for sid in (0, 1):
        tot = [e for e in ents if e.get("spec_id", 0) == sid and e["rows"] > 0]
        hit = [e for e in adm if e.get("spec_id", 0) == sid and e["rows"] > 0]
        assert len(hit) < len(tot), (sid, len(hit), len(tot))
    # keyed merge exact across mixed specs
    T.snapshot_merge(
        spark,
        _mk_ev2(spark, 100, 1).withColumn("v", F.lit(-5.0)),
        path,
        keys=["id"],
    )
    row = T.snapshot_read(spark, path).filter("id = 100").collect()
    assert len(row) == 1 and row[0].v == -5.0
    assert T.snapshot_read(spark, path).count() == 600


def test_partition_evolution_replace_guard_and_migration(spark, tmp_path):
    path = str(tmp_path / "t")
    T.snapshot_write(
        spark, _mk_ev2(spark, 0, 120), path,
        partition_spec=[("days", "ts")], stats_cols=["id"],
    )
    T.snapshot_evolve_partition(
        path, [("days", "ts"), ("bucket", "user_id", 4)]
    )
    with pytest.raises(ValueError, match="older partition spec"):
        T.snapshot_write(
            spark, _mk_ev2(spark, 0, 10), path, mode="replace_partitions"
        )
    # rewrite-everything migrates every file to the default spec...
    T.snapshot_update(spark, path, {"v": "v"})  # identity update: CoW rewrite
    ents = T.manifest_files(path, T.read_manifest(path))
    assert all(e.get("spec_id", 0) == 1 for e in ents if e["rows"] > 0)
    # ...after which replace_partitions works again
    T.snapshot_write(
        spark,
        _mk_ev2(spark, 0, 40, days=1).withColumn("v", F.col("v") * 2),
        path,
        mode="replace_partitions",
    )
    assert T.snapshot_read(spark, path).filter("id = 3").collect()[0].v == 6.0


def test_partition_evolution_to_flat_time_travel_cdf(spark, tmp_path):
    import datetime as dt

    path = str(tmp_path / "t")
    T.snapshot_write(
        spark, _mk_ev2(spark, 0, 90), path,
        partition_spec=[("days", "ts")], stats_cols=["id"],
    )
    v1 = T.snapshot_evolve_partition(path, None)
    assert T.read_manifest(path, v1).get("partition_spec") is None
    T.snapshot_write(spark, _mk_ev2(spark, 90, 10), path, mode="append")
    lo, hi = dt.datetime(2024, 3, 2), dt.datetime(2024, 3, 2, 23, 59, 59)
    got = T.snapshot_scan(spark, path, "ts", lo, hi).count()
    exp = (
        T.snapshot_read(spark, path)
        .filter((F.col("ts") >= lo) & (F.col("ts") <= hi))
        .count()
    )
    assert got == exp > 0
    # time travel to the partitioned version still prunes with spec 0
    _, adm0 = T.snapshot_scan_files(path, "ts", lo, hi, version=0)
    m0 = T.read_manifest(path, 0)
    assert 0 < len(adm0) < len(T.manifest_files(path, m0))
    # the evolve commit reads as an exact empty change-feed delta
    assert (
        T.read_snapshot_changes(spark, path, since_version=0, version=v1)
        .count()
        == 0
    )
    # unknown source column still validates
    with pytest.raises(KeyError):
        T.snapshot_evolve_partition(path, [("days", "nope")])


def test_bloom_cols_validated_against_schema(spark, tmp_path):
    with pytest.raises(KeyError, match="nope"):
        T.snapshot_write(
            spark, _mk(spark, range(3)), str(tmp_path / "t"),
            bloom_cols=["nope"],
        )


def test_expire_older_than_retains_recent_burst(spark, tmp_path):
    """older_than composes with keep_last as a floor: versions
    committed at/after the cutoff survive however many there are;
    strictly-older untagged ones expire."""
    import datetime as dt

    path = str(tmp_path / "t")
    for i in range(6):
        T.snapshot_write(spark, _mk(spark, [i]), path, mode="append" if i else "overwrite")
    # cutoff BEFORE every commit: nothing expires even with keep_last=1
    cutoff = dt.datetime.now(dt.timezone.utc) - dt.timedelta(hours=1)
    assert T.snapshot_expire(path, keep_last=1, older_than=cutoff) == []
    assert min(h["version"] for h in T.snapshot_history(path)) == 0
    # cutoff AFTER every commit: behaves like plain keep_last
    cutoff2 = dt.datetime.now(dt.timezone.utc) + dt.timedelta(hours=1)
    T.snapshot_expire(path, keep_last=2, older_than=cutoff2)
    kept = {h["version"] for h in T.snapshot_history(path)}
    assert kept == {4, 5}
    # current version always readable
    assert T.snapshot_read(spark, path).count() == 6


def test_bloom_probe_type_coercion_no_false_negative(spark, tmp_path):
    """r7 self-review fix: an int probe on a double/decimal bloom
    column must coerce to the column's native type before hashing —
    otherwise the canon mismatches the build side and the bloom
    REJECTS a file that holds the value (a silent lost row)."""
    from decimal import Decimal

    df = spark.createDataFrame(
        [(float(i), Decimal(i) / 1, i) for i in range(200)],
        "fv double, dv decimal(10,2), k long",
    ).repartition(4)
    path = str(tmp_path / "t")
    T.snapshot_write(spark, df, path, stats_cols=["fv"], bloom_cols=["fv", "dv"])
    # int probe on the double column: must find the row
    assert T.snapshot_lookup(spark, path, "fv", [7]).count() == 1
    # int probe on the decimal column likewise
    assert T.snapshot_lookup(spark, path, "dv", [7]).count() == 1
    # tz-aware timestamp bound raises descriptively, not TypeError
    import datetime as dt

    df2 = spark.createDataFrame(
        [(i, dt.datetime(2024, 1, 1, i % 24)) for i in range(10)],
        "id long, ts timestamp",
    )
    p2 = str(tmp_path / "t2")
    T.snapshot_write(spark, df2, p2, stats_cols=["ts"], bloom_cols=["ts"])
    with pytest.raises(ValueError, match="timezone-aware"):
        T.snapshot_lookup_files(
            p2, "ts", [dt.datetime(2024, 1, 1, 5, tzinfo=dt.timezone.utc)]
        )


def test_equality_scan_uses_blooms(spark, tmp_path):
    """snapshot_scan_files with lower == upper is a point probe:
    blooms prune it like snapshot_lookup_files, and the scan read
    stays exact."""
    path, ids = _uuid_table(spark, tmp_path)
    m, adm_range = T.snapshot_scan_files(path, "doc_id", ids[17], ids[18])
    _, adm_eq = T.snapshot_scan_files(path, "doc_id", ids[17], ids[17])
    total = len(T.manifest_files(path, m))
    assert len(adm_range) == total  # true range: blooms can't help
    assert len(adm_eq) <= max(1, total // 4)
    got = T.snapshot_scan(spark, path, "doc_id", ids[17], ids[17]).collect()
    assert [r.n for r in got] == [17]


def test_vacuum_sweeps_stale_staged_commits(spark, tmp_path):
    """ADVICE r7: a crash between stage and publish/abandon leaves a
    live staged manifest whose files vacuum() pins forever. The
    age-based sweep (vacuum(stale_staged_older_than=...)) abandons
    stages older than the cutoff and collects their files in the same
    pass; younger stages stay live and publishable."""
    import datetime as dt
    import time

    path = str(tmp_path / "t")
    T.snapshot_write(spark, _mk(spark, range(5)), path)
    wap_old = T.snapshot_stage_write(spark, _mk(spark, range(5, 8)), path)
    time.sleep(0.05)
    mid = dt.datetime.now(dt.timezone.utc)
    time.sleep(0.05)
    wap_new = T.snapshot_stage_write(spark, _mk(spark, range(8, 12)), path)

    data_dir = os.path.join(path, "data")
    n_files_before = len(os.listdir(data_dir))
    # plain vacuum: both stages live, nothing collected
    assert T.vacuum(path) == []
    assert len(T.snapshot_list_staged(path)) == 2
    # sweep stages older than `mid`: only wap_old goes, with its files
    removed = T.vacuum(path, stale_staged_older_than=mid)
    assert any(r.startswith("data/") for r in removed)
    live = {s["wap_id"] for s in T.snapshot_list_staged(path)}
    assert live == {wap_new}
    assert len(os.listdir(data_dir)) < n_files_before
    # swept stage is unpublishable; surviving stage publishes fine
    with pytest.raises(FileNotFoundError, match="no staged commit"):
        T.snapshot_publish(path, wap_old)
    T.snapshot_publish(path, wap_new)
    assert T.snapshot_read(spark, path).count() == 9
    # table history/current version untouched by the sweep itself
    assert _rows(T.snapshot_read(spark, path, version=0)) == _rows(
        _mk(spark, range(5))
    )


def test_commit_time_cutoffs_treat_naive_as_local(spark, tmp_path):
    """ADVICE r7: snapshot_expire(older_than=) and
    snapshot_version_as_of interpret a tz-NAIVE datetime as
    system-LOCAL wall time (what datetime.now() returns), not UTC —
    pinned under a non-UTC process timezone so the 5-hour shift would
    be caught."""
    import datetime as dt
    import time

    path = str(tmp_path / "t")
    T.snapshot_write(spark, _mk(spark, range(3)), path)
    time.sleep(0.05)
    aware = dt.datetime.now(dt.timezone.utc)
    time.sleep(0.05)
    T.snapshot_write(spark, _mk(spark, range(4)), path)

    old_tz = os.environ.get("TZ")
    os.environ["TZ"] = "America/New_York"
    time.tzset()
    try:
        naive_local = aware.astimezone().replace(tzinfo=None)
        # same instant, three spellings -> same resolved version
        assert T.snapshot_version_as_of(path, aware) == 0
        assert T.snapshot_version_as_of(path, naive_local) == 0
        assert T.snapshot_version_as_of(path, aware.timestamp()) == 0
        # expire with a naive-local cutoff naming that same instant:
        # v0 (committed before it) is expirable, v1 is not
        removed = T.snapshot_expire(path, keep_last=1, older_than=naive_local)
        assert removed, "v0 should expire under the naive-local cutoff"
        assert {h["version"] for h in T.snapshot_history(path)} == {1}
    finally:
        if old_tz is None:
            del os.environ["TZ"]
        else:
            os.environ["TZ"] = old_tz
        time.tzset()


def test_scan_planning_stays_flat_at_100k_files(tmp_path):
    """Read-side planning regression guard (VERDICT r7 #6, numbers in
    SCALE.md): on a 100k-file sharded manifest, key-ranged planning
    must stay segment-pruned — a narrow scan reads ~1 segment, not
    the whole file list. Walls get a ~100x headroom ceiling (measured
    ~4 ms) so host noise never flakes this; what it catches is the
    algorithmic regression to O(table files) per narrow plan."""
    import time

    from tools.measure_plan_cost import ROWS_PER_FILE, build_synthetic

    path = str(tmp_path / "t")
    n_files = 100_000
    build_synthetic(path, n_files)
    m = T.read_manifest(path)
    assert "segments" in m, "100k files must shard"
    assert len(T.manifest_files(path, m)) == n_files

    mid = (n_files // 2) * ROWS_PER_FILE

    def best_wall(fn, n=3):
        best = float("inf")
        for _ in range(n):
            t0 = time.perf_counter()
            fn()
            best = min(best, time.perf_counter() - t0)
        return best

    def narrow():
        _, adm = T.snapshot_scan_files(path, "id", mid, mid + 8 * ROWS_PER_FILE - 1)
        assert len(adm) == 8

    def point():
        _, adm = T.snapshot_scan_files(path, "id", mid, mid)
        assert len(adm) == 1

    assert best_wall(narrow) < 0.5, "narrow planning regressed to O(files)"
    assert best_wall(point) < 0.5, "point planning regressed to O(files)"


def _mk_2d(spark, n=32768):
    """Two independent uniform dimensions — the z-order test corpus."""
    return (
        spark.range(n)
        .withColumn("a", F.pmod(F.xxhash64("id"), F.lit(1000)).cast("long"))
        .withColumn("b", F.pmod(F.xxhash64(F.col("id") + 7), F.lit(1000)).cast("long"))
        .withColumn("v", (F.col("id") % 97).cast("double"))
    )


def test_zorder_cluster_contents_and_history(spark, tmp_path):
    """Clustering is a pure layout rewrite: row multiset identical,
    old layout still readable via time travel, op recorded."""
    path = str(tmp_path / "t")
    df = _mk_2d(spark, 4096)
    T.snapshot_write(spark, df, path, stats_cols=["a", "b"])
    v1 = T.snapshot_cluster(spark, path, ["a", "b"], n_files=8)
    assert v1 == 1
    assert T.read_manifest(path)["op"] == "cluster"
    assert _rows(T.snapshot_read(spark, path)) == _rows(df)
    assert T.snapshot_read(spark, path, version=0).count() == 4096


def test_zorder_prunes_on_every_dimension(spark, tmp_path):
    """The point of z-order: after clustering on (a, b), a narrow
    predicate on EITHER column prunes files via min/max stats — vs
    the a-sorted baseline where only a prunes and b admits every
    file."""
    path_lin = str(tmp_path / "lin")
    path_z = str(tmp_path / "z")
    df = _mk_2d(spark)
    # baseline: linear sort on a, 16 files
    T.snapshot_write(
        spark,
        df.repartitionByRange(16, "a").sortWithinPartitions("a"),
        path_lin,
        stats_cols=["a", "b"],
    )
    T.snapshot_write(spark, df, path_z, stats_cols=["a", "b"])
    T.snapshot_cluster(spark, path_z, ["a", "b"], n_files=16)

    def admitted(path, key, lo, hi):
        m, adm = T.snapshot_scan_files(path, key, lo, hi)
        return len(adm), len(T.manifest_files(path, m))

    # leading column prunes in both layouts
    n_lin_a, total_lin = admitted(path_lin, "a", 100, 149)
    n_z_a, total_z = admitted(path_z, "a", 100, 149)
    assert total_lin == 16 and total_z == 16
    assert n_lin_a <= 3
    assert n_z_a <= 8
    # non-leading column: linear admits EVERYTHING, z-order prunes
    n_lin_b, _ = admitted(path_lin, "b", 100, 149)
    n_z_b, _ = admitted(path_z, "b", 100, 149)
    assert n_lin_b == 16, "a-sorted layout can't prune on b"
    assert n_z_b <= 8, f"z-order should prune on b, admitted {n_z_b}/16"
    # and the pruned read returns exactly the right rows
    got = T.snapshot_scan(spark, path_z, "b", 100, 149).filter(
        F.col("b").between(100, 149)
    )
    want = df.filter(F.col("b").between(100, 149))
    assert got.count() == want.count()


def test_zorder_materializes_mor_deletes_and_guards(spark, tmp_path):
    """Clustering rewrites every file -> pending MoR deletes
    materialize and retire in the same commit; partitioned tables and
    string columns are refused."""
    path = str(tmp_path / "t")
    df = _mk_2d(spark, 2048)
    T.snapshot_write(spark, df, path, stats_cols=["a", "b"])
    kdf = spark.createDataFrame([(0,), (1,), (2,)], "id long")
    T.snapshot_delete(spark, path, keys_df=kdf, keys=["id"], mode="mor")
    assert T.read_manifest(path).get("eq_deletes")
    T.snapshot_cluster(spark, path, ["a", "b"], n_files=4)
    m = T.read_manifest(path)
    assert not m.get("eq_deletes")
    assert T.snapshot_read(spark, path).count() == 2045
    assert (
        T.snapshot_read(spark, path).filter(F.col("id").isin(0, 1, 2)).count()
        == 0
    )

    sp = str(tmp_path / "s")
    T.snapshot_write(
        spark, df.withColumn("s", F.col("id").cast("string")), sp
    )
    with pytest.raises(TypeError, match="numeric"):
        T.snapshot_cluster(spark, sp, ["a", "s"])
    with pytest.raises(ValueError, match="2-4"):
        T.snapshot_cluster(spark, sp, ["a"])


def test_cluster_commit_skipped_by_cdf(spark, tmp_path):
    """A cluster rewrite is a layout move: the change feed yields
    nothing for it (like compact), even though every file changed."""
    path = str(tmp_path / "t")
    T.snapshot_write(spark, _mk_2d(spark, 1024), path, stats_cols=["a", "b"])
    T.snapshot_cluster(spark, path, ["a", "b"], n_files=4)
    assert T.read_snapshot_changes(spark, path, 0).count() == 0


def test_zorder_cluster_within_partitions(spark, tmp_path):
    """Partitioned z-order (r8 v2): clustering a hidden-partitioned
    table range-splits WITHIN each partition tuple — the
    one-tuple-per-file invariant holds, partition pruning stays
    exact, and the z-columns become prunable INSIDE each admitted
    partition."""
    import datetime as dt

    path = str(tmp_path / "t")
    df = (
        _mk_2d(spark, 16384)
        .withColumn(
            "ts",
            F.to_timestamp(F.lit("2024-01-01"))
            + F.make_interval(hours=(F.col("id") % 72).cast("int")),
        )
    )
    T.snapshot_write(
        spark, df, path,
        partition_spec=[("days", "ts")], stats_cols=["a", "b"],
    )
    m0 = T.read_manifest(path)
    files_before = len(T.manifest_files(path, m0))
    T.snapshot_cluster(spark, path, ["a", "b"], n_files=48)
    m1 = T.read_manifest(path)
    entries = T.manifest_files(path, m1)
    assert m1["op"] == "cluster"
    assert m1.get("partition_spec") == m0.get("partition_spec")
    # invariant: every file carries exactly one partition tuple
    assert all(e.get("partition") is not None for e in entries)
    days = {tuple(e["partition"]) for e in entries}
    assert len(days) == 3
    # rows identical
    assert _rows(T.snapshot_read(spark, path)) == _rows(df)
    # partition pruning still exact: one day admits only that day
    _, adm_day = T.snapshot_scan_files(
        path, "ts", dt.datetime(2024, 1, 2), dt.datetime(2024, 1, 2, 23)
    )
    assert {tuple(e["partition"]) for e in adm_day} == {
        tuple(e["partition"])
        for e in entries
        if dt.date(2024, 1, 2).isoformat() in str(e["partition"])
    } or len({tuple(e["partition"]) for e in adm_day}) == 1
    # z-pruning INSIDE partitions: files per day > 1 and a narrow
    # a-range admits a strict subset within the admitted day
    per_day: dict = {}
    for e in entries:
        per_day.setdefault(tuple(e["partition"]), []).append(e)
    assert all(len(v) > 1 for v in per_day.values()), (
        "clustering must split each partition into several files"
    )
    _, adm_a = T.snapshot_scan_files(path, "a", 100, 149)
    _, adm_b = T.snapshot_scan_files(path, "b", 100, 149)
    total_rows = sum(e["rows"] for e in entries)
    frac_a = sum(e["rows"] for e in adm_a) / total_rows
    frac_b = sum(e["rows"] for e in adm_b) / total_rows
    assert frac_a <= 0.6 and frac_b <= 0.6, (
        f"z-range should prune within partitions: a={frac_a:.2f} "
        f"b={frac_b:.2f} (files {len(adm_a)}/{len(entries)}, "
        f"{len(adm_b)}/{len(entries)})"
    )
    # evolution interplay: the rewrite keeps resolvable spec metadata
    assert files_before >= 3


def test_sql_time_travel_pins(spark, tmp_path):
    """sql(snapshot_tables={name: (path, pin)}) — r9, VERDICT r8
    missing #3: int pins a version, str a tag, datetime/epoch an
    AS-OF cutoff; bools and junk are refused. Each pin's view reads
    the IMMUTABLE old version even after later appends."""
    import time

    import pytest as _pytest

    from traffic_forecast_etl_spark import tablefmt as TF
    from traffic_forecast_etl_spark.sql import sql as engine_sql

    path = str(tmp_path / "t")
    df0 = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    TF.snapshot_write(spark, df0, path)
    TF.snapshot_tag(path, "first")
    t_between = time.time()
    time.sleep(0.05)
    TF.snapshot_write(
        spark, spark.createDataFrame([(3, "c")], "id long, v string"), path,
        mode="append",
    )

    q = "SELECT CAST(count(*) AS BIGINT) AS n FROM tt"
    assert engine_sql(spark, q, snapshot_tables={"tt": path}).collect()[0].n == 3
    for pin in (0, "first", t_between):
        got = engine_sql(
            spark, q, snapshot_tables={"tt": (path, pin)}
        ).collect()[0].n
        assert got == 2, (pin, got)
    with _pytest.raises(TypeError, match="bool"):
        engine_sql(spark, q, snapshot_tables={"tt": (path, True)})
    with _pytest.raises(TypeError, match="unsupported"):
        engine_sql(spark, q, snapshot_tables={"tt": (path, [1])})


def test_sql_dml_insert_create_delete(spark, tmp_path):
    """SQL DML front door (r10, VERDICT r9 #4): CREATE TABLE AS seeds
    a snapshot table, INSERT INTO appends with positional alignment +
    cast, DELETE FROM removes by predicate, the registered view
    auto-refreshes, and the guard rails refuse: DML on a PINNED view,
    on an unregistered name, CTAS over an existing table, INSERT
    arity mismatch."""
    import pytest as _pytest

    from traffic_forecast_etl_spark import tablefmt as TF
    from traffic_forecast_etl_spark.sql import sql as engine_sql

    path = str(tmp_path / "t")
    snap = {"t": path}
    r = engine_sql(
        spark,
        "CREATE TABLE t AS SELECT * FROM VALUES (1, 'a'), (2, 'b') AS v(id, s)",
        snapshot_tables=snap,
    ).collect()
    assert [tuple(x) for x in r] == [("CREATE", "t", 0)]
    # INSERT with positional alignment: int literal casts to the
    # table's bigint column, different source column names are fine
    r = engine_sql(
        spark,
        "INSERT INTO t SELECT * FROM VALUES (3, 'c'), (4, 'd') AS w(x, y)",
        snapshot_tables=snap,
    ).collect()
    assert [tuple(x) for x in r] == [("INSERT", "t", 1)]
    # the registered view advanced: SELECT sees all four rows
    got = engine_sql(
        spark, "SELECT * FROM t ORDER BY id", snapshot_tables=snap
    ).collect()
    assert [tuple(x) for x in got] == [(1, "a"), (2, "b"), (3, "c"), (4, "d")]
    # DELETE
    engine_sql(
        spark, "DELETE FROM t WHERE id IN (2, 4)", snapshot_tables=snap
    ).collect()
    got = engine_sql(
        spark, "SELECT * FROM t ORDER BY id", snapshot_tables=snap
    ).collect()
    assert [tuple(x) for x in got] == [(1, "a"), (3, "c")]
    # time travel still sees the pre-delete state via a pinned view
    got0 = engine_sql(
        spark,
        "SELECT count(*) AS n FROM t0",
        snapshot_tables={"t0": (path, 1)},
    ).collect()
    assert got0[0].n == 4

    # guard rails
    with _pytest.raises(ValueError, match="pinned"):
        engine_sql(
            spark,
            "DELETE FROM t0 WHERE id = 1",
            snapshot_tables={"t0": (path, 1)},
        )
    with _pytest.raises(ValueError, match="not a registered"):
        engine_sql(spark, "INSERT INTO nope SELECT 1", snapshot_tables=snap)
    with _pytest.raises(ValueError, match="already exists"):
        engine_sql(spark, "CREATE TABLE t AS SELECT 1", snapshot_tables=snap)
    with _pytest.raises(ValueError, match="columns"):
        engine_sql(spark, "INSERT INTO t SELECT 1", snapshot_tables=snap)
    with _pytest.raises(ValueError, match="no snapshot table"):
        engine_sql(
            spark,
            "INSERT INTO fresh SELECT 1",
            snapshot_tables={"fresh": str(tmp_path / "nope")},
        )
    assert TF.current_version(path) == 2
