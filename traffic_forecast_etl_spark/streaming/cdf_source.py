"""Native Structured Streaming source over a snapshot table's
row-level change feed (PySpark 4 Python Data Source API).

``consume_snapshot_changes`` (micro_batch.py) is the foreachBatch-dual
PULL consumer; this module is the same feed as a first-class
``spark.readStream.format("snapshot_changes")`` source — offsets ARE
table versions, so the streaming checkpoint natively remembers the
version cursor, restarts resume exactly where they stopped, and every
downstream Structured Streaming operator (windowed aggs, joins,
watermarks, foreachBatch sinks) composes with the feed unchanged.

Planning runs driver-side over the JSON manifests (zero Spark jobs —
the tablefmt scan-planning contract); reading runs on executors with
pyarrow, one input partition per change/data file, so a big version's
feed parallelizes across the cluster. The table path must be visible
from executors (shared filesystem / object store — the same
requirement every file source has).

Version semantics are :func:`..tablefmt.version_changes`, the one
change-feed rule the batch :func:`..tablefmt.read_snapshot_changes`
also uses: recorded change files for CDF-enabled MERGE/DELETE/UPDATE
commits, file-level synthesis for append/overwrite/replace_partitions
and first commits, nothing for layout rewrites (compact, cluster),
and an unrecorded merge/delete/update raises at planning time
(enable ``change_feed`` on the writer).

Reference anchor: the reference's consumers re-poll whole Postgres
serving tables on the DAG's 12-hour schedule (reference:
dags/utils.py:98-127); this source replaces the re-poll with exact
row deltas delivered through Spark's own streaming engine.
"""

from __future__ import annotations

import json
import os

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import LongType, StringType, StructField, StructType

from .. import tablefmt as TF


_MAX_EMBEDDED_DELETE_KEYS = 100_000


def _delete_filters(
    path: str, m: dict, file_seq: int, loaded: dict[str, set]
) -> list[tuple]:
    """(key_cols, key_tuple_set) filters for the equality-delete files
    that apply to a data file of sequence ``file_seq`` under the
    merge-on-read sequencing rule. Keys are loaded driver-side with
    pyarrow, once per delete file into ``loaded`` (keyed by its path),
    and EMBEDDED in the partition (delete files are key-only and small
    by design); a feed whose pending deletes exceed the embed cap
    should be consumed through the batch read_snapshot_changes /
    foreachBatch path instead."""
    import pyarrow.parquet as pq

    appl = [
        d for d in (m.get("eq_deletes") or []) if d["seq"] > file_seq
    ]
    if not appl:
        return []
    total = sum(d["rows"] for d in appl)
    if total > _MAX_EMBEDDED_DELETE_KEYS:
        raise ValueError(
            f"{total} pending merge-on-read delete keys exceed the "
            f"streaming source's embed cap ({_MAX_EMBEDDED_DELETE_KEYS}) — "
            "compact the table to materialize them, or consume via "
            "tablefmt.read_snapshot_changes / consume_snapshot_changes"
        )
    by_keys: dict[tuple, set] = {}
    for d in appl:
        cols = tuple(d["keys"])
        if d["path"] not in loaded:
            tbl = pq.read_table(os.path.join(path, d["path"]), columns=list(cols))
            loaded[d["path"]] = set(zip(*(tbl.column(c).to_pylist() for c in cols)))
        by_keys.setdefault(cols, set()).update(loaded[d["path"]])
    return [(cols, keys) for cols, keys in by_keys.items()]


class _ChangeFilePartition(InputPartition):
    """One parquet file to read on an executor: either a recorded
    change file (carries its own _change_type column) or a data file
    synthesized with a constant change type. ``del_filters`` carries
    the applicable merge-on-read delete-key sets (empty for recorded
    change files — those are exact rows already)."""

    def __init__(
        self,
        abs_path: str,
        change_type: str | None,
        version: int,
        del_filters: list[tuple] | None = None,
    ):
        self.abs_path = abs_path
        self.change_type = change_type
        self.version = version
        self.del_filters = del_filters or []


class SnapshotChangesStreamReader(DataSourceStreamReader):
    def __init__(self, schema: StructType, options: dict):
        self._path = options["path"]
        self._start = options.get("startingversion")  # options lowercase keys
        self._schema = schema
        self._data_cols = [
            f.name
            for f in schema.fields
            if f.name not in ("_change_type", "_commit_version")
        ]

    # -- offsets: {"version": N} = "everything through N consumed" --

    def initialOffset(self) -> dict:
        if self._start is not None:
            return {"version": int(self._start)}
        return {"version": TF.oldest_version(self._path) - 1}

    def latestOffset(self) -> dict:
        return {"version": TF.current_version(self._path)}

    def partitions(self, start: dict, end: dict) -> list[InputPartition]:
        parts: list[InputPartition] = []
        for v in range(int(start["version"]) + 1, int(end["version"]) + 1):
            loaded: dict[str, set] = {}  # each delete file read once per version
            for m, entries, ctype in TF.version_changes(self._path, v):
                # recorded change files are exact rows already; only
                # synthesized data files need the manifest's MoR deletes,
                # and the files of one sequence number share one filter set
                seqs = set() if ctype is None else {e.get("seq", 0) for e in entries}
                filters = {q: _delete_filters(self._path, m, q, loaded) for q in seqs}
                parts.extend(
                    _ChangeFilePartition(
                        os.path.join(self._path, e["path"]), ctype, v,
                        filters.get(e.get("seq", 0)),
                    )
                    for e in entries
                )
        return parts

    def read(self, partition: _ChangeFilePartition):
        import pyarrow.parquet as pq

        tbl = pq.read_table(partition.abs_path)
        names = set(tbl.schema.names)
        cols = []
        n = tbl.num_rows
        for c in self._data_cols:
            if c in names:
                cols.append(tbl.column(c).to_pylist())
            else:
                cols.append([None] * n)  # evolved column, file predates it
        if partition.change_type is not None:
            ctypes = [partition.change_type] * n
        else:
            ctypes = tbl.column("_change_type").to_pylist()
        ver = [partition.version] * n
        keep = None
        if partition.del_filters:
            col_idx = {c: i for i, c in enumerate(self._data_cols)}
            keep = [True] * n
            for key_cols, key_set in partition.del_filters:
                idxs = [col_idx[c] for c in key_cols]
                for i in range(n):
                    if keep[i] and tuple(cols[j][i] for j in idxs) in key_set:
                        keep[i] = False
        for i, row in enumerate(zip(*cols, ctypes, ver)):
            if keep is None or keep[i]:
                yield row

    def commit(self, end: dict) -> None:
        pass  # offsets live in the streaming checkpoint


class SnapshotChangesDataSource(DataSource):
    """``spark.readStream.format("snapshot_changes")``. Options:

    - ``path`` (required): snapshot table root
    - ``startingVersion`` (optional): consume changes AFTER this
      version (default: everything retained)
    """

    @classmethod
    def name(cls) -> str:
        return "snapshot_changes"

    def schema(self) -> StructType:
        path = self.options["path"]
        table = StructType.fromJson(json.loads(TF.read_manifest(path)["schema"]))
        return StructType(
            table.fields
            + [
                StructField("_change_type", StringType()),
                StructField("_commit_version", LongType()),
            ]
        )

    def streamReader(self, schema: StructType) -> SnapshotChangesStreamReader:
        return SnapshotChangesStreamReader(schema, dict(self.options))


def read_snapshot_changes_stream(
    spark, path: str, starting_version: int | None = None
):
    """Register the source (idempotent) and open the change-feed
    stream for ``path``. Returns a streaming DataFrame with the
    table's columns plus ``_change_type`` / ``_commit_version``."""
    spark.dataSource.register(SnapshotChangesDataSource)
    reader = spark.readStream.format("snapshot_changes").option("path", path)
    if starting_version is not None:
        reader = reader.option("startingVersion", str(starting_version))
    return reader.load()
