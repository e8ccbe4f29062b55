"""Table layout writers (SCALE.md 'Layout' row): partition
compaction and the JSONL export. Z-order clustering lives in
:func:`..tablefmt.snapshot_cluster`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def compact_partition(
    spark: SparkSession,
    path: str,
    partition: dict[str, str] | None = None,
    target_file_mb: int = 128,
) -> int:
    """Compact a parquet table (or one partition of it) to
    ~``target_file_mb`` files — the small-files maintenance pass every
    steady append sink needs: a 12-hourly insert_if_absent writes a
    file per non-empty batch, and after months a scan pays per-file
    open cost thousands of times over. Returns the new file count.

    Scoped like merge_upsert: with ``partition`` (e.g. {"dt":
    "2015-06-01"}) only that directory is read and rewritten —
    compaction never touches live partitions being appended to.
    Rewrite goes through a uniquely-named staging dir + rename swap
    (same non-transactional window as merge_upsert, documented
    there; Delta/Iceberg `OPTIMIZE` is the transactional form).
    """
    import math
    import os
    import shutil
    import uuid

    sub = "".join(f"/{k}={v}" for k, v in (partition or {}).items())
    target_dir = f"{path}{sub}"
    # refuse to flatten a partitioned layout: compacting the root of a
    # table whose children are k=v dirs would rewrite partition dirs
    # as flat files and wreck partition discovery for later appends
    has_part_dirs = any(
        "=" in d and os.path.isdir(os.path.join(target_dir, d))
        for d in os.listdir(target_dir)
    )
    if has_part_dirs:
        raise ValueError(
            f"{target_dir} contains partition directories — compact each "
            "leaf partition (pass `partition=`), not the table root."
        )
    size_b = sum(
        os.path.getsize(os.path.join(r, f))
        for r, _, files in os.walk(target_dir)
        for f in files
        if f.endswith(".parquet")
    )
    n_files = max(1, math.ceil(size_b / (target_file_mb * (1 << 20))))
    df = spark.read.parquet(target_dir).coalesce(n_files)
    token = uuid.uuid4().hex
    tmp = f"{path}__compact_{token}"
    df.write.mode("overwrite").parquet(tmp)
    old = f"{path}__precompact_{token}"
    os.rename(target_dir, old)
    os.rename(tmp, target_dir)
    shutil.rmtree(old, ignore_errors=True)
    return sum(
        1
        for r, _, files in os.walk(target_dir)
        for f in files
        if f.endswith(".parquet")
    )


def export_jsonl(
    df: DataFrame,
    path: str,
    n_shards: int | None = None,
    compression: str | None = "gzip",
    mode: str = "overwrite",
) -> None:
    """Export a corpus as JSON-Lines shards — the interchange format
    training stacks consume. One file per task: pass ``n_shards`` to
    fix the shard count (round-robin repartition for even shard
    sizes), or leave None to keep the upstream partitioning (no extra
    shuffle — right when the input is already well-partitioned).
    Gzip by default: JSONL text compresses 5-10× and every consumer
    streams .jsonl.gz."""
    out = df.repartition(n_shards) if n_shards else df
    w = out.write.mode(mode)
    if compression:
        w = w.option("compression", compression)
    w.json(path)
