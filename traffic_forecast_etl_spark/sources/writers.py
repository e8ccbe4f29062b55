"""Table layout writers (SCALE.md 'Layout' row): partition
compaction, range and z-order clustering for footer-stats data
skipping, and the JSONL export.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def compact_partition(
    spark: SparkSession,
    path: str,
    partition: dict[str, str] | None = None,
    target_file_mb: int = 128,
) -> int:
    """Compact a parquet table (or one partition of it) to
    ~``target_file_mb`` files — the small-files maintenance pass every
    steady append sink needs: a 12-hourly insert_if_absent writes a
    few files per batch, and after months a scan pays per-file open
    cost thousands of times over. Returns the new file count.

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


def write_range_clustered(
    df: DataFrame,
    path: str,
    cluster_cols: Sequence[str],
    n_files: int = 8,
    mode: str = "overwrite",
) -> None:
    """Range-clustered parquet layout (the single-column analogue of
    ZORDER/liquid clustering): rows are range-partitioned on
    ``cluster_cols`` and sorted within each task, so each output file
    holds a disjoint key range. Parquet footers then carry tight
    min/max stats per file/row-group, and any engine's data skipping
    (Spark, DuckDB, Trino) prunes files before IO on range predicates
    — the query-side complement of directory partitioning, for
    columns too high-cardinality to partition by.

    Cost: one range exchange (sampled boundaries) + in-task sort per
    write — paid once at layout time, amortized over every later scan.
    """
    cols = [F.col(c) for c in cluster_cols]
    (
        df.repartitionByRange(n_files, *cols)
        .sortWithinPartitions(*cols)
        .write.mode(mode)
        .parquet(path)
    )


def zorder_column(
    df: DataFrame,
    cluster_cols: Sequence[str],
    bits: int = 8,
    strategy: str = "quantile",
) -> "F.Column":
    """Morton (Z-order) key over 2+ numeric columns: each column is
    bucketed to ``bits`` bits, buckets are bit-INTERLEAVED, so sorting
    by the result keeps rows close in EVERY dimension at once — the
    multi-column generalization of range clustering (single-column
    locality is exactly what ``write_range_clustered`` gives; a second
    predicate column there gets zero skipping).

    ``strategy='quantile'`` (default) buckets by approx quantile
    boundaries — one distributed pass per write, boundaries become a
    2^bits-long literal array folded per-row with ``F.aggregate``
    (native, codegen'd) — so skewed columns still spread across all
    buckets (the reason production z-ordering ranks rather than
    scales). ``'linear'`` is the classic equal-width form: cheaper
    (one 1-row min/max agg), right for ~uniform columns, degrades on
    heavy skew (most rows share few buckets → interleave loses its
    selectivity on that dim). NULLs sort to bucket 0.

    ``bits`` trades bucket resolution against z-key width:
    ``len(cols) * bits`` must fit a long (≤ 63). 8 bits = 256 buckets
    per dim — far more than any realistic per-write file count, so
    file-level pruning loses nothing.
    """
    k = len(cluster_cols)
    if k < 2:
        raise ValueError("z-order needs ≥2 columns; use write_range_clustered")
    if k * bits > 63:
        raise ValueError(f"{k} cols × {bits} bits exceeds a 63-bit z-key")
    if strategy not in ("quantile", "linear"):
        raise ValueError(f"strategy must be quantile|linear: {strategy}")
    levels = 1 << bits
    buckets = []
    if strategy == "quantile":
        probs = [j / levels for j in range(1, levels)]
        # ONE distributed pass for every column's boundary list
        all_qs = df.stat.approxQuantile(list(cluster_cols), probs, 1.0 / (4 * levels))
        for c, qs in zip(cluster_cols, all_qs):
            col = F.col(c).cast("double")
            # bucket = #boundaries <= value: a fold over the literal
            # boundary array — native exprs, no UDF, no extra shuffle
            bucket = F.aggregate(
                F.lit(qs),
                F.lit(0),
                lambda acc, b: acc + F.when(col >= b, 1).otherwise(0),
            )
            buckets.append(F.coalesce(bucket, F.lit(0)).cast("long"))
    else:
        bounds = df.agg(
            *[F.min(F.col(c).cast("double")).alias(f"mn_{i}") for i, c in enumerate(cluster_cols)],
            *[F.max(F.col(c).cast("double")).alias(f"mx_{i}") for i, c in enumerate(cluster_cols)],
        ).first()
        for i, c in enumerate(cluster_cols):
            mn, mx = bounds[f"mn_{i}"], bounds[f"mx_{i}"]
            span = (mx - mn) if (mn is not None and mx is not None and mx > mn) else 1.0
            col = F.col(c).cast("double")
            bucket = F.least(
                F.lit(levels - 1),
                F.floor((col - F.lit(mn if mn is not None else 0.0)) / F.lit(span) * levels),
            )
            buckets.append(F.coalesce(bucket, F.lit(0)).cast("long"))
    z = F.lit(0).cast("long")
    for b in range(bits):
        for i, bucket in enumerate(buckets):
            bit = F.shiftright(bucket, b).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, b * k + i))
    return z


def write_zorder(
    df: DataFrame,
    path: str,
    cluster_cols: Sequence[str],
    n_files: int = 8,
    bits: int = 8,
    mode: str = "overwrite",
    strategy: str = "quantile",
) -> None:
    """Z-order-clustered parquet layout (Delta's OPTIMIZE ZORDER
    concept on plain parquet): range-partition + in-task sort on the
    interleaved Morton key, so EVERY cluster column's footer min/max
    is tight per file and data skipping prunes on predicates over ANY
    of them — the layout for tables queried along two+ independent
    high-cardinality axes (e.g. time AND entity id), where
    single-column range clustering leaves the second axis a full scan.

    Cost profile matches write_range_clustered: one stats pass + one
    range exchange + in-task sort, paid at layout time. The z key is
    dropped before write — the layout is invisible to readers except
    through the stats."""
    z = zorder_column(df, cluster_cols, bits=bits, strategy=strategy)
    (
        df.withColumn("__zorder", z)
        .repartitionByRange(n_files, F.col("__zorder"))
        .sortWithinPartitions("__zorder")
        .drop("__zorder")
        .write.mode(mode)
        .parquet(path)
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
