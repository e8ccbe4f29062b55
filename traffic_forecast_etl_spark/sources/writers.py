"""Table layout writers (SCALE.md 'Layout' row): the JSONL export.
Compaction is :func:`..tablefmt.snapshot_compact` and z-order
clustering :func:`..tablefmt.snapshot_cluster`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


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
