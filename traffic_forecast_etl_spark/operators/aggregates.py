"""Aggregation operators (SURVEY §2.4 A1-A3 + the general agg surface
the engine exposes: distinct aggs, cube/rollup, approx sketches).

Everything here is hash aggregation with automatic map-side partial
aggregation — the single most scale-critical property: at 100 TB the
shuffle carries one partial row per (partition × group), not the
data.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def group_avg(df: DataFrame, keys: Sequence[str], value: str, out: str | None = None) -> DataFrame:
    """A1: per-group mean on a composite key (reference:
    groupby(['Datum','Uur']).mean()[['Waarde']],
    data/extract_from_raw_data.py:21,32)."""
    return df.groupBy(*keys).agg(F.avg(value).alias(out or value))


def profile(df: DataFrame) -> DataFrame:
    """A3: row-count + per-column non-null profiling (the declarative
    form of pandas .info(), reference: notebook cell 8 ≈L121).
    One pass, one 1-row result."""
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in df.columns:
        aggs.append(F.count(F.col(c)).alias(f"nn_{c}"))
    return df.agg(*aggs)


def cube_counts(df: DataFrame, keys: Sequence[str], value: str) -> DataFrame:
    """CUBE over keys with count+sum — the grouping-sets surface
    (absent in the reference, required of a general engine;
    SURVEY §2.4 'absent' row)."""
    return df.cube(*keys).agg(
        F.count(F.lit(1)).alias("n"), F.sum(value).alias(f"sum_{value}")
    )


def distinct_agg(df: DataFrame, keys: Sequence[str], distinct_col: str) -> DataFrame:
    """Exact distinct-count per group (expand+two-phase agg under the
    hood). For 100 TB dashboards prefer ``approx_distinct``."""
    return df.groupBy(*keys).agg(F.countDistinct(distinct_col).alias(f"nd_{distinct_col}"))


def approx_distinct(df: DataFrame, keys: Sequence[str], distinct_col: str, rsd: float = 0.05) -> DataFrame:
    """HyperLogLog++ sketch distinct — constant memory per group,
    mergeable across partitions (the scale path)."""
    return df.groupBy(*keys).agg(
        F.approx_count_distinct(distinct_col, rsd).alias(f"apx_{distinct_col}")
    )


def profile_columns(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """Per-column data-quality profile — the audit pass run before a
    corpus/table is admitted to training: row count, null count,
    exact distinct count, and stringified min/max per column, one
    output row per column.

    Single scan: all per-column aggregates run in one agg (Spark
    plans the multi-distinct via Expand — k× row multiply, the
    standard cost of exact multi-column distinct; swap in
    approx_count_distinct for the 100 TB run, same plan minus the
    Expand), then the 1-row result unpivots via explode. min/max are
    computed in the column's native type and cast to string AFTER
    (lexicographic string min would be wrong for numerics)."""
    aggs = []
    for c in cols:
        aggs.extend(
            [
                F.count(F.lit(1)).alias(f"__n_{c}"),
                F.sum(F.when(F.col(c).isNull(), 1).otherwise(0))
                .cast("long")
                .alias(f"__nn_{c}"),
                F.countDistinct(c).alias(f"__nd_{c}"),
                F.min(c).cast("string").alias(f"__mn_{c}"),
                F.max(c).cast("string").alias(f"__mx_{c}"),
            ]
        )
    one = df.agg(*aggs)
    structs = F.array(
        *[
            F.struct(
                F.lit(c).alias("col_name"),
                F.col(f"__n_{c}").alias("n_rows"),
                F.col(f"__nn_{c}").alias("n_null"),
                F.col(f"__nd_{c}").alias("n_distinct"),
                F.col(f"__mn_{c}").alias("min_str"),
                F.col(f"__mx_{c}").alias("max_str"),
            )
            for c in cols
        ]
    )
    return one.select(F.explode(structs).alias("p")).select("p.*")
