"""Projection / filter / rename / replace / cast operators
(SURVEY §2.2 P1-P7, §2.5 O1-O3).

Thin, composable wrappers over the DataFrame API. They exist to give
each reference operator a named, documented, individually-tested home
— the implementations deliberately stay one-liner-thin so Catalyst
sees plain relational algebra (projection pushdown, filter pushdown,
and column pruning all survive).
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence
from typing import Any

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def project(df: DataFrame, cols: Sequence[str | Column]) -> DataFrame:
    """P1: column projection (reference: notebook cell 3 ≈L47)."""
    return df.select(*cols)


def rename(df: DataFrame, mapping: Mapping[str, str]) -> DataFrame:
    """P2: bulk column rename (reference: notebook cell 2 ≈L33)."""
    return df.withColumnsRenamed(dict(mapping))


def filter_eq(df: DataFrame, col: str, value: Any) -> DataFrame:
    """P3: equality filter on a literal (reference:
    data/extract_from_raw_data.py:21). Pushed into the scan by
    Catalyst when the source supports it."""
    return df.filter(F.col(col) == F.lit(value))


def replace_value(df: DataFrame, col: str, old: Any, new: Any) -> DataFrame:
    """P4: sentinel value replacement (reference: notebook cell 2 ≈L33
    — RH.replace(-1, 0), Hour.replace(24, 0))."""
    c = F.col(col)
    return df.withColumn(col, F.when(c == F.lit(old), F.lit(new)).otherwise(c))


def with_constant(df: DataFrame, col: str, value: Any) -> DataFrame:
    """P5: constant/literal column (reference:
    data/extract_from_raw_data.py:44-45)."""
    return df.withColumn(col, F.lit(value))


def first_row(df: DataFrame, order_by: Sequence[str | Column]) -> DataFrame:
    """P6: first-row extraction. The reference takes positional row 0
    of whatever order pandas happened to have
    (data/extract_from_raw_data.py:33) — order-dependent; distributed
    semantics require an explicit ordering, so we demand one."""
    return df.orderBy(*order_by).limit(1)


def temporal_split(
    df: DataFrame, order_by: Sequence[str | Column], n_train: int
) -> tuple[DataFrame, DataFrame]:
    """O2: deterministic temporal holdout — first ``n_train`` rows in
    time order (reference: iloc[:7000] on the sorted frame, notebook
    cell 13 ≈L201). NOT randomSplit: the reference split is temporal.

    Implemented with row_number over a global ordering. The empty
    partitionBy makes this a single-reducer window — correct, and fine
    for ML-table scale; for 100 TB use a date-cutoff filter instead.
    """
    w = Window.orderBy(*order_by)
    ranked = df.withColumn("__rn", F.row_number().over(w))
    train = ranked.filter(F.col("__rn") <= n_train).drop("__rn")
    test = ranked.filter(F.col("__rn") > n_train).drop("__rn")
    return train, test


def union_all(*dfs: DataFrame) -> DataFrame:
    """O3: union by name (reference: pandas append loop,
    data/extract_from_raw_data.py:24,41). In Spark a multi-file append
    usually disappears into the glob scan (S3); this is for
    heterogeneous branches."""
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d, allowMissingColumns=False)
    return out


def top_k(df: DataFrame, order_by: Sequence[Column | str], k: int) -> DataFrame:
    """Top-k: orderBy + limit. Spark plans this as TakeOrderedAndProject
    — per-partition partial top-k then a k-row merge on the driver; no
    global sort materialization even at 100 TB."""
    return df.orderBy(*order_by).limit(k)


def table_diff(
    left: DataFrame,
    right: DataFrame,
    keys: Sequence[str],
    compare_cols: Sequence[str] | None = None,
) -> DataFrame:
    """Keyed diff of two table versions — the validation primitive for
    migrations, replays, and incremental-pipeline checks: which keys
    were ADDED (right only), REMOVED (left only), or CHANGED (present
    in both, non-key payload differs). Unchanged keys are dropped.

    Scale shape: each side collapses to (key, xxhash64(payload))
    BEFORE the comparison join — the full-outer join moves 8-byte
    fingerprints, never payload, so diffing two 100 TB table versions
    shuffles O(rows x 8B). Hash collisions (~n^2 x 2^-64) would
    misreport a changed row as unchanged — the standard fingerprint
    tradeoff, same as d1/d8.

    NULL-safe: payload hashing feeds column VALUES AND a null bitmap
    (NULL vs 'null-as-string' collide otherwise); keys join with <=>
    via the fingerprint equality.
    """
    keys = list(keys)
    cmp_cols = list(compare_cols) if compare_cols is not None else [
        c for c in left.columns if c not in keys
    ]
    missing = [c for c in cmp_cols if c not in right.columns]
    if missing:
        raise ValueError(f"compare_cols absent from right side: {missing}")

    def fp(df: DataFrame, side: str) -> DataFrame:
        payload = F.xxhash64(
            *[F.col(c).cast("string") for c in cmp_cols],
            *[F.col(c).isNull().cast("int") for c in cmp_cols],
        )
        return df.select(*keys, payload.alias(f"__h_{side}"))

    # keys join with <=> (eqNullSafe) so a NULL-keyed row present on
    # both sides matches instead of reporting as added+removed; still
    # plannable as a hash join (EqualNullSafe is a valid equi-key).
    lf = fp(left, "l")
    rf = fp(right, "r").select(
        *[F.col(k).alias(f"__rk_{k}") for k in keys], "__h_r"
    )
    cond = None
    for k in keys:
        c = lf[k].eqNullSafe(F.col(f"__rk_{k}"))
        cond = c if cond is None else (cond & c)
    joined = lf.join(rf, on=cond, how="full_outer")
    status = (
        F.when(F.col("__h_l").isNull(), F.lit("added"))
        .when(F.col("__h_r").isNull(), F.lit("removed"))
        .when(F.col("__h_l") != F.col("__h_r"), F.lit("changed"))
    )
    return (
        joined.withColumn("diff_status", status)
        .filter(F.col("diff_status").isNotNull())
        .select(
            *[F.coalesce(lf[k], F.col(f"__rk_{k}")).alias(k) for k in keys],
            "diff_status",
        )
    )
