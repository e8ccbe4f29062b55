"""Unit conversions and scaling (SURVEY §2.6 F6-F9).

Truncation semantics matter: the reference uses ``int(...)`` /
``astype(int)`` which truncate toward zero (reference:
dags/utils.py:139-140, notebook cell 2 ≈L33). Spark's cast-to-int
also truncates toward zero, so these are pure native expressions —
but any DuckDB oracle must write CAST(trunc(x) AS INT), because
DuckDB's cast ROUNDS.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def fahrenheit_to_celsius(value: Column | str, unit: Column | str | None = None) -> Column:
    """F6: int((f-32)*5/9) applied only where unit == 'F'
    (reference: dags/utils.py:185-189). A value outside the INT range
    reads as NULL instead of failing the query under ANSI."""
    v = F.col(value) if isinstance(value, str) else value
    conv = ((v - F.lit(32)) * F.lit(5) / F.lit(9)).try_cast("int")
    if unit is None:
        return conv
    u = F.col(unit) if isinstance(unit, str) else unit
    return F.when(u == "F", conv).otherwise(v.try_cast("int"))


def decicelsius_to_celsius(col: Column | str) -> Column:
    """F7: KNMI temperature is 0.1 °C units; (T*0.1) truncated
    (reference: notebook cell 2 ≈L33). Negative values truncate toward
    zero in both pandas and Spark — parity holds."""
    c = F.col(col) if isinstance(col, str) else col
    return (c * F.lit(0.1)).cast("int")


def minmax_normalize_expr(df: DataFrame, col: str, out: str) -> DataFrame:
    """F8/A2: global min-max normalization to [0,1].

    Implemented as a 1-row aggregate broadcast back onto the stream:
    partial min/max per partition → single 1-row exchange → broadcast
    nested-loop join (1 row × n, a pure pass-through). No driver
    round-trip, and — unlike the empty-frame window form this
    replaced — no `Exchange SinglePartition` of the full dataset:
    an unpartitioned Window funnels EVERY row through one task
    (Spark even warns), which is a 100 TB non-starter; the aggregate
    form shuffles exactly one row.
    """
    stats = df.agg(F.min(col).alias("__mn"), F.max(col).alias("__mx"))
    return (
        df.join(F.broadcast(stats))
        .withColumn(
            out, (F.col(col) - F.col("__mn")) / (F.col("__mx") - F.col("__mn"))
        )
        .drop("__mn", "__mx")
    )


def rescale_intensity(col: Column | str, factor: float = 10.0) -> Column:
    """F9: prediction → 1-10 intensity level (reference:
    dags/utils.py:273)."""
    c = F.col(col) if isinstance(col, str) else col
    return c * F.lit(factor)
