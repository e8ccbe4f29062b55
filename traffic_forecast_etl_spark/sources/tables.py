"""Parquet table catalog for the driver-provided star schema.

One distributed columnar scan per table (`spark.read.parquet`);
Catalyst pushes filters and prunes columns into the scan, so callers
never pre-materialize. At 100 TB these tables would be
date-partitioned (`.../o_orderdate=.../`) and the same loader picks
up partition pruning for free — the API takes a directory, not a
file, on purpose.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _nanos_to_timestamp(df: DataFrame, col: str) -> DataFrame:
    """The events table stores INT64 TIMESTAMP(NANOS); with
    spark.sql.legacy.parquet.nanosAsLong=true it surfaces as a long of
    epoch-nanos. All values are exact microseconds (verified: no
    sub-microsecond residue), so integer-dividing by 1e3 into
    timestamp_micros loses nothing."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    if isinstance(df.schema[col].dataType, T.LongType):
        # integer `div`, NOT floor(col / 1000): `/` is double division
        # and epoch-nanos (~1.7e18) exceed double's 2^53 exact-integer
        # range — floor(double) is off by ±1 µs on some values
        return df.withColumn(col, F.expr(f"timestamp_micros({col} div 1000)"))
    return df


def _ensure_session_policy(spark: SparkSession) -> None:
    """The engine may be handed an externally-built SparkSession (the
    driver contract does exactly that). Its two load-bearing, runtime-
    settable confs are pinned here defensively: nanos-parquet reads
    and deterministic UTC timestamp semantics (oracle parity)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def _ntz_to_utc_timestamp(df: DataFrame) -> DataFrame:
    """Parquet written by pandas/pyarrow carries timestamp[us] with
    isAdjustedToUTC=false, which Spark 4 surfaces as TIMESTAMP_NTZ
    (spark.sql.parquet.inferTimestampNTZ.enabled default). The
    correctness oracle (DuckDB) reads the same bytes as a naive-UTC
    TIMESTAMP, and the engine's temporal operators (unix_micros,
    watermarks, INTERVAL arithmetic) want the instant type — so every
    NTZ column is cast to TimestampType here, once, at the scan. The
    session timezone is pinned to UTC (_ensure_session_policy), which
    makes the cast a pure re-tag: identical micros, identical
    stringified values on both engines."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    ntz_cols = [
        f.name for f in df.schema.fields if isinstance(f.dataType, T.TimestampNTZType)
    ]
    if not ntz_cols:
        return df
    return df.withColumns({c: F.col(c).cast("timestamp") for c in ntz_cols})


def load_table(spark: SparkSession, name: str, sf_dir: str = DEFAULT_SF_DIR) -> DataFrame:
    _ensure_session_policy(spark)
    path = os.path.join(sf_dir, f"{name}.parquet")
    df = spark.read.parquet(path)
    if name == "events" and "ts" in df.columns:
        df = _nanos_to_timestamp(df, "ts")
    return _ntz_to_utc_timestamp(df)


def register_views(
    spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR, names: tuple[str, ...] = TABLE_NAMES
) -> None:
    """Register each table as a temp view for the SQL API."""
    for n in names:
        load_table(spark, n, sf_dir).createOrReplaceTempView(n)
