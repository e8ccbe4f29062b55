"""Catalog DDL surface (SURVEY §2.1 S10).

The reference declares its star schema with Postgres DDL at task-1 of
the DAG (``dags/utils.py:91-136``): ``CREATE TABLE IF NOT EXISTS
Weather (id SERIAL PRIMARY KEY, DateTime TIMESTAMPTZ, WindSpeed
INTEGER, Temperature INTEGER, Precipitation BOOLEAN)`` and ``Traffic
(id SERIAL PRIMARY KEY, date_id BIGINT UNIQUE REFERENCES
public.weather, Intensity INTEGER)``. This module is the Spark SQL
twin: idempotent ``CREATE TABLE IF NOT EXISTS`` against the session
catalog, parquet-backed (Delta/Iceberg jars are absent in this
environment; with them, only ``USING`` changes).

Type mapping (SURVEY §1.2):
  - ``SERIAL PRIMARY KEY`` → BIGINT. Spark has no auto-increment or
    enforced PK; writers assign ids (row_number / monotonically
    increasing) and ``sinks.insert_if_absent`` enforces key
    uniqueness set-wise — the ON CONFLICT contract.
  - ``TIMESTAMPTZ`` → TIMESTAMP with the session pinned to UTC
    (session.py), which is exactly Postgres' timestamptz storage
    semantics (normalize to UTC, render in session zone).
  - ``UNIQUE REFERENCES`` (FK) → not enforced by Spark; resolved at
    write time by the FK-resolving join in plans/forecast.py (J2).

Constraints that Postgres enforces at row-insert time become
engine-level write contracts here — the standard trade when moving a
transactional star schema onto an analytical lakehouse."""

from __future__ import annotations

from pyspark.sql import SparkSession

WEATHER_TABLE = "weather"
TRAFFIC_TABLE = "traffic"

# (column, spark type) in reference declaration order — the contract
# tests and writers share.
WEATHER_SCHEMA: list[tuple[str, str]] = [
    ("id", "BIGINT"),           # SERIAL PRIMARY KEY
    ("datetime", "TIMESTAMP"),  # TIMESTAMPTZ (session pinned UTC)
    ("windspeed", "INT"),
    ("temperature", "INT"),
    ("precipitation", "BOOLEAN"),
]
TRAFFIC_SCHEMA: list[tuple[str, str]] = [
    ("id", "BIGINT"),           # SERIAL PRIMARY KEY
    ("date_id", "BIGINT"),      # UNIQUE REFERENCES weather — via sinks/joins
    ("intensity", "INT"),
]


def _create_sql(
    table: str, schema: list[tuple[str, str]], location: str | None
) -> str:
    cols = ", ".join(f"{c} {t}" for c, t in schema)
    loc = f" LOCATION '{location}'" if location else ""
    return f"CREATE TABLE IF NOT EXISTS {table} ({cols}) USING PARQUET{loc}"


def create_tables(
    spark: SparkSession,
    database: str | None = None,
    weather_location: str | None = None,
    traffic_location: str | None = None,
) -> list[str]:
    """Create the weather/traffic star schema in the session catalog —
    the reference's ``create_db`` task. Idempotent: IF NOT EXISTS on
    both the optional database and the tables, so rerunning the DAG's
    task 1 (its 12-hourly schedule retries included) is a no-op.
    Returns the qualified table names."""
    prefix = ""
    if database:
        spark.sql(f"CREATE DATABASE IF NOT EXISTS {database}")
        prefix = f"{database}."
    names = []
    for table, schema, location in (
        (WEATHER_TABLE, WEATHER_SCHEMA, weather_location),
        (TRAFFIC_TABLE, TRAFFIC_SCHEMA, traffic_location),
    ):
        qualified = f"{prefix}{table}"
        spark.sql(_create_sql(qualified, schema, location))
        names.append(qualified)
    return names


def drop_tables(spark: SparkSession, database: str | None = None) -> None:
    """Inverse of create_tables (test/teardown helper)."""
    prefix = f"{database}." if database else ""
    for table in (TRAFFIC_TABLE, WEATHER_TABLE):
        spark.sql(f"DROP TABLE IF EXISTS {prefix}{table}")
