"""REST/JSON payload ingestion (SURVEY §2.1 S4-S5).

The reference fetches an AccuWeather 12-hour hourly forecast and
walks the JSON list element-by-element in Python
(reference: dags/utils.py:174-194). Spark-first: the (tiny) payload
is fetched once on the driver, planned as a string literal over a
one-row, one-partition range, and flattened with ``from_json`` +
``explode`` under an explicit nested StructType — no Python worker
runs, the flattening runs JVM-side under codegen, and the same schema
works for a streaming source (Kafka value column) unchanged.
"""

from __future__ import annotations

import json
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def forecast_schema() -> T.ArrayType:
    """Nested schema of one hourly-forecast payload: an array of
    objects with nested Temperature/Wind structs
    (reference field access: dags/utils.py:180-194)."""
    element = T.StructType(
        [
            T.StructField("DateTime", T.StringType()),
            T.StructField(
                "Temperature",
                T.StructType(
                    [
                        T.StructField("Value", T.DoubleType()),
                        T.StructField("Unit", T.StringType()),
                    ]
                ),
            ),
            T.StructField(
                "Wind",
                T.StructType(
                    [
                        T.StructField(
                            "Speed",
                            T.StructType([T.StructField("Value", T.DoubleType())]),
                        )
                    ]
                ),
            ),
            T.StructField("HasPrecipitation", T.BooleanType()),
        ]
    )
    return T.ArrayType(element)


def read_json_payload(
    spark: SparkSession, payload: str | list[dict[str, Any]], schema: T.ArrayType | None = None
) -> DataFrame:
    """Turn one JSON array payload (string or parsed) into a flattened
    DataFrame: from_json → explode → one row per array element, nested
    fields promoted to top-level columns.
    """
    if not isinstance(payload, str):
        payload = json.dumps(payload)
    schema = schema or forecast_schema()
    return (
        spark.range(0, 1, 1, 1)
        .select(F.explode(F.from_json(F.lit(payload), schema)).alias("e"))
        .select(
            F.col("e.DateTime").alias("datetime_raw"),
            F.col("e.Temperature.Value").alias("temperature_value"),
            F.col("e.Temperature.Unit").alias("temperature_unit"),
            F.col("e.Wind.Speed.Value").alias("wind_speed"),
            F.col("e.HasPrecipitation").alias("has_precipitation"),
        )
    )


def first_matching_location(
    spark: SparkSession, payload: str | list[dict[str, Any]], name: str
) -> str | None:
    """Location-key lookup: first element whose EnglishName matches.

    The reference's loop has a misplaced ``break`` that only ever
    checks element 0 (reference: dags/utils.py:160-163, SURVEY §2.11);
    we implement the *intended* semantics — filter then first.
    """
    if isinstance(payload, str):
        payload = json.loads(payload)
    for el in payload:  # payloads are a handful of elements; driver-side is right
        if el.get("EnglishName") == name:
            return el.get("Key")
    return None
