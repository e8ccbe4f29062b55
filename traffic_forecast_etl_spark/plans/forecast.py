"""E2 — the operational forecast plane (SURVEY §3 E2,
dags/DAG.py + dags/utils.py), one Spark job instead of three Airflow
tasks.

The reference: create tables → fetch AccuWeather JSON → per-row
INSERT into Weather → re-fetch (!) → pickle-load model → per-row
INSERT into Traffic with a correlated scalar-subquery FK lookup.

Engine shape: the payload is ingested ONCE (S4-S5) → cleaned/
unit-normalized forecast frame, checkpointed by one pass that also
observes the datetime range both inserts prune with → branch 1:
idempotent insert into the weather sink; branch 2: model inference
→ FK as the weather key expression ``xxhash64(datetime)`` (J2 needs
no join here, see run_forecast_plane) → idempotent insert into the
traffic sink. Writes are set-based; re-running the whole plane is a
no-op on both sinks (the ON CONFLICT contract, tested in
tests/test_forecast.py).
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import TimestampType

from ..functions.dates import calendar_features
from ..functions.holidays_nl import is_nl_holiday
from ..functions.units import fahrenheit_to_celsius, rescale_intensity
from ..sinks import _observed_checkpoint, insert_if_absent
from ..sources.json_payload import read_json_payload


def normalize_forecast(payload_df: DataFrame) -> DataFrame:
    """Unit normalization (F5, F6): ISO timestamp parse; temperature
    F→C (truncating) only where Unit == 'F' (dags/utils.py:185-189);
    wind and precipitation passed through typed. An unparsable
    timestamp reads as NULL and is rejected with the missing ones; a
    number outside the INT range reads as NULL like a missing field."""
    out = payload_df.select(
        F.try_to_timestamp("datetime_raw").alias("datetime"),
        fahrenheit_to_celsius("temperature_value", "temperature_unit").alias("temperature"),
        F.col("wind_speed").try_cast("int").alias("wind_speed"),
        F.col("has_precipitation").cast("boolean").alias("precipitation"),
    )
    # a null datetime can never key an idempotent insert (NULL never
    # equi-joins, so re-runs would re-append it forever) — reject here
    return out.filter(F.col("datetime").isNotNull())


def forecast_features(forecast: DataFrame) -> DataFrame:
    """The 8-feature frame the model expects, from a forecast frame —
    mirrors training-side feature engineering exactly (train/serve
    skew is the reference's documented risk, SURVEY §2.11)."""
    date = F.col("datetime").cast("date")
    cal = calendar_features(date)
    out = forecast.select(
        "datetime",
        cal["Month"].alias("Month"),
        cal["Day"].alias("Day"),
        F.hour("datetime").alias("Hour"),
        cal["DayofWeek"].alias("DayofWeek"),
        is_nl_holiday(date).cast("double").alias("isHoliday"),
        F.col("wind_speed").cast("double").alias("Wind Speed"),
        F.col("temperature").cast("double").alias("Temperature"),
        F.col("precipitation").cast("double").alias("Precipitation"),
    )
    # malformed payload elements (missing nested fields → nulls) must
    # not crash the plane: the assembler can't vectorize nulls, so
    # drop incomplete rows here — they also never reach the sinks.
    return out.na.drop()


def run_forecast_plane(
    spark: SparkSession,
    payload: str | list[dict[str, Any]],
    model,  # PipelineModel
    weather_path: str,
    traffic_path: str,
) -> tuple[int, int]:
    """One micro-batch of the operational plane. Returns rows appended
    to (weather, traffic) — 0s on a re-run with the same payload."""
    # traffic rows are a subset of the forecast rows, so one range
    # covers both batches; fromInternal is what .first() returns
    forecast, m = _observed_checkpoint(
        normalize_forecast(read_json_payload(spark, payload)), "plans.forecast.range",
        F.min(F.unix_micros("datetime")), F.max(F.unix_micros("datetime")), F.count(F.lit(1)),
    )
    ts = TimestampType().fromInternal
    rng = (ts(m.get(0)), ts(m.get(1)), m.getLong(2))

    n_weather = insert_if_absent(
        spark,
        forecast.select(
            F.col("datetime"),
            F.col("wind_speed").alias("windspeed"),
            "temperature",
            "precipitation",
        ),
        weather_path,
        keys=["datetime"],
        batch_range=rng,
    )

    pred = model.transform(forecast_features(forecast))
    # J2: the FK is the weather key expression, no lookup. A weather
    # row's id is xxhash64(datetime) (the sink stores no id column),
    # and the insert-if-absent above leaves every forecast datetime in
    # the weather sink, appended now or already there. Traffic rows
    # are a subset of the forecast rows, so each date_id names an
    # existing weather row — the row the reference's per-row scalar
    # subquery (dags/utils.py:269-273) would have found.
    traffic = pred.select(
        F.xxhash64("datetime").alias("date_id"),
        F.col("datetime"),
        # round before the int cast: the reference inserts the scaled
        # prediction as a numeric literal into a Postgres INTEGER
        # column (utils.py:273), which ROUNDS — a bare Spark int cast
        # truncates and would sit one below the reference for any
        # fractional part >= .5
        F.round(rescale_intensity("prediction")).cast("int").alias("intensity"),
    )
    # range_key=datetime: a min/max range on the hash key prunes
    # nothing; datetime is sound as the pruning column because
    # date_id = xxhash64(datetime) is a function of it
    n_traffic = insert_if_absent(
        spark, traffic, traffic_path, keys=["date_id"], range_key="datetime", batch_range=rng
    )
    return n_weather, n_traffic
