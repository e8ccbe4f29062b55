"""E1 — the training-table pipeline (SURVEY §3 E1, notebook cells
1→8), re-expressed as one lazy Spark plan.

Reads the KNMI hourly weather CSV + the traffic-counts CSV, applies
the reference's cleaning semantics (documented quirks included),
inner-joins on (Date, Hour), derives the calendar/holiday/weather
features, and min-max-normalizes the target. Golden contract on the
reference's own 2015 data: 8,596 rows × 9 columns (notebook cell 8).

Every step is a native Column expression — the reference's row-wise
`.apply` lambdas (cell 2 ≈L33, cell 6 ≈L74) become whole-stage
codegen; the only shuffles are the join and (if requested) the
temporal sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.dates import calendar_features, date_from_yyyymmdd, fold_hour_24
from ..functions.holidays_nl import is_nl_holiday
from ..functions.units import decicelsius_to_celsius, minmax_normalize_expr
from ..ml import FEATURE_COLS
from ..operators.joins import join_on_keys
from ..sources.csv import read_csv_auto

WEATHER_SCHEMA = T.StructType(
    [
        T.StructField("# STN", T.IntegerType()),
        T.StructField("YYYYMMDD", T.IntegerType()),
        T.StructField("H", T.IntegerType()),
        T.StructField("FH", T.IntegerType()),
        T.StructField("T", T.IntegerType()),
        T.StructField("RH", T.IntegerType()),
        T.StructField("R", T.IntegerType()),
    ]
)

TRAFFIC_SCHEMA = T.StructType(
    [
        T.StructField("idx", T.IntegerType()),  # unnamed pandas index column
        T.StructField("Date", T.StringType()),
        T.StructField("Hour", T.IntegerType()),
        T.StructField("Count", T.DoubleType()),
        T.StructField("longitude", T.DoubleType()),
        T.StructField("latitude", T.DoubleType()),
    ]
)


def clean_weather(raw: DataFrame, *, strict_midnight: bool = False) -> DataFrame:
    """Notebook cell 2 (≈L33) semantics:
      - Date from YYYYMMDD int (F1),
      - hour 24 → 0 SAME day (the documented misassignment quirk,
        SURVEY §2.11 — load-bearing for the 8,596-row join; pass
        strict_midnight=True for the corrected roll-over),
      - T decicelsius → truncated °C (F7),
      - RH −1 sentinel → 0 (P4),
      - renames (P2), projection (P1).
    """
    df = raw.withColumn("Date", date_from_yyyymmdd("YYYYMMDD"))
    if strict_midnight:
        df = df.withColumn(
            "Date", F.when(F.col("H") == 24, F.date_add("Date", 1)).otherwise(F.col("Date"))
        )
    df = df.withColumn("Hour", fold_hour_24("H"))
    df = (
        df.withColumn("Temperature", decicelsius_to_celsius("T"))
        .withColumn(
            "PrecipitationProbability",
            F.when(F.col("RH") == -1, 0).otherwise(F.col("RH")),
        )
        .withColumn("Wind Speed", F.col("FH"))
        .withColumn("Precipitation", F.col("R"))
    )
    return df.select(
        "Date", "Hour", "Wind Speed", "Temperature", "Precipitation"
    )


def clean_traffic(raw: DataFrame) -> DataFrame:
    """Notebook cell 4 (≈L56): parse Date, keep (Date, Hour, Count)."""
    return raw.select(
        F.to_date("Date", "yyyy-MM-dd").alias("Date"), "Hour", "Count"
    )


def build_training_table(
    spark: SparkSession,
    weather_csv: str,
    traffic_csv: str,
    *,
    normalize: bool = True,
) -> DataFrame:
    """The full E1 plan: clean → inner join (Date, Hour) → calendar +
    holiday features → min-max-normalized target. Output columns and
    dtypes match the reference's `full_data` (notebook cell 8):
    Month/Day/Hour/DayofWeek int, isHoliday/Precipitation boolean,
    Wind Speed/Temperature int, Count double in [0,1].
    """
    weather = clean_weather(
        read_csv_auto(spark, weather_csv, schema=WEATHER_SCHEMA).drop("_corrupt_record")
    )
    traffic = clean_traffic(
        read_csv_auto(spark, traffic_csv, schema=TRAFFIC_SCHEMA).drop("_corrupt_record")
    )
    joined = join_on_keys(weather, traffic, ["Date", "Hour"], "inner")

    cal = calendar_features("Date")
    joined = (
        joined.withColumn("Month", cal["Month"])
        .withColumn("Day", cal["Day"])
        .withColumn("DayofWeek", cal["DayofWeek"])
        .withColumn("isHoliday", is_nl_holiday("Date"))
        .withColumn("Precipitation", F.col("Precipitation").cast("boolean"))
    )
    if normalize:
        joined = minmax_normalize_expr(joined, "Count", "Count_norm").drop("Count")
        joined = joined.withColumnRenamed("Count_norm", "Count")
    return joined.select(*FEATURE_COLS, "Count")
