"""The holiday flag both planes compute: ``is_nl_holiday`` against the
plain-Python calendar, and the training table flagging a year no
fixed holiday range covers."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from traffic_forecast_etl_spark.functions.holidays_nl import is_nl_holiday, nl_holidays
from traffic_forecast_etl_spark.plans.training import build_training_table


def test_is_nl_holiday_matches_python_calendar(spark):
    """Every day of 1900-2200 in one job: the column expression flags
    exactly the dates ``nl_holidays`` lists."""
    days = spark.range(1).select(
        F.explode(
            F.sequence(
                F.make_date(F.lit(1900), F.lit(1), F.lit(1)),
                F.make_date(F.lit(2200), F.lit(12), F.lit(31)),
                F.expr("INTERVAL 1 DAY"),
            )
        ).alias("d")
    )
    got = {r.d for r in days.filter(is_nl_holiday("d")).collect()}
    want = {d for y in range(1900, 2201) for d in nl_holidays(y)}
    assert got == want
    assert len(want) > 3000


def test_training_table_flags_holidays_of_any_year(spark, tmp_path):
    """2026-01-01 (Nieuwjaarsdag) is a holiday, 2026-01-02 is not."""
    weather = tmp_path / "knmi.csv"
    weather.write_text(
        "# STN,YYYYMMDD,H,FH,T,RH,R\n"
        "260,20260101,10,30,55,0,0\n"
        "260,20260102,10,40,61,2,1\n"
    )
    traffic = tmp_path / "traffic.csv"
    traffic.write_text(
        "idx,Date,Hour,Count,longitude,latitude\n"
        "0,2026-01-01,10,120.0,5.1,52.1\n"
        "1,2026-01-02,10,340.0,5.1,52.1\n"
    )
    rows = build_training_table(spark, str(weather), str(traffic)).collect()
    flags = {dt.date(2026, r.Month, r.Day): r.isHoliday for r in rows}
    assert flags == {dt.date(2026, 1, 1): True, dt.date(2026, 1, 2): False}
