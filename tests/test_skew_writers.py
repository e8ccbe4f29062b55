"""Skew-safe operators."""

from __future__ import annotations

from pyspark.sql import functions as F

from traffic_forecast_etl_spark.operators.skew import salted_aggregate, salted_join
from traffic_forecast_etl_spark.sources.tables import load_table


def test_salted_aggregate_matches_plain(spark, sf_dir):
    li = load_table(spark, "lineitem", sf_dir)
    plain = {
        r.l_returnflag: (round(r.s, 6), r.c, round(r.a, 6))
        for r in li.groupBy("l_returnflag")
        .agg(
            F.sum("l_quantity").alias("s"),
            F.count("l_quantity").alias("c"),
            F.avg("l_quantity").alias("a"),
        )
        .collect()
    }
    salted = {
        r.l_returnflag: (round(r.sum_l_quantity, 6), r.count_l_quantity, round(r.avg_l_quantity, 6))
        for r in salted_aggregate(
            li, ["l_returnflag"], {"l_quantity": "sum"}, n_salts=8
        )
        .join(
            salted_aggregate(li, ["l_returnflag"], {"l_quantity": "count"}, n_salts=8),
            "l_returnflag",
        )
        .join(
            salted_aggregate(li, ["l_returnflag"], {"l_quantity": "avg"}, n_salts=8),
            "l_returnflag",
        )
        .collect()
    }
    assert plain == salted


def test_salted_join_matches_plain(spark, sf_dir):
    li = load_table(spark, "lineitem", sf_dir).select("l_orderkey", "l_quantity")
    o = load_table(spark, "orders", sf_dir).select(
        F.col("o_orderkey").alias("l_orderkey"), "o_totalprice"
    )
    plain = li.join(o, "l_orderkey").agg(
        F.count(F.lit(1)).alias("n"), F.round(F.sum("o_totalprice"), 2).alias("s")
    ).collect()[0]
    salted = salted_join(li, o, ["l_orderkey"], n_salts=8).agg(
        F.count(F.lit(1)).alias("n"), F.round(F.sum("o_totalprice"), 2).alias("s")
    ).collect()[0]
    assert (plain.n, plain.s) == (salted.n, salted.s)
