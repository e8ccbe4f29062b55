"""Skew-safe operators and partitioned writers."""

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


def test_range_clustered_files_have_disjoint_ranges(spark, tmp_path):
    """The data-skipping contract: after write_range_clustered, each
    parquet file's [min, max] for the cluster column must not overlap
    any other file's — that is exactly what lets footer-stats pruning
    skip files on range predicates at scale."""
    import pyarrow.parquet as pq

    from traffic_forecast_etl_spark.sources.writers import write_range_clustered

    path = str(tmp_path / "clustered")
    df = spark.range(0, 10000).withColumnRenamed("id", "k").withColumn(
        "v", F.col("k") % 97
    )
    # shuffle the input so clustering has real work to do
    write_range_clustered(df.orderBy(F.col("v")), path, ["k"], n_files=6)

    ranges = []
    import glob as _glob
    for f in _glob.glob(f"{path}/*.parquet"):
        md = pq.ParquetFile(f).metadata
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            col = md.row_group(rg).column(0)
            assert col.path_in_schema == "k"
            mins.append(col.statistics.min)
            maxs.append(col.statistics.max)
        if mins:
            ranges.append((min(mins), max(maxs)))
    assert len(ranges) >= 2
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 < lo2, f"overlapping file ranges ({lo1},{hi1}) vs ({lo2},{hi2})"


def _file_col_ranges(path, colname):
    """Per-file [min, max] of a column from parquet footers."""
    import glob as _glob

    import pyarrow.parquet as pq

    out = []
    for f in sorted(_glob.glob(f"{path}/*.parquet")):
        md = pq.ParquetFile(f).metadata
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            row_group = md.row_group(rg)
            for ci in range(row_group.num_columns):
                col = row_group.column(ci)
                if col.path_in_schema == colname:
                    mins.append(col.statistics.min)
                    maxs.append(col.statistics.max)
    # noqa
        if mins:
            out.append((min(mins), max(maxs)))
    return out


def test_zorder_prunes_on_every_cluster_dim(spark, tmp_path):
    """The multi-dim data-skipping contract: after write_zorder on
    (x, y), a narrow range predicate on EITHER column admits only a
    fraction of the files by footer stats — whereas single-column
    range clustering on x leaves y's per-file ranges spanning
    everything (the gap z-ordering exists to close)."""
    from traffic_forecast_etl_spark.sources.writers import (
        write_range_clustered,
        write_zorder,
    )

    # independent 100x100 grid, shuffled input
    df = (
        spark.range(0, 10000)
        .withColumn("x", F.col("id") % 100)
        .withColumn("y", F.col("id") / 100)
        .withColumn("y", F.floor("y"))
        .orderBy(F.xxhash64("id"))
        .drop("id")
    )
    zpath, rpath = str(tmp_path / "z"), str(tmp_path / "r")
    write_zorder(df, zpath, ["x", "y"], n_files=16)
    write_range_clustered(df, rpath, ["x"], n_files=16)

    def admitting(ranges, lo, hi):
        return sum(1 for mn, mx in ranges if not (mx < lo or mn > hi))

    zx, zy = _file_col_ranges(zpath, "x"), _file_col_ranges(zpath, "y")
    n = len(zx)
    assert n >= 8
    # a 6-wide predicate on either dim admits at most half the files
    assert admitting(zx, 40, 45) <= n // 2, zx
    assert admitting(zy, 40, 45) <= n // 2, zy
    # contrast: range clustering on x prunes x perfectly but admits
    # EVERY file for the same y predicate
    ry = _file_col_ranges(rpath, "y")
    assert admitting(ry, 40, 45) == len(ry)
    # layout is invisible to readers: same rows, no helper column
    got = spark.read.parquet(zpath)
    assert got.columns == ["x", "y"]
    assert got.count() == 10000
    assert got.groupBy().agg(F.sum("x"), F.sum("y")).first() == df.groupBy().agg(
        F.sum("x"), F.sum("y")
    ).first()


def test_zorder_linear_strategy_and_validation(spark, tmp_path):
    from traffic_forecast_etl_spark.sources.writers import write_zorder

    df = spark.range(0, 1000).select(
        (F.col("id") % 10).alias("x"), (F.col("id") % 7).alias("y")
    )
    path = str(tmp_path / "zl")
    write_zorder(df, path, ["x", "y"], n_files=4, strategy="linear")
    assert spark.read.parquet(path).count() == 1000
    import pytest as _pytest

    with _pytest.raises(ValueError):
        write_zorder(df, path, ["x"], n_files=4)
    with _pytest.raises(ValueError):
        write_zorder(df, path, ["x", "y"], bits=32)
    with _pytest.raises(ValueError):
        write_zorder(df, path, ["x", "y"], strategy="bogus")
