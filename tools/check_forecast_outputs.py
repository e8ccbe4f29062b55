"""Print the forecast_cycle workload's outputs, to show that a change
to the training or forecast plane leaves them identical.

Usage: python tools/check_forecast_outputs.py ROOT SEED N

ROOT is the checkout whose engine (and ``perfbench.gen``) is imported,
so the same script can run against this tree and against a
``git archive`` copy of another commit. With SEED it generates the
benchmark's inputs, builds the training table from the raw detector
and KNMI CSVs, fits the ``dt`` model, then runs N forecast cycles into
a weather sink seeded with the generated history. It prints row count
and an order-insensitive content hash of the training table and both
sinks, each sink's parquet file count, the model's held-out MAE, and
the Spark jobs of each cycle. Diff two runs' output; only the ``jobs``
and ``files`` columns may differ.
"""

from __future__ import annotations

import hashlib
import os
import sys
import tempfile


def table_digest(df) -> tuple[int, str]:
    rows = sorted(repr(tuple(r)) for r in df.collect())
    return len(rows), hashlib.sha256("\n".join(rows).encode()).hexdigest()[:16]


def main() -> None:
    root, seed, n = os.path.abspath(sys.argv[1]), int(sys.argv[2]), int(sys.argv[3])
    sys.path.insert(0, root)
    from traffic_forecast_etl_spark.session import get_spark

    spark = get_spark("check-forecast-outputs")
    try:
        run(spark, seed, n)
    finally:
        spark.stop()


def run(spark, seed: int, n: int) -> None:
    from pyspark.sql import functions as F

    from perfbench import gen
    from traffic_forecast_etl_spark import ml
    from traffic_forecast_etl_spark.plans import detector_prep
    from traffic_forecast_etl_spark.plans.forecast import run_forecast_plane
    from traffic_forecast_etl_spark.plans.training import build_training_table

    sc = spark.sparkContext
    with tempfile.TemporaryDirectory() as d:
        # the forecast_cycle workload's training sizes and split
        train_inp = gen.train_inputs(
            seed, os.path.join(d, "raw"), n_days=24, n_detectors=40, readings_per_hour=4, n_files=12
        )
        series_dir = os.path.join(d, "series")
        detector_prep.prepare_detector_series(spark, train_inp.detector_glob).select(
            F.monotonically_increasing_id().alias("idx"),
            F.date_format("Date", "yyyy-MM-dd").alias("Date"),
            "Hour",
            F.col("Waarde").alias("Count"),
            "longitude",
            "latitude",
        ).coalesce(1).write.option("header", True).csv(series_dir)
        table = build_training_table(
            spark, train_inp.weather_csv, os.path.join(series_dir, "part-*.csv")
        ).cache()
        rows, digest = table_digest(table)
        print(f"training  rows={rows} hash={digest}")
        train, test = table.randomSplit([0.8, 0.2], seed=seed)
        model = ml.fit(train, "dt")
        print(f"dt        mae={ml.evaluate(model, test).mae:.10f}")
        table.unpersist()

        inputs = gen.forecast_inputs(seed, n)
        weather, traffic = os.path.join(d, "weather"), os.path.join(d, "traffic")
        gen.write_weather_history(inputs.history, weather)
        for i, payload in enumerate(inputs.payloads):
            sc.setJobGroup(f"cycle-{i}", f"forecast cycle {i}")
            n_w, n_t = run_forecast_plane(spark, payload, model, weather, traffic)
            jobs = len(sc.statusTracker().getJobIdsForGroup(f"cycle-{i}"))
            kind = "replay" if inputs.replay[i] else "fresh"
            print(f"cycle {i:3d} {kind:6s} appended=({n_w}, {n_t})  jobs={jobs}")
        for name, path in (("weather", weather), ("traffic", traffic)):
            rows, digest = table_digest(spark.read.parquet(path))
            files = sum(
                f.endswith(".parquet") for _, _, fs in os.walk(path) for f in fs
            )
            print(f"{name:9s} rows={rows} hash={digest} files={files}")


if __name__ == "__main__":
    main()
