"""ML-layer tolerance tests (SURVEY §5.3) — tree training is
nondeterministic; assert quality bands, never hashes. Reference
numbers (notebook cells 15/18/21): RF MAE 0.0385 / R 0.9284,
DT(13) MAE 0.0444 / R 0.9148, Hour ≈ 78.65% importance."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from traffic_forecast_etl_spark import ml
from traffic_forecast_etl_spark.operators.relational import temporal_split
from traffic_forecast_etl_spark.plans.training import build_training_table

WEATHER_CSV = "/root/reference/data/weatherdata2015.csv"
TRAFFIC_CSV = "/root/reference/data/TrafficCounts2015.csv"


@pytest.fixture(scope="module")
def split(spark):
    full = build_training_table(spark, WEATHER_CSV, TRAFFIC_CSV)
    # reference split: first 7000 time-ordered rows train (cell 13)
    train, test = temporal_split(
        full.withColumn("__m", F.col("Month"))
        .withColumn("__d", F.col("Day"))
        .withColumn("__h", F.col("Hour")),
        [F.col("__m"), F.col("__d"), F.col("__h")],
        7000,
    )
    return train.drop("__m", "__d", "__h").cache(), test.drop("__m", "__d", "__h").cache()


@pytest.fixture(scope="module")
def rf_model(split):
    train, _ = split
    return ml.fit(train, "rf")


def test_rf_quality(split, rf_model):
    _, test = split
    res = ml.evaluate(rf_model, test)
    assert res.mae <= 0.06, f"RF MAE {res.mae:.4f} (reference 0.0385)"
    assert res.pearson_r >= 0.90, f"RF Pearson {res.pearson_r:.4f} (reference 0.9284)"


def test_dt_quality(split):
    train, test = split
    model = ml.fit(train, "dt")
    res = ml.evaluate(model, test)
    assert res.mae <= 0.06, f"DT MAE {res.mae:.4f} (reference 0.0444)"
    assert res.pearson_r >= 0.88, f"DT Pearson {res.pearson_r:.4f} (reference 0.9148)"


def test_gbt_trains(split):
    """GBT is the engine's stand-in for SVR (SURVEY M3) — assert it
    beats the SVR reference numbers (MAE 0.0841 / R 0.7820)."""
    train, test = split
    model = ml.fit(train, "gbt")
    res = ml.evaluate(model, test)
    assert res.mae <= 0.0841
    assert res.pearson_r >= 0.7820


def test_kernel_model_matches_svr_band(split):
    """M3 fidelity path: the RBF kernel machine (sklearn SVR when
    importable; numpy RBF kernel ridge twin otherwise — this container
    has no sklearn) scored through the broadcast predict_udf must land
    in the reference SVR's quality band (cell 19 ≈L336: MAE 0.0841 /
    R 0.7820). Measured here: MAE 0.0873 / R 0.7666 — the residual gap
    is KRR's squared loss vs SVR's epsilon-insensitive loss, which the
    band absorbs. GBT (above) remains the recommended third model."""
    from traffic_forecast_etl_spark.ml_kernel import fit_kernel_model, predict_kernel

    train, test = split
    model = fit_kernel_model(train)
    pred = predict_kernel(test, model)
    mae = pred.agg(F.avg(F.abs(F.col("prediction") - F.col("Count")))).first()[0]
    r = pred.agg(F.corr("prediction", "Count")).first()[0]
    assert mae <= 0.095, f"kernel MAE {mae:.4f} (reference SVR 0.0841)"
    assert r >= 0.74, f"kernel R {r:.4f} (reference SVR 0.7820)"


def test_kernel_model_training_is_bounded(split):
    """The gram matrix must not grow past max_train no matter the
    input size: the stride subsample caps driver memory (the kernel
    fit is O(n_train²) by the reference's model choice)."""
    from traffic_forecast_etl_spark.ml_kernel import RBFKernelRidge, fit_kernel_model

    train, _ = split
    model = fit_kernel_model(train, max_train=500)
    if not isinstance(model, RBFKernelRidge):
        pytest.skip("sklearn present: SVR path (subsample applied pre-fit)")
    assert model._Xtrain.shape[0] == 500  # noqa: SLF001


def test_model_save_load_roundtrip(split, rf_model, tmp_path):
    _, test = split
    path = str(tmp_path / "rf_model")
    ml.save(rf_model, path)
    loaded = ml.load(path)
    a = ml.evaluate(rf_model, test).mae
    b = ml.evaluate(loaded, test).mae
    assert abs(a - b) < 1e-12
