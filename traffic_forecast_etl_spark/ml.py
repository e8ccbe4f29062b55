"""ML layer (SURVEY §2.9 M1-M8) — MLlib pipelines.

The reference trains sklearn RandomForest / SVR / DecisionTree on a
pandas frame whose feature contract is *positional* (an 8-column
ndarray, dags/utils.py:236-247). Here the contract is explicit:
``VectorAssembler(inputCols=FEATURE_COLS)`` — positional drift is
impossible, and training/inference run distributed.

Model mapping (SURVEY M2-M4):
  - RandomForestRegressor — MLlib twin; defaults differ from sklearn
    (numTrees 20 vs 100, maxDepth 5 vs unbounded) so both are set
    explicitly here.
  - DecisionTreeRegressor(maxDepth=13) — direct twin.
  - SVR(RBF) — no distributed equivalent in MLlib (LinearSVC is
    classification-only); GBTRegressor stands in as the comparable
    nonlinear third model (SURVEY M3: SVR is the notebook's losing
    model, MAE 0.084 vs RF 0.038).

Metrics: MAE via RegressionEvaluator, Pearson R via ``corr`` (M5-M6);
MLWriter save/load replaces the pickle blob (S6-S7).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.ml import Pipeline, PipelineModel
from pyspark.ml.evaluation import RegressionEvaluator
from pyspark.ml.feature import VectorAssembler
from pyspark.ml.regression import (
    DecisionTreeRegressor,
    GBTRegressor,
    RandomForestRegressor,
)
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

FEATURE_COLS = [
    "Month",
    "Day",
    "Hour",
    "DayofWeek",
    "isHoliday",
    "Wind Speed",
    "Temperature",
    "Precipitation",
]
LABEL_COL = "Count"


def _assembler(feature_cols: list[str]) -> VectorAssembler:
    return VectorAssembler(inputCols=feature_cols, outputCol="features")


def _prep(df: DataFrame, feature_cols: list[str]) -> DataFrame:
    """Booleans → double for the assembler (M8 note)."""
    out = df
    for c, t in df.dtypes:
        if c in feature_cols and t == "boolean":
            out = out.withColumn(c, F.col(c).cast("double"))
    return out


def make_pipeline(model: str, feature_cols: list[str] | None = None, seed: int = 42) -> Pipeline:
    feature_cols = feature_cols or FEATURE_COLS
    if model == "rf":
        reg = RandomForestRegressor(
            featuresCol="features",
            labelCol=LABEL_COL,
            numTrees=100,  # sklearn default, not MLlib's 20
            maxDepth=15,   # sklearn grows unbounded; 15 saturates 8.6k rows
            seed=seed,
        )
    elif model == "dt":
        reg = DecisionTreeRegressor(
            featuresCol="features", labelCol=LABEL_COL, maxDepth=13, seed=seed
        )
    elif model == "gbt":
        reg = GBTRegressor(
            featuresCol="features", labelCol=LABEL_COL, maxIter=50, maxDepth=5, seed=seed
        )
    else:
        raise ValueError(f"unknown model {model!r} (rf|dt|gbt)")
    return Pipeline(stages=[_assembler(feature_cols), reg])


def fit(df: DataFrame, model: str = "rf", feature_cols: list[str] | None = None) -> PipelineModel:
    feature_cols = feature_cols or FEATURE_COLS
    return make_pipeline(model, feature_cols).fit(_prep(df, feature_cols))


@dataclass
class EvalResult:
    mae: float
    pearson_r: float


def evaluate(model: PipelineModel, test: DataFrame, feature_cols: list[str] | None = None) -> EvalResult:
    feature_cols = feature_cols or FEATURE_COLS
    pred = model.transform(_prep(test, feature_cols))
    mae = RegressionEvaluator(
        labelCol=LABEL_COL, predictionCol="prediction", metricName="mae"
    ).evaluate(pred)
    r = pred.agg(F.corr("prediction", LABEL_COL)).collect()[0][0]
    return EvalResult(mae=mae, pearson_r=r)


def save(model: PipelineModel, path: str) -> None:
    """S7: MLWriter replaces the pickle sink (notebook cell 16)."""
    model.write().overwrite().save(path)


def load(path: str) -> PipelineModel:
    """S6: MLReader replaces pickle.load (dags/utils.py:231)."""
    return PipelineModel.load(path)
