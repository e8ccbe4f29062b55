"""Black-box model inference as a vectorized UDF (SURVEY §2.8 U3).

The reference calls ``model.predict(np.array(df))`` in-process on the
driver (dags/utils.py:247). For MLlib models the engine uses
``PipelineModel.transform`` (ml.py). For NON-MLlib models (sklearn
SVR, an ONNX net, any picklable batch predictor) this module provides
the canonical Spark pattern: broadcast the model once, run it inside
an Arrow-batched pandas UDF — each executor gets columnar batches,
the model's vectorized predict runs per batch, never per row.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def predict_udf(
    df: DataFrame,
    model,
    feature_cols: Sequence[str],
    output_col: str = "prediction",
    predict_fn: Callable | None = None,
) -> DataFrame:
    """Append ``output_col`` = model.predict(features) computed in
    Arrow batches. ``model`` must be picklable; it is broadcast once
    per executor, not per task closure."""
    from pyspark import cloudpickle

    spark = df.sparkSession
    # broadcast the cloudpickle bytes, not the object: plain-pickle
    # broadcasts resolve classes by module path, which breaks for
    # models defined in scripts/notebooks; cloudpickle serializes the
    # class by value. One deserialization per executor (cached).
    bc = spark.sparkContext.broadcast(cloudpickle.dumps(model))
    fn = predict_fn or (lambda m, X: m.predict(X))
    _cache: dict[str, object] = {}

    @F.pandas_udf(T.DoubleType())
    def _predict(*cols: pd.Series) -> pd.Series:
        if "m" not in _cache:
            _cache["m"] = cloudpickle.loads(bc.value)
        X = pd.concat(cols, axis=1).to_numpy()
        out = fn(_cache["m"], X)
        return pd.Series(out)

    return df.withColumn(output_col, _predict(*[F.col(c).cast("double") for c in feature_cols]))
