"""Model-based document quality classification (the fastText /
CCNet / GPT-3 "quality filter" stage): train a linear classifier on
weakly-labeled documents (curated-source positives vs crawl
negatives), then score the whole corpus with P(high quality) and
keep what clears a threshold.

Published anchors: GPT-3 (Brown et al. 2020, Appendix A) trained a
logistic classifier on WebText-vs-CommonCrawl labels; CCNet
(Wenzek et al. 2020) and fastText (Joulin et al. 2017) use linear
models over hashed bag-of-words features. This module is that
pattern Spark-first:

- features: RegexTokenizer → HashingTF (hashed bag-of-words, the
  fastText trick — no vocabulary table to build, ship, or shuffle;
  the feature space is a fixed ``num_features``-dim sparse vector
  computed map-side in the JVM);
- model: ``pyspark.ml`` LogisticRegression (distributed L-BFGS —
  each iteration is one treeAggregate over gradient partials, no
  per-row Python anywhere);
- scoring: ``PipelineModel.transform`` + ``vector_to_array`` — a
  broadcast of the coefficient vector onto a map-only pass, so
  scoring 100 TB is a single scan that pipelines into the parquet
  reader.

Reference anchor: the reference trains sklearn regressors over a
pandas frame (reference: Traffic-Prediction-Modelling.ipynb model
cells); this is the text-plane classification analogue built on
Spark MLlib instead of a driver-side sklearn fit.
"""

from __future__ import annotations

from pyspark.ml import Pipeline, PipelineModel
from pyspark.ml.classification import LogisticRegression
from pyspark.ml.feature import HashingTF, RegexTokenizer
from pyspark.ml.functions import vector_to_array
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def quality_pipeline(
    text_col: str,
    label_col: str,
    num_features: int = 1 << 12,
    reg_param: float = 0.01,
    max_iter: int = 30,
) -> Pipeline:
    """Tokenize → hashed TF → binomial logistic regression.

    ``num_features`` trades hash collisions against model size; 4096
    is plenty for a quality/not-quality signal (fastText ships 10-bit
    buckets for some tasks). The coefficient vector a 100 TB scoring
    pass broadcasts is ``num_features`` doubles — KB, not GB.
    """
    tok = RegexTokenizer(
        inputCol=text_col, outputCol="__qc_toks", pattern="\\W+", toLowercase=True
    )
    tf = HashingTF(
        inputCol="__qc_toks", outputCol="__qc_feat", numFeatures=num_features
    )
    lr = LogisticRegression(
        featuresCol="__qc_feat",
        labelCol=label_col,
        maxIter=max_iter,
        regParam=reg_param,
        family="binomial",
    )
    return Pipeline(stages=[tok, tf, lr])


def train_quality_classifier(
    docs: DataFrame,
    text_col: str,
    label_col: str,
    num_features: int = 1 << 12,
    reg_param: float = 0.01,
    max_iter: int = 30,
) -> PipelineModel:
    """Fit the quality pipeline on weakly-labeled documents.

    Labels are the caller's weak supervision — the published recipe
    is membership in a curated slice (label 1) vs a random crawl
    sample (label 0); any 0/1 column works. L-BFGS with a fixed
    ``max_iter`` on a deterministic input layout converges to the
    same coefficients run-to-run (pytest-pinned).
    """
    labeled = docs.withColumn(label_col, F.col(label_col).cast("double"))
    return quality_pipeline(
        text_col, label_col, num_features, reg_param, max_iter
    ).fit(labeled)


def score_quality(
    model: PipelineModel,
    docs: DataFrame,
    text_col: str,
    id_col: str,
    round_to: int = 4,
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """Score documents with P(label=1): map-only JVM pass (tokenizer,
    hashing, and the dot product all run inside the executors; the
    only data movement is the KB-sized model broadcast). Returns
    (id, [keep_cols...,] quality_prob, quality_pred)."""
    scored = model.transform(docs.select(id_col, *(keep_cols or []), text_col))
    prob = vector_to_array(F.col("probability"))[1]
    return scored.select(
        F.col(id_col),
        *[F.col(c) for c in (keep_cols or [])],
        F.round(prob, round_to).alias("quality_prob"),
        F.col("prediction").cast("int").alias("quality_pred"),
    )
