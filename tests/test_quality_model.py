"""Pins for the model-based quality classifier (c8): perfectly
separable planted vocabulary -> the linear model must separate it;
same-input determinism; save/load parity; map-only JVM scoring plan.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from traffic_forecast_etl_spark import quality_model as QM


def _planted(spark, n=120):
    """Separable corpus: positives speak vocab A, negatives vocab B,
    deterministic word mixes keyed by id."""
    good = "insight analysis rigorous coherent cited structured"
    bad = "spam click buy pills winner jackpot"
    rows = []
    for i in range(n):
        words = (good if i % 2 == 0 else bad).split()
        text = " ".join(words[(i + j) % len(words)] for j in range(10))
        rows.append((i, text, float(1 - i % 2)))
    return spark.createDataFrame(rows, "doc_id long, text string, label double")


def test_separable_corpus_is_separated(spark):
    docs = _planted(spark)
    train = docs.filter(F.col("doc_id") < 80)
    held = docs.filter(F.col("doc_id") >= 80)
    model = QM.train_quality_classifier(train, "text", "label")
    scored = QM.score_quality(model, held, "text", "doc_id").join(
        held.select("doc_id", "label"), "doc_id"
    )
    rows = scored.collect()
    assert all(
        (r.quality_prob > 0.9) == (r.label == 1.0)
        and r.quality_pred == int(r.label)
        for r in rows
    ), sorted((r.doc_id, r.quality_prob, r.label) for r in rows)[:5]


def test_training_is_deterministic(spark):
    docs = _planted(spark)
    a = QM.train_quality_classifier(docs, "text", "label")
    b = QM.train_quality_classifier(docs, "text", "label")
    ca = a.stages[-1].coefficients.toArray()
    cb = b.stages[-1].coefficients.toArray()
    assert (ca == cb).all()


def test_save_load_scores_identically(spark, tmp_path):
    docs = _planted(spark)
    model = QM.train_quality_classifier(docs, "text", "label")
    path = str(tmp_path / "qmodel")
    model.write().overwrite().save(path)
    from pyspark.ml import PipelineModel

    loaded = PipelineModel.load(path)
    orig = {r.doc_id: r.quality_prob for r in QM.score_quality(model, docs, "text", "doc_id").collect()}
    back = {r.doc_id: r.quality_prob for r in QM.score_quality(loaded, docs, "text", "doc_id").collect()}
    assert orig == back


def test_scoring_plan_is_jvm_map_only(spark, sf_dir):
    """100 TB contract: scoring = one scan, zero exchanges, zero
    Python evaluation nodes (tokenizer/hashing/dot product all JVM)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    model = QM.train_quality_classifier(
        docs.withColumn("label", (F.col("doc_id") % 2).cast("double")),
        "text",
        "label",
    )
    out = QM.score_quality(model, docs, "text", "doc_id")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan[:1500]
    assert "EvalPython" not in plan, plan[:1500]
