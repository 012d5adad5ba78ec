"""Model-based quality filter (ml/quality.py): trainer beats chance
against the weak labels, frozen-weight serving separates the classes,
and the serving plan stays UDF- and shuffle-free."""

from __future__ import annotations

from pyspark.sql import functions as F

from flink_ms_spark.ml.quality import (
    FROZEN_WEIGHTS,
    quality_feature_frame,
    score_quality,
    train_quality_classifier,
    weak_label,
)
from flink_ms_spark.sources.tables import load_table


def test_trained_classifier_recovers_weak_labels(spark, sf_oracle):
    docs = load_table(spark, sf_oracle, "documents")
    weights = train_quality_classifier(docs)
    assert len(weights) == 6
    scored = score_quality(docs, tuple(weights)).join(
        quality_feature_frame(docs).withColumn("label", weak_label()).select(
            "doc_id", "label"
        ),
        "doc_id",
    )
    acc = (
        scored.select(
            (
                ((F.col("quality_prob") >= 0.5).cast("double") == F.col("label"))
            ).cast("double").alias("hit")
        )
        .agg(F.avg("hit"))
        .collect()[0][0]
    )
    base = scored.agg(F.avg("label")).collect()[0][0]
    assert acc >= max(base, 1 - base)  # at least the majority-class rate
    assert acc >= 0.85


def test_frozen_weights_separate_classes(spark, sf_oracle):
    """The committed FROZEN_WEIGHTS must still rank gate-passing docs
    above gate-failing ones on the fixture (guards against the weights
    rotting when gates/features change without retraining)."""
    docs = load_table(spark, sf_oracle, "documents")
    scored = score_quality(docs, FROZEN_WEIGHTS).join(
        quality_feature_frame(docs).withColumn("label", weak_label()).select(
            "doc_id", "label"
        ),
        "doc_id",
    )
    means = dict(
        scored.groupBy("label").agg(F.avg("quality_prob").alias("m")).collect()
    )
    assert means[1.0] > means[0.0] + 0.2


def test_scoring_plan_is_scan_speed(spark, sf_oracle):
    """Serving = narrow column math: no Exchange, no Python eval."""
    docs = load_table(spark, sf_oracle, "documents")
    plan = (
        score_quality(docs)._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan
    assert "Python" not in plan  # no UDF in the hot path
