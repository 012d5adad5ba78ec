"""Model-based quality filtering — the classifier stage of an LLM data
pipeline (the fastText/logreg quality models of the GPT-3 / CCNet /
RefinedWeb recipes): heuristic gates produce WEAK LABELS, a linear
model learns to generalize them, and scoring is pure column math.

Spark-first split of train vs serve:

- **train** (:func:`train_quality_classifier`): MLlib
  ``LogisticRegression`` over the five heuristic quality features.
  The model is coefficient-scale (6 doubles) — training cost is one
  pass over features, and the artifact is a plain Python list.
- **serve** (:func:`score_quality`): the logit is a codegen'd column
  expression over broadcast-literal weights — no MLlib, no UDF, no
  shuffle at score time. At 100 TB the scorer runs at scan speed; the
  catalog query freezes fixture-trained weights as literals (the same
  trained-constant pattern as the SQ8/PCA queries) so the DuckDB
  oracle replays the identical arithmetic.

Weak labels here are the repo's own heuristic gates (stopword floor,
token-length band, length floor — the Gopher-style cheap filters);
the classifier's value at scale is scoring documents those boolean
gates would thrash on (borderline ratios), with one probability knob
instead of N cliff-edge thresholds.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from flink_ms_spark.operators.text import quality_columns

#: Feature order is part of the weight-vector contract.
QUALITY_FEATURES = (
    "avg_token_len",
    "stopword_ratio",
    "upper_ratio",
    "digit_ratio",
    "log_n_tokens",
)

#: Fixture-trained frozen weights [intercept, w_features...] — produced
#: by train_quality_classifier on the sf0.01 documents fixture and
#: frozen so the serving query (and its DuckDB oracle) is deterministic.
#: Regenerate with scripts/train_quality_weights.py if the gates change.
FROZEN_WEIGHTS = (4.594161, -1.680985, 87.607596, 0.0, 0.0, 0.251043)


def quality_feature_frame(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """quality_columns + log_n_tokens (round-6) — the model's feature
    row. One narrow map; nothing shuffles."""
    return quality_columns(docs, text_col).withColumn(
        "log_n_tokens", F.round(F.log(F.lit(1.0) + F.col("n_tokens")), 6)
    )


def weak_label(min_stopword: float = 0.03, min_tokens: int = 5) -> Column:
    """Gopher-style heuristic gate as a 0/1 training label: enough
    stopword mass (prose, not boilerplate/code), sane mean token
    length, and a minimum length."""
    return (
        (F.col("stopword_ratio") >= min_stopword)
        & F.col("avg_token_len").between(2.0, 12.0)
        & (F.col("n_tokens") >= min_tokens)
    ).cast("double")


def train_quality_classifier(
    docs: DataFrame, text_col: str = "text", max_iter: int = 50
) -> list[float]:
    """Fit LogisticRegression(features → weak label); returns
    [intercept, w_avg_token_len, w_stopword_ratio, w_upper_ratio,
    w_digit_ratio, w_log_n_tokens] as plain floats (model-scale
    artifact, broadcastable as literals)."""
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.feature import VectorAssembler

    feats = quality_feature_frame(docs, text_col).withColumn(
        "label", weak_label()
    )
    assembled = VectorAssembler(
        inputCols=list(QUALITY_FEATURES), outputCol="features"
    ).transform(feats)
    model = LogisticRegression(maxIter=max_iter, regParam=0.01).fit(assembled)
    return [float(model.intercept)] + [float(c) for c in model.coefficients]


def score_quality(
    docs: DataFrame,
    weights: tuple[float, ...] = FROZEN_WEIGHTS,
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, quality_logit, quality_prob round-6): serve the linear
    model as column math — logit is rounded to 6 dp BEFORE the sigmoid
    so both engines exponentiate the identical double."""
    feats = quality_feature_frame(docs, text_col)
    z: Column = F.lit(float(weights[0]))
    for w, c in zip(weights[1:], QUALITY_FEATURES):
        z = z + F.lit(float(w)) * F.col(c)
    z = F.round(z, 6)
    return feats.select(
        "doc_id",
        z.alias("quality_logit"),
        F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 6).alias("quality_prob"),
    )
