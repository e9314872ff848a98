"""LDA topic modeling (SURVEY §2.8 M8; `acq_etl_code.scala:106-117`)."""

from __future__ import annotations

from pyspark.ml.clustering import LDA
from pyspark.sql import DataFrame


def fit_lda(
    df: DataFrame,
    features_col: str = "tf",
    k: int = 20,
    max_iter: int = 20,
    concentration: float = 0.25,
    seed: int = 42,
):
    """Reference config: k=20, maxIter=20, doc/topic concentration 0.25
    (`acq_etl_code.scala:109`), on term-count vectors. Optimizer is
    the ml.LDA default "online" — the one the reference gets implicitly
    (EM rejects concentrations < 1, so 0.25 implies online)."""
    return LDA(
        featuresCol=features_col,
        k=k,
        maxIter=max_iter,
        docConcentration=[concentration],
        topicConcentration=concentration,
        optimizer="online",
        seed=seed,
    ).fit(df)
