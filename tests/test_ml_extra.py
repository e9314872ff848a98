"""ML-surface parity extras: model persistence (S9), LDA topics,
approximate aggregates."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mergers_acquisitions_predictions_spark.ml.tfidf import build_tfidf_pipeline
from mergers_acquisitions_predictions_spark.sources.readers import load_table

SF = "/root/testdata/sf0.001"


def test_pipeline_model_save_load_roundtrip(spark, tmp_path):
    """S9 (`acq_etl_code.scala:125-126`): fitted models persist and
    reload with identical transform output."""
    from pyspark.ml import PipelineModel

    docs = load_table(spark, SF, "documents").limit(100)
    model = build_tfidf_pipeline(min_df=2.0).fit(docs)
    path = str(tmp_path / "tfidf_model")
    model.save(path)
    reloaded = PipelineModel.load(path)
    a = model.transform(docs).select("doc_id", "tfidf").collect()
    b = reloaded.transform(docs).select("doc_id", "tfidf").collect()
    assert {r.doc_id: r.tfidf for r in a} == {r.doc_id: r.tfidf for r in b}


def test_lda_topics_deterministic_with_seed(spark):
    from mergers_acquisitions_predictions_spark.plans.ml_queries import m03_lda_topics

    t1 = sorted(map(tuple, m03_lda_topics(spark, SF).collect()))
    t2 = sorted(map(tuple, m03_lda_topics(spark, SF).collect()))
    assert t1 == t2
    assert len(t1) == 25  # 5 topics x top-5 terms
    assert all(w >= 0 for (_, _, w) in t1)


def test_approx_count_distinct_within_tolerance(spark):
    """HLL sketch (the scale path for COUNT DISTINCT — constant memory
    per group) stays within its advertised error of the exact count."""
    li = load_table(spark, SF, "lineitem")
    row = li.agg(
        F.count_distinct("l_orderkey").alias("exact"),
        F.approx_count_distinct("l_orderkey", rsd=0.02).alias("approx"),
    ).first()
    assert abs(row.approx - row.exact) / row.exact < 0.05


def test_kmeans_clusters_structure_and_determinism(spark):
    """m05: partition covers all points, k clusters, seed-stable.
    (The test embeddings are only weakly label-clustered — max pairwise
    cosine ≈ 0.51 — so label purity is near the random baseline and is
    NOT asserted.)"""
    from mergers_acquisitions_predictions_spark.plans.ml_queries import (
        m05_kmeans_clusters,
    )

    a = m05_kmeans_clusters(spark, SF).collect()
    assert sum(r.n_points for r in a) == 500
    assert len(a) == 10
    assert all(r.majority_label_n <= r.n_points for r in a)
    b = m05_kmeans_clusters(spark, SF).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_lr_training_deterministic(spark):
    from mergers_acquisitions_predictions_spark.plans.ml_queries import m02_lr_confusion

    a = sorted(map(tuple, m02_lr_confusion(spark, SF).collect()))
    b = sorted(map(tuple, m02_lr_confusion(spark, SF).collect()))
    assert a == b and sum(n for *_, n in a) > 0


def test_pca_whiten_properties(spark):
    """Whitened components: (a) unit variance, (b) pairwise
    decorrelated, (c) reproducible across two fits in one session
    (sign convention pins the eigenvector ambiguity)."""
    import math

    from pyspark.sql import functions as F

    from mergers_acquisitions_predictions_spark.ml.pca import (
        pca_whiten_weights,
        project_whitened,
    )

    def pca_whiten(df, k, decimals):
        weights, offsets, _ = pca_whiten_weights(df, k, "embedding")
        return project_whitened(df, weights, offsets, decimals=decimals)

    e = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    out = pca_whiten(e, k=3, decimals=9)
    aggs = [F.variance(f"pc{j}").alias(f"v{j}") for j in (1, 2, 3)]
    aggs += [F.avg(f"pc{j}").alias(f"m{j}") for j in (1, 2, 3)]
    aggs += [F.corr("pc1", "pc2").alias("c12"), F.corr("pc1", "pc3").alias("c13"),
             F.corr("pc2", "pc3").alias("c23")]
    r = out.agg(*aggs).first()
    n = e.count()
    # MLlib covariance uses the n-1 denominator; variance() matches
    for j in (1, 2, 3):
        assert math.isclose(r[f"v{j}"], 1.0, rel_tol=0.05), (j, r[f"v{j}"])
        assert abs(r[f"m{j}"]) < 1e-6  # centered
    for c in ("c12", "c13", "c23"):
        assert abs(r[c]) < 0.05, (c, r[c])
    again = pca_whiten(e, k=3, decimals=9)
    a = sorted(tuple(x) for x in out.collect())
    b = sorted(tuple(x) for x in again.collect())
    assert a == b
    assert n == len(a)


def test_m03_relational_topk_equals_describe_topics(spark):
    """m03's artifact-replayed top-5-per-topic (rank window over the
    normalized topics matrix) must be EXACTLY MLlib's
    describeTopics(5) — the oracle certifies the relational plan
    cross-engine; this pins that plan to the MLlib semantics it
    stands in for."""
    from pyspark.ml.feature import CountVectorizer, RegexTokenizer

    from mergers_acquisitions_predictions_spark.ml.lda import fit_lda
    from mergers_acquisitions_predictions_spark.plans import QUERIES

    sf = "/root/testdata/sf0.01"
    docs = load_table(spark, sf, "documents")
    tok = RegexTokenizer(
        inputCol="text", outputCol="tokens", pattern="\\W+", toLowercase=True
    ).transform(docs)
    cv = CountVectorizer(inputCol="tokens", outputCol="tf", minDF=2.0).fit(tok)
    model = fit_lda(cv.transform(tok), "tf", k=5, max_iter=10, seed=42)
    vocab = F.array(*[F.lit(v) for v in cv.vocabulary])
    tw = F.explode(F.arrays_zip("termIndices", "termWeights")).alias("tw")
    described = model.describeTopics(5).select("topic", tw).select(
        "topic",
        F.element_at(vocab, F.col("tw.termIndices") + 1).alias("term"),
        F.round("tw.termWeights", 6).alias("weight"),
    )
    want = sorted((r.topic, r.term, r.weight) for r in described.collect())
    got = sorted(
        (r.topic, r.term, r.weight)
        for r in QUERIES["m03_lda_topics"](spark, sf).collect()
    )
    assert got == want
