"""Arrow-vectorized cosine verify (arrow_pair_cosines): must be
BIT-IDENTICAL to the pure-JVM fold plan — the parity contract that
lets d05/d07 route their verify stage through numpy without risking
the value-hash gate (order-preserving accumulation, JVM-side
round/filter)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from mergers_acquisitions_predictions_spark.operators.similarity import (
    arrow_pair_cosines,
    exact_cosine_pairs,
    lsh_neardup_pairs,
)
from mergers_acquisitions_predictions_spark.sources.readers import load_table

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def emb(spark):
    return load_table(spark, SF, "embeddings")


def _pairs_set(df):
    return {(r.a_id, r.b_id): r.cos_sim for r in df.collect()}


def test_exact_pairs_arrow_bitwise_equals_fold(spark, emb):
    """Every (pair, cosine) from the Arrow path equals the fold path
    exactly — exceptAll in BOTH directions is empty, so not just the
    key set but every double is bit-identical post-round."""
    fold = exact_cosine_pairs(emb, threshold=0.4, use_arrow=False)
    arrow = exact_cosine_pairs(emb, threshold=0.4, use_arrow=True)
    assert fold.exceptAll(arrow).count() == 0
    assert arrow.exceptAll(fold).count() == 0
    assert arrow.count() > 0  # non-vacuous


def test_lsh_neardups_arrow_bitwise_equals_fold(spark, emb):
    fold = lsh_neardup_pairs(emb, threshold=0.4, use_arrow=False)
    arrow = lsh_neardup_pairs(emb, threshold=0.4, use_arrow=True)
    assert fold.exceptAll(arrow).count() == 0
    assert arrow.exceptAll(fold).count() == 0


def test_arrow_scorer_null_and_ragged_rows(spark):
    """Rows the fold would NULL out (null vector, length mismatch)
    must be dropped, zero-norm rows must keep fold semantics (±inf
    passes the filter, as in the JVM plan)."""
    schema = T.StructType(
        [
            T.StructField("a_id", T.LongType()),
            T.StructField("b_id", T.LongType()),
            T.StructField("a_vec", T.ArrayType(T.DoubleType())),
            T.StructField("b_vec", T.ArrayType(T.DoubleType())),
            T.StructField("a_norm", T.DoubleType()),
            T.StructField("b_norm", T.DoubleType()),
        ]
    )
    rows = [
        (1, 2, [1.0, 0.0], [1.0, 0.0], 1.0, 1.0),  # cos=1 → kept
        (1, 3, [1.0, 0.0], [0.0, 1.0], 1.0, 1.0),  # cos=0 → dropped
        (1, 4, None, [1.0, 0.0], 1.0, 1.0),  # null vec → dropped
        (1, 5, [1.0, 0.0], [1.0], 1.0, 1.0),  # ragged → dropped
        (1, 6, [0.0, 0.0], [1.0, 0.0], 0.0, 1.0),  # 0/0-ish → inf/nan
    ]
    df = spark.createDataFrame(rows, schema)
    scored = arrow_pair_cosines(df, threshold=0.5)
    out = (
        scored.select("a_id", "b_id", F.round("cos_sim", 6).alias("cos_sim"))
        .filter(F.col("cos_sim") >= 0.5)
        .collect()
    )
    got = {(r.a_id, r.b_id) for r in out}
    assert (1, 2) in got
    assert (1, 3) not in got
    assert (1, 4) not in got and (1, 5) not in got
    # zero-norm: dot=0, norm product=0 → 0/0 = NaN; Spark treats NaN
    # as greatest, the fold plan passes it — so must we.
    assert (1, 6) in got


def test_arrow_scorer_mixed_batch_fallback_matches_fold(spark):
    """A batch containing a null row must route down the per-row
    fallback and still score the valid rows bit-identically."""
    schema = T.StructType(
        [
            T.StructField("a_id", T.LongType()),
            T.StructField("b_id", T.LongType()),
            T.StructField("a_vec", T.ArrayType(T.FloatType())),
            T.StructField("b_vec", T.ArrayType(T.FloatType())),
        ]
    )
    rows = [
        (1, 2, [0.25, 0.5, 0.125], [0.5, 0.25, 0.75]),
        (2, 3, None, [1.0, 0.0, 0.0]),
        (3, 4, [0.1, 0.2, 0.3], [0.3, 0.2, 0.1]),
    ]
    from mergers_acquisitions_predictions_spark.functions.vectors import (
        dot,
        l2_norm,
    )

    df = spark.createDataFrame(rows, schema).select(
        "a_id",
        "b_id",
        "a_vec",
        "b_vec",
        l2_norm(F.col("a_vec")).alias("a_norm"),
        l2_norm(F.col("b_vec")).alias("b_norm"),
    )
    arrow = arrow_pair_cosines(df, threshold=0.0).collect()
    fold = df.select(
        "a_id",
        "b_id",
        (dot(F.col("a_vec"), F.col("b_vec")) / (F.col("a_norm") * F.col("b_norm"))).alias(
            "cos_sim"
        ),
    ).collect()
    fold_map = {(r.a_id, r.b_id): r.cos_sim for r in fold if r.cos_sim is not None}
    arrow_map = {(r.a_id, r.b_id): r.cos_sim for r in arrow}
    assert arrow_map == fold_map  # exact float equality, null row gone


def test_semantic_dedup_arrow_bitwise_equals_fold(spark, emb):
    """d11's within-cell pair scoring through the Arrow path must
    produce the identical dedup decision table (cell, cluster, keep
    for every vector) — the flag is a pure physical-plan switch."""
    from mergers_acquisitions_predictions_spark.operators.similarity import (
        semantic_dedup,
    )

    fold = semantic_dedup(emb, threshold=0.4, use_arrow=False)
    arrow = semantic_dedup(emb, threshold=0.4, use_arrow=True)
    assert fold.exceptAll(arrow).count() == 0
    assert arrow.exceptAll(fold).count() == 0
    assert arrow.count() > 0
