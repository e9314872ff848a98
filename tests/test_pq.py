"""IVF-PQ tests: codebook determinism, encode tie-breaks, ADC
semantics, and the recall contract of the re-ranked production
config (the oracle-parity sweep covers value-parity; these cover the
properties parity can't express)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from mergers_acquisitions_predictions_spark.operators.pq import (
    ivfpq_topk,
    pq_anchor_codebooks,
    pq_encode,
)
from mergers_acquisitions_predictions_spark.sources.readers import load_table

SF = "/root/testdata/sf0.01"


def test_anchor_codebooks_shapes_and_unit_norm(spark):
    e = load_table(spark, SF, "embeddings")
    cbs = pq_anchor_codebooks(e, n_subspaces=8, n_codes=16)
    assert len(cbs) == 8 and all(len(book) == 16 for book in cbs)
    assert all(len(code) == 8 for book in cbs for code in book)
    # concatenating one anchor's slices across subspaces gives a unit
    # vector (the anchors are normalized BEFORE slicing)
    for c in range(16):
        full = [x for m in range(8) for x in cbs[m][c]]
        assert math.fsum(x * x for x in full) == pytest.approx(1.0, abs=1e-12)


def test_anchor_codebooks_reject_indivisible_dim(spark):
    e = load_table(spark, SF, "embeddings")
    with pytest.raises(ValueError, match="not divisible"):
        pq_anchor_codebooks(e, n_subspaces=7)


def test_pq_encode_picks_nearest_and_breaks_ties_low(spark):
    # 1-subspace, 2-code codebook; unit vectors on axes.
    cbs = [[[1.0, 0.0], [0.0, 1.0]]]
    df = spark.createDataFrame(
        [([1.0, 0.0],), ([0.0, 1.0],), ([math.sqrt(0.5), math.sqrt(0.5)],)],
        "u array<double>",
    )
    out = [r.pq for r in df.select(pq_encode(F.col("u"), cbs).alias("pq")).collect()]
    assert out[0] == [0]  # exactly code 0
    assert out[1] == [1]  # exactly code 1
    assert out[2] == [0]  # equidistant -> FIRST (lowest) code


def test_codes_are_m_smallints_in_range(spark):
    e = load_table(spark, SF, "embeddings")
    cbs = pq_anchor_codebooks(e, n_subspaces=8, n_codes=16)
    from mergers_acquisitions_predictions_spark.functions.vectors import l2_norm

    u = F.transform(F.col("embedding"), lambda x: x.cast("double") / l2_norm(F.col("embedding")))
    coded = e.select(pq_encode(u, cbs).alias("pq"))
    row = coded.agg(
        F.min(F.size("pq")).alias("lo"),
        F.max(F.size("pq")).alias("hi"),
        F.min(F.array_min("pq")).alias("cmin"),
        F.max(F.array_max("pq")).alias("cmax"),
    ).first()
    assert row.lo == row.hi == 8
    assert 0 <= row.cmin and row.cmax <= 15


def test_ivfpq_rerank_recall_floor(spark):
    """The registered three-stage config (cells → ADC shortlist →
    exact re-rank) must sit at the IVF recall ceiling; raw ADC@k is
    allowed to be far below it (quantization noise) but the shortlist
    must recover it. Floors are safety margins under the measured
    0.80 / 0.25."""
    from mergers_acquisitions_predictions_spark.operators.similarity import (
        brute_force_topk,
        topk_recall,
    )

    e = load_table(spark, SF, "embeddings")
    q = e.filter(F.col("vec_id") < 20)
    exact = brute_force_topk(q, e, k=5)
    reranked = ivfpq_topk(q, e, k=5, n_cells=16, n_probe=2, rerank=40)
    rec = topk_recall(exact, reranked, k=5).agg(F.avg("recall")).first()[0]
    assert rec >= 0.7
    # re-ranked scores are EXACT cosines: every (query, candidate)
    # that also appears in the exact baseline carries the same score
    ex = {(r.query_id, r.candidate_id): r.cos_sim for r in exact.collect()}
    for r in reranked.collect():
        if (r.query_id, r.candidate_id) in ex:
            assert r.cos_sim == ex[(r.query_id, r.candidate_id)]


def test_ivfpq_deterministic_across_runs(spark):
    e = load_table(spark, SF, "embeddings")
    q = e.filter(F.col("vec_id") < 5)
    a = sorted(map(tuple, ivfpq_topk(q, e, k=5, rerank=40).collect()))
    b = sorted(map(tuple, ivfpq_topk(q, e, k=5, rerank=40).collect()))
    assert a == b


def test_kmeans_codebooks_deterministic_and_swap_equivalent(spark):
    """Learned codebooks: same shape contract as anchors, bit-stable
    across refits (fixed seeds), and the downstream ivfpq_topk
    consumes them unchanged with recall at least matching the anchor
    config's floor."""
    from mergers_acquisitions_predictions_spark.operators.pq import (
        pq_kmeans_codebooks,
    )
    from mergers_acquisitions_predictions_spark.operators.similarity import (
        brute_force_topk,
        topk_recall,
    )

    e = load_table(spark, SF, "embeddings")
    # 4 subspaces × 16 codes and 5 Lloyd rounds: the smallest fit whose
    # books still clear the recall floor below
    a = pq_kmeans_codebooks(e, n_subspaces=4, n_codes=16, max_iter=5)
    b = pq_kmeans_codebooks(e, n_subspaces=4, n_codes=16, max_iter=5)
    assert a == b  # fixed seeds -> identical centers
    assert len(a) == 4 and all(len(book) == 16 for book in a)
    assert all(len(code) == 16 for book in a for code in book)

    q = e.filter(F.col("vec_id") < 20)
    exact = brute_force_topk(q, e, k=5)
    learned = ivfpq_topk(q, e, k=5, n_cells=16, n_probe=2, codebooks=a, rerank=40)
    rec = topk_recall(exact, learned, k=5).agg(F.avg("recall")).first()[0]
    assert rec >= 0.7


def test_kmeans_codebooks_sampled_fit(spark):
    """Round 11 (VERDICT r10 #4): the sampled-fit path. The 100k
    floor keeps small corpora on the FULL fit (identical books);
    ``fit_floor=0`` forces the deployment branch — the books come
    from a content-keyed sample, stay geometrically valid, are
    deterministic across refits, and still drive ivfpq_topk to a
    sane recall with rerank."""
    from mergers_acquisitions_predictions_spark.operators.pq import (
        pq_kmeans_codebooks,
    )
    from mergers_acquisitions_predictions_spark.operators.similarity import (
        brute_force_topk,
        topk_recall,
    )

    e = load_table(spark, SF, "embeddings")
    # the branch cases separate at 2 subspaces × 4 codes (sample of
    # 25 × 4 = 100 of the 500 rows)
    small = dict(n_subspaces=2, n_codes=4, max_iter=5)
    full = pq_kmeans_codebooks(e, **small)
    floored = pq_kmeans_codebooks(e, fit_sample_per_code=25, **small)
    assert floored == full  # corpus below the 100k floor -> full fit
    s1 = pq_kmeans_codebooks(e, fit_sample_per_code=25, fit_floor=0, **small)
    s2 = pq_kmeans_codebooks(e, fit_sample_per_code=25, fit_floor=0, **small)
    assert s1 == s2  # content-keyed sample + fixed seeds -> stable
    assert s1 != full  # the sampled branch actually ran
    assert len(s1) == 2 and all(len(book) == 4 for book in s1)
    assert all(len(code) == 32 for book in s1 for code in book)
    # the recall floor needs 4 × 16 books (sample of 25 × 16 = 400)
    sampled = pq_kmeans_codebooks(
        e, n_subspaces=4, n_codes=16, max_iter=5, fit_sample_per_code=25,
        fit_floor=0,
    )
    q = e.filter(F.col("vec_id") < 20)
    exact = brute_force_topk(q, e, k=5)
    got = ivfpq_topk(q, e, k=5, n_cells=16, n_probe=2, codebooks=sampled, rerank=40)
    rec = topk_recall(exact, got, k=5).agg(F.avg("recall")).first()[0]
    assert rec >= 0.7


def test_pq_kmeans_codebooks_lazy_count(spark):
    """The sample-sizing count: a ``corpus_cache_key`` reuses the
    builds' memoized count (same key), and either way the books are
    identical to the keyless path's (the branch decision depends only
    on n vs threshold)."""
    from mergers_acquisitions_predictions_spark.operators.pq import (
        pq_kmeans_codebooks,
    )
    from mergers_acquisitions_predictions_spark.operators.util import (
        memoized_literal,
    )

    e = load_table(spark, SF, "embeddings")
    small = dict(n_subspaces=2, n_codes=4, max_iter=5)
    plain = pq_kmeans_codebooks(e, **small)
    keyed = pq_kmeans_codebooks(e, corpus_cache_key=(SF, "emb", "t"), **small)
    assert plain == keyed
    # the count landed under the index builds' shared memo key: a
    # lookup through that key is a hit and never calls its build
    def _unexpected_build():
        raise AssertionError("count memo missed")

    assert memoized_literal(
        ("count", (SF, "emb", "t"), "vec_id"), _unexpected_build
    ) == e.count()
    # forced sampled branch: sized by the same one count
    sampled = pq_kmeans_codebooks(e, fit_sample_per_code=25, fit_floor=0, **small)
    assert len(sampled) == 2 and len(sampled[0]) == 4


@pytest.mark.parametrize("route", ["raw", "residual"])
def test_fit_books_fit_each_subspace_on_its_own_slice(spark, sf_dir, route):
    """Book ``m`` of the fit kernel is a one-subspace k-means fit
    (``seed + m``) of slice ``m`` of the training vector alone — the
    unit vector on the raw route, the PQ codec's residual pre-encode
    of the cell assignment on the residual route. A book fitted on
    another subspace's slice, or with another seed, differs."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    from mergers_acquisitions_predictions_spark.functions.vectors import l2_norm
    from mergers_acquisitions_predictions_spark.operators.ann_index import _pq_pre
    from mergers_acquisitions_predictions_spark.operators.pq import (
        pq_kmeans_codebooks,
        pq_kmeans_residual_codebooks,
    )
    from mergers_acquisitions_predictions_spark.operators.similarity import (
        collect_centroid_rows,
        ivf_assign_literal,
        ivf_centroids,
    )
    from mergers_acquisitions_predictions_spark.operators.sq import _unit
    from mergers_acquisitions_predictions_spark.operators.util import fit_released

    e = load_table(spark, sf_dir, "embeddings")
    n_sub, k, seed, it = 4, 4, 7, 3
    fit = dict(n_subspaces=n_sub, n_codes=k, seed=seed, max_iter=it,
               fit_sample_per_code=None)
    if route == "raw":
        books = pq_kmeans_codebooks(e, **fit)
        frame, vec = e, _unit(F.col("embedding"), l2_norm(F.col("embedding")))
    else:
        cent_rows = collect_centroid_rows(ivf_centroids(e, 8))
        books = pq_kmeans_residual_codebooks(e, cent_rows, **fit)
        frame, vec = _pq_pre(
            ivf_assign_literal(e, cent_rows, "candidate_id", 1), True, cent_rows
        )
    sub = 64 // n_sub
    for m in range(n_sub):
        alone = frame.select(
            array_to_vector(F.slice(vec, m * sub + 1, sub)).alias("f")
        )
        model = fit_released(
            KMeans(k=k, seed=seed + m, maxIter=it, featuresCol="f"), alone
        )
        assert books[m] == [[float(x) for x in c] for c in model.clusterCenters()]
