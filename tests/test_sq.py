"""IVF-SQ8 tests: stats determinism, grid-encode semantics vs a
sequential Python reference, the ~lossless recall contract (SQ8
needs NO re-rank stage, unlike PQ), and run-to-run determinism.
Value parity is covered by the registry-wide oracle sweep
(tests/test_oracle_parity.py picks up s10 automatically)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from mergers_acquisitions_predictions_spark.operators.sq import (
    ivfsq_topk,
    sq_encode,
    sq_stats,
)
from mergers_acquisitions_predictions_spark.sources.readers import load_table

SF = "/root/testdata/sf0.01"


def _py_unit(vec):
    acc = 0.0
    for x in vec:  # left-to-right, the engine/oracle fold order
        acc += float(x) * float(x)
    n = math.sqrt(acc)
    return [float(x) / n for x in vec]


def _py_encode(u, mns, rngs):
    out = []
    for x, mn, rng in zip(u, mns, rngs):
        if rng == 0:
            out.append(0)
        else:
            out.append(int(min(max(math.floor((x - mn) / rng * 255.0 + 0.5), 0), 255)))
    return out


def test_sq_stats_match_sequential_reference(spark):
    e = load_table(spark, SF, "embeddings")
    mns, rngs = sq_stats(e)
    assert len(mns) == len(rngs) == 64
    rows = e.select("embedding").collect()
    units = [_py_unit(r.embedding) for r in rows]
    for i in range(64):
        col = [u[i] for u in units]
        assert mns[i] == min(col)
        assert rngs[i] == max(col) - min(col)
        assert rngs[i] > 0  # this corpus has no constant dimension


def test_sq_stats_over_bound_raises(spark, monkeypatch):
    """`sq_stats` collects one row per dimension to the driver: past
    `MAX_SQ_DIMS` it raises, naming the bound, instead of collecting
    an unbounded row set."""
    from mergers_acquisitions_predictions_spark.operators import sq

    e = load_table(spark, SF, "embeddings")  # 64 dimensions
    monkeypatch.setattr(sq, "MAX_SQ_DIMS", 63)
    with pytest.raises(ValueError, match="MAX_SQ_DIMS=63"):
        sq_stats(e)
    monkeypatch.setattr(sq, "MAX_SQ_DIMS", 64)
    assert len(sq_stats(e)[0]) == 64


def test_sq_encode_matches_sequential_reference(spark):
    e = load_table(spark, SF, "embeddings")
    mns, rngs = sq_stats(e)
    from mergers_acquisitions_predictions_spark.operators.sq import _unit
    from mergers_acquisitions_predictions_spark.functions.vectors import l2_norm

    coded = e.select(
        "vec_id",
        F.col("embedding").alias("emb"),
        sq_encode(_unit(F.col("embedding"), l2_norm(F.col("embedding"))), mns, rngs).alias("sq"),
    ).collect()
    for r in coded[:50]:
        assert list(r.sq) == _py_encode(_py_unit(r.emb), mns, rngs), r.vec_id
    allc = [c for r in coded for c in r.sq]
    assert min(allc) >= 0 and max(allc) <= 255
    # the grid actually gets used end to end (min/max rows hit 0/255)
    assert min(allc) == 0 and max(allc) == 255


def test_sq_encode_degenerate_dimension_codes_zero(spark):
    # rng == 0 (constant dimension) must encode as 0, not NULL/div0
    df = spark.createDataFrame([([0.5, 1.0],), ([0.5, 3.0],)], "u array<double>")
    out = df.select(sq_encode(F.col("u"), [0.5, 1.0], [0.0, 2.0]).alias("sq")).collect()
    assert [list(r.sq) for r in out] == [[0, 0], [0, 255]]


def test_ivfsq_recall_at_ivf_ceiling(spark):
    """8 bits/dimension is ~lossless at 64 dims: IVF-SQ8 recall@5 must
    EQUAL plain IVF recall@5 on the same cells/probes (quantization
    never flips a top-5 decision here) — the practical argument that
    SQ8 needs no re-rank. Ceiling measured 0.704 over 25 queries at
    (16 cells, 2 probes) on this corpus; floor is a safety margin.
    (s04's 0.92 is higher only because its 5 queries ARE cell
    anchors — NOTES.md.)"""
    from mergers_acquisitions_predictions_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk,
        topk_recall,
    )

    e = load_table(spark, SF, "embeddings")
    q = e.filter(F.col("vec_id") < 25)
    exact = brute_force_topk(q, e, k=5)
    sq = ivfsq_topk(q, e, k=5, n_cells=16, n_probe=2)
    ivf = ivf_topk(q, e, k=5, n_cells=16, n_probe=2)
    r_sq = topk_recall(exact, sq, k=5).agg(F.avg("recall")).first()[0]
    r_ivf = topk_recall(exact, ivf, k=5).agg(F.avg("recall")).first()[0]
    assert r_sq == pytest.approx(r_ivf, abs=1e-9)
    assert r_sq >= 0.65


def test_ivfsq_deterministic_across_runs(spark):
    e = load_table(spark, SF, "embeddings")
    q = e.filter(F.col("vec_id") < 5)
    a = sorted(map(tuple, ivfsq_topk(q, e, k=5).collect()))
    b = sorted(map(tuple, ivfsq_topk(q, e, k=5).collect()))
    assert a == b


def test_rrf_fusion_recall_beats_or_matches_components(spark):
    """RRF's pitch: the fused list's recall is >= max(components) when
    the components fail differently. On this corpus LSH and IVF do
    fail differently (different bucket/cell geometry), so assert
    fused >= each component with a small tolerance for rank-churn."""
    from mergers_acquisitions_predictions_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk,
        lsh_topk,
        rrf_fuse,
        topk_recall,
    )

    e = load_table(spark, SF, "embeddings")
    q = e.filter(F.col("vec_id") < 25)
    exact = brute_force_topk(q, e, k=5)
    lsh = lsh_topk(q, e, k=5)
    ivf = ivf_topk(q, e, k=5, n_cells=16, n_probe=2)
    fused = rrf_fuse([lsh, ivf], k=5).withColumnRenamed("fused_rank", "rank")

    def avg_recall(ap):
        return topk_recall(exact, ap, k=5).agg(F.avg("recall")).first()[0]

    r_lsh, r_ivf, r_f = avg_recall(lsh), avg_recall(ivf), avg_recall(fused)
    assert r_f >= max(r_lsh, r_ivf) - 0.05
    assert r_f > 0.5


def test_rrf_scores_and_determinism(spark):
    """A doc ranked 1 by BOTH lists must outrank a doc ranked 1 by
    one list only; two-list membership is visible in the ppb score
    (2/(c+1) vs 1/(c+1)); repeat runs are bit-identical."""
    from mergers_acquisitions_predictions_spark.operators.similarity import rrf_fuse

    a = spark.createDataFrame(
        [(1, 10, 1), (1, 11, 2)], "query_id long, candidate_id long, rank long"
    )
    b = spark.createDataFrame(
        [(1, 10, 1), (1, 12, 2)], "query_id long, candidate_id long, rank long"
    )
    out = {r.candidate_id: (r.rrf_ppb, r.fused_rank) for r in rrf_fuse([a, b], k=5).collect()}
    both = 1.0 / 61 + 1.0 / 61
    one_r2 = 1.0 / 62
    assert out[10] == (int(both * 1e9 + 0.5), 1)
    assert out[11][0] == out[12][0] == int(one_r2 * 1e9 + 0.5)
    assert out[11][1] == 2 and out[12][1] == 3  # id tiebreak

    import pytest as _pt

    with _pt.raises(ValueError, match="at least two"):
        rrf_fuse([a])


def test_auto_cells_policy(spark):
    """√n sizing with a floor; n_cells=None routes through it."""
    from mergers_acquisitions_predictions_spark.operators.similarity import auto_cells

    assert auto_cells(0) == 16
    assert auto_cells(100) == 16          # floor
    assert auto_cells(10_000) == 100      # sqrt
    assert auto_cells(1_000_000) == 1000
    e = load_table(spark, SF, "embeddings")  # 500 vectors at sf0.01
    q = e.filter(F.col("vec_id") < 5)
    got = ivfsq_topk(q, e, k=5, n_cells=None, n_probe=2)
    assert got.count() == 25  # 5 queries x top-5 under sqrt-sized cells
