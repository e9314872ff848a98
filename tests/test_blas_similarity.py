"""BLAS all-pairs cosine operator: must agree with the JVM-exact d05
plan within float tolerance (BLAS reduction order differs by design)."""

from __future__ import annotations

import pytest

from mergers_acquisitions_predictions_spark.operators.similarity import (
    all_pairs_cosine_blas,
)
from mergers_acquisitions_predictions_spark.plans.dedup_queries import (
    d05_embedding_neardups,
)
from mergers_acquisitions_predictions_spark.sources.readers import load_table

SF = "/root/testdata/sf0.001"


def test_blas_path_matches_jvm_exact(spark):
    exact = {
        (r.a_id, r.b_id): r.cos_sim for r in d05_embedding_neardups(spark, SF).collect()
    }
    emb = load_table(spark, SF, "embeddings")
    blas = {
        (r.a_id, r.b_id): r.cos_sim
        for r in all_pairs_cosine_blas(emb, emb, threshold=0.4).collect()
    }
    # pair sets may differ only for pairs within 1e-9 of the threshold
    only_exact = {k for k in exact if k not in blas}
    only_blas = {k for k in blas if k not in exact}
    for k in only_exact:
        assert abs(exact[k] - 0.4) < 1e-6, k
    for k in only_blas:
        assert abs(blas[k] - 0.4) < 1e-6, k
    for k in exact.keys() & blas.keys():
        assert exact[k] == pytest.approx(blas[k], abs=1e-6)
    assert len(exact.keys() & blas.keys()) > 0


def test_blas_right_side_cap_guards_collect(spark):
    import pytest

    emb = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(10)], ["vec_id", "embedding"]
    )
    with pytest.raises(ValueError, match="exceeds 5 rows"):
        all_pairs_cosine_blas(emb, emb, threshold=0.0, max_right_rows=5)


def test_blas_assign_matches_fold_assignment(spark):
    """`ivf_assign_blas` must pick the same probed cells as the fold
    path for every vector at both test SFs and both probe counts —
    the empirical leg of its parity-scope contract (divergence is
    possible only at a 6-dp rounding-boundary tie within matmul float
    error; there must be none on the real corpora). The passthrough
    __vec/__norm must also be bit-equal (vector untouched, norm
    re-derived by the same JVM fold)."""
    from mergers_acquisitions_predictions_spark.operators.similarity import (
        collect_centroid_rows,
        ivf_assign_blas,
        ivf_assign_literal,
        ivf_centroids,
    )
    from mergers_acquisitions_predictions_spark.sources.readers import load_table

    for sf in ("/root/testdata/sf0.01", "/root/testdata/sf0.1"):
        e = load_table(spark, sf, "embeddings")
        cent_rows = collect_centroid_rows(ivf_centroids(e, 16))
        for probes in (1, 2):
            fold = {
                (r["vid"], r["cell_id"], tuple(r["__vec"]), r["__norm"])
                for r in ivf_assign_literal(
                    e, cent_rows, "vid", probes
                ).collect()
            }
            blas = {
                (r["vid"], r["cell_id"], tuple(r["__vec"]), r["__norm"])
                for r in ivf_assign_blas(e, cent_rows, "vid", probes).collect()
            }
            assert fold == blas, (sf, probes)


def test_build_with_blas_assignment_serves_identically(spark, tmp_path):
    """An index built with `assign_blas=True` serves BIT-IDENTICAL
    results to the fold-built index on the test corpus: same cells,
    same codes (norm re-derived JVM-side), same ranks."""
    from pyspark.sql import functions as F

    from mergers_acquisitions_predictions_spark.operators.ann_index import (
        build_ivfsq_index,
        search_index,
    )
    from mergers_acquisitions_predictions_spark.sources.readers import load_table

    e = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    q = e.filter(F.col("vec_id") < 5)
    p1, p2 = str(tmp_path / "fold"), str(tmp_path / "blas")
    build_ivfsq_index(e, p1, n_cells=16)
    build_ivfsq_index(e, p2, n_cells=16, assign_blas=True)
    got1 = sorted(map(tuple, search_index(spark, p1, q, k=5, n_probe=2).collect()))
    got2 = sorted(map(tuple, search_index(spark, p2, q, k=5, n_probe=2).collect()))
    assert got1 == got2
    codes1 = sorted(map(tuple, spark.read.parquet(f"{p1}/codes").collect()))
    codes2 = sorted(map(tuple, spark.read.parquet(f"{p2}/codes").collect()))
    assert codes1 == codes2


def test_blas_scoring_matches_fold_topk(spark):
    """`brute_force_topk(score_blas=True)` must return the SAME frame
    as the fold path at both test SFs and two k values — the
    empirical leg of its parity scope (divergence is possible only
    where a 6-dp rounding boundary sits within matmul float error of
    a fold-rounded score; there must be none on the real corpora).
    Rank ties at equal rounded scores are id-broken identically, so
    the compare is exact, not approximate."""
    from mergers_acquisitions_predictions_spark.operators.similarity import (
        brute_force_topk,
    )
    from mergers_acquisitions_predictions_spark.sources.readers import load_table

    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        e = load_table(spark, sf, "embeddings")
        q = e.filter("vec_id < 7")
        for k in (3, 10):
            fold = sorted(
                map(tuple, brute_force_topk(q, e, k=k).collect())
            )
            blas = sorted(
                map(tuple, brute_force_topk(q, e, k=k, score_blas=True).collect())
            )
            assert fold == blas, (sf, k)


def test_blas_scoring_query_cap_guards_collect(spark):
    from mergers_acquisitions_predictions_spark.operators.similarity import (
        _brute_force_topk_blas,
    )

    emb = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(10)], ["vec_id", "embedding"]
    )
    with pytest.raises(ValueError, match="query side exceeds"):
        _brute_force_topk_blas(emb, emb, 2, "vec_id", "embedding", max_query_rows=5)


def test_blas_scoring_empty_queries_yields_empty_frame(spark):
    from mergers_acquisitions_predictions_spark.operators.similarity import (
        brute_force_topk,
    )

    emb = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(4)], ["vec_id", "embedding"]
    )
    out = brute_force_topk(
        emb.filter("vec_id < 0"), emb, k=3, score_blas=True
    )
    assert out.count() == 0
    assert out.columns == ["query_id", "candidate_id", "cos_sim", "rank"]


def test_blas_assign_tie_boundary_policy(spark):
    """Seeded adversarial ties for the assignment paths (VERDICT r9
    #6) — `assign_blas=True` is the de-facto deployment default at 1M+
    but runs in no registered row, so its boundary behavior is pinned
    here instead of by an oracle.

    (1) EXACT tie: two centroids bit-identical in cosine to a vector
    (permuted components, equal supplied norms — IEEE addition is
    commutative, so both fold and matmul produce the same double).
    POLICY: both paths break toward the LOWEST cell id, and probes=2
    orders cells ascending.

    (2) DECIMAL-TIE boundary (the q41 class, NOTES.md): cosine =
    double(41/640), whose exact value is BELOW the 6-dp decimal tie
    but whose SHORTEST decimal rendering sits ON it. Spark's round()
    (BigDecimal HALF_UP on the rendering) rounds UP to 0.064063;
    the BLAS floor(x*1e6+0.5) sees 64062.49999999999 and rounds DOWN
    to 0.064062. Against a second centroid pinned at 0.064063 the
    fold path TIES (picks cell 0) while BLAS picks cell 1 — the
    documented divergence class is REAL, deterministic, and confined
    to single-value roundings at .5 boundaries (the reason the
    registered oracle rows keep the fold path). This test pins both
    choices so either path changing behavior fails loudly."""
    from mergers_acquisitions_predictions_spark.operators.similarity import (
        ivf_assign_blas,
        ivf_assign_literal,
    )

    v = spark.createDataFrame([(7, [1.0, 1.0])], ["vec_id", "embedding"])

    # (1) exact tie: cos(v, c0) == cos(v, c1) bit-for-bit
    exact_tie = [(0, [3.0, 4.0], 5.0), (1, [4.0, 3.0], 5.0)]
    for probes, want in ((1, [0]), (2, [0, 1])):
        fold = [
            r["cell_id"]
            for r in ivf_assign_literal(v, exact_tie, "qid", probes).collect()
        ]
        blas = [
            r["cell_id"]
            for r in ivf_assign_blas(v, exact_tie, "qid", probes).collect()
        ]
        assert fold == want and blas == want, (probes, fold, blas)

    # (2) decimal-tie boundary: supplied norms make the cosines exact
    # single divisions — c0: 41/640 (the boundary value), c1: a value
    # both roundings agree is 0.064063
    u = spark.createDataFrame([(7, [1.0, 0.0])], ["vec_id", "embedding"])
    boundary = [(0, [41.0, 0.0], 640.0), (1, [640631.0, 0.0], 1.0e7)]
    fold = [
        r["cell_id"]
        for r in ivf_assign_literal(u, boundary, "qid", 1).collect()
    ]
    blas = [
        r["cell_id"] for r in ivf_assign_blas(u, boundary, "qid", 1).collect()
    ]
    assert fold == [0]  # Spark round: both 0.064063 -> tie -> low cell
    assert blas == [1]  # floor trick: 0.064062 < 0.064063 -> cell 1


def test_residual_fit_blas_assignment_matches_fold(spark):
    """Round 13 (VERDICT r12 #2): `pq_kmeans_residual_codebooks`'
    BLAS-assigned fit must learn the SAME books as the fold-assigned
    fit on the test corpus — the assignment feeds only the residual
    subtraction, and the cell choice is identical off tie boundaries
    (the `ivf_assign_blas` parity contract); the seeded Lloyd runs
    then see identical training rows."""
    from mergers_acquisitions_predictions_spark.operators.pq import (
        pq_kmeans_residual_codebooks,
    )
    from mergers_acquisitions_predictions_spark.operators.similarity import (
        collect_centroid_rows,
        ivf_centroids,
    )
    from mergers_acquisitions_predictions_spark.sources.readers import load_table

    e = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    cent_rows = collect_centroid_rows(ivf_centroids(e, 16))
    fold = pq_kmeans_residual_codebooks(
        e, cent_rows, n_subspaces=8, n_codes=4
    )
    blas = pq_kmeans_residual_codebooks(
        e, cent_rows, n_subspaces=8, n_codes=4, assign_blas=True
    )
    assert fold == blas
