"""Similarity-search operators: exact top-k against a NumPy golden,
and LSH recall against the exact baseline."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from mergers_acquisitions_predictions_spark.operators.similarity import (
    brute_force_topk,
    lsh_topk,
)
from mergers_acquisitions_predictions_spark.sources.readers import load_table

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return load_table(spark, SF, "embeddings")


def test_brute_force_matches_numpy(spark, emb):
    rows = emb.collect()
    vecs = {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in rows}
    got = brute_force_topk(emb.filter(F.col("vec_id") < 3), emb, k=5).collect()
    by_query = {}
    for r in got:
        by_query.setdefault(r.query_id, []).append(r)
    for qid, hits in by_query.items():
        q = vecs[qid]
        sims = {
            cid: float(np.dot(q, v) / (np.linalg.norm(q) * np.linalg.norm(v)))
            for cid, v in vecs.items()
            if cid != qid
        }
        want = sorted(sims, key=lambda c: (-round(sims[c], 6), c))[:5]
        assert [h.candidate_id for h in sorted(hits, key=lambda h: h.rank)] == want
        for h in hits:
            assert h.cos_sim == pytest.approx(sims[h.candidate_id], abs=1e-6)


def test_lsh_candidates_are_true_neighbors_subset(spark, emb):
    """LSH is approximate: every returned hit must be a genuinely
    scored candidate from the query's bucket with correct rank order;
    recall vs exact top-5 must be nontrivial on average."""
    queries = emb.filter(F.col("vec_id") < 20)
    exact = brute_force_topk(queries, emb, k=5).collect()
    approx = lsh_topk(queries, emb, k=5, multiprobe=True).collect()
    exact_sets = {}
    for r in exact:
        exact_sets.setdefault(r.query_id, set()).add(r.candidate_id)
    hits = total = 0
    for r in approx:
        total += 1
        hits += r.candidate_id in exact_sets[r.query_id]
    assert total > 0
    # 8 tables x 4 planes + Hamming-1 multiprobe: near-exact recall
    assert hits / total >= 0.8
    # rank sequence per query is 1..n without gaps
    ranks = {}
    for r in approx:
        ranks.setdefault(r.query_id, []).append(r.rank)
    for rs in ranks.values():
        assert sorted(rs) == list(range(1, len(rs) + 1))


def test_lsh_neardup_pairs_recall_vs_exact(spark, sf_dir):
    """d07's LSH-prefiltered pairs must be a SUBSET of the exact d05
    pairs (verification is exact, so no false positives) with useful
    recall on the test embeddings."""
    from mergers_acquisitions_predictions_spark.plans import QUERIES

    exact = {
        (r.a_id, r.b_id)
        for r in QUERIES["d05_embedding_neardups"](spark, sf_dir).collect()
    }
    approx = {
        (r.a_id, r.b_id)
        for r in QUERIES["d07_lsh_embedding_neardups"](spark, sf_dir).collect()
    }
    assert approx <= exact  # exact verify ⇒ zero false positives
    if exact:
        recall = len(approx) / len(exact)
        assert recall >= 0.5, f"LSH near-dup recall too low: {recall:.2f}"


def test_ivf_topk_recall_vs_exact(spark):
    from mergers_acquisitions_predictions_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk,
    )
    from mergers_acquisitions_predictions_spark.sources.readers import load_table

    sf = "/root/testdata/sf0.001"
    e = load_table(spark, sf, "embeddings")
    q = e.filter(F.col("vec_id") < 5)
    exact = {(r.query_id, r.candidate_id) for r in brute_force_topk(q, e, k=5).collect()}
    ivf = {
        (r.query_id, r.candidate_id)
        for r in ivf_topk(q, e, k=5, n_cells=16, n_probe=2).collect()
    }
    assert len(exact & ivf) / len(exact) >= 0.8
    # every IVF hit is scored exactly — no false similarities
    assert len(ivf) == len(exact)


def test_kmeans_ivf_deterministic_and_recall(spark):
    from mergers_acquisitions_predictions_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk,
        kmeans_centroids,
    )
    from mergers_acquisitions_predictions_spark.sources.readers import load_table

    e = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    q = e.filter("vec_id < 5")
    cent = kmeans_centroids(e, n_cells=8)
    got1 = {(r.query_id, r.candidate_id) for r in ivf_topk(q, e, k=5, n_probe=4, centroids=cent).collect()}
    # Same seed, fresh fit: the learned index is reproducible.
    cent2 = kmeans_centroids(e, n_cells=8)
    got2 = {(r.query_id, r.candidate_id) for r in ivf_topk(q, e, k=5, n_probe=4, centroids=cent2).collect()}
    assert got1 == got2

    exact = {(r.query_id, r.candidate_id) for r in brute_force_topk(q, e, k=5).collect()}
    recall = len(got1 & exact) / len(exact)
    # This corpus has weak cosine structure (max pairwise cos ~0.51),
    # which bounds query-agnostic IVF recall — 8 cells x 4 probes
    # measured at 0.8; floor with slack for kmeans tie-breaks.
    assert recall >= 0.7, recall


def test_auto_planes_policy():
    """k = max(floor, log2(n/target)): bucket occupancy stays near the
    target across corpus sizes — the SCALE.md §7b density knob."""
    from mergers_acquisitions_predictions_spark.operators.similarity import (
        auto_planes,
    )

    assert auto_planes(0) == 4
    assert auto_planes(2_000) == 4  # floor holds for test corpora
    assert auto_planes(16_000) == 7
    assert auto_planes(1_000_000) == 12
    assert auto_planes(10**8) == 19
    # expected occupancy n / 2^k stays within [target, 2*target)
    for n in (10_000, 10**6, 10**9):
        k = auto_planes(n)
        assert 125 <= n / 2**k < 250


def test_mine_hard_negatives_excludes_positives_and_caps(spark):
    from pyspark.sql import functions as F

    from mergers_acquisitions_predictions_spark.operators.similarity import (
        brute_force_topk,
        mine_hard_negatives,
    )

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = e.filter(F.col("vec_id") < 3)
    # declare each query's top-2 exact neighbors as its positives
    pos = brute_force_topk(q, e, k=2).select("query_id", "candidate_id")
    got = mine_hard_negatives(q, e, n_neg=4, overfetch=3, positives=pos)
    rows = got.collect()
    got_pairs = {(r.query_id, r.candidate_id) for r in rows}
    pos_pairs = {(r.query_id, r.candidate_id) for r in pos.collect()}
    assert got_pairs.isdisjoint(pos_pairs)
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
    for qid, rs in by_q.items():
        assert len(rs) == 4  # overfetch 3x covers the 2 excluded
        assert sorted(r.rank for r in rs) == [1, 2, 3, 4]
        # negatives are exactly the best remaining candidates
        top12 = [
            r.candidate_id
            for r in brute_force_topk(q, e, k=12).collect()
            if r.query_id == qid
        ]
        expect = [c for c in top12 if (qid, c) not in pos_pairs][:4]
        assert [r.candidate_id for r in sorted(rs, key=lambda r: r.rank)] == expect


def test_mine_hard_negatives_lsh_scale_path_composes(spark):
    """The documented scale swap: topk_fn=lsh_topk must satisfy the
    same output contract, and its approximate negatives must be a
    subset of the exhaustive candidate scoring (never an invented
    pair, scores identical where found)."""
    from pyspark.sql import functions as F

    from mergers_acquisitions_predictions_spark.operators.similarity import (
        brute_force_topk,
        lsh_topk,
        mine_hard_negatives,
    )

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = e.filter(F.col("vec_id") < 3)
    approx = mine_hard_negatives(
        q, e, n_neg=4, overfetch=3, label_col="label", topk_fn=lsh_topk
    )
    assert approx.columns == ["query_id", "candidate_id", "cos_sim", "rank"]
    exact_scores = {
        (r.query_id, r.candidate_id): r.cos_sim
        for r in brute_force_topk(q, e, k=e.count()).collect()
    }
    rows = approx.collect()
    assert rows  # the LSH path returns negatives on this corpus
    for r in rows:
        assert (r.query_id, r.candidate_id) in exact_scores
        assert r.cos_sim == exact_scores[(r.query_id, r.candidate_id)]


def test_mine_hard_negatives_auto_selects_bucketed_path(spark):
    """With no explicit topk_fn, a corpus past brute_force_max must
    route through the sign-LSH bucketed plan (no cross/BNLJ shape) and
    a small corpus through the exact baseline — the default must never
    be the config that falls over at 10^6 vectors."""
    from pyspark.sql import functions as F

    from mergers_acquisitions_predictions_spark.operators.similarity import (
        mine_hard_negatives,
    )

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = e.filter(F.col("vec_id") < 3)
    bad = ("CartesianProduct", "BroadcastNestedLoopJoin")

    small = mine_hard_negatives(q, e, n_neg=3, label_col="label")
    small_plan = small._jdf.queryExecution().executedPlan().toString()
    assert any(b in small_plan for b in bad)  # exact baseline: broadcast q x n

    big = mine_hard_negatives(q, e, n_neg=3, label_col="label", brute_force_max=10)
    big_plan = big._jdf.queryExecution().executedPlan().toString()
    assert not any(b in big_plan for b in bad)
    # both paths return the (query_id, candidate_id, cos_sim, rank)
    # contract with <= n_neg rows per query
    for df in (small, big):
        rows = df.collect()
        assert df.columns == ["query_id", "candidate_id", "cos_sim", "rank"]
        per_q = {}
        for r in rows:
            per_q[r.query_id] = per_q.get(r.query_id, 0) + 1
        assert all(v <= 3 for v in per_q.values())


def test_lsh_tables_prefix_property():
    """With k_max set, a table's planes must be a fixed PREFIX
    independent of n_planes — the invariant that lets one static
    oracle replay auto-sized buckets at every corpus size. With
    k_max=None the allocation must equal the historical chunking
    (so fixed-k oracles keep their constants)."""
    from mergers_acquisitions_predictions_spark.operators.similarity import (
        _hyperplanes,
        lsh_tables,
    )

    t4 = lsh_tables(8, 4, 3, k_max=8)
    t6 = lsh_tables(8, 6, 3, k_max=8)
    t8 = lsh_tables(8, 8, 3, k_max=8)
    for t in range(3):
        assert t8[t][:4] == t4[t]
        assert t8[t][:6] == t6[t]
    legacy = _hyperplanes(8, 4 * 3)
    hist = lsh_tables(8, 4, 3)
    assert hist == [legacy[t * 4 : (t + 1) * 4] for t in range(3)]
    import pytest

    with pytest.raises(ValueError, match="k_max"):
        lsh_tables(8, 9, 3, k_max=8)


def test_topk_recall_counts_hits_per_query(spark):
    from mergers_acquisitions_predictions_spark.operators.similarity import topk_recall

    exact = spark.createDataFrame(
        [(1, 10), (1, 11), (2, 20), (2, 21)],
        "query_id long, candidate_id long",
    )
    approx = spark.createDataFrame(
        [(1, 10), (1, 99), (2, 20), (2, 21)],
        "query_id long, candidate_id long",
    )
    out = {r["query_id"]: r.asDict() for r in topk_recall(exact, approx, k=2).collect()}
    assert out[1]["n_hits"] == 1 and abs(out[1]["recall"] - 0.5) < 1e-9
    assert out[2]["n_hits"] == 2 and abs(out[2]["recall"] - 1.0) < 1e-9


def test_kmeans_sampled_fit_contract(spark, monkeypatch):
    """Round 7 (SCALE.md §7o): above the sampling floor the fit runs
    on a content-keyed sample (xxhash64(id) % m). What is STRUCTURAL
    and asserted here: (1) sample MEMBERSHIP is a pure function of
    the id values — identical row set under any repartitioning
    (unlike DataFrame.sample's per-partition seeding); (2) a repeat
    fit with the same partitioning is deterministic (seeded); (3) the
    default floor keeps small corpora on the full fit bit-exactly.
    Cross-partitioning BIT-equality of the fitted centers is NOT
    claimed — Lloyd's float updates are aggregation-order-dependent,
    which is exactly why the registered artifact oracles pin one
    measured configuration (PERF.md rounds 5-6)."""
    from pyspark.sql import functions as F

    from mergers_acquisitions_predictions_spark.operators import similarity as S

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    # (1) membership invariance of the content-keyed filter
    m = 4
    pick = lambda df: sorted(
        r.vec_id
        for r in df.filter(F.xxhash64(F.col("vec_id")) % m == 0)
        .select("vec_id")
        .collect()
    )
    sel4, sel17 = pick(e.repartition(4)), pick(e.repartition(17))
    assert sel4 == sel17 and 0 < len(sel4) < e.count()
    # (2) seeded repeat-determinism of the sampled fit
    monkeypatch.setattr(S, "_FIT_SAMPLE_FLOOR", 100)
    a = S.kmeans_centroids(e.repartition(4), n_cells=8, fit_sample_per_cell=5)
    b = S.kmeans_centroids(e.repartition(4), n_cells=8, fit_sample_per_cell=5)
    ra = sorted(map(tuple, a.select("cell_id", "cent_vec").collect()))
    rb = sorted(map(tuple, b.select("cell_id", "cent_vec").collect()))
    assert all(list(x) == list(y) for (_, x), (_, y) in zip(ra, rb))
    # (3) default floor: sampling must NOT kick in at 500 rows
    monkeypatch.setattr(S, "_FIT_SAMPLE_FLOOR", 100_000)
    full = S.kmeans_centroids(e, n_cells=8, fit_sample_per_cell=None)
    c = S.kmeans_centroids(e, n_cells=8, fit_sample_per_cell=5)
    rf = sorted(map(tuple, full.select("cell_id", "cent_vec").collect()))
    rc = sorted(map(tuple, c.select("cell_id", "cent_vec").collect()))
    assert all(list(x) == list(y) for (_, x), (_, y) in zip(rf, rc))


def test_fit_floor_override_forces_sampled_branch(spark, monkeypatch):
    """s19's registered config (fit_sample_per_cell=10, fit_floor=0)
    must actually take the SAMPLED branch at oracle scale — captured
    from the fit input's row count, so a future floor change cannot
    silently revert the driver row to the full fit. fit_floor=None
    keeps the module default (full fit at 500 rows)."""
    from mergers_acquisitions_predictions_spark.operators import (
        similarity as S,
    )
    from mergers_acquisitions_predictions_spark.operators import util as U
    from mergers_acquisitions_predictions_spark.sources.readers import (
        load_table,
    )

    e = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    n = e.count()

    fit_rows = []
    real_fit = U.fit_released

    def capturing_fit(est, dataset):
        fit_rows.append(dataset.count())
        return real_fit(est, dataset)

    monkeypatch.setattr(U, "fit_released", capturing_fit)
    S.kmeans_centroids(e, n_cells=8, fit_sample_per_cell=10, fit_floor=0)
    assert 8 <= fit_rows[-1] < n  # sampled: strict subset, >= k rows
    S.kmeans_centroids(e, n_cells=8, fit_sample_per_cell=10)
    assert fit_rows[-1] == n  # default floor: full fit at 500 rows


def test_caller_centroid_table_over_bound_raises(spark, emb, monkeypatch):
    """A caller centroid table is collected to the driver: past
    `MAX_CENTROID_ROWS` rows `ivf_topk` raises, naming the bound,
    instead of collecting it."""
    from mergers_acquisitions_predictions_spark.operators import similarity as S

    q = emb.filter(F.col("vec_id") < 3)
    cent = S.ivf_centroids(emb, 8)
    monkeypatch.setattr(S, "MAX_CENTROID_ROWS", 7)
    with pytest.raises(ValueError, match="MAX_CENTROID_ROWS=7"):
        S.ivf_topk(q, emb, k=5, n_probe=2, centroids=cent)
    monkeypatch.setattr(S, "MAX_CENTROID_ROWS", 8)
    assert S.ivf_topk(q, emb, k=5, n_probe=2, centroids=cent).count() == 15


def test_ivf_topk_supplied_centroid_memo_is_content_keyed(spark):
    """Round 8: with a caller-supplied centroid table, ivf_topk's
    corpus-assignment memo folds a digest of the collected centroid
    rows into the key — two DIFFERENT tables under the SAME cache key
    must not alias (the learned-fit serve shape), and repeat serves
    with the same table must reuse the assignment (results equal the
    uncached path bit-exactly)."""
    from pyspark.sql import functions as F

    from mergers_acquisitions_predictions_spark.operators import util as U
    from mergers_acquisitions_predictions_spark.operators.similarity import (
        ivf_centroids,
        ivf_topk,
        kmeans_centroids,
    )
    from mergers_acquisitions_predictions_spark.sources.readers import (
        load_table,
    )

    U.release_memoized_frames()
    e = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    q = e.filter(F.col("vec_id") < 3)
    key = ("/root/testdata/sf0.001", "embeddings")
    anchors = ivf_centroids(e, 8).persist()
    learned = kmeans_centroids(e, n_cells=8).persist()
    got_anchor = sorted(
        map(
            tuple,
            ivf_topk(
                q, e, k=5, n_cells=8, n_probe=2, centroids=anchors,
                corpus_cache_key=key,
            ).collect(),
        )
    )
    got_learned = sorted(
        map(
            tuple,
            ivf_topk(
                q, e, k=5, n_cells=8, n_probe=2, centroids=learned,
                corpus_cache_key=key,
            ).collect(),
        )
    )
    # no-alias: each equals ITS OWN uncached baseline
    want_anchor = sorted(
        map(
            tuple,
            ivf_topk(q, e, k=5, n_cells=8, n_probe=2, centroids=anchors).collect(),
        )
    )
    want_learned = sorted(
        map(
            tuple,
            ivf_topk(q, e, k=5, n_cells=8, n_probe=2, centroids=learned).collect(),
        )
    )
    assert got_anchor == want_anchor
    assert got_learned == want_learned
    assert got_anchor != got_learned  # the two tables really differ
    # repeat with the same table: memo hit, identical result
    again = sorted(
        map(
            tuple,
            ivf_topk(
                q, e, k=5, n_cells=8, n_probe=2, centroids=anchors,
                corpus_cache_key=key,
            ).collect(),
        )
    )
    assert again == got_anchor
    anchors.unpersist()
    learned.unpersist()
    U.release_memoized_frames()
