"""MMR re-ranking: sequential-reference equivalence, the diversity
property it exists for, and determinism. (Since round 6 s12 is also
VALUE-checked cross-engine — its oracle replays the greedy selection
as a recursive CTE over the materialized shortlist; the
sequential-reference test here is what justifies the oracle's
sequential folds standing in for numpy's pairwise sums.)"""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from mergers_acquisitions_predictions_spark.operators.similarity import (
    brute_force_topk,
    mmr_rerank,
)
from mergers_acquisitions_predictions_spark.sources.readers import load_table

SF = "/root/testdata/sf0.01"


def _py_mmr(rows, k, lam):
    """Sequential pure-Python reference: rows = [(cand, rel, vec)]
    pre-sorted by (-rel, cand)."""
    rows = sorted(rows, key=lambda r: (-r[1], r[0]))

    def unit(v):
        n = math.sqrt(sum(x * x for x in v)) or 1.0
        return [x / n for x in v]

    units = [unit(r[2]) for r in rows]
    chosen, scores = [], []
    free = set(range(len(rows)))
    for _ in range(min(k, len(rows))):
        best, best_s = None, None
        for i in sorted(free):
            red = max(
                (sum(a * b for a, b in zip(units[i], units[j])) for j in chosen),
                default=0.0,
            )
            s = lam * rows[i][1] - (1 - lam) * red
            if best_s is None or s > best_s:  # strict > keeps first max
                best, best_s = i, s
        chosen.append(best)
        free.discard(best)
        scores.append(best_s)
    return [
        (rows[i][0], round(s, 6), r + 1)
        for r, (i, s) in enumerate(zip(chosen, scores))
    ]


def _shortlist(spark, n_queries=5, k=15):
    e = load_table(spark, SF, "embeddings")
    q = e.filter(F.col("vec_id") < n_queries)
    short = brute_force_topk(q, e, k=k)
    return short.join(
        e.select(
            F.col("vec_id").alias("candidate_id"), F.col("embedding").alias("c_vec")
        ),
        "candidate_id",
    )


def test_mmr_matches_sequential_reference(spark):
    cand = _shortlist(spark)
    got = {
        (r.query_id, r.candidate_id): (r.mmr_score, r.rank)
        for r in mmr_rerank(cand, k=5, lam=0.7).collect()
    }
    rows = cand.collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(
            (r.candidate_id, r.cos_sim, [float(x) for x in r.c_vec])
        )
    want = {}
    for qid, rs in by_q.items():
        for cand_id, score, rank in _py_mmr(rs, k=5, lam=0.7):
            want[(qid, cand_id)] = (score, rank)
    assert got == want


def test_mmr_skips_redundant_candidate(spark):
    """Three candidates: two identical high-relevance vectors and one
    orthogonal lower-relevance vector. Pure relevance ranks the twin
    second; MMR (lam=0.5) must rank the orthogonal one second."""
    rows = [
        (1, 10, 0.90, [1.0, 0.0]),
        (1, 11, 0.89, [1.0, 0.0]),   # near-duplicate of 10
        (1, 12, 0.50, [0.0, 1.0]),   # diverse
    ]
    df = spark.createDataFrame(
        rows, "query_id long, candidate_id long, cos_sim double, c_vec array<double>"
    )
    out = sorted(
        (r.rank, r.candidate_id) for r in mmr_rerank(df, k=3, lam=0.5).collect()
    )
    assert out == [(1, 10), (2, 12), (3, 11)]


def test_mmr_deterministic_and_bounded(spark):
    cand = _shortlist(spark)
    a = sorted(map(tuple, mmr_rerank(cand, k=5).collect()))
    b = sorted(map(tuple, mmr_rerank(cand, k=5).collect()))
    assert a == b
    assert len(a) == 25  # 5 queries x k=5


def test_s12_artifact_hop_skipped_when_current(spark, monkeypatch):
    """VERDICT r6 #3: within a session, a repeat s12 invocation over
    unchanged testdata must SKIP the shortlist publish (the priced
    ~0.3-0.45 s artifact hop) and still return identical rows; a
    foreign overwrite of the artifact must force a republish."""
    import pandas as pd

    from mergers_acquisitions_predictions_spark.plans import similarity_queries as SQ
    from mergers_acquisitions_predictions_spark.sources import writers as W

    # An earlier test in the same session may have run s12 at this SF
    # and legitimately recorded the publish (the feature under test!) —
    # remove the artifact so THIS test starts from a guaranteed miss.
    import shutil

    shutil.rmtree(SQ._S12_SHORT_PATH, ignore_errors=True)
    calls = []
    real_publish = W.publish_parquet_atomic

    def counting_publish(df, path):
        calls.append(path)
        return real_publish(df, path)

    monkeypatch.setattr(W, "publish_parquet_atomic", counting_publish)
    sf = "/root/testdata/sf0.001"
    first = SQ.s12_mmr_rerank(spark, sf).toPandas().sort_values(
        ["query_id", "rank"]
    ).reset_index(drop=True)
    n_after_first = len(calls)
    assert n_after_first >= 1
    second = SQ.s12_mmr_rerank(spark, sf).toPandas().sort_values(
        ["query_id", "rank"]
    ).reset_index(drop=True)
    assert len(calls) == n_after_first  # hop skipped
    pd.testing.assert_frame_equal(first, second)
    # foreign overwrite: marker's artifact fingerprint goes stale
    spark.range(1).write.mode("overwrite").parquet(SQ._S12_SHORT_PATH)
    spark.catalog.refreshByPath(SQ._S12_SHORT_PATH)
    third = SQ.s12_mmr_rerank(spark, sf).toPandas().sort_values(
        ["query_id", "rank"]
    ).reset_index(drop=True)
    assert len(calls) == n_after_first + 1  # republished
    pd.testing.assert_frame_equal(first, third)
