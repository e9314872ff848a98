"""SCALE.md §7r measurement: the late-interaction (maxsim) rerank
stage at deployment scale, on the 1M clone-heavy stack.

Questions:
1. Is the maxsim rescore genuinely SHORTLIST-shaped? Compare the
   persisted-serve + maxsim rerank wall time against the plain serve
   and the exact-cosine rerank serve at 1M x 200 queries x R=50 —
   the added cost must be the s20 class (+~2 s), not corpus-shaped.
2. T^2 scaling: the per-pair cost is T^2 token dots of dim/T elements
   (linear in dim x T) — measure T in {2, 4, 8, 16} at fixed R.
3. Quality on the clone stack: with slice-derived tokens, does the
   SQ8 shortlist + maxsim rerank recover the EXACT-maxsim top-k the
   way the cosine rerank recovers exact-cosine (§7o-r9's 1.00)?
   Truth = maxsim_topk over the full corpus (corpus-shaped — measured
   at 100k with a trimmed query set; the cost of the truth leg is
   itself finding (1)'s point).

Usage: python scripts/scale_maxsim.py [n ...]   # default 100000 1000000
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F  # noqa: E402

from scripts.scale_1m_index import stacked_corpus, timed  # noqa: E402


def main(sizes=(100_000, 1_000_000)) -> None:
    from mergers_acquisitions_predictions_spark.operators.ann_index import (
        build_ivfsq_index,
        search_index,
    )
    from mergers_acquisitions_predictions_spark.operators.maxsim import (
        maxsim_rerank,
        maxsim_topk,
    )
    from mergers_acquisitions_predictions_spark.operators.similarity import (
        topk_recall,
    )
    from mergers_acquisitions_predictions_spark.session import get_spark

    spark = get_spark(app_name="scale-maxsim")
    spark.sparkContext.setLogLevel("ERROR")
    scratch = "/tmp/mergers_acquisitions_scalemaxsim"
    for n in sizes:
        row: dict = {"n": int(n)}
        corpus_path, row["t_stack"] = timed(stacked_corpus, spark, n, scratch)
        corpus = spark.read.parquet(corpus_path)
        queries = corpus.filter(F.col("vec_id") < 200)
        idx = f"{scratch}/ivfsq_{n}"
        _, row["t_build_blas"] = timed(
            build_ivfsq_index, corpus, idx, n_cells=None, assign_blas=True
        )

        def serve(**kw):
            return search_index(
                spark, idx, queries, k=5, n_probe=2, **kw
            ).count()

        def serve_maxsim(n_tokens=4, R=50):
            sl = search_index(spark, idx, queries, k=R, n_probe=2)
            return maxsim_rerank(
                sl, queries, corpus, k=5, n_tokens=n_tokens
            ).count()

        serve()  # cold (prime meta/memo so the A/B below is warm-path)
        row["t_serve_plain"] = min(timed(serve)[1] for _ in range(3))
        serve(rerank=50, vectors=corpus)
        row["t_serve_cos_rerank50"] = min(
            timed(serve, rerank=50, vectors=corpus)[1] for _ in range(3)
        )
        serve_maxsim()
        row["t_serve_maxsim_T4_R50"] = min(
            timed(serve_maxsim)[1] for _ in range(3)
        )
        for T in (2, 8, 16):
            row[f"t_serve_maxsim_T{T}_R50"] = min(
                timed(serve_maxsim, n_tokens=T)[1] for _ in range(3)
            )

        if n <= 100_000:
            # truth leg: exact maxsim over the full corpus, 25 queries
            # (corpus-shaped by construction — THE reason maxsim is a
            # rerank stage; timed to make that point with a number)
            tq = corpus.filter(F.col("vec_id") < 25)
            t0 = time.perf_counter()
            truth = maxsim_topk(tq, corpus, k=5, n_tokens=4).select(
                "query_id", "candidate_id"
            )
            truth.persist().count()
            row["t_exact_maxsim_25q"] = round(time.perf_counter() - t0, 2)
            sl = search_index(spark, idx, tq, k=50, n_probe=2)
            appr = maxsim_rerank(sl, tq, corpus, k=5, n_tokens=4)
            rec = (
                topk_recall(truth, appr, k=5)
                .agg(F.avg("recall").alias("r"))
                .first()["r"]
            )
            row["recall_maxsim_vs_exact_maxsim"] = round(float(rec), 3)
            # and the cosine-shortlist's ceiling: how much of exact
            # maxsim's top-5 even SURVIVES a 50-deep SQ8 shortlist
            surv = (
                truth.join(
                    sl.select("query_id", "candidate_id"),
                    ["query_id", "candidate_id"],
                )
                .count()
            )
            row["truth_in_shortlist_frac"] = round(surv / truth.count(), 3)
            truth.unpersist()
        print(json.dumps(row), flush=True)


if __name__ == "__main__":
    main(tuple(int(a) for a in sys.argv[1:]) or (100_000, 1_000_000))
