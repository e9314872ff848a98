"""§7o recall harness, WIDENED (VERDICT r7 #5): the round-7 adoption
of the sampled k-means fit was measured on 5 member queries at
k=5/n_probe=2 only. This sweep re-measures the anchor-vs-sampled
decision surface on:

- ≥50 query vectors: 25 corpus MEMBERS (evenly spaced ids) + 25
  NON-MEMBERS (held-out perturbations of other corpus vectors — the
  realistic serving case: queries near the data manifold but not in
  the index);
- k ∈ {5, 20};
- an n_probe sweep {1, 2, 4, 8};
- BOTH corpora: the stacked-jitter clone-cluster corpus (flatters
  learned centroids — the §7o caveat) and the decorrelated corpus
  (nothing to learn).

Recall@k is measured against exact brute-force cosine ground truth
computed once per (corpus, query set). One JSON line per
(corpus, centroids, n_probe) with recall@5/recall@20 split by
member/non-member. Usage:

    python scripts/scale_recall_sweep.py [n ...] [stacked|decorrelated]
    # default n=100000, both corpora; naming a corpus runs just that
    # leg (the 1M legs are chunked per corpus to fit CI step budgets)
"""

from __future__ import annotations

import json
import shutil
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F  # noqa: E402

SF_DIR = "/root/testdata/sf0.1"
BASE_ROWS = 2000
N_MEMBER = 25
N_NONMEM = 25


def log(msg: str) -> None:
    print(f"[sweep {time.strftime('%H:%M:%S')}] {msg}", file=sys.stderr, flush=True)


def timed(fn, *a, **kw):
    t0 = time.perf_counter()
    out = fn(*a, **kw)
    return out, round(time.perf_counter() - t0, 2)


def stacked_corpus(spark, n: int, scratch: str) -> str:
    """The §7o stacked-jitter corpus (clone-cluster structure)."""
    copies = n // BASE_ROWS
    base = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    out = f"{scratch}/stack_{n}"
    (
        base.crossJoin(spark.range(copies).select(F.col("id").alias("copy")))
        .select(
            (F.col("vec_id") + F.col("copy") * BASE_ROWS).alias("vec_id"),
            F.transform(
                "embedding",
                lambda x, i: x
                + 0.05
                * F.sin(
                    F.col("vec_id") * 131 + F.col("copy") * 17 + i.cast("double")
                ),
            ).alias("embedding"),
        )
        .repartition(32)
        .write.mode("overwrite")
        .parquet(out)
    )
    return out


def decorrelated_corpus(spark, n: int, dim: int, scratch: str) -> str:
    """The §7o-addendum corpus: independent pseudo-random directions,
    no cluster structure to learn."""
    out = f"{scratch}/decorr_{n}"
    (
        spark.range(n)
        .select(
            F.col("id").alias("vec_id"),
            F.transform(
                F.sequence(F.lit(1), F.lit(dim)),
                lambda i: F.sin(F.col("id") * 131.0 + i.cast("double") * 7.0),
            ).alias("embedding"),
        )
        .repartition(32)
        .write.mode("overwrite")
        .parquet(out)
    )
    return out


def query_set(spark, corpus, n: int):
    """25 members (evenly spaced ids) + 25 held-out NON-members
    (perturbed versions of a disjoint id set, query ids offset by n
    so they never collide with corpus ids). Deterministic."""
    step = n // N_MEMBER
    members = corpus.filter(
        (F.col("vec_id") % step == 0) & (F.col("vec_id") < step * N_MEMBER)
    ).select("vec_id", "embedding")
    nonmem = corpus.filter(
        (F.col("vec_id") % step == step // 2)
        & (F.col("vec_id") < step * N_NONMEM)
    ).select(
        (F.col("vec_id") + n).alias("vec_id"),
        F.transform(
            "embedding",
            lambda x, i: x
            + 0.08 * F.sin(F.col("vec_id") * 37.0 + i.cast("double") * 3.0),
        ).alias("embedding"),
    )
    q = members.unionByName(nonmem).persist()
    assert q.count() == N_MEMBER + N_NONMEM
    return q


def main(sizes=(100_000,), dim: int = 64, only: str | None = None) -> None:
    from mergers_acquisitions_predictions_spark.operators.similarity import (
        auto_cells,
        brute_force_topk,
        ivf_centroids,
        ivf_topk,
        kmeans_centroids,
        topk_recall,
    )
    from mergers_acquisitions_predictions_spark.session import get_spark

    spark = get_spark(app_name="scale-recall-sweep")
    spark.sparkContext.setLogLevel("ERROR")
    scratch = "/tmp/mergers_acquisitions_recall_sweep"

    for n in sizes:
        cells = auto_cells(n)
        for corpus_label, mk_corpus in (
            ("stacked", lambda: stacked_corpus(spark, n, scratch)),
            ("decorrelated", lambda: decorrelated_corpus(spark, n, dim, scratch)),
        ):
            if only and corpus_label != only:
                continue
            log(f"writing {corpus_label} corpus n={n}")
            path = mk_corpus()
            corpus = spark.read.parquet(path)
            q = query_set(spark, corpus, n)
            log("corpus + queries ready; computing exact truth")
            # exact ground truth: ONE brute-force pass at k=20; the
            # k=5 truth is its rank<=5 prefix
            exact20, t_exact = timed(
                lambda: brute_force_topk(q, corpus, k=20)
                .select("query_id", "candidate_id", "rank")
                .persist()
            )
            exact20.count()
            log(f"exact truth done in {t_exact}s")
            for cent_label, mk_cent in (
                ("anchor", lambda: ivf_centroids(corpus, cells)),
                (
                    "kmeans_sampled",
                    lambda: kmeans_centroids(
                        corpus, cells, fit_sample_per_cell=50
                    ),
                ),
            ):
                cent, t_cent = timed(lambda: mk_cent().persist())
                cent.count()
                log(f"{cent_label} centroids fitted in {t_cent}s")
                for n_probe in (1, 2, 4, 8):

                    def serve():
                        # executed-to-completion serve: the count sits
                        # INSIDE the timing (the first serve per
                        # centroid set pays the memoized 1M corpus
                        # assignment — the honest amortization story)
                        a = (
                            ivf_topk(
                                q,
                                corpus,
                                k=20,
                                n_cells=cells,
                                n_probe=n_probe,
                                centroids=cent,
                                corpus_cache_key=(path, cent_label),
                            )
                            .select("query_id", "candidate_id", "rank")
                            .persist()
                        )
                        a.count()
                        return a

                    appr, t_serve = timed(serve)
                    log(f"{cent_label} n_probe={n_probe} served in {t_serve}s")
                    row = {
                        "n": n,
                        "cells": cells,
                        "corpus": corpus_label,
                        "centroids": cent_label,
                        "n_probe": n_probe,
                        "t_centroids": t_cent,
                        "t_exact_truth": t_exact,
                        "t_serve_k20": t_serve,
                    }
                    for k in (5, 20):
                        rec = topk_recall(
                            exact20.filter(F.col("rank") <= k).drop("rank"),
                            appr.filter(F.col("rank") <= k).drop("rank"),
                            k=k,
                        ).withColumn(
                            "member", F.col("query_id") < F.lit(n)
                        )
                        by = {
                            bool(r["member"]): round(float(r["r"]), 3)
                            for r in rec.groupBy("member")
                            .agg(F.avg("recall").alias("r"))
                            .collect()
                        }
                        row[f"recall@{k}_member"] = by.get(True)
                        row[f"recall@{k}_nonmember"] = by.get(False)
                    appr.unpersist()
                    print(json.dumps(row), flush=True)
                cent.unpersist()
            exact20.unpersist()
            q.unpersist()
    shutil.rmtree(scratch, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    _nums = tuple(int(a) for a in sys.argv[1:] if a.isdigit())
    _only = next((a for a in sys.argv[1:] if not a.isdigit()), None)
    main(_nums or (100_000,), only=_only)
