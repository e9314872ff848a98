"""§7s composition leg: the FULL residual serve (probe cut + ADC +
exact rerank) vs the raw kind at 1M, stacked corpus — §7s's
scale_pq_residual measured ENCODING error in isolation (all rows, no
probe cut); this prices the registered deployment shape end to end:
learned books (sampled fit, the s38 config), persisted index, probed
partition-pruned scan, rerank remedy on top.

The question the table answers: at the SAME bytes and the SAME serve
plan, how much shortlist-containment (and therefore rerank-recovered
recall) does residual encoding buy at scale, and what does it cost at
build/serve time?

Round 13 (VERDICT r12 #2): the residual fit takes the BLAS cell
assignment (`pq_kmeans_residual_codebooks(assign_blas=True)`) — the
fold-assigned fit paid 472 s vs the raw fit's 88 s at 1M purely on
the n×cells assignment term. Pass ``--ab-fit`` to ALSO time the
fold-assigned fit (the A/B SCALE.md §7s-c records).

Round 13 (VERDICT r12 #8): ``--corpus decorr`` runs the same
composed serve on the UNSTRUCTURED corpus (independent pseudo-random
directions — the class §7s measured residual encoding LOSING on in
isolation), completing the decide-per-corpus guidance through the
probe cut: does the decorr loss survive shortlist containment +
rerank the way the stacked win did?

Usage: python scripts/scale_residual_serve.py [n] [--ab-fit]
           [--corpus stacked|decorr]
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F  # noqa: E402

from scripts.scale_1m_index import stacked_corpus, timed  # noqa: E402

M, K = 8, 256  # the standard 8-bit PQ — 8 bytes/vector, both routes


def main(
    n: int = 1_000_000, ab_fit: bool = False, corpus_kind: str = "stacked"
) -> None:
    from mergers_acquisitions_predictions_spark.operators.ann_index import (
        build_ivfpq_index,
        search_index,
    )
    from mergers_acquisitions_predictions_spark.operators.pq import (
        pq_kmeans_codebooks,
        pq_kmeans_residual_codebooks,
    )
    from mergers_acquisitions_predictions_spark.operators.similarity import (
        auto_cells,
        brute_force_topk,
        collect_centroid_rows,
        ivf_centroids,
        topk_recall,
    )
    from mergers_acquisitions_predictions_spark.session import get_spark

    spark = get_spark(app_name="scale-residual-serve")
    spark.sparkContext.setLogLevel("ERROR")
    scratch = "/tmp/mergers_acquisitions_resserve"
    if corpus_kind == "decorr":
        from scripts.scale_pq_residual import decorr_corpus

        path = decorr_corpus(spark, n, scratch)
    else:
        path = stacked_corpus(spark, n, scratch)
    corpus = spark.read.parquet(path)
    queries = corpus.filter(F.col("vec_id") < 5)
    cells = auto_cells(n)
    cent_rows = collect_centroid_rows(ivf_centroids(corpus, cells))
    exact = (
        brute_force_topk(queries, corpus, k=5)
        .select("query_id", "candidate_id")
        .persist()
    )
    exact.count()

    for label, residual in (("raw", False), ("residual", True)):
        row = {
            "corpus": corpus_kind, "n": n, "M": M, "K": K,
            "cells": cells, "route": label,
        }
        if residual:
            cbs, row["t_fit"] = timed(
                pq_kmeans_residual_codebooks,
                corpus, cent_rows, n_subspaces=M, n_codes=K,
                assign_blas=True,
            )
            if ab_fit:
                fold_cbs, row["t_fit_fold"] = timed(
                    pq_kmeans_residual_codebooks,
                    corpus, cent_rows, n_subspaces=M, n_codes=K,
                )
                row["fit_books_equal"] = fold_cbs == cbs
        else:
            cbs, row["t_fit"] = timed(
                pq_kmeans_codebooks, corpus, n_subspaces=M, n_codes=K
            )
        idx = f"{scratch}/idx_{label}_{n}"
        import shutil

        shutil.rmtree(idx, ignore_errors=True)
        _, row["t_build_blas"] = timed(
            build_ivfpq_index,
            corpus, idx, n_cells=cells, n_subspaces=M, n_codes=K,
            codebooks=cbs, residual=residual, assign_blas=True,
        )

        for rerank in (None, 50, 200):
            def serve():
                return search_index(
                    spark, idx, queries, k=5, n_probe=2, rerank=rerank,
                    vectors=None if rerank is None else corpus,
                ).persist()

            got = serve()
            got.count()
            tag = "adc" if rerank is None else f"rerank{rerank}"
            _, row[f"t_serve_{tag}"] = timed(lambda: serve().count())
            rec = (
                topk_recall(exact, got.select("query_id", "candidate_id"), k=5)
                .agg(F.avg("recall").alias("r"))
                .first()["r"]
            )
            row[f"recall_{tag}"] = round(float(rec), 3)
            got.unpersist()
        print(json.dumps(row), flush=True)
    exact.unpersist()


if __name__ == "__main__":
    argv = sys.argv[1:]
    kind = "stacked"
    if "--corpus" in argv:
        i = argv.index("--corpus")
        kind = argv[i + 1]
        argv = argv[:i] + argv[i + 2:]
    pos = [a for a in argv if a != "--ab-fit"]
    main(
        int(pos[0]) if pos else 1_000_000,
        ab_fit="--ab-fit" in argv,
        corpus_kind=kind,
    )
