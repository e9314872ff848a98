"""SCALE.md §7q measurement: the persisted IVF-PQ lifecycle at
100k/1M vectors, against the SQ8 kind at the same scale.

Questions:
1. The memory story — on-disk codes bytes, PQ vs SQ8 (the 8-vs-64
   bytes/vector argument, measured on real parquet after encoding +
   compression).
2. Build cost: the PQ encode adds M·K sub-distance argmins per row on
   top of the shared n×cells assignment — fold vs `assign_blas=True`
   at both sizes (the assignment is the shared dominant term; §7o-r9).
3. Serve + recall on the clone-heavy stack: plain ADC (quantization
   noise on top of the §7o tie-density artifact) and the
   rerank-remedy serve, vs the exact baseline.
4. Lifecycle: append a 2k shard, compact via the kind-agnostic
   `compact_index`, serve after each.

Usage: python scripts/scale_pq_index.py [n ...]   # default 100000 1000000
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F  # noqa: E402

from scripts.scale_1m_index import stacked_corpus, timed  # noqa: E402

SF_DIR = "/root/testdata/sf0.1"


def du_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                total += os.path.getsize(os.path.join(root, f))
    return total


def main(sizes=(100_000, 1_000_000)) -> None:
    from mergers_acquisitions_predictions_spark.operators.ann_index import (
        append_index,
        build_ivfpq_index,
        build_ivfsq_index,
        compact_index,
        search_index,
    )
    from mergers_acquisitions_predictions_spark.operators.similarity import (
        auto_cells,
        brute_force_topk,
        topk_recall,
    )
    from mergers_acquisitions_predictions_spark.session import get_spark

    spark = get_spark(app_name="scale-pq-index")
    spark.sparkContext.setLogLevel("ERROR")
    scratch = "/tmp/mergers_acquisitions_scalepq"
    for n in sizes:
        row: dict = {"n": int(n)}
        corpus_path, row["t_stack"] = timed(stacked_corpus, spark, n, scratch)
        corpus = spark.read.parquet(corpus_path)
        queries = corpus.filter(F.col("vec_id") < 5)
        row["cells"] = auto_cells(n)

        # fold build only at the small size — the assignment fold is
        # the measured-slow term (§7o-r9: 329 s at 1M for SQ8; PQ
        # shares it and adds the encode); BLAS is the deployment
        # default at 1M+.
        if n <= 100_000:
            idx_fold = f"{scratch}/ivfpq_fold_{n}"
            _, row["t_build_fold"] = timed(
                build_ivfpq_index, corpus, idx_fold, n_cells=None
            )
        idx = f"{scratch}/ivfpq_{n}"
        _, row["t_build_blas"] = timed(
            build_ivfpq_index, corpus, idx, n_cells=None, assign_blas=True
        )
        row["bytes_pq_codes"] = du_bytes(idx)

        # the SQ8 kind at the same n (BLAS assignment) for the size
        # and build-cost comparison
        idx_sq = f"{scratch}/ivfsq_{n}"
        _, row["t_build_sq_blas"] = timed(
            build_ivfsq_index, corpus, idx_sq, n_cells=None, assign_blas=True
        )
        row["bytes_sq_codes"] = du_bytes(idx_sq)

        def serve(**kw):
            return search_index(
                spark, idx, queries, k=5, n_probe=2, **kw
            ).count()

        serve()  # cold
        row["t_serve_warm"] = min(timed(serve)[1] for _ in range(3))
        serve(rerank=50, vectors=corpus)
        row["t_serve_rerank50"] = min(
            timed(serve, rerank=50, vectors=corpus)[1] for _ in range(3)
        )

        exact = brute_force_topk(queries, corpus, k=5, score_blas=True).select(
            "query_id", "candidate_id"
        )
        exact.persist().count()
        for label, kw in (
            ("adc", {}),
            ("rerank50", {"rerank": 50, "vectors": corpus}),
        ):
            appr = search_index(
                spark, idx, queries, k=5, n_probe=2, **kw
            )
            rec = (
                topk_recall(exact, appr, k=5)
                .agg(F.avg("recall").alias("r"))
                .first()["r"]
            )
            row[f"recall_{label}"] = round(float(rec), 3)
        exact.unpersist()

        shard = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
            (F.col("vec_id") + F.lit(n)).alias("vec_id"),
            F.transform(
                "embedding",
                lambda x, i: x
                + 0.05 * F.sin(F.col("vec_id") * 131 + 999 + i.cast("double")),
            ).alias("embedding"),
        )
        _, row["t_append_2k"] = timed(append_index, shard, idx)
        serve()
        row["t_serve_post_append"] = min(timed(serve)[1] for _ in range(3))
        (fb, fa), row["t_compact"] = timed(compact_index, spark, idx)
        row["files_before_after"] = [fb, fa]
        serve()
        row["t_serve_post_compact"] = min(timed(serve)[1] for _ in range(3))
        print(json.dumps(row), flush=True)


if __name__ == "__main__":
    main(tuple(int(a) for a in sys.argv[1:]) or (100_000, 1_000_000))
