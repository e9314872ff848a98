"""SCALE.md §7o measurement: the persisted IVF-SQ8 index lifecycle at
~1M vectors (10× the §7m ceiling) + sampled-vs-full centroid fit.

Two questions (VERDICT r6 #6):
1. Does the build's n·√n curve and the serve's √n curve hold at 1M —
   the regime the §7i amortization argument leans on?
2. Does fitting k-means centroids on a content-keyed sample
   (~50 rows/cell) hold recall@5 against the full-corpus fit while
   cutting the iters × n × cells Lloyd cost?

Corpus: the sf0.1 embeddings table (2,000 × dim-64) stacked with
per-copy directional jitter (deterministic sin() of (vec_id, copy,
dim index) — decorrelates the copies like §7m's sweep). Usage:

    python scripts/scale_1m_index.py [n_vectors ...]   # default 100000 1000000
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


def stacked_corpus(spark, n: int, scratch: str) -> str:
    """Write an n-vector jittered stack of the sf0.1 embeddings and
    return its path. One parquet pass; ~512 MB at 1M × 64 doubles."""
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


def timed(fn, *a, **kw):
    t0 = time.perf_counter()
    out = fn(*a, **kw)
    return out, round(time.perf_counter() - t0, 2)


def main(sizes=(100_000, 1_000_000)) -> None:
    from mergers_acquisitions_predictions_spark.operators.ann_index import (
        append_index,
        build_ivfsq_index,
        compact_index,
        search_index,
    )
    from mergers_acquisitions_predictions_spark.operators.similarity import (
        auto_cells,
        brute_force_topk,
        ivf_topk,
        kmeans_centroids,
        topk_recall,
    )
    from mergers_acquisitions_predictions_spark.session import get_spark

    spark = get_spark(app_name="scale-1m-index")
    spark.sparkContext.setLogLevel("ERROR")
    scratch = "/tmp/mergers_acquisitions_scale1m"
    results = []
    for n in sizes:
        row: dict = {"n": int(n)}
        corpus_path, row["t_stack"] = timed(stacked_corpus, spark, n, scratch)
        corpus = spark.read.parquet(corpus_path)
        queries = corpus.filter(F.col("vec_id") < 5)
        cells = auto_cells(n)
        row["cells"] = cells
        idx = f"{scratch}/ivfsq_{n}"
        _, row["t_build"] = timed(
            build_ivfsq_index, corpus, idx, n_cells=None
        )

        def serve():
            return search_index(
                spark, idx, queries, k=5, n_probe=2
            ).count()

        serve()  # cold
        row["t_serve_warm"] = min(timed(serve)[1] for _ in range(3))

        # exact baseline for recall (5 queries × n cosines, one pass)
        exact = brute_force_topk(queries, corpus, k=5).select(
            "query_id", "candidate_id"
        )
        exact.persist().count()
        approx = search_index(spark, idx, queries, k=5, n_probe=2)
        rec = topk_recall(exact, approx, k=5).agg(
            F.avg("recall").alias("r")
        ).first()["r"]
        row["recall_anchor_ivfsq"] = round(float(rec), 3)

        # append one jittered 2k shard, then compact
        shard = (
            spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
            .select(
                (F.col("vec_id") + F.lit(n)).alias("vec_id"),
                F.transform(
                    "embedding",
                    lambda x, i: x
                    + 0.05 * F.sin(F.col("vec_id") * 131 + 999 + i.cast("double")),
                ).alias("embedding"),
            )
        )
        _, row["t_append_2k"] = timed(append_index, shard, idx)
        serve()
        row["t_serve_post_append"] = min(timed(serve)[1] for _ in range(3))
        (files_b, files_a), row["t_compact"] = timed(
            compact_index, spark, idx
        )
        row["files_before_after"] = [files_b, files_a]
        serve()
        row["t_serve_post_compact"] = min(timed(serve)[1] for _ in range(3))

        # sampled centroid fit vs full fit (full only at 100k — at 1M
        # the full Lloyd pass is the cost the sample exists to avoid;
        # measured extrapolation documented in SCALE.md)
        ck = (corpus_path, "stack", n)
        fit_legs = [("sampled", 50)] + ([("full", None)] if n <= 100_000 else [])
        for label, spc in fit_legs:
            cent, t_fit = timed(
                kmeans_centroids, corpus, cells, fit_sample_per_cell=spc
            )
            cent = cent.persist()
            cent.count()
            appr = ivf_topk(
                queries,
                corpus,
                k=5,
                n_cells=cells,
                n_probe=2,
                centroids=cent,
                corpus_cache_key=(*ck, label),
                queries_cache_key=(*ck, label, "q"),
            ).select("query_id", "candidate_id")
            rec = topk_recall(exact, appr, k=5).agg(
                F.avg("recall").alias("r")
            ).first()["r"]
            row[f"t_fit_{label}"] = t_fit
            row[f"recall_kmeans_{label}"] = round(float(rec), 3)
            cent.unpersist()
        exact.unpersist()
        results.append(row)
        print(json.dumps(row), flush=True)
        from mergers_acquisitions_predictions_spark.operators.util import (
            release_memoized_frames,
        )

        release_memoized_frames()
        spark.catalog.clearCache()
    print(json.dumps({"all": results}))
    shutil.rmtree(scratch, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main(tuple(int(a) for a in sys.argv[1:]) or (100_000, 1_000_000))
