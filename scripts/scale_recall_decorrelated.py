"""§7o addendum: anchor vs sampled-k-means IVF recall on a
DECORRELATED corpus — the §7o caveat check. The stacked-jitter corpus
has clone-cluster structure that flatters learned centroids; here
every vector is an independent deterministic pseudo-random direction
(sin() of (vec_id, dim)), so there is no structure to learn. If the
sampled fit still matches-or-beats anchors here, the adoption is not
an artifact of the jitter harness. Prints one JSON line."""

from __future__ import annotations

import json
import shutil
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F  # noqa: E402


def timed(fn, *a, **kw):
    t0 = time.perf_counter()
    out = fn(*a, **kw)
    return out, round(time.perf_counter() - t0, 2)


def main(n: int = 1_000_000, dim: int = 64) -> None:
    from mergers_acquisitions_predictions_spark.operators.similarity import (
        auto_cells,
        brute_force_topk,
        collect_centroid_rows,
        ivf_centroids,
        ivf_topk,
        kmeans_centroids,
        topk_recall,
    )
    from mergers_acquisitions_predictions_spark.session import get_spark

    spark = get_spark(app_name="scale-recall-decorrelated")
    spark.sparkContext.setLogLevel("ERROR")
    scratch = "/tmp/mergers_acquisitions_decorr"
    path = f"{scratch}/corpus_{n}"
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
        .parquet(path)
    )
    corpus = spark.read.parquet(path)
    queries = corpus.filter(F.col("vec_id") < 5)
    cells = auto_cells(n)
    row = {"n": n, "dim": dim, "cells": cells}
    exact = brute_force_topk(queries, corpus, k=5).select(
        "query_id", "candidate_id"
    )
    exact.persist().count()
    legs = {
        "anchor": lambda: ivf_centroids(corpus, cells),
        "kmeans_sampled": lambda: kmeans_centroids(
            corpus, cells, fit_sample_per_cell=50
        ),
    }
    for label, mk in legs.items():
        cent, t_cent = timed(lambda: mk().persist())
        cent.count()
        appr = ivf_topk(
            queries,
            corpus,
            k=5,
            n_cells=cells,
            n_probe=2,
            centroids=cent,
            corpus_cache_key=(path, label),
        ).select("query_id", "candidate_id")
        rec, t_serve = timed(
            lambda: topk_recall(exact, appr, k=5)
            .agg(F.avg("recall").alias("r"))
            .first()["r"]
        )
        row[f"t_centroids_{label}"] = t_cent
        row[f"t_assign_serve_{label}"] = t_serve
        row[f"recall_{label}"] = round(float(rec), 3)
        cent.unpersist()
    exact.unpersist()
    print(json.dumps(row))
    shutil.rmtree(scratch, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main(*[int(a) for a in sys.argv[1:]])
