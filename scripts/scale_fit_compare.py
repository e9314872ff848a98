"""§7o follow-up: sampled-vs-full k-means fit at 100k vectors with the
sampling floor lowered (the main sweep's 100k leg sits exactly ON the
floor, so both its fit legs ran full). Prints one JSON line:
fit times + recall@5 of the IVF serve under each centroid set."""

from __future__ import annotations

import json
import shutil
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F  # noqa: E402

from scale_1m_index import stacked_corpus, timed  # noqa: E402


def main(n: int = 100_000) -> None:
    from mergers_acquisitions_predictions_spark.operators import similarity as S
    from mergers_acquisitions_predictions_spark.operators.similarity import (
        auto_cells,
        brute_force_topk,
        ivf_topk,
        kmeans_centroids,
        topk_recall,
    )
    from mergers_acquisitions_predictions_spark.session import get_spark

    spark = get_spark(app_name="scale-fit-compare")
    spark.sparkContext.setLogLevel("ERROR")
    scratch = "/tmp/mergers_acquisitions_fitcmp"
    corpus_path, _ = timed(stacked_corpus, spark, n, scratch)
    corpus = spark.read.parquet(corpus_path)
    queries = corpus.filter(F.col("vec_id") < 5)
    cells = auto_cells(n)
    exact = brute_force_topk(queries, corpus, k=5).select(
        "query_id", "candidate_id"
    )
    exact.persist().count()
    S._FIT_SAMPLE_FLOOR = 0  # the comparison IS the point here
    row = {"n": n, "cells": cells}
    for label, spc in (("full", None), ("sampled", 50)):
        cent, t_fit = timed(kmeans_centroids, corpus, cells, fit_sample_per_cell=spc)
        cent = cent.persist()
        cent.count()
        appr = ivf_topk(
            queries,
            corpus,
            k=5,
            n_cells=cells,
            n_probe=2,
            centroids=cent,
            corpus_cache_key=(corpus_path, label),
        ).select("query_id", "candidate_id")
        rec = (
            topk_recall(exact, appr, k=5).agg(F.avg("recall").alias("r")).first()["r"]
        )
        row[f"t_fit_{label}"] = t_fit
        row[f"recall_{label}"] = round(float(rec), 3)
        cent.unpersist()
    print(json.dumps(row))
    shutil.rmtree(scratch, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main(*[int(a) for a in sys.argv[1:]])
