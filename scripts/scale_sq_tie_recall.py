"""§7o-r8: isolate WHY anchor recall cratered to 0.24 at 1M (§7o main
table). Hypothesis: the cliff is a SCORING artifact, not a centroid
artifact — §7o compared anchors served through the SQ8-QUANTIZED
persisted index against learned centroids served through the
EXACT-scored `ivf_topk`. On the stacked clone corpus every query's
true top-k competes inside a ~500-deep group of near-identical
clones; SQ8's dequantized-dot rounding reorders those near-ties
relative to exact cosine, so ANY centroid set served through SQ8
should show the cliff, and ANY centroid set served exactly should
not. Four legs at 1M stacked, §7o's exact query set (vec_id < 5):

    anchors  + SQ8 scoring      (the §7o "0.24" leg, replicated)
    learned  + SQ8 scoring      (NEW: possible only since
                                 build_ivfsq_index(centroids=...))
    anchors  + exact scoring    (NEW: the control §7o never ran)
    learned  + exact scoring    (the §7o "1.00" leg, replicated)

plus a tie-width diagnostic: for query 0, how many probed candidates
sit within one 1e-6 rounding quantum of the top exact cosine, and how
many DISTINCT rounded SQ8 scores the same span collapses to. Prints
one JSON line.
"""

from __future__ import annotations

import json
import shutil
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F  # noqa: E402

from scale_recall_sweep import stacked_corpus  # noqa: E402


def timed(fn, *a, **kw):
    t0 = time.perf_counter()
    out = fn(*a, **kw)
    return out, round(time.perf_counter() - t0, 2)


def main(n: int = 1_000_000) -> None:
    from mergers_acquisitions_predictions_spark.operators.ann_index import (
        build_ivfsq_index,
        search_index,
    )
    from mergers_acquisitions_predictions_spark.operators.similarity import (
        auto_cells,
        brute_force_topk,
        ivf_centroids,
        ivf_topk,
        kmeans_centroids,
        topk_recall,
    )
    from mergers_acquisitions_predictions_spark.session import get_spark

    spark = get_spark(app_name="scale-sq-tie-recall")
    spark.sparkContext.setLogLevel("ERROR")
    scratch = "/tmp/mergers_acquisitions_sq_tie"
    path = stacked_corpus(spark, n, scratch)
    corpus = spark.read.parquet(path)
    queries = corpus.filter(F.col("vec_id") < 5)
    cells = auto_cells(n)
    row = {"n": n, "cells": cells, "queries": "vec_id<5 (the §7o set)"}

    exact = brute_force_topk(queries, corpus, k=5).select(
        "query_id", "candidate_id"
    )
    exact.persist().count()

    def recall_of(appr) -> float:
        return round(
            float(
                topk_recall(exact, appr.select("query_id", "candidate_id"), k=5)
                .agg(F.avg("recall").alias("r"))
                .first()["r"]
            ),
            3,
        )

    cent_sets = {
        "anchor": ivf_centroids(corpus, cells).persist(),
        "learned": kmeans_centroids(
            corpus, cells, fit_sample_per_cell=50
        ).persist(),
    }
    for label, cent in cent_sets.items():
        cent.count()
        # SQ8-scored serve through the persisted index
        idx = f"{scratch}/idx_{label}"
        _, t_build = timed(
            build_ivfsq_index, corpus, idx, n_cells=cells, centroids=cent
        )
        appr_sq = search_index(spark, idx, queries, k=5, n_probe=2)
        row[f"recall_{label}_sq8"] = recall_of(appr_sq)
        row[f"t_build_{label}"] = t_build
        # exact-scored serve over the SAME centroids
        appr_ex = ivf_topk(
            queries,
            corpus,
            k=5,
            n_cells=cells,
            n_probe=2,
            centroids=cent,
            corpus_cache_key=(path, label),
            queries_cache_key=(path, label, "q"),
        )
        row[f"recall_{label}_exact"] = recall_of(appr_ex)
        print(
            json.dumps({k: v for k, v in row.items() if label in k}),
            file=sys.stderr,
            flush=True,
        )

    # tie-width diagnostic for query 0 against the full corpus: exact
    # cosines within one rounding quantum of the max, and the distinct
    # SQ8 scores that span collapses to (probed-cell scale)
    from mergers_acquisitions_predictions_spark.functions.vectors import l2_norm

    q0 = corpus.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qv"), l2_norm("embedding").alias("qn")
    )
    scored = corpus.crossJoin(F.broadcast(q0)).select(
        F.round(
            F.aggregate(
                F.zip_with("embedding", "qv", lambda a, b: a.cast("double") * b),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            / (l2_norm("embedding") * F.col("qn")),
            6,
        ).alias("cos")
    )
    mx = scored.agg(F.max("cos")).first()[0]
    row["q0_within_1q_of_max"] = scored.filter(
        F.col("cos") >= mx - 1e-6
    ).count()
    row["q0_max_cos"] = mx
    print(json.dumps(row))
    for cent in cent_sets.values():
        cent.unpersist()
    exact.unpersist()
    shutil.rmtree(scratch, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main(*[int(a) for a in sys.argv[1:]])
