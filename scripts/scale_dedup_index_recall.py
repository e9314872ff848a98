"""§7o-r9: MEASURE the two §7o-r8 remedies at 1M stacked — the legs
r8 recommended but never ran. The corrected §7o story says SQ8 recall
collapses on clone-saturated corpora because quantized-dot noise
(±~0.002) cannot order a 500-deep cohort of near-identical clones;
the remedies are (a) near-dup the corpus BEFORE indexing (the s21
pipeline) and (b) exact re-rank of an overfetched shortlist (the s20
serve). Both are driver-certified for correctness at oracle SFs; this
script certifies the SCALE claim: at 1M stacked, each remedy restores
the recall the plain SQ8 serve loses.

Legs (k=5, n_probe=2, §7o query set vec_id < 5, auto cells):

    baseline   plain SQ8 serve on the full 1M      (replicates 0.24)
    rerank     SQ8 overfetch R=50 + exact rescore  (remedy b, s20)
               vs the SAME full-corpus exact truth
    dedup      SemDeDup(threshold 0.9, sqrt-n cells) -> survivors ->
               SQ8 index on survivors -> serve     (remedy a, s21)
               vs exact truth ON THE SURVIVORS (after dedup, the
               deduped corpus IS the serving corpus — recall against
               vectors the pipeline deliberately removed would
               measure the dedup, not the index)

plus pipeline economics: survivor count, per-stage wall seconds.
Prints one JSON line (plus per-leg progress on stderr).

Run: python scripts/scale_dedup_index_recall.py [n]
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
        semantic_dedup,
        topk_recall,
    )
    from mergers_acquisitions_predictions_spark.session import get_spark

    spark = get_spark(app_name="scale-dedup-index-recall")
    spark.sparkContext.setLogLevel("ERROR")
    scratch = "/tmp/mergers_acquisitions_dedup_idx"
    path = stacked_corpus(spark, n, scratch)
    corpus = spark.read.parquet(path)
    queries = corpus.filter(F.col("vec_id") < 5)
    row = {"n": n, "cells_full": auto_cells(n), "k": 5, "n_probe": 2}

    def recall_of(exact, appr) -> float:
        return round(
            float(
                topk_recall(exact, appr.select("query_id", "candidate_id"), k=5)
                .agg(F.avg("recall").alias("r"))
                .first()["r"]
            ),
            3,
        )

    # full-corpus exact truth (5 queries x 1M — one broadcast scan)
    exact_full, t = timed(
        lambda: brute_force_topk(queries, corpus, k=5)
        .select("query_id", "candidate_id")
        .persist()
    )
    exact_full.count()
    row["t_exact_full"] = t

    # --- baseline: plain SQ8 serve on the full corpus ---------------
    idx_full = f"{scratch}/idx_full"
    _, row["t_build_full"] = timed(
        build_ivfsq_index, corpus, idx_full, n_cells=row["cells_full"]
    )
    appr, row["t_serve_sq8"] = timed(
        lambda: search_index(
            spark, idx_full, queries, k=5, n_probe=2
        ).persist()
    )
    row["recall_sq8_full"] = recall_of(exact_full, appr)
    appr.unpersist()
    print(json.dumps({k: row[k] for k in ("recall_sq8_full",)}), file=sys.stderr, flush=True)

    # --- remedy (b), the s20 serve: overfetch + exact re-rank -------
    appr, row["t_serve_rerank"] = timed(
        lambda: search_index(
            spark, idx_full, queries, k=5, n_probe=2, rerank=50, vectors=corpus
        ).persist()
    )
    row["recall_rerank50"] = recall_of(exact_full, appr)
    appr.unpersist()
    print(json.dumps({k: row[k] for k in ("recall_rerank50", "t_serve_rerank")}), file=sys.stderr, flush=True)

    # --- remedy (a), the s21 pipeline: SemDeDup -> build -> serve ---
    # threshold 0.9: jittered clones sit ~0.87-0.99 cosine pairwise
    # (components bridge the sub-threshold pairs), unrelated base
    # vectors ~|0.1| at 64 dims — the cohort edge set, nothing else.
    # sqrt-n cells bound the within-cell pair space. `sd` OWNS the
    # component loop's localCheckpoint blocks (the s21 lesson): it
    # must stay referenced until every derived frame is materialized.
    t0 = time.perf_counter()
    sd = semantic_dedup(
        corpus, threshold=0.9, n_cells=row["cells_full"], use_arrow=True
    )
    dd = sd.filter(F.col("keep")).select("vec_id").persist()
    row["survivors"] = dd.count()
    row["t_dedup"] = round(time.perf_counter() - t0, 2)
    print(
        json.dumps({k: row[k] for k in ("survivors", "t_dedup")}),
        file=sys.stderr,
        flush=True,
    )
    kept = corpus.join(dd, "vec_id", "left_semi").persist()
    kept.count()
    row["cells_dedup"] = auto_cells(row["survivors"])
    idx_dd = f"{scratch}/idx_dedup"
    _, row["t_build_dedup"] = timed(
        build_ivfsq_index, kept, idx_dd, n_cells=None
    )
    # exact truth on the survivors — the post-dedup serving corpus
    exact_dd, row["t_exact_dedup"] = timed(
        lambda: brute_force_topk(queries, kept, k=5)
        .select("query_id", "candidate_id")
        .persist()
    )
    exact_dd.count()
    appr, row["t_serve_dedup"] = timed(
        lambda: search_index(
            spark, idx_dd, queries, k=5, n_probe=2
        ).persist()
    )
    row["recall_sq8_dedup"] = recall_of(exact_dd, appr)
    appr.unpersist()

    print(json.dumps(row))
    for f in (exact_full, exact_dd, dd, kept):
        f.unpersist()
    del sd  # checkpoint owner released only after all consumers ran
    shutil.rmtree(scratch, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main(*[int(a) for a in sys.argv[1:]])
