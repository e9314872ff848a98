"""VERDICT r11 #7 (measured-first): does RESIDUAL PQ encoding —
encode x_unit − centroid(cell(x)) instead of x_unit, the classic
IVF-ADC refinement (Jégou, Douze & Schmid 2011, "Product
Quantization for Nearest Neighbor Search" §IV.B) — buy recall at the
SAME bytes on our corpora?

Theory says residual encoding helps when the IVF coarse quantizer
captures real structure: the residual distribution is tighter than
the raw one, so the same K codewords per subspace quantize it with
less error. It should NOT help when vectors are unstructured (the
residual is just the raw vector minus a near-constant) — so we
measure BOTH corpora classes:

  - `stacked`: the clone-jittered sf0.1 embedding stack (real
    cluster structure — the corpus class where §7q measured the
    learned-books/rerank story),
  - `decorr`: independent pseudo-random directions (the §7o caveat
    corpus — no structure to learn).

Both routes score plain ADC over ALL rows (no IVF probe cut — this
isolates ENCODING error from shortlist-containment effects; at the
probe stage the two routes see identical cells by construction since
the coarse quantizer is shared) with learned per-subspace k-means
books fitted on each route's own input (unit vectors vs residuals),
same M, same K. Truth = exact cosine top-5. Prints one JSON line per
(corpus, K).

Implementation note: the engine's `pq_encode`/`pq_adc_table` take a
COLUMN, so the residual route needs no new operator — the residual
expression feeds the same encode/ADC machinery; the query-side ADC
table is per (query, candidate-cell) as in classic IVF-ADC (dtab
computed from q_unit − c_cell, joined on the candidate's cell).

Usage: python scripts/scale_pq_residual.py [n]   # default 200000
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F  # noqa: E402

from scripts.scale_1m_index import stacked_corpus, timed  # noqa: E402

M = 8
DIM = 64
K_LEGS = (16, 256)


def decorr_corpus(spark, n: int, scratch: str) -> str:
    """Independent deterministic pseudo-random directions (the
    scale_recall_decorrelated corpus)."""
    out = f"{scratch}/decorr_{n}"
    (
        spark.range(n)
        .select(
            F.col("id").alias("vec_id"),
            F.transform(
                F.sequence(F.lit(1), F.lit(DIM)),
                lambda i: F.sin(F.col("id") * 131.0 + i.cast("double") * 7.0),
            ).alias("embedding"),
        )
        .repartition(32)
        .write.mode("overwrite")
        .parquet(out)
    )
    return out


def fit_books_on(frame, vec_col: str, n_codes: int, seed: int = 42):
    """Per-subspace k-means books over ``vec_col`` AS GIVEN (no
    normalization — the residual route's input must not be re-unit'd;
    for the raw route pass the unit column): the package's one fit
    kernel, unsampled."""
    from mergers_acquisitions_predictions_spark.operators.similarity import (
        fit_kmeans_books,
    )

    return fit_kmeans_books(
        frame, "candidate_id", vec_col, M, n_codes, seed, 20, None, None,
        pre=lambda f: (f, F.col(vec_col)),
    )


def main(n: int = 200_000) -> None:
    from mergers_acquisitions_predictions_spark.functions.vectors import (
        l2_norm,
    )
    from mergers_acquisitions_predictions_spark.operators.pq import (
        _unit,
        adc_sum,
        pq_adc_table,
        pq_encode,
    )
    from mergers_acquisitions_predictions_spark.operators.similarity import (
        auto_cells,
        brute_force_topk,
        collect_centroid_rows,
        ivf_assign_literal,
        ivf_centroids,
        topk_recall,
    )
    from mergers_acquisitions_predictions_spark.operators.util import (
        local_rows_df,
    )
    from mergers_acquisitions_predictions_spark.session import get_spark
    from pyspark.sql import Window as W

    spark = get_spark(app_name="scale-pq-residual")
    spark.sparkContext.setLogLevel("ERROR")
    scratch = "/tmp/mergers_acquisitions_pqres"

    for corpus_kind, mk in (
        ("stacked", stacked_corpus),
        ("decorr", decorr_corpus),
    ):
        path = mk(spark, n, scratch)
        corpus = spark.read.parquet(path)
        queries = corpus.filter(F.col("vec_id") < 5)
        cells = auto_cells(n)
        cent_rows = collect_centroid_rows(ivf_centroids(corpus, cells))
        cent_df = local_rows_df(
            spark,
            [(int(c), [float(x) for x in v]) for c, v, _ in cent_rows],
            "cell_id BIGINT, cent ARRAY<DOUBLE>",
        )
        exact = (
            brute_force_topk(queries, corpus, k=5)
            .select("query_id", "candidate_id")
            .persist()
        )
        exact.count()

        # shared per-row prep: cell assignment + unit vector, persisted
        # once so the fit/encode legs of both routes read one artifact
        assigned = (
            ivf_assign_literal(corpus, cent_rows, "candidate_id", 1)
            .select(
                "candidate_id",
                "cell_id",
                _unit(F.col("__vec"), F.col("__norm")).alias("unit"),
            )
            .join(F.broadcast(cent_df), "cell_id")
            .select(
                "candidate_id",
                "cell_id",
                "unit",
                F.zip_with("unit", "cent", lambda a, b: a - b).alias("resid"),
            )
            .persist()
        )
        assigned.count()
        q_unit = queries.select(
            "vec_id",
            _unit(
                F.transform("embedding", lambda x: x.cast("double")),
                l2_norm(F.col("embedding")),
            ).alias("unit"),
        )

        for K in K_LEGS:
            row = {"corpus": corpus_kind, "n": n, "M": M, "K": K, "cells": cells}
            books_raw, row["t_fit_raw"] = timed(
                fit_books_on, assigned, "unit", K
            )
            books_res, row["t_fit_resid"] = timed(
                fit_books_on, assigned, "resid", K
            )

            # route A — raw encoding: one dtab per query, ADC over all
            raw_codes = assigned.select(
                "candidate_id", pq_encode(F.col("unit"), books_raw).alias("pq")
            )
            qa = q_unit.select(
                F.col("vec_id").alias("query_id"),
                pq_adc_table(F.col("unit"), books_raw).alias("dtab"),
            )
            raw_scored = (
                raw_codes.crossJoin(F.broadcast(qa))
                .filter(F.col("query_id") != F.col("candidate_id"))
                .select(
                    "query_id",
                    "candidate_id",
                    F.round(adc_sum(M), 6).alias("adc"),
                )
            )
            w = W.partitionBy("query_id").orderBy(
                F.asc("adc"), F.asc("candidate_id")
            )
            raw_top = (
                raw_scored.withColumn("rank", F.row_number().over(w))
                .filter(F.col("rank") <= 5)
                .select("query_id", "candidate_id")
            )
            _, row["t_raw_score"] = timed(raw_top.count)
            row["recall_raw"] = round(
                float(
                    topk_recall(exact, raw_top, k=5)
                    .agg(F.avg("recall").alias("r"))
                    .first()["r"]
                ),
                3,
            )

            # route B — residual encoding: dtab per (query, cell) from
            # q_unit − c_cell, joined on the candidate's cell (classic
            # IVF-ADC; here over ALL cells since we score all rows)
            res_codes = assigned.select(
                "candidate_id",
                "cell_id",
                pq_encode(F.col("resid"), books_res).alias("pq"),
            )
            qb = (
                q_unit.select(F.col("vec_id").alias("query_id"), "unit")
                .crossJoin(F.broadcast(cent_df))
                .select(
                    "query_id",
                    "cell_id",
                    pq_adc_table(
                        F.zip_with("unit", "cent", lambda a, b: a - b),
                        books_res,
                    ).alias("dtab"),
                )
            )
            res_scored = (
                res_codes.join(F.broadcast(qb), "cell_id")
                .filter(F.col("query_id") != F.col("candidate_id"))
                .select(
                    "query_id",
                    "candidate_id",
                    F.round(adc_sum(M), 6).alias("adc"),
                )
            )
            res_top = (
                res_scored.withColumn("rank", F.row_number().over(w))
                .filter(F.col("rank") <= 5)
                .select("query_id", "candidate_id")
            )
            _, row["t_resid_score"] = timed(res_top.count)
            row["recall_resid"] = round(
                float(
                    topk_recall(exact, res_top, k=5)
                    .agg(F.avg("recall").alias("r"))
                    .first()["r"]
                ),
                3,
            )
            print(json.dumps(row), flush=True)
        assigned.unpersist()
        exact.unpersist()


if __name__ == "__main__":
    main(int(sys.argv[1]) if len(sys.argv) > 1 else 200_000)
