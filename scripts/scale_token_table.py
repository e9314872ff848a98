"""SCALE.md §7r-c measurement: the MATERIALIZED token table
(round 11, `maxsim.write_token_table` / `read_token_table`) vs the
serve-time explode, on the 1M clone-heavy stack.

§7r's addendum priced the serve-time token derivation (slice math +
posexplode per serve) at +1.8 s/1M over the array path and named the
fix: write the encoder's (id, token_id, vector) parquet ONCE,
clustered by document id, and let every serve scan it with the
shortlist ids pushed down. This script measures exactly that A/B —
the s27-shaped serve (SQ8 shortlist + token rerank) with tokens
(a) exploded at serve time vs (b) read from the materialized table
with the ids In-filter pruning the scan.

Usage: python scripts/scale_token_table.py [n ...]   # default 1000000
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F  # noqa: E402

from scripts.scale_1m_index import stacked_corpus, timed  # noqa: E402

T = 4
SUB = 16
R = 50
N_QUERIES = 200


def main(sizes=(1_000_000,)) -> None:
    from mergers_acquisitions_predictions_spark.operators.ann_index import (
        build_ivfsq_index,
        search_index,
    )
    from mergers_acquisitions_predictions_spark.operators.maxsim import (
        maxsim_rerank_tokens,
        read_token_table,
        token_slices,
        write_token_table,
    )
    from mergers_acquisitions_predictions_spark.session import get_spark

    spark = get_spark(app_name="scale-token-table")
    spark.sparkContext.setLogLevel("ERROR")
    scratch = "/tmp/mergers_acquisitions_scaletoktbl"
    for n in sizes:
        row: dict = {"n": int(n), "R": R, "n_queries": N_QUERIES}
        corpus_path, row["t_stack"] = timed(stacked_corpus, spark, n, scratch)
        corpus = spark.read.parquet(corpus_path)
        queries = corpus.filter(F.col("vec_id") < N_QUERIES)
        idx = f"{scratch}/ivfsq_{n}"
        _, row["t_build_blas"] = timed(
            build_ivfsq_index, corpus, idx, n_cells=None, assign_blas=True
        )
        toks = corpus.select(
            "vec_id",
            F.posexplode(token_slices(F.col("embedding"), T, SUB)).alias(
                "token_id", "token"
            ),
        )
        tokpq = f"{scratch}/toktbl_{n}"
        _, row["t_write_token_table"] = timed(write_token_table, toks, tokpq)

        def serve_explode():
            sl = search_index(spark, idx, queries, k=R, n_probe=2)
            qt = toks.filter(F.col("vec_id") < N_QUERIES)
            return maxsim_rerank_tokens(sl, qt, toks, k=5).count()

        def serve_mattable_semi():
            # apples-to-apples vs explode: ONE first stage, the same
            # broadcast-semi-join candidate cut inside the rerank —
            # only the token SOURCE differs (parquet scan vs slice
            # derivation over the corpus scan)
            sl = search_index(spark, idx, queries, k=R, n_probe=2)
            tt = read_token_table(spark, tokpq)
            qt = tt.filter(F.col("vec_id") < N_QUERIES)
            return maxsim_rerank_tokens(sl, qt, tt, k=5).count()

        def serve_mattable_ids():
            # the ids-pushdown shape: the shortlist is materialized
            # ONCE (driver-sized by the serving contract — persisting
            # it avoids paying the first stage twice), its ids prune
            # the token scan as a pushed In filter
            sl = (
                search_index(spark, idx, queries, k=R, n_probe=2)
                .select("query_id", "candidate_id")
                .persist()
            )
            try:
                ids = [
                    r["candidate_id"]
                    for r in sl.select("candidate_id").distinct().collect()
                ]
                qt = read_token_table(spark, tokpq, ids=list(range(N_QUERIES)))
                ct = read_token_table(spark, tokpq, ids=ids)
                return maxsim_rerank_tokens(sl, qt, ct, k=5).count()
            finally:
                sl.unpersist()

        serve_explode()  # prime meta/memo
        row["t_serve_tokens_explode"] = min(
            timed(serve_explode)[1] for _ in range(3)
        )
        row["t_serve_tokens_mattable_semi"] = min(
            timed(serve_mattable_semi)[1] for _ in range(3)
        )
        row["t_serve_tokens_mattable_ids"] = min(
            timed(serve_mattable_ids)[1] for _ in range(3)
        )
        print(json.dumps(row), flush=True)


if __name__ == "__main__":
    main(tuple(int(a) for a in sys.argv[1:]) or (1_000_000,))
