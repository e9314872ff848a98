"""SCALE.md §7r-b measurement: the full late-interaction retrieval
(s28, `maxsim_search_tokens`) at scale — and the persisted-index
route that replaces its in-memory first stage for deployment.

The token-level first stage indexes T× the corpus rows; its
assignment term is the §7o-r9 build cost at T×n. Two routes:
1. IN-MEMORY (`ivf_topk`, what s28 registers): fold assignment of
   n·T tokens to √(n·T) cells — fine at oracle SFs, the expensive
   shape at 1M docs (4M tokens × 2000 cells).
2. PERSISTED (composition, measured here): the token frame is just
   (id, embedding), so `build_ivfsq_index(assign_blas=True)` builds
   the token index with the matmul assignment, `search_index`
   serves each query token's top-k0 from the pruned scan, and the
   parent mapping + `maxsim_rerank_tokens` finish exactly as s28 —
   the recommended deployment shape, priced here.

Usage: python scripts/scale_colbert.py [n_docs ...]   # default 100000
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


def main(sizes=(100_000,)) -> None:
    from mergers_acquisitions_predictions_spark.operators.ann_index import (
        build_ivfsq_index,
        search_index,
    )
    from mergers_acquisitions_predictions_spark.operators.maxsim import (
        maxsim_rerank_tokens,
        maxsim_search_tokens,
        token_slices,
    )
    from mergers_acquisitions_predictions_spark.session import get_spark

    spark = get_spark(app_name="scale-colbert")
    spark.sparkContext.setLogLevel("ERROR")
    scratch = "/tmp/mergers_acquisitions_scalecolbert"
    for n in sizes:
        row: dict = {"n_docs": int(n), "n_tokens": int(n) * T}
        corpus_path, _ = timed(stacked_corpus, spark, n, scratch)
        corpus = spark.read.parquet(corpus_path)
        toks = corpus.select(
            "vec_id",
            F.posexplode(token_slices(F.col("embedding"), T, SUB)).alias(
                "token_id", "token"
            ),
        )
        qtoks = toks.filter(F.col("vec_id") < 50)

        if n <= 100_000:
            # route 1: the registered in-memory shape (fold assignment)
            def inmem():
                return maxsim_search_tokens(
                    qtoks, toks, k=5, k0=10, n_tokens=T, n_probe=2
                ).count()

            _, row["t_inmem_cold"] = timed(inmem)
            row["t_inmem_warm"] = min(timed(inmem)[1] for _ in range(2))

        # route 2: persisted token index, BLAS assignment — the
        # registered composition (s30: build_token_index +
        # maxsim_search_tokens_persisted), with the LONG-FORMAT token
        # table written once (the encoder-output parquet a real
        # deployment materializes) so the build prices index work,
        # not the slice derivation
        from mergers_acquisitions_predictions_spark.operators.maxsim import (
            build_token_index,
            maxsim_search_tokens_persisted,
            write_token_table,
        )

        idx = f"{scratch}/tokidx_{n}"
        tokpq = f"{scratch}/tokens_{n}"
        _, row["t_write_token_table"] = timed(write_token_table, toks, tokpq)
        tok_tbl = spark.read.parquet(tokpq)
        _, row["t_build_token_index_blas"] = timed(
            build_token_index, tok_tbl, idx, T, assign_blas=True
        )

        def persisted():
            return maxsim_search_tokens_persisted(
                spark, idx, qtoks, tok_tbl, k=5, k0=10, n_tokens=T, n_probe=2
            ).count()

        persisted()  # prime meta/memo
        row["t_persisted_serve"] = min(timed(persisted)[1] for _ in range(3))

        # route 3 (round 11): the COMPRESSED token-index kind — PQ
        # codes are 4 bytes/token vs 16 SQ8 bytes, and token indexes
        # carry T× the corpus rows, so the compression matters MORE
        # here; serve goes through the same kind-sniffing entry point
        import subprocess

        pq_idx = f"{scratch}/tokidx_pq_{n}"
        _, row["t_build_token_index_pq_blas"] = timed(
            build_token_index,
            tok_tbl,  # the long-format parquet from write_token_table
            pq_idx,
            T,
            kind="ivfpq",
            n_subspaces=4,
            n_codes=16,
            assign_blas=True,
        )

        def persisted_pq():
            # tok_tbl (the materialized parquet), NOT the slice-derived
            # in-memory frame: route 2 reranks from the table, so the
            # two serve timings must read tokens the same way to be
            # apples-to-apples (ADVICE r11).
            return maxsim_search_tokens_persisted(
                spark, pq_idx, qtoks, tok_tbl, k=5, k0=10, n_tokens=T, n_probe=2
            ).count()

        persisted_pq()
        row["t_persisted_pq_serve"] = min(timed(persisted_pq)[1] for _ in range(3))

        def _du(p):
            # LIVE generation only (round 12): a rebuild over a prior
            # session's scratch artifact retains one old generation
            # (the commit protocol's reader-safety contract), and
            # whole-path du double-counted it — r11's 6.3/25.2 MB
            # figures included retained generations on both sides.
            from mergers_acquisitions_predictions_spark.operators.ann_index import (
                _resolve_codes_name,
            )

            try:
                live = f"{p}/{_resolve_codes_name(spark, p)}"
                out = subprocess.run(
                    ["du", "-sb", live], capture_output=True, text=True
                ).stdout
                return int(out.split()[0])
            except Exception:
                return None

        row["bytes_codes_sq8"] = _du(idx)
        row["bytes_codes_pq"] = _du(pq_idx)

        if n <= 100_000:
            # does the ×16 route cost recall? agreement of the
            # persisted (QUANTIZED first stage) route's top-5 with the
            # in-memory (exact-cosine first stage) route's top-5
            from mergers_acquisitions_predictions_spark.operators.similarity import (
                topk_recall,
            )

            inmem_df = maxsim_search_tokens(
                qtoks, toks, k=5, k0=10, n_tokens=T, n_probe=2
            )
            pers_df = maxsim_search_tokens_persisted(
                spark, idx, qtoks, tok_tbl, k=5, k0=10, n_tokens=T, n_probe=2
            )
            rec = (
                topk_recall(inmem_df, pers_df, k=5)
                .agg(F.avg("recall").alias("r"))
                .first()["r"]
            )
            row["persisted_vs_inmem_recall@5"] = round(float(rec), 3)
        print(json.dumps(row), flush=True)


if __name__ == "__main__":
    main(tuple(int(a) for a in sys.argv[1:]) or (100_000,))
