"""Benchmark harness (driver contract).

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON
line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is executed to completion via a `noop`-format write: every
output column is fully evaluated (a bare count() would let Catalyst
prune expensive projections — map-only queries would measure nothing)
while results stay distributed.
"""

from __future__ import annotations

import gc
import json
import os
import sys
import time


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

    from mergers_acquisitions_predictions_spark.plans import QUERIES
    from mergers_acquisitions_predictions_spark.session import get_spark

    spark = get_spark(app_name="mergers-acquisitions-spark-bench")

    #: Headline set: one per operator family, weighted toward the
    #: shapes that stress shuffles at scale. ML fits (m01-m03) are
    #: excluded — they benchmark MLlib, not the engine.
    headline = [
        "q01_pricing_summary",
        "q03_top_revenue_orders",
        "q04_revenue_by_region",
        "q05_theta_pairs_per_nation",
        "q06_label_within_year",
        "q08_topk_orders_per_customer",
        "q13_orders_near_events",
        "q16_running_customer_spend",
        "q17_tumbling_windows",
        "q18_session_windows",
        "j03_fuzzy_name_match",
        "t01_token_stats",
        "t08_vocabulary",
        "t09_tfidf_top_terms",
        "t12_bpe_token_count",
        "d01_minhash_signatures",
        "d02_minhash_lsh_pairs",
        "d03_jaccard_pairs",
        "d04_simhash",
        "d05_embedding_neardups",
        "d06_lsh_verified_neardups",
        "d07_lsh_embedding_neardups",
        "d08_prefix_jaccard_pairs",
        "d09_dup_clusters",
        "d10_contamination",
        "d11_semantic_dedup",
        "d12_incremental_neardup",
        "d13_simhash_neardups",
        "d14_cluster_canonicals",
        "d15_winnow_containment",
        "d16_dup_span_coverage",
        "d19_minhash_estimate",
        "t21_source_mixture",
        "t18_sequence_packing",
        "t19_quality_rank_filter",
        "t14_token_chunks",
        "t16_repetition_stats",
        "t28_unigram_logprob_quality",
        "t34_ccnet_buckets",
        "t35_source_overlap_matrix",
        "t30_gopher_rules",
        "t31_importance_sample",
        "t36_stratified_split",
        "t37_epoch_shuffle_shards",
        "t32_vocab_coverage",
        "t33_token_entropy",
        "t29_bigram_backoff_quality",
        "t26_bpe_encode",
        "t27_snapshot_diff",
        "s02_cosine_topk",
        "s08_ivfpq_topk",
        "s10_ivfsq_topk",
        "s11_rrf_fusion",
        "s12_mmr_rerank",
        # the large-corpus default centroid fit (sampled branch,
        # floor-overridden) + artifact publish + IVF serve
        "s19_sampled_kmeans_topk",
        # build-to-disk + partition-pruned serve, measured end to end
        # (a deployment amortizes the build; SCALE.md §7i)
        "s13_persisted_index_topk",
        "s14_index_append_topk",  # split build + frozen-geometry append
        "s15_stream_serve_replay",  # one micro-batch of the serving sink
        "s17_filtered_index_topk",  # metadata-predicate (pre-filter) serve
        "s18_index_compact_serve",  # build + 2 appends + compact + serve
        "s20_reranked_index_topk",  # SQ8 overfetch + exact re-rank serve
        "s21_dedup_index_serve",  # SemDeDup -> survivor build -> serve
        "s22_dedup_rerank_serve",  # the composed production config
        "s23_pq_index_topk",  # persisted IVF-PQ build + ADC serve
        "s24_maxsim_rerank_serve",  # late-interaction maxsim re-rank
        "s25_pq_rerank_topk",  # persisted PQ + exact re-rank serve
        "s26_maxsim_exact_topk",  # exact maxsim baseline (5q, tiny)
        "s27_maxsim_token_table",  # long-format multi-vector rerank
        "s28_colbert_token_retrieval",  # token-level IVF + maxsim rerank
        "s30_colbert_persisted_serve",  # persisted token index + serve
        "s31_token_table_serve",  # materialized token table, pruned read
        "s32_stream_rescore_replay",  # micro-batch maxsim rescore serve
        "s33_colbert_pq_serve",  # compressed (PQ) token index + serve
        "s34_index_cell_stats",  # cell-balance diagnostic (layout read)
        "s35_colbert_one_call_serve",  # composed two-artifact serve
        "s36_colbert_ragged_tokens",  # variable per-doc T end to end
        "s37_pq_residual_topk",  # residual-encoded PQ build + ADC serve
        "s39_colbert_residual_pq_serve",  # residual compressed token index
        "s40_stream_index_ingest",  # streaming ingest micro-batch replay
        "s41_stream_exactly_once_ingest",  # staged upsert + reconcile, replayed
        "s44_stream_append_only_ingest",  # append-only staging + scheduled reconcile
        "s45_sharded_index_serve",  # two-shard fan-out serve + global merge
        "s46_hybrid_bm25_dense",  # BM25 x dense RRF hybrid retrieval
        "s47_hybrid_persisted_serve",  # both-artifact hybrid (pruned x pushdown)
        "t38_bm25_topk",  # lexical BM25 retrieval over documents
        "t39_bm25_persisted_serve",  # postings-artifact BM25 serve (pushdown)
        "t40_bm25_append_serve",  # exact-merge incremental postings + serve
        "t41_bm25_stream_ingest",  # exactly-once doc-stream ingest + serve
        "s42_stream_ingest_compact_serve",  # ingest -> monitor-fired compact -> serve
        "s43_index_recall_probe",  # appended index vs exact truth (rebuild metric)
        # s09/s29/s38 (learned-codebook rows) are correctness-window only:
        # each invocation pays 8 MLlib k-means fits — the same
        # fit-exclusion policy as m01-m03/m09; their serve stages are
        # measured via s08/s23/s25.
        # s16 (append-vs-rebuild drift) is correctness-window only: it
        # composes s13+s14, so benching it would double-count their
        # index builds already measured above.
        # sink→source roundtrips (CSV S3/S4/S7/S8; JSONL interchange),
        # end to end at SF. io02/m09 are correctness-window only: io02
        # measures a 60-doc fixture write, m09 an MLlib fit (excluded
        # by the same policy as m01-m03).
        "io01_csv_roundtrip",
        "io03_jsonl_roundtrip",
        # layout family end to end: Z-order clustered rewrite +
        # bucketed table write + salted aggregation over lineitem
        "io04_layout_roundtrip",
        "m04_pair_ranking",
        "q25_monthly_orders",
        "q50_join_key_skew",
        "q31_json_extract",
        "q33_quantiles",
        "u01_pandas_udf_charge",
        "u02_grouped_minmax_scale",
    ]

    # ---- Per-stage attribution for multi-stage lifecycle queries
    # (VERDICT r7 #3): s18's build+append+append+compact+serve and the
    # io roundtrips' write+read legs were single totals, so every
    # host-drift episode cost an A/B worktree run to attribute. The
    # EAGER stage functions are wrapped here — in the bench harness
    # only, at module level (query bodies import them at call time),
    # so correctness runs execute byte-identical product code. The
    # lazily-executed remainder (the serve/read legs, which run inside
    # the noop write) lands in the derived "rest" entry.
    import mergers_acquisitions_predictions_spark.operators.ann_index as AI
    import mergers_acquisitions_predictions_spark.operators.layout as LAY
    import mergers_acquisitions_predictions_spark.operators.similarity as SIM
    import mergers_acquisitions_predictions_spark.plans.io_queries as IOQ
    import mergers_acquisitions_predictions_spark.sources.writers as WR

    current_stages: dict[str, float] = {}

    def _staged(mod, fname: str, label: str) -> None:
        orig = getattr(mod, fname)

        def wrapper(*a, **kw):
            t0 = time.perf_counter()
            try:
                return orig(*a, **kw)
            finally:
                current_stages[label] = round(
                    current_stages.get(label, 0.0)
                    + (time.perf_counter() - t0),
                    3,
                )

        setattr(mod, fname, wrapper)

    _staged(AI, "build_ivfsq_index", "build")
    # one append and one compact serve both index kinds: s18's two
    # appends sum, and s42's `compact_if_accreted` reaches the same
    # wrapped `compact_index` (one wrapper per call path, so nothing
    # double-counts)
    _staged(AI, "append_index", "append")
    _staged(AI, "compact_index", "compact")
    _staged(SIM, "kmeans_centroids", "fit")
    _staged(WR, "publish_parquet_atomic", "publish")
    _staged(WR, "write_jsonl", "write_jsonl")
    _staged(LAY, "write_zordered", "write_zordered")
    _staged(LAY, "write_bucketed", "write_bucketed")
    # io01 binds these names at io_queries import time — patch there
    _staged(IOQ, "write_csv", "write_csv")
    _staged(IOQ, "write_single_csv", "write_single_csv")

    def run(name: str) -> dict[str, float]:
        current_stages.clear()
        QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        return dict(current_stages)

    # Warm pass (untimed): JIT/codegen warmup amortizes to zero at real
    # scale, so steady-state is the honest throughput number.
    for name in headline:
        run(name)

    # Release frames persisted inside operators (LSH banding, jaccard
    # postings) so the timed pass starts from a clean cache.
    spark.catalog.clearCache()

    # Two timed passes in OPPOSITE orders (A→Z then Z→A), per-query
    # MIN: the host is a shared VM and single-shot timings carry
    # 30-50% neighbor noise; the minimum of two steady-state runs is
    # the repeatable throughput number, and the order reversal kills
    # the late-position noise band (queries near the end of a 60+
    # query pass systematically read slow — d15 in rounds 4-5,
    # PERF.md) because every query is early in one of the two passes
    # (VERDICT r5 #7).
    timings: dict[str, float] = {}
    stages: dict[str, dict[str, float]] = {}
    for _pass in range(2):
        ordered = headline if _pass == 0 else list(reversed(headline))
        for name in ordered:
            t0 = time.perf_counter()
            st = run(name)
            dt = round(time.perf_counter() - t0, 3)
            if name not in timings or dt < timings[name]:
                timings[name] = dt
                if st:  # stages of the MIN-total invocation
                    st["rest"] = round(max(0.0, dt - sum(st.values())), 3)
                    stages[name] = st
            # Operator-owned caches (own_caches) release on Python GC;
            # collect between queries so a dead plan's cached
            # partitions never linger into the next measurement.
            gc.collect()
        spark.catalog.clearCache()

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    record = {
        "metric": "headline_query_wall_clock_total",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        # per-stage wall-times of each multi-stage query's MIN-total
        # invocation (VERDICT r7 #3); "rest" = total − eager stages =
        # plan construction + the lazily-executed serve/read legs
        "stages": stages,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }
    # Full record: printed first for humans AND written to a sidecar,
    # because the driver's capture keeps only the TAIL of stdout and
    # BENCH_r06.json lost the first ~3 queries of the one long line
    # (VERDICT r6 #4: "parsed: null").
    print(json.dumps(record))
    # Two sidecars (VERDICT r13 #3: the 8-core scaling leg used to
    # clobber the 32-core closing record): the legacy path keeps the
    # latest run for tooling that reads it, and a cpu-suffixed copy
    # lets back-to-back legs at different core counts coexist on disk.
    # $SPARK_GRAFT_SUMMARY_PATH overrides both with a single file.
    here = os.path.dirname(os.path.abspath(__file__))
    override = os.environ.get("SPARK_GRAFT_SUMMARY_PATH")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    paths = [override] if override else [
        os.path.join(here, "BENCH_summary.json"),
        os.path.join(here, f"BENCH_summary_c{cpus}.json"),
    ]
    for path in paths:
        try:
            with open(path, "w") as f:
                json.dump(record, f, indent=1)
                f.write("\n")
        except OSError:
            pass  # read-only checkout: stdout lines still carry the data
    # LAST line = the truncation-proof contract record: short query
    # keys (the unique code before the first underscore) + 2-decimal
    # seconds keep it well under any tail-capture cap, so it always
    # parses whole. Full names/precision: previous line or the
    # sidecar.
    short = {name.split("_", 1)[0]: round(t, 2) for name, t in timings.items()}
    assert len(short) == len(timings), "short query codes must stay unique"
    print(
        json.dumps(
            {
                "metric": record["metric"],
                "value": record["value"],
                "unit": "sec",
                "sf": record["sf"],
                "key_scheme": "code before first '_'; full map in BENCH_summary.json",
                "queries": short,
            },
            separators=(",", ":"),
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
