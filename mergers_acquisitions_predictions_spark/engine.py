"""Top-level engine facade — the surface a user of the reference repo
switches to.

The reference is driven interactively: paste spark-shell transcripts,
temp views, hand-rolled broadcast sets. This facade wraps the same
capabilities behind one object:

    from mergers_acquisitions_predictions_spark.engine import Engine

    eng = Engine.local()                     # tuned SparkSession
    eng.attach("/root/testdata/sf0.01")      # register star schema
    eng.sql("SELECT count(*) FROM orders")   # SQL surface
    eng.table("lineitem")                    # DataFrame surface
    eng.run("q01_pricing_summary")           # named query registry
    eng.query_names()                        # what's available

Session caching contract: index-shaped intermediates over a corpus
(LSH buckets, IVF assignments, SQ/PQ codes, the unigram LM) are
memoized per session in `operators/util.py`, keyed by corpus
identity = **source path + content fingerprint** (file
count/bytes/mtimes, walked on every access). Overwriting a corpus
directory mid-session — by this engine or any other process —
therefore invalidates its cached frames at the next access; the
engine never serves results from a path's previous contents
(tests/test_cache_hygiene.py). The caches are bounded,
applicationId-scoped, thread-safe, and releasable with
`operators.util.release_memoized_frames()` for a zero-cache baseline.
Persisted index artifacts hold no session state: every serve, append
and compact resolves the index's ``CURRENT`` pointer and its live
generation's ``_meta`` geometry from disk (`operators/ann_index.py`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .session import get_spark
from .sources.readers import TABLES, load_table, register_views


class Engine:
    """A SparkSession + data directory + the named-query registry."""

    def __init__(self, spark: SparkSession, sf_dir: str | None = None):
        self.spark = spark
        self.sf_dir = sf_dir
        if sf_dir:
            self.attach(sf_dir)

    @classmethod
    def local(cls, sf_dir: str | None = None, **session_kwargs) -> "Engine":
        return cls(get_spark(**session_kwargs), sf_dir)

    def attach(self, sf_dir: str, tables=TABLES) -> "Engine":
        """Point the engine at a data directory and register every
        table as a temp view (both API surfaces see one catalog —
        the reference's `createOrReplaceTempView` idiom, managed)."""
        self.sf_dir = sf_dir
        register_views(self.spark, sf_dir, tables)
        return self

    def table(self, name: str) -> DataFrame:
        if not self.sf_dir:
            raise ValueError("no data directory attached — call attach(sf_dir)")
        return load_table(self.spark, self.sf_dir, name)

    def sql(self, query: str) -> DataFrame:
        return self.spark.sql(query)

    def run(self, query_name: str) -> DataFrame:
        """Execute a registry query against the attached directory."""
        from .plans import QUERIES

        if not self.sf_dir:
            raise ValueError("no data directory attached — call attach(sf_dir)")
        try:
            fn = QUERIES[query_name]
        except KeyError:
            raise KeyError(
                f"unknown query {query_name!r}; see query_names()"
            ) from None
        return fn(self.spark, self.sf_dir)

    @staticmethod
    def query_names() -> list[str]:
        from .plans import QUERIES

        return sorted(QUERIES)

    def explain(self, query_name: str, mode: str = "formatted") -> str:
        """The physical plan a registry query would execute against
        the attached directory (modes: simple | extended | codegen |
        cost | formatted) — the `.explain` audit surface as a string,
        for plan review without stdout capture."""
        df = self.run(query_name)
        return df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), mode
        )

    # -- direct operator surface (the north-star pipeline ops) --------

    def dedup(self, df: DataFrame, method: str = "exact", **kw) -> DataFrame:
        """Deduplicate ``df``: 'exact' keeps one row per normalized
        text; 'cluster' resolves NEAR-dup groups (LSH pairs →
        connected components) and keeps each cluster's min-id row."""
        from .operators import dedup as D

        if method == "exact":
            return D.exact_dedup(df, **kw)
        if method == "cluster":
            from .operators.util import own_caches

            id_col = kw.pop("id_col", "doc_id")
            # 'propagate' = min-label propagation, O(component diameter)
            # rounds — right for shallow dup graphs; 'star' =
            # large-star/small-star, O(log² n) rounds regardless of
            # diameter — right for chain-shaped/adversarial graphs.
            components = kw.pop("components", "propagate")
            cc = {
                "propagate": D.dup_clusters,
                "star": D.connected_components_star,
            }
            if components not in cc:
                raise ValueError(
                    f"unknown components algorithm {components!r} "
                    f"({'|'.join(cc)})"
                )
            pairs = D.lsh_candidate_pairs(df, id_col=id_col, **kw)
            clusters = cc[components](df, pairs, id_col=id_col)
            keep = clusters.filter(
                clusters[id_col] == clusters["cluster_id"]
            ).select(id_col)
            # clusters' label frame is a localCheckpoint the returned
            # plan reads — transfer ownership or its finalizer would
            # free the (non-recomputable) blocks when `clusters` dies.
            return own_caches(df.join(keep, id_col, "left_semi"), clusters)
        if method == "semantic":
            from .operators.similarity import semantic_dedup
            from .operators.util import own_caches

            id_col = kw.setdefault("id_col", "vec_id")
            labeled = semantic_dedup(df, **kw)
            keep = labeled.filter("keep").select(id_col)
            return own_caches(df.join(keep, id_col, "left_semi"), labeled)
        raise ValueError(
            f"unknown dedup method {method!r} (exact|cluster|semantic)"
        )

    def neardup_pairs(self, df: DataFrame, method: str = "lsh", **kw) -> DataFrame:
        """Near-duplicate pair finding: 'lsh' (MinHash banding
        candidates), 'jaccard' (exact inverted-index), 'prefix'
        (exact with AllPairs pruning — the scale path), 'simhash'
        (Hamming-banded sketch pairs)."""
        from .operators import dedup as D

        fns = {
            "lsh": D.lsh_candidate_pairs,
            "jaccard": D.jaccard_pairs,
            "prefix": D.prefix_jaccard_pairs,
            "simhash": D.simhash_neardup_pairs,
        }
        try:
            return fns[method](df, **kw)
        except KeyError:
            raise ValueError(
                f"unknown neardup method {method!r} ({'|'.join(fns)})"
            ) from None

    def ann_topk(
        self, queries: DataFrame, corpus: DataFrame, method: str = "brute", **kw
    ) -> DataFrame:
        """Similarity search: 'brute' (exact), 'lsh' (sign-LSH
        multi-table), 'ivf' (cell-partitioned index), 'ivfpq'
        (compressed codes + ADC; pass rerank=R for the exact-re-rank
        production config), 'ivfsq' (8-bit scalar quantization —
        4x-smaller index, ~lossless, no re-rank needed)."""
        from .operators import similarity as S
        from .operators.pq import ivfpq_topk
        from .operators.sq import ivfsq_topk

        fns = {
            "brute": S.brute_force_topk,
            "lsh": S.lsh_topk,
            "ivf": S.ivf_topk,
            "ivfpq": ivfpq_topk,
            "ivfsq": ivfsq_topk,
        }
        try:
            return fns[method](queries, corpus, **kw)
        except KeyError:
            raise ValueError(
                f"unknown ann method {method!r} ({'|'.join(fns)})"
            ) from None

    def contamination(
        self, train_docs: DataFrame, eval_docs: DataFrame, **kw
    ) -> DataFrame:
        """Benchmark decontamination: per-train-doc shingle overlap
        with the (small, broadcast) eval corpus. Anti-join the corpus
        against the returned ids to decontaminate."""
        from .operators.curation import contamination

        return contamination(train_docs, eval_docs, **kw)

    def pack_sequences(self, docs: DataFrame, seq_len: int = 256, **kw) -> DataFrame:
        """Concat-and-chunk sequence packing: each document's position
        in the fixed-length training-sequence stream."""
        from .operators.curation import pack_sequences

        return pack_sequences(docs, seq_len=seq_len, **kw)

    def mixture_sample(
        self, docs: DataFrame, weights: dict[str, float], token_budget: int, **kw
    ) -> DataFrame:
        """Token-budget-weighted source-mixture sampling: per-source
        keep-rates derived from actual token counts, membership by
        deterministic doc-id hash."""
        from .operators.curation import mixture_sample

        return mixture_sample(docs, weights, token_budget, **kw)

    def shard_by_token_budget(
        self, docs: DataFrame, tokens_per_shard: int, **kw
    ) -> DataFrame:
        """Whole-document training-shard assignment: shards fill to a
        token budget in global id order (narrow prefix-sum plan; see
        writers.write_token_balanced_shards to materialize)."""
        from .operators.curation import shard_by_token_budget

        return shard_by_token_budget(docs, tokens_per_shard, **kw)

    def interleaved_order(
        self, docs: DataFrame, weights: dict[str, float], **kw
    ) -> DataFrame:
        """Deterministic weighted-interleave serving order (weighted
        fair queuing over sources): every stream prefix holds sources
        in their weight ratio."""
        from .operators.curation import interleaved_order

        return interleaved_order(docs, weights, **kw)

    def fuzzy_match(
        self,
        left: DataFrame,
        right: DataFrame,
        left_col: str,
        right_col: str,
        block_on,
        max_dist: int = 2,
        **kw,
    ) -> DataFrame:
        """Entity resolution under noise: blocked approximate string
        join (Levenshtein-verified). ``block_on`` is one
        ``(left_expr, right_expr)`` blocking-key pair, or a list of
        pairs for the multi-pass recall scheme."""
        from .operators.joins import fuzzy_join, fuzzy_join_multipass

        # Multipass iff a sequence OF (left, right) pairs — accept list
        # or tuple at either level, so [(a,b)], [[a,b]], ((a,b),) all
        # route the same way instead of falling through to a confusing
        # unpack error.
        if (
            isinstance(block_on, (list, tuple))
            and block_on
            and isinstance(block_on[0], (list, tuple))
        ):
            return fuzzy_join_multipass(
                left, right, left_col, right_col, block_on, max_dist, **kw
            )
        if isinstance(block_on, (list, tuple)) and len(block_on) == 2:
            bl, br = block_on
            return fuzzy_join(left, right, left_col, right_col, bl, br, max_dist, **kw)
        raise ValueError(
            "block_on must be one (left_expr, right_expr) pair or a "
            f"sequence of such pairs; got {type(block_on).__name__} "
            f"of length {len(block_on) if hasattr(block_on, '__len__') else '?'}"
        )

    def learn_bpe(self, docs: DataFrame, n_merges: int = 16, **kw):
        """Learn a BPE merge list from the corpus (one corpus pass +
        vocab-sized iterations); returns [(left, right, freq), ...]."""
        from .operators.bpe import learn_bpe_merges

        return learn_bpe_merges(docs, n_merges=n_merges, **kw)

    def bpe_encode(
        self, docs: DataFrame, merges, text_col: str = "text"
    ) -> DataFrame:
        """Tokenize the corpus with a FROZEN merge list: adds
        ``bpe_tokens`` (readable segment string) and ``n_bpe_tokens``.
        Map-side only — the 100 TB tokenization-pass shape.

        ``merges`` accepts (left, right) pairs, or the
        (left, right, freq) tuples ``learn_bpe`` returns."""
        from .operators.bpe import bpe_readable, bpe_segment, bpe_token_count

        pairs = [(m[0], m[1]) for m in merges]
        seg = bpe_segment(text_col, pairs)
        return docs.withColumn("bpe_tokens", bpe_readable(seg)).withColumn(
            "n_bpe_tokens", bpe_token_count(seg)
        )

    def snapshot_diff(self, old: DataFrame, new: DataFrame, **kw) -> DataFrame:
        """Per-id added/removed/changed/unchanged between two corpus
        snapshots with fingerprint columns — the incremental-pipeline
        primitive (process only the delta)."""
        from .operators.curation import snapshot_diff

        return snapshot_diff(old, new, **kw)

    def write_zordered(
        self, df: DataFrame, path: str, zorder_cols: list[str], **kw
    ) -> None:
        """Z-order clustered parquet write — multi-column data
        skipping via footer min/max stats (operators/layout)."""
        from .operators.layout import write_zordered

        write_zordered(df, path, zorder_cols, **kw)

    def span_coverage(self, docs: DataFrame, **kw) -> DataFrame:
        """Per-document coverage by cross-document duplicated token
        spans (Lee et al. 2022 exact-substring dedup statistic) —
        threshold `dup_fraction` to drop boilerplate-heavy docs."""
        from .operators.dedup import dup_span_coverage

        return dup_span_coverage(docs, **kw)

    def trim_spans(self, docs: DataFrame, **kw) -> DataFrame:
        """Destructively remove cross-document duplicated token spans
        (keep the globally-first occurrence) and reassemble documents
        — Lee et al. 2022 exact-substring dedup; pass
        `return_text=True` for the trimmed text column."""
        from .operators.dedup import trim_dup_spans

        return trim_dup_spans(docs, **kw)

    def ann_recall(
        self, exact: DataFrame, approx: DataFrame, k: int, **kw
    ) -> DataFrame:
        """Recall@k of an approximate top-k result vs the exact
        baseline, per query — the ANN tuning loop's metric."""
        from .operators.similarity import topk_recall

        return topk_recall(exact, approx, k, **kw)

    def mmr_rerank(self, candidates: DataFrame, k: int = 5, **kw) -> DataFrame:
        """Diversity-aware MMR re-ranking of an ANN shortlist
        (relevance traded against redundancy per pick) — feed it an
        overfetched top-k with candidate vectors attached."""
        from .operators.similarity import mmr_rerank

        return mmr_rerank(candidates, k, **kw)

    def rrf_fuse(self, ranked: list[DataFrame], k: int = 5, **kw) -> DataFrame:
        """Reciprocal-rank fusion of N ranked retrieval lists — the
        standard hybrid-search combiner (no score calibration; only
        ranks enter). Fuse e.g. an LSH and an IVF index whose recall
        failure modes differ."""
        from .operators.similarity import rrf_fuse

        return rrf_fuse(ranked, k, **kw)

    def build_ann_index(
        self, corpus: DataFrame, path: str, kind: str = "ivfsq", **kw
    ) -> None:
        """Persist an ANN index (codes partitioned by cell + geometry)
        — build once, then serve query batches as partition-pruned
        scans (SCALE.md §7i's amortized regime). ``kind="ivfsq"``
        (default) stores dim-byte SQ8 codes; ``kind="ivfpq"`` stores
        n_subspaces-byte PQ codes — 32× under raw float32, the
        page-cache regime at 10⁹ vectors (SCALE.md §7q). PQ extras
        flow through ``**kw``: ``residual=True`` (round 12, §7s —
        opt-in, structured corpora only) and ``codebooks=`` (learned
        books, e.g. `pq_kmeans_residual_codebooks`)."""
        from .operators.ann_index import index_builder

        index_builder(kind)(corpus, path, **kw)

    def search_ann_index(
        self, path: str, queries: DataFrame, k: int = 5, **kw
    ) -> DataFrame:
        """Top-k from a persisted ANN index of either kind — the kind
        its ``_meta`` records picks the codec, so the caller never
        names it (SQ8 rows carry ``sq_sim``, PQ rows ``adc_dist``);
        reads only the probed cells' partitions. Bit-identical to the
        matching in-memory path. Pass ``allowed=`` (a frame of
        permitted candidate ids) for filtered search — the vector-DB
        metadata predicate, applied pre-ranking as a semi join on the
        pruned scan — and ``rerank=``/``vectors=`` for the
        exact-rescore serve (`operators/ann_index.search_index`)."""
        from .operators.ann_index import search_index

        return search_index(self.spark, path, queries, k, **kw)

    def maxsim_rerank(
        self, shortlist: DataFrame, queries: DataFrame, vectors: DataFrame, **kw
    ) -> DataFrame:
        """Late-interaction (ColBERT maxsim) re-rank of a first-stage
        shortlist — per query token, the best-matching candidate
        token, summed. ``shortlist`` is (query_id, candidate_id) from
        any retriever (the persisted serves, ivf/lsh/pq top-k);
        cost is shortlist-shaped, never corpus-shaped. Pass
        ``n_tokens=`` for the slice-derived token count."""
        from .operators.maxsim import maxsim_rerank

        return maxsim_rerank(shortlist, queries, vectors, **kw)

    def maxsim_rerank_tokens(
        self,
        shortlist: DataFrame,
        query_tokens: DataFrame,
        cand_tokens: DataFrame,
        **kw,
    ) -> DataFrame:
        """`maxsim_rerank` over REAL multi-vector inputs: long-format
        ``(vec_id, token_id, vector)`` token tables on both sides —
        the per-token-encoder data model. Candidate side is cut to
        shortlist survivors before any grouping; vectors are scored
        as given (normalization is the producer's contract)."""
        from .operators.maxsim import maxsim_rerank_tokens

        return maxsim_rerank_tokens(shortlist, query_tokens, cand_tokens, **kw)

    def maxsim_search_tokens(
        self, query_tokens: DataFrame, cand_tokens: DataFrame, **kw
    ) -> DataFrame:
        """FULL late-interaction retrieval (ColBERT): token-level IVF
        candidate generation over composite doc*T+token ids, parent
        mapping, then the doc-level maxsim rerank — for when no
        pooled single vector drives the first stage."""
        from .operators.maxsim import maxsim_search_tokens

        return maxsim_search_tokens(query_tokens, cand_tokens, **kw)

    def maxsim_topk(
        self, queries: DataFrame, corpus: DataFrame, k: int = 5, **kw
    ) -> DataFrame:
        """EXACT late-interaction top-k (every pair scored) — the
        recall yardstick; at scale retrieve first and `maxsim_rerank`
        the shortlist."""
        from .operators.maxsim import maxsim_topk

        return maxsim_topk(queries, corpus, k, **kw)

    def build_token_index(
        self, cand_tokens: DataFrame, path: str, n_tokens: int, **kw
    ) -> None:
        """Persist the token-level IVF-SQ8 index for late-interaction
        retrieval (round 11 — SCALE.md §7r-b's ×16 deployment route):
        the in-memory first stage's T×n assignment, paid once."""
        from .operators.maxsim import build_token_index

        build_token_index(cand_tokens, path, n_tokens, **kw)

    def search_token_index(
        self, path: str, query_tokens: DataFrame, cand_tokens: DataFrame, **kw
    ) -> DataFrame:
        """`maxsim_search_tokens` served from a `build_token_index`
        artifact: pruned quantized first stage per query token, parent
        mapping, maxsim rerank."""
        from .operators.maxsim import maxsim_search_tokens_persisted

        return maxsim_search_tokens_persisted(
            self.spark, path, query_tokens, cand_tokens, **kw
        )

    def serve_colbert(
        self, index_path: str, token_table_path: str, query_tokens: DataFrame, **kw
    ) -> DataFrame:
        """The ONE-CALL composed late-interaction deployment serve
        (round 12 — VERDICT r11 #3): persisted token index + the
        materialized token table, no in-memory corpus frame anywhere —
        stage 1 runs once, the driver-sized parent shortlist drives
        the pruned table read, and the maxsim rerank scores survivors.
        ``n_tokens`` defaults to the T the index itself records."""
        from .operators.maxsim import maxsim_search_tokens_persisted

        kw.setdefault("n_tokens", None)
        return maxsim_search_tokens_persisted(
            self.spark,
            index_path,
            query_tokens,
            None,
            token_table_path=token_table_path,
            **kw,
        )

    def write_token_table(self, tokens: DataFrame, path: str, **kw) -> None:
        """Materialize the encoder's (id, token_id, vector) parquet
        once — clustered by doc id for serve-time pruning (round 11,
        SCALE.md §7r-c)."""
        from .operators.maxsim import write_token_table

        write_token_table(tokens, path, **kw)

    def read_token_table(self, path: str, ids=None, **kw) -> DataFrame:
        """Read a `write_token_table` parquet; ``ids`` (small online
        batches) pushes an In filter down to the clustered scan."""
        from .operators.maxsim import read_token_table

        return read_token_table(self.spark, path, ids=ids, **kw)

    def index_cell_stats(self, path: str) -> DataFrame:
        """Per-cell population of a persisted index (both kinds) —
        the cell-balance diagnostic and the cheap post-append/compact
        integrity probe (round 11, s34)."""
        from .operators.ann_index import index_cell_stats

        return index_cell_stats(self.spark, path)

    def key_skew(self, df: DataFrame, key: str) -> DataFrame:
        """One-row shuffle-key skew diagnostic (max/p99/p50 key
        counts, skew ratio, hottest key) — run it BEFORE choosing
        salting or AQE skew thresholds for a big join."""
        from .operators.aggregates import key_skew_profile

        return key_skew_profile(df, key)

    def profile(self, df: DataFrame, **kw) -> DataFrame:
        """One-pass per-column profile (nulls, NDV, native min/max);
        `approx=True` swaps exact NDVs for HLL sketches at scale."""
        from .operators.aggregates import table_profile

        return table_profile(df, **kw)

    def quality_rules(self, docs: DataFrame, **kw) -> DataFrame:
        """Gopher-style quality rule table: per-doc rule signals +
        combined `keep` flag (thresholds as keyword args)."""
        from .operators.curation import gopher_rules

        return gopher_rules(docs, **kw)

    def importance_sample(
        self, df: DataFrame, weight_col: str, key_col: str, **kw
    ) -> DataFrame:
        """Weighted reproducible sampling: keep rows with probability
        clip(boost·weight, 0, 1) by key-hash threshold — soft quality
        filtering without rand()."""
        from .operators.curation import importance_sample

        return importance_sample(df, weight_col, key_col, **kw)

    def stratified_split(
        self,
        df: DataFrame,
        strata_cols: list[str],
        fractions: list[tuple[str, float]],
        key_col: str,
        **kw,
    ) -> DataFrame:
        """Exact-proportion stratified split (adds a `split` column):
        per-stratum seeded-hash order + cumulative quota cutoffs —
        replayable membership, ±0.5-row-exact fractions per stratum
        (randomSplit's binomial noise is the thing this avoids)."""
        from .operators.curation import stratified_split

        return stratified_split(df, strata_cols, fractions, key_col, **kw)

    def append_ann_index(self, new_vectors: DataFrame, path: str, **kw) -> None:
        """Append a shard to a persisted index under its FROZEN
        geometry — kind-agnostic (round 12, `ann_index.append_index`:
        the kind, and for PQ the residual flag, come from the index's
        own meta). The nightly-ingest write; batch twin of
        `ingest_vector_stream`."""
        from .operators.ann_index import append_index

        append_index(new_vectors, path, **kw)

    def ingest_vector_stream(self, path: str, stream_df: DataFrame, **kw):
        """foreachBatch INGEST sink: arriving vectors append to the
        persisted index at ``path`` per micro-batch (round 12 —
        streaming/serving.ingest_vector_stream; returns the
        DataStreamWriter, caller picks trigger/checkpoint)."""
        from .streaming.serving import ingest_vector_stream

        return ingest_vector_stream(path, stream_df, **kw)

    def ingest_vector_stream_staged(
        self, path: str, stream_df: DataFrame, staged_dir: str, **kw
    ):
        """EXACTLY-ONCE ingest sink (round 13 — VERDICT r12 #3): each
        micro-batch stages into an idempotent keyed upsert table and
        the index reconciles against the staged snapshot, so replayed
        batches append nothing (streaming/serving.
        ingest_vector_stream_staged; returns the DataStreamWriter)."""
        from .streaming.serving import ingest_vector_stream_staged

        return ingest_vector_stream_staged(path, stream_df, staged_dir, **kw)

    def ingest_vector_stream_append_only(
        self, path: str, stream_df: DataFrame, staged_dir: str, **kw
    ):
        """EXACTLY-ONCE ingest sink for HIGH-FREQUENCY micro-batches
        (round 13): each batch stages append-only into its own parquet
        subdirectory at O(batch) cost and the index reconciles on a
        schedule (``reconcile_every=`` batches, or the caller's own
        nightly `reconcile_ann_index` run) — the upsert-staged sink's
        O(table)-rewrite cost removed (streaming/serving.
        ingest_vector_stream_append_only; returns the
        DataStreamWriter)."""
        from .streaming.serving import ingest_vector_stream_append_only

        return ingest_vector_stream_append_only(
            path, stream_df, staged_dir, **kw
        )

    def search_sharded_ann_indexes(
        self, paths: list[str], queries: DataFrame, **kw
    ) -> DataFrame:
        """Fan-out serve over shard indexes (round 13): the standard
        pruned serve against every shard, per-shard top-k lists
        merged to a global top-k on the serve's own key
        (operators/ann_index.search_sharded_indexes)."""
        from .operators.ann_index import search_sharded_indexes

        return search_sharded_indexes(self.spark, paths, queries, **kw)

    def reconcile_ann_index(self, path: str, staged_dir: str, **kw) -> int:
        """Append every staged vector the index does not already hold
        (membership anti-join against the index's own codes) —
        idempotent crash-recovery / scheduled half of the exactly-once
        ingest. Returns the number appended."""
        from .streaming.serving import reconcile_index_from_snapshot

        return reconcile_index_from_snapshot(self.spark, path, staged_dir, **kw)

    def compact_ann_index(self, path: str) -> tuple[int, int]:
        """Merge append-accreted small files in a persisted index's
        codes (per-cell clustered rewrite, staged + rename-swapped);
        layout-only — search results are bit-identical. Returns
        (files_before, files_after)."""
        from .operators.ann_index import compact_index

        return compact_index(self.spark, path)

    def index_recall_probe(
        self, path: str, queries: DataFrame, vectors: DataFrame, **kw
    ) -> DataFrame:
        """Recall@k of the persisted index against exact ground truth
        on a probe query sample (round 13) — the metric the rebuild
        schedule watches; keep the probe set sample-sized (the exact
        side is O(queries × corpus) by definition)."""
        from .operators.ann_index import index_recall_probe

        return index_recall_probe(self.spark, path, queries, vectors, **kw)

    def rebuild_ann_index_if_drifted(
        self, path: str, corpus: DataFrame, queries: DataFrame, **kw
    ) -> tuple[bool, float]:
        """The drift-schedule trigger (round 13): rebuild from
        ``corpus`` when the probe's mean recall falls below
        ``threshold=`` (default 0.9); kind preserved, staged-
        generation commit. Returns (fired, mean_recall_before)."""
        from .operators.ann_index import rebuild_if_drifted

        return rebuild_if_drifted(self.spark, path, corpus, queries, **kw)

    def compact_ann_index_if_accreted(
        self, path: str, max_files_per_cell: int = 2
    ) -> tuple[bool, dict]:
        """The accretion-schedule trigger (round 13 — VERDICT r12 #5):
        compact iff any cell partition exceeds ``max_files_per_cell``
        files (one driver-side listing decides; the no-op path costs
        no Spark job). Returns (fired, stats_before)."""
        from .operators.ann_index import compact_if_accreted

        return compact_if_accreted(self.spark, path, max_files_per_cell)

    def shuffle_shards(
        self, df: DataFrame, key_col: str, n_shards: int, **kw
    ) -> DataFrame:
        """Seeded global epoch shuffle + balanced round-robin shard
        deal (adds `position` and `shard`): deterministic write-order
        randomization before materializing training shards, via the
        distributed two-phase global row number."""
        from .operators.curation import shuffle_shards

        return shuffle_shards(df, key_col, n_shards, **kw)

    def compact(self, path: str, **kw) -> tuple[int, int]:
        """Small-file compaction of a parquet table (crash-safe swap);
        returns (files_before, files_after)."""
        from .sources.writers import compact_parquet

        return compact_parquet(self.spark, path, **kw)

    # ------------------------------------------------------------------
    # Lexical (BM25) retrieval family — round 13

    def bm25_topk(self, docs: DataFrame, queries: DataFrame, **kw) -> DataFrame:
        """BM25 lexical top-k over a document frame (long-format
        (query_id, term) query batch; operators/bm25.bm25_topk)."""
        from .operators.bm25 import bm25_topk

        return bm25_topk(docs, queries, **kw)

    def build_bm25_index(self, docs: DataFrame, path: str, **kw) -> None:
        """Persist the BM25 postings artifact (term-range-sorted
        postings + exact-integer stats sidecar, atomic publish; df is
        derived at serve time so appends stay O(shard);
        operators/bm25.build_bm25_index)."""
        from .operators.bm25 import build_bm25_index

        build_bm25_index(docs, path, **kw)

    def search_bm25_index(
        self, path: str, queries: DataFrame, **kw
    ) -> DataFrame:
        """Serve BM25 top-k from the persisted postings artifact
        (query-term In-pushdown pruned scan; bit-identical to
        `bm25_topk`; operators/bm25.search_bm25_index)."""
        from .operators.bm25 import search_bm25_index

        return search_bm25_index(self.spark, path, queries, **kw)

    def append_bm25_index(self, docs_new: DataFrame, path: str, **kw) -> None:
        """EXACT-MERGE append of a new document shard — O(shard), not
        O(index): one job-committed shard write + a 1-row stats merge;
        the appended artifact serves value-identically to a full
        rebuild (no frozen geometry: BM25 statistics merge exactly;
        operators/bm25.append_bm25_index)."""
        from .operators.bm25 import append_bm25_index

        append_bm25_index(docs_new, path, **kw)

    def reconcile_bm25_index(self, path: str, staged_dir: str, **kw) -> int:
        """Exactly-once reconcile for the lexical index: append every
        staged document the postings don't already hold (streaming/
        serving.reconcile_bm25_from_snapshot). Returns the number
        appended."""
        from .streaming.serving import reconcile_bm25_from_snapshot

        return reconcile_bm25_from_snapshot(self.spark, path, staged_dir, **kw)

    def ingest_document_stream_append_only(
        self, path: str, stream_df: DataFrame, staged_dir: str, **kw
    ):
        """EXACTLY-ONCE document-stream ingest sink for the BM25 index
        (append-only staging + scheduled membership reconcile;
        streaming/serving.ingest_document_stream_append_only; returns
        the DataStreamWriter)."""
        from .streaming.serving import ingest_document_stream_append_only

        return ingest_document_stream_append_only(
            path, stream_df, staged_dir, **kw
        )
