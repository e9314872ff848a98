"""Late-interaction (multi-vector) retrieval — the ColBERT scoring
family (Khattab & Zaharia 2020, "ColBERT: Efficient and Effective
Passage Search via Contextualized Late Interaction"): a document is a
BAG of token vectors and score(q, d) = Σ_{t∈q} max_{u∈d} cos(t, u) —
per query token, the best-matching document token, summed. The
production architecture is retrieve-then-rerank: a single-vector
first stage (here: the persisted IVF index family) overfetches a
per-query shortlist, and the late-interaction scorer re-ranks only
the shortlist — maxsim cost is shortlist-shaped (queries × R pairs ×
T² token dots), never corpus-shaped.

Token vectors here are DERIVED deterministically from the single
embedding column — `n_tokens` equal slices, each L2-normalized
(`token_slices`). That is the documented stand-in for a per-token
encoder output (the testdata carries one vector per document, and
token-level encoders are model inference, out of engine scope — the
same boundary as the multimodal codec stubs); the operators take the
derivation as a column expression, so a real (id, token_id, vector)
table plugs in by swapping `token_slices` for the model's tokens.
Every stage is oracle-replayable: slice boundaries, per-slice
normalization, the token-dot fold, the max, and the m-ordered sum
are all deterministic (plans/lsh_oracle.ivfsq_topk_sql's maxsim
rescore mode).

Plan shape at 100 TB: the rescore joins RAW vectors through the
BROADCAST shortlist (the round-10 rescore discipline — non-survivors
are scanned map-side, never shuffled, never tokenized), token arrays
are derived on survivors only with every shared sub-expression bound
once (`util.hof_bind` — the §7p evaluation-count discipline: the
token array is read T times by the outer sum, each slice's norm once
per slice), and the only shuffle is the per-query top-k window.

No reference analogue (the reference has no vector search) — SURVEY
§7 Phase 4 surface, extending the ANN family with the reranking
stage modern retrieval stacks put on top of it.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .topk import grouped_topk
from .util import bounded_collect, hof_bind

#: bound on `maxsim_search_tokens_persisted`'s driver collect of the
#: distinct (query, parent) shortlist — ≤ queries × T × k0 rows by the
#: serving contract
MAX_SHORTLIST_ROWS = 1_000_000


def _dot(a: Column, b: Column) -> Column:
    """Left-to-right double fold — the oracle's list_sum order."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def token_slices(vec: Column, n_tokens: int, sub: int) -> Column:
    """``n_tokens`` unit-normalized token vectors derived as equal
    slices of ``vec`` → array<array<double>> (token m = elements
    [m·sub+1 .. (m+1)·sub], cast to double, divided by the slice's
    own L2 norm). Each slice and its norm are bound ONCE (§7p): the
    inline composition would re-derive the slice per element of the
    divide and the norm fold per divide."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(n_tokens - 1)),
        lambda m: hof_bind(
            F.transform(
                F.slice(vec, m * sub + 1, sub), lambda x: x.cast("double")
            ),
            lambda sl: hof_bind(
                F.sqrt(
                    F.aggregate(sl, F.lit(0.0), lambda acc, x: acc + x * x)
                ),
                lambda n: F.transform(sl, lambda x: x / n),
            ),
        ),
    )


def maxsim_score(q_toks: Column, c_toks: Column) -> Column:
    """Σ over query tokens (array order — the oracle sums
    m-ascending) of max over candidate tokens of the token dot.
    Inputs must be CONCRETE attributes or hof_bind-bound — the outer
    fold reads ``c_toks`` once per query token."""
    return F.aggregate(
        q_toks,
        F.lit(0.0),
        lambda acc, t: acc
        + F.array_max(F.transform(c_toks, lambda u: _dot(t, u))),
    )


def maxsim_rerank(
    shortlist: DataFrame,
    queries: DataFrame,
    vectors: DataFrame,
    k: int = 5,
    n_tokens: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Late-interaction re-rank of a first-stage shortlist:
    ``shortlist`` is (query_id, candidate_id) from any retriever
    (the persisted index serves, ivf/lsh/pq top-k, the exact
    baseline); the maxsim score is computed for exactly those pairs
    and the top-``k`` per query returned as (query_id, candidate_id,
    maxsim, rank) — 6-dp-rounded score, candidate-id tiebreak, the
    family's ranking contract.

    Cost: |shortlist| token-score expressions + one query-batch-sized
    broadcast each side — the corpus is probed map-side through the
    broadcast shortlist and only survivors are tokenized.

    ``dim``: pass the known vector width to skip the one-row probe
    job that otherwise derives it from ``vectors`` per invocation."""
    if dim is None:
        probe = vectors.select(F.size(F.col(vec_col)).alias("d")).first()
        if probe is None:
            raise ValueError(
                "maxsim_rerank: `vectors` is empty — cannot derive the "
                "token width; pass dim= or a non-empty vectors frame"
            )
        dim = probe["d"]
    if dim % n_tokens:
        raise ValueError(f"dim {dim} not divisible by n_tokens {n_tokens}")
    sub = dim // n_tokens
    cand = vectors.select(
        F.col(id_col).alias("candidate_id"), F.col(vec_col).alias("__cvec")
    )
    qv = queries.select(
        F.col(id_col).alias("query_id"),
        token_slices(F.col(vec_col), n_tokens, sub).alias("__qtoks"),
    )
    scored = (
        cand.join(F.broadcast(shortlist.select("query_id", "candidate_id")), "candidate_id")
        .join(F.broadcast(qv), "query_id")
        .select(
            "query_id",
            "candidate_id",
            F.round(
                hof_bind(
                    token_slices(F.col("__cvec"), n_tokens, sub),
                    lambda ct: maxsim_score(F.col("__qtoks"), ct),
                ),
                6,
            ).alias("maxsim"),
        )
    )
    return grouped_topk(
        scored, ["query_id"], [F.desc("maxsim"), F.asc("candidate_id")], k, "rank"
    ).select("query_id", "candidate_id", "maxsim", "rank")


def tokens_to_arrays(
    tokens: DataFrame,
    id_col: str = "vec_id",
    pos_col: str = "token_id",
    vec_col: str = "token",
    out_col: str = "toks",
) -> DataFrame:
    """Fold a LONG-FORMAT token table — ``(id, token_id, vector)``,
    the shape a real per-token encoder materializes — into one
    token-array row per id: ``(id, array<array<double>>)``, ordered
    token_id-ascending. `collect_list` is order-nondeterministic
    across shuffles; `array_sort` over ``struct(token_id, vec)``
    (token_id leads the struct, unique per id) pins the order, so the
    downstream m-ascending maxsim fold is deterministic regardless of
    partitioning. One shuffle, keyed by id — run it AFTER any
    shortlist semi-join so only survivors are grouped."""
    return tokens.groupBy(F.col(id_col).alias(id_col)).agg(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col(pos_col).alias("m"),
                        F.transform(
                            F.col(vec_col), lambda x: x.cast("double")
                        ).alias("v"),
                    )
                )
            ),
            lambda s: s["v"],
        ).alias(out_col)
    )


def write_token_table(
    tokens: DataFrame,
    path: str,
    id_col: str = "vec_id",
    pos_col: str = "token_id",
    vec_col: str = "token",
) -> None:
    """Materialize the encoder's long-format token table ONCE — the
    production fix SCALE.md §7r prices: deriving tokens at serve time
    (slice math or a model call + posexplode) re-pays per serve what
    the encoder already computed (+1.8 s/1M for the slice explode
    alone); a deployment writes the (id, token_id, vector) parquet
    once and every serve scans it.

    Layout for serve-time pruning: rows are CLUSTERED by document id
    (`repartition(id)`) and sorted (id, token_id) within partitions,
    so one document's tokens are contiguous in a row group and the
    parquet id min/max statistics are tight — `read_token_table`'s
    ``ids=`` pre-filter then skips non-shortlist row groups at the
    scan (PushedFilters: In), and the group-by-id rebuild in
    `maxsim_rerank_tokens` reads already-clustered rows."""
    (
        tokens.select(id_col, pos_col, vec_col)
        .repartition(F.col(id_col))
        .sortWithinPartitions(id_col, pos_col)
        .write.mode("overwrite")
        .parquet(path)
    )


def read_token_table(spark, path: str, ids=None, id_col: str = "vec_id") -> DataFrame:
    """Read a `write_token_table` parquet. ``ids``: optional
    driver-sized id list (a serve shortlist — queries × rerank, never
    corpus-shaped) pushed down as an In filter so the clustered
    layout's row-group statistics prune the scan. Right for SMALL
    online batches (tens of queries → hundreds of ids); for large
    batch reranks pass ``ids=None`` and let `maxsim_rerank_tokens`'
    broadcast semi join do the cut — a many-thousand-element In
    predicate costs more to evaluate per row than the hash probe
    (measured in SCALE.md §7r-c)."""
    df = spark.read.parquet(path)
    if ids is not None:
        df = df.filter(F.col(id_col).isin(list(ids)))
    return df


def maxsim_rerank_tokens(
    shortlist: DataFrame,
    query_tokens: DataFrame,
    cand_tokens: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    pos_col: str = "token_id",
    vec_col: str = "token",
) -> DataFrame:
    """`maxsim_rerank` over REAL multi-vector inputs: long-format
    token tables ``(id, token_id, vector)`` on both sides — the data
    model a per-token encoder (ColBERT's, a frame-sampled video
    encoder's) actually produces — instead of slice-derived tokens.
    Vectors are scored AS GIVEN (dot, not cosine): normalization is
    the producer's contract, exactly as in ColBERT serving.

    Scale shape: the query side is query-batch-sized and groups
    cheaply; the CANDIDATE side is corpus-scale, so it is first cut
    to the shortlist's distinct candidate ids by a broadcast semi
    join — only survivors ride the group-by-id shuffle and the
    scoring join. Cost after the cut is |shortlist| pairs × T_q·T_c
    token dots, never corpus-shaped. Same ranking contract as
    `maxsim_rerank` (6-dp score, candidate-id tiebreak); with tokens
    equal to `token_slices`' output the two paths are bit-identical
    (asserted in tests, and s27 replays this path against s24's
    oracle)."""
    sl = shortlist.select("query_id", "candidate_id")
    qt = tokens_to_arrays(
        query_tokens, id_col, pos_col, vec_col, "__qtoks"
    ).withColumnRenamed(id_col, "query_id")
    cand_ids = sl.select(F.col("candidate_id").alias(id_col)).distinct()
    ct = tokens_to_arrays(
        cand_tokens.join(F.broadcast(cand_ids), id_col, "left_semi"),
        id_col,
        pos_col,
        vec_col,
        "__ctoks",
    ).withColumnRenamed(id_col, "candidate_id")
    scored = (
        ct.join(F.broadcast(sl), "candidate_id")
        .join(F.broadcast(qt), "query_id")
        .select(
            "query_id",
            "candidate_id",
            F.round(
                maxsim_score(F.col("__qtoks"), F.col("__ctoks")), 6
            ).alias("maxsim"),
        )
    )
    return grouped_topk(
        scored, ["query_id"], [F.desc("maxsim"), F.asc("candidate_id")], k, "rank"
    ).select("query_id", "candidate_id", "maxsim", "rank")


def maxsim_search_tokens(
    query_tokens: DataFrame,
    cand_tokens: DataFrame,
    k: int = 5,
    k0: int = 10,
    n_tokens: int = 4,
    n_probe: int = 2,
    n_cells: int | None = None,
    id_col: str = "vec_id",
    pos_col: str = "token_id",
    vec_col: str = "token",
    corpus_cache_key: tuple | None = None,
) -> DataFrame:
    """The FULL late-interaction retrieval architecture (ColBERT,
    Khattab & Zaharia 2020 §3.6): token-level candidate generation +
    doc-level maxsim rerank, end to end over long-format token tables.

    Stage 1 — every candidate token is an index entry under the
    composite id ``doc·T + token_id``; each query token retrieves its
    top-``k0`` tokens through the IVF family (`similarity.ivf_topk`:
    √n auto-sizing ON THE TOKEN COUNT, lowest-composite-id centroids,
    cell equi-join — never a token cross join). Stage 2 — token hits
    map back to parent documents (integer DIV, self-pairs dropped),
    the DISTINCT parent pairs form the shortlist, and
    `maxsim_rerank_tokens` scores it. This is how a late-interaction
    deployment retrieves when no single-vector embedding exists to
    drive the first stage: recall comes from ANY query token finding
    ANY candidate token, so the shortlist covers documents a pooled
    single vector would miss.

    Scale shape: the token index is T× the corpus rows — same IVF
    economics at T× n (cells scale √(T·n)); stage-2 cost is
    shortlist-shaped (≤ q·T·k0 parent pairs before distinct). Oracle:
    `plans/lsh_oracle.colbert_token_retrieval_sql` replays both
    stages in one statement (s28)."""
    from .similarity import ivf_topk

    T = n_tokens
    hits = ivf_topk(
        composite_tokens(query_tokens, T, id_col, pos_col, vec_col),
        composite_tokens(cand_tokens, T, id_col, pos_col, vec_col),
        k=k0,
        n_cells=n_cells,
        n_probe=n_probe,
        corpus_cache_key=corpus_cache_key,
    )
    return maxsim_rerank_tokens(
        _parent_shortlist(hits, T),
        query_tokens,
        cand_tokens,
        k=k,
        id_col=id_col,
        pos_col=pos_col,
        vec_col=vec_col,
    )


def composite_tokens(
    df: DataFrame,
    n_tokens: int,
    id_col: str = "vec_id",
    pos_col: str = "token_id",
    vec_col: str = "token",
) -> DataFrame:
    """Long-format token rows → the SINGLE-VECTOR frame the IVF family
    indexes: ``(vec_id = doc·T + token_id, embedding)``. Because the
    result is plain (id, embedding), the WHOLE persisted lifecycle —
    BLAS assignment, generation commit, pruned serve, append/compact —
    applies to token indexes unchanged (SCALE.md §7r-b).

    Composite-id injectivity guard: doc·T + m collides ACROSS
    documents the moment a token_id reaches T — real per-token
    encoders emit VARIABLE token counts, so a too-small ``n_tokens``
    would silently corrupt both the first stage and the parent
    mapping. The guard is a map-side branch riding the existing scan
    (raise_error fires only on a bad row) — no extra job, every row
    checked, corpus-scale safe."""
    T = n_tokens
    pos = F.col(pos_col).cast("long")
    return df.select(
        F.when(
            (pos < 0) | (pos >= T),
            F.raise_error(
                F.concat(
                    F.lit(
                        "maxsim_search_tokens: token_id out of range "
                        f"[0, {T}) for n_tokens={T} (id collision) — "
                        "got token_id="
                    ),
                    pos.cast("string"),
                )
            ).cast("long"),
        )
        .otherwise(F.col(id_col).cast("long") * T + pos)
        .alias("vec_id"),
        F.col(vec_col).alias("embedding"),
    )


def _parent_shortlist(hits: DataFrame, T: int) -> DataFrame:
    """Token-level hits (composite ids) → distinct parent-document
    pairs, self-pairs dropped — the stage-1→stage-2 mapping of the
    ColBERT retrieval architecture."""
    return (
        hits.select(
            F.expr(f"CAST(query_id DIV {T} AS BIGINT)").alias("query_id"),
            F.expr(f"CAST(candidate_id DIV {T} AS BIGINT)").alias("candidate_id"),
        )
        .filter(F.col("query_id") != F.col("candidate_id"))
        .distinct()
    )


def build_token_index(
    cand_tokens: DataFrame,
    path: str,
    n_tokens: int,
    id_col: str = "vec_id",
    pos_col: str = "token_id",
    vec_col: str = "token",
    corpus_cache_key: tuple | None = None,
    assign_blas: bool = False,
    kind: str = "ivfsq",
    **build_kw,
) -> None:
    """Persist the TOKEN-LEVEL index for late-interaction retrieval —
    SCALE.md §7r-b's deployment route: the in-memory
    `maxsim_search_tokens` first stage re-pays the T×n-token fold
    assignment EVERY serve (90 s warm at 100k docs × 4 tokens), while
    this build pays it once (18.5 s with ``assign_blas=True``) and
    each serve is a pruned scan (5.8 s — ×16). The composite token
    frame is plain (id, embedding), so this is the persisted family
    unchanged — √n cells ON THE TOKEN COUNT, generation-scoped
    commit, append/compact all apply; serve with
    `maxsim_search_tokens_persisted`.

    ``kind``: ``"ivfsq"`` (default — dim bytes/token) or ``"ivfpq"``
    (``n_subspaces`` bytes/token — the compressed kind matters MORE
    for token indexes, which carry T× the corpus rows; remember PQ's
    §7q lesson: ADC alone blurs clone cohorts, keep the maxsim rerank
    on). Extra ``build_kw`` (n_subspaces/n_codes/codebooks) flow to
    the PQ build.

    The build RECORDS ``n_tokens`` in the index geometry ``_meta``
    (ADVICE r11): composite ids are only decodable with the T they
    were encoded with, so `maxsim_search_tokens_persisted` fails fast
    on a mismatched serve-time T (and can default T from the meta)
    instead of silently mapping hits to wrong parent documents."""
    from .ann_index import index_builder

    index_builder(kind)(
        composite_tokens(cand_tokens, n_tokens, id_col, pos_col, vec_col),
        path, n_cells=None,
        corpus_cache_key=corpus_cache_key, assign_blas=assign_blas,
        extra_meta={"n_tokens": int(n_tokens)}, **build_kw,
    )


def maxsim_search_tokens_persisted(
    spark,
    index_path: str,
    query_tokens: DataFrame,
    cand_tokens: DataFrame | None = None,
    k: int = 5,
    k0: int = 10,
    n_tokens: int | None = 4,
    n_probe: int = 2,
    id_col: str = "vec_id",
    pos_col: str = "token_id",
    vec_col: str = "token",
    token_table_path: str | None = None,
    ids_pushdown: bool = True,
) -> DataFrame:
    """`maxsim_search_tokens` served from the PERSISTED token index
    (`build_token_index`) — the late-interaction deployment shape: per
    query token, the persisted IVF-SQ8 serve retrieves the top-``k0``
    candidate tokens from the probed cells only (partition-pruned
    quantized dots — the s13 family's serve on the composite frame),
    hits map back to parent documents, and the distinct parent pairs
    are maxsim-reranked over the raw token tables. Differs from the
    in-memory path exactly where the index kinds differ: stage 1 ranks
    on the QUANTIZED dot (oracle:
    `plans/lsh_oracle.colbert_persisted_retrieval_sql`).

    Serves BOTH persisted kinds through `ann_index.search_index`,
    which takes the codec from the index's own ``_meta``; on an
    ``ivfpq`` token index the first stage ranks on the ADC distance.

    ``n_tokens`` is CROSS-CHECKED against the T the index records
    (ADVICE r11 — `build_token_index` writes it into the geometry
    ``_meta``): composite candidate ids decode with the build-time
    divisor only, so a mismatched serve-time T would silently map
    hits to wrong parent documents; here it raises. Pass
    ``n_tokens=None`` to take T from the index itself (indexes built
    directly through `build_ivfsq_index` record no T and then require
    the explicit argument).

    ``token_table_path`` (round 12 — VERDICT r11 #3): the ONE-CALL
    composed deployment serve. Candidate tokens come from a
    `write_token_table` parquet instead of an in-memory frame — the
    full production shape touches only two persisted artifacts (the
    token index and the token table) plus the online query batch.
    The parent shortlist is collected in one job under
    `MAX_SHORTLIST_ROWS` (driver-sized by the serving contract:
    ≤ queries × T × k0 pairs before distinct — the s31 rule; past the
    bound, ValueError) so stage 1 runs ONCE (the §7r-c lesson: never
    recompute the first stage to derive ids), and the survivors'
    tokens are read with the id In-filter pushed into the clustered
    scan (``ids_pushdown=True`` — right for online batches; pass False
    for large batch reranks to cut via the broadcast semi join
    instead, the §7r-c crossover rule)."""
    import json as _json

    from .ann_index import _read_meta_text, _resolve_codes_name, search_index

    # recorded-T sniff from the live generation's `_meta`, read on
    # EVERY serve (a driver-side one-file read, no Spark job), so the
    # fail-fast T cross-check below can never be skipped.
    live = _resolve_codes_name(spark, index_path)
    meta_T = _json.loads(_read_meta_text(spark, index_path, live)).get("n_tokens")
    if n_tokens is None:
        if meta_T is None:
            raise ValueError(
                "maxsim_search_tokens_persisted: n_tokens=None but the "
                f"index at {index_path} records no n_tokens (built "
                "directly, not via build_token_index?) — pass n_tokens="
            )
        n_tokens = int(meta_T)
    elif meta_T is not None and int(meta_T) != int(n_tokens):
        raise ValueError(
            f"maxsim_search_tokens_persisted: index at {index_path} was "
            f"built with n_tokens={int(meta_T)} but the serve passed "
            f"n_tokens={int(n_tokens)} — composite ids would decode to "
            "wrong parent documents"
        )
    T = n_tokens
    comp_q = composite_tokens(query_tokens, T, id_col, pos_col, vec_col)
    hits = search_index(spark, index_path, comp_q, k=k0, n_probe=n_probe)
    shortlist = _parent_shortlist(hits, T)
    if token_table_path is not None:
        if cand_tokens is not None:
            raise ValueError(
                "pass cand_tokens OR token_table_path, not both"
            )
        from .util import local_rows_df

        # one stage-1 execution: the distinct parent pairs are
        # serving-contract-sized (≤ queries × T × k0), so collect them
        # once and drive BOTH the pruned table read and the rerank
        # join from the local rows.
        pairs = [
            (int(r["query_id"]), int(r["candidate_id"]))
            for r in bounded_collect(
                shortlist,
                MAX_SHORTLIST_ROWS,
                "maxsim_search_tokens_persisted: the parent shortlist "
                f"(MAX_SHORTLIST_ROWS={MAX_SHORTLIST_ROWS})",
            )
        ]
        shortlist = local_rows_df(
            spark, pairs, "query_id BIGINT, candidate_id BIGINT"
        )
        ids = sorted({c for _, c in pairs}) if ids_pushdown else None
        cand_tokens = read_token_table(
            spark, token_table_path, ids=ids, id_col=id_col
        )
    elif cand_tokens is None:
        raise ValueError(
            "maxsim_search_tokens_persisted: pass cand_tokens (the "
            "long-format token frame) or token_table_path (a "
            "write_token_table parquet)"
        )
    return maxsim_rerank_tokens(
        shortlist,
        query_tokens,
        cand_tokens,
        k=k,
        id_col=id_col,
        pos_col=pos_col,
        vec_col=vec_col,
    )


def maxsim_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    n_tokens: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """EXACT late-interaction top-k — the brute-force baseline (every
    query × corpus pair scored; the recall yardstick and the
    small-corpus serve, exactly `brute_force_topk`'s role for the
    single-vector family). Same per-pair expression as
    `maxsim_rerank` (asserted equal over a full-corpus shortlist in
    tests), self-pairs excluded. Corpus-shaped by construction — at
    scale use a first-stage retriever + `maxsim_rerank`."""
    pairs = corpus.select(F.col(id_col).alias("candidate_id")).crossJoin(
        F.broadcast(
            queries.select(F.col(id_col).alias("query_id"))
        )
    ).filter(F.col("query_id") != F.col("candidate_id"))
    return maxsim_rerank(
        pairs, queries, corpus, k=k, n_tokens=n_tokens,
        id_col=id_col, vec_col=vec_col, dim=dim,
    )
