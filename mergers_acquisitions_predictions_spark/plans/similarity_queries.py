"""Embedding similarity-search queries over `embeddings`
(north-star ops; operators in `operators/similarity.py`).

Precision parity: both engines compute dot products in double,
left-to-right over the same 64 floats, and rank on the ROUNDED
similarity with an id tiebreak.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.vectors import l2_norm
from ..operators.similarity import brute_force_topk, lsh_topk
from ..sources.readers import load_table
from .lsh_oracle import (
    SQL_DOT,
    SQL_SQNORM,
    auto_buckets_cte_sql,
    auto_hamming1_probe_sql,
    buckets_cte_sql,
    hamming1_probe_sql,
)
from .registry import query

_SQL_SQNORM = SQL_SQNORM


@query(
    "s01_embedding_norms",
    oracle=f"""
    SELECT vec_id,
           CAST(len(embedding) AS BIGINT) AS dim,
           round(sqrt({_SQL_SQNORM.format(v='embedding')}), 6) AS l2
    FROM embeddings
    """,
)
def s01_embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2 norms via JVM higher-order functions (`zip_with`+`aggregate`)
    — the engine's `array<float>` vector math needs no Python and no
    ml.Vector round-trip."""
    e = load_table(spark, sf_dir, "embeddings")
    return e.select(
        "vec_id",
        F.size("embedding").cast("long").alias("dim"),
        F.round(l2_norm(F.col("embedding")), 6).alias("l2"),
    )


@query(
    "s02_cosine_topk",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 5),
    c AS (SELECT vec_id AS candidate_id, embedding AS ce FROM embeddings),
    scored AS (
        SELECT query_id, candidate_id,
               round(
                 list_sum(list_transform(range(1, len(qe) + 1),
                          i -> CAST(qe[i] AS DOUBLE) * CAST(ce[i] AS DOUBLE)))
                 / (sqrt({_SQL_SQNORM.format(v='qe')})
                    * sqrt({_SQL_SQNORM.format(v='ce')})), 6) AS cos_sim
        FROM q CROSS JOIN c
        WHERE query_id <> candidate_id
    )
    SELECT query_id, candidate_id, cos_sim, rank
    FROM (
        SELECT query_id, candidate_id, cos_sim,
               CAST(row_number() OVER (
                   PARTITION BY query_id ORDER BY cos_sim DESC, candidate_id
               ) AS BIGINT) AS rank
        FROM scored
    )
    WHERE rank <= 5
    """,
)
def s02_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force cosine top-5 for query vectors vec_id<5 — the
    ANN baseline. The query set is broadcast; the corpus streams
    map-side; the only shuffle is the per-query top-k window."""
    e = load_table(spark, sf_dir, "embeddings")
    return brute_force_topk(e.filter(F.col("vec_id") < 5), e, k=5)


@query(
    "s03_lsh_ann_topk",
    oracle=f"""
    WITH {auto_buckets_cte_sql(dim=64, k_max=12, n_tables=8)},
    qb AS (SELECT vec_id, t, bucket FROM buckets WHERE vec_id < 5),
    qprobe AS ({auto_hamming1_probe_sql(k_max=12, base="qb")}
    ),
    cand AS (
        SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS candidate_id
        FROM qprobe q
        JOIN buckets c ON q.t = c.t AND q.bucket = c.bucket
        WHERE q.vec_id <> c.vec_id
    ),
    scored AS (
        SELECT query_id, candidate_id,
               round({SQL_DOT.format(a='qv.embedding', b='cv.embedding')}
                     / (sqrt({SQL_SQNORM.format(v='qv.embedding')})
                        * sqrt({SQL_SQNORM.format(v='cv.embedding')})), 6) AS cos_sim
        FROM cand
        JOIN embeddings qv ON qv.vec_id = query_id
        JOIN embeddings cv ON cv.vec_id = candidate_id
    )
    SELECT query_id, candidate_id, cos_sim, rank
    FROM (
        SELECT query_id, candidate_id, cos_sim,
               CAST(row_number() OVER (
                   PARTITION BY query_id ORDER BY cos_sim DESC, candidate_id
               ) AS BIGINT) AS rank
        FROM scored
    )
    WHERE rank <= 5
    """,
)
def s03_lsh_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k via multi-table sign-LSH with Hamming-1
    multiprobe (the scale path: the candidate join is an equi-join on
    the bucket key, so corpus×query never cross-joins; multiprobe
    recovers 100% of exact top-5 on the test embeddings vs 69%
    single-probe). The plane count is SIZE-AWARE (auto_planes from the
    corpus count — fixed k is the config that thrashes at 100×,
    SCALE.md §7b/§7c). FULL value-parity check despite being
    approximate AND auto-sized: plane chunks are prefix-stable
    (`lsh_tables(k_max=12)`) and the oracle recomputes the same k from
    count(*) (plans/lsh_oracle.auto_buckets_cte_sql), so DuckDB
    reproduces the identical buckets, probes, and candidate set at
    every SF; recall vs. the exact baseline is additionally asserted
    in tests/test_similarity.py."""
    from ..operators.similarity import auto_planes
    from ..operators.util import memoized_literal

    e = load_table(spark, sf_dir, "embeddings")
    k = auto_planes(
        memoized_literal(
            ("count", (sf_dir, "embeddings"), "vec_id"), lambda: e.count()
        )
    )
    return lsh_topk(
        e.filter(F.col("vec_id") < 5),
        e,
        k=5,
        n_planes=k,
        multiprobe=True,
        k_max=12,
        corpus_cache_key=(sf_dir, "embeddings"),
        queries_cache_key=(sf_dir, "embeddings", "vec_id<5"),
    )


from .lsh_oracle import auto_ivf_cent_ctes_sql as _auto_cent  # noqa: E402
from .lsh_oracle import ivf_assign_sql as _ivf_assign_sql  # noqa: E402
from .lsh_oracle import ivf_topk_sql as _ivf_topk_sql  # noqa: E402


# s11 embeds this text in parentheses, so its outer blanks are pinned
@query("s04_ivf_ann_topk", oracle=f"\n    WITH {_ivf_topk_sql(n_probe=2)}\n    ")
def s04_ivf_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k via an IVF index (√n cells via `auto_cells`,
    nprobe 2) — the cell-partitioned ANN scale path alongside sign-LSH
    (s03): corpus vectors live in exactly one nearest-centroid cell; a
    query scans only its two nearest cells through an equi-join on
    cell_id. The cell count is SIZE-AWARE (auto_cells ⇒ √n — a fixed
    count is the config that degenerates at 100×, SCALE.md §7i), and
    the oracle recomputes the same count from count(*)
    (lsh_oracle.auto_ivf_cent_ctes_sql) — so even the auto-sized
    approximate result stays FULLY value-checked: centroids are
    deterministic (lowest-id vectors — a production index would fit
    k-means and persist the table; the join shapes are identical), so
    DuckDB reproduces the same cells, probes, and ranking."""
    from ..operators.similarity import ivf_topk

    e = load_table(spark, sf_dir, "embeddings")
    return ivf_topk(
        e.filter(F.col("vec_id") < 5),
        e,
        k=5,
        n_cells=None,
        n_probe=2,
        corpus_cache_key=(sf_dir, "embeddings"),
    )


from .lsh_oracle import ivfpq_topk_sql as _ivfpq_topk_sql  # noqa: E402
from .lsh_oracle import maxsim_topk_sql as _maxsim_topk_sql  # noqa: E402
from .lsh_oracle import colbert_token_retrieval_sql as _colbert_sql  # noqa: E402


@query(
    "s08_ivfpq_topk",
    oracle=f"WITH {_ivfpq_topk_sql(n_subspaces=8, sub_dim=8, n_codes=16, n_cells='auto', n_probe=2, k=5, rerank=40)}\n",
)
def s08_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k via IVF-PQ with exact re-rank
    (operators/pq.ivfpq_topk): the COMPRESSED-index ANN path that
    completes the family — s02 exact baseline, s03 sign-LSH buckets,
    s04/s05 IVF cells, s08 IVF cells + 8-byte PQ codes + ADC
    shortlist + exact top-k. At 100 TB the coded corpus is 32×
    smaller than raw float32 vectors; the ADC scan costs 8 table
    lookups per candidate, and full vectors are touched only for the
    R=8k shortlist. Cells keep the scan sub-linear (equi-join on
    cell_id, never a cross join).

    FULL value parity despite double approximation (cells AND
    quantization): anchor codebooks + rounded-argmin encoding +
    ordered ADC folds + the shortlist cut are all deterministic, and
    the oracle regenerates every stage from the parquet — see
    lsh_oracle.ivfpq_topk_sql. Recall vs the exact baseline (0.80,
    at the 0.81 IVF-ceiling) is asserted in tests/test_pq.py."""
    from ..operators.pq import ivfpq_topk

    e = load_table(spark, sf_dir, "embeddings")
    return ivfpq_topk(
        e.filter(F.col("vec_id") < 5),
        e,
        k=5,
        n_cells=None,  # √n auto_cells; oracle recomputes from count(*)
        n_probe=2,
        n_subspaces=8,
        n_codes=16,
        rerank=40,
        corpus_cache_key=(sf_dir, "embeddings"),
    )


# Registered late (plans/extra_queries.py, r1-r2 history); since
# round 3 the registered config runs the BUCKETED sign-LSH top-k (the
# scale path), and the oracle replays its candidate set exactly via
# the deterministic hyperplane constants — so even the approximate
# configuration is value-checked.
S06_ORACLE = f"""
    WITH {{buckets}},
    qb AS (SELECT vec_id, t, bucket FROM buckets WHERE vec_id < 5),
    qprobe AS ({{probe}}
    ),
    cand AS (
        SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS candidate_id
        FROM qprobe q
        JOIN buckets c ON q.t = c.t AND q.bucket = c.bucket
        WHERE q.vec_id <> c.vec_id
    ),
    scored AS (
        SELECT query_id, candidate_id,
               round({SQL_DOT.format(a='qv.embedding', b='cv.embedding')}
                     / (sqrt({SQL_SQNORM.format(v='qv.embedding')})
                        * sqrt({SQL_SQNORM.format(v='cv.embedding')})), 6) AS cos_sim
        FROM cand
        JOIN embeddings qv ON qv.vec_id = query_id
        JOIN embeddings cv ON cv.vec_id = candidate_id
    ),
    topk AS (
        SELECT * FROM (
            SELECT query_id, candidate_id, cos_sim,
                   row_number() OVER (
                       PARTITION BY query_id ORDER BY cos_sim DESC, candidate_id
                   ) AS rk
            FROM scored
        ) WHERE rk <= 15
    )
    SELECT query_id, candidate_id, cos_sim,
           CAST(rank AS BIGINT) AS rank
    FROM (
        SELECT t.query_id, t.candidate_id, t.cos_sim,
               row_number() OVER (
                   PARTITION BY t.query_id
                   ORDER BY t.cos_sim DESC, t.candidate_id
               ) AS rank
        FROM topk t
        JOIN embeddings ql ON ql.vec_id = t.query_id
        JOIN embeddings cl ON cl.vec_id = t.candidate_id
        WHERE ql.label <> cl.label
    )
    WHERE rank <= 5
    """.format(
    buckets=buckets_cte_sql(dim=64, n_planes=4, n_tables=8),
    probe=hamming1_probe_sql(n_planes=4, base="qb"),
)


def s06_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining (operators/similarity.mine_hard_negatives):
    per query, the 5 most-similar DIFFERENTLY-LABELED vectors from a
    3× overfetched top-k — the contrastive-training data-prep op. The
    registered config uses the BUCKETED multi-table sign-LSH top-k
    (multiprobe), i.e. the SHAPE a large corpus runs: candidates
    meet on bucket equi-joins, never a cross join. The default
    operator auto-selects this path past `brute_force_max` rows; it is
    forced here so the driver row proves the scale plan, with the
    oracle replaying the identical LSH candidate set."""
    from ..operators.similarity import lsh_topk, mine_hard_negatives

    def lsh_multiprobe(q, c, **kw):
        return lsh_topk(
            q,
            c,
            multiprobe=True,
            corpus_cache_key=(sf_dir, "embeddings"),
            queries_cache_key=(sf_dir, "embeddings", "vec_id<5"),
            **kw,
        )

    e = load_table(spark, sf_dir, "embeddings")
    return mine_hard_negatives(
        e.filter(F.col("vec_id") < 5),
        e,
        n_neg=5,
        overfetch=3,
        label_col="label",
        topk_fn=lsh_multiprobe,
    )


from .registry import ORACLES as _ORACLES  # noqa: E402


@query(
    "s07_ann_recall",
    oracle=f"""
    SELECT e.query_id,
           CAST(count(a.candidate_id) AS BIGINT) AS n_hits,
           round(count(a.candidate_id) / 5.0, 4) AS recall
    FROM ({_ORACLES["s02_cosine_topk"]}) e
    LEFT JOIN ({_ORACLES["s03_lsh_ann_topk"]}) a
      ON e.query_id = a.query_id AND e.candidate_id = a.candidate_id
    GROUP BY e.query_id
    """,
)
def s07_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of the sign-LSH multiprobe ANN index (s03) against the
    exact brute-force baseline (s02), per query — the evaluation loop
    an ANN deployment tunes against ("measure, don't guess"): raise
    n_tables / probe radius until recall meets target, then stop
    paying for more. The oracle literally composes the two underlying
    query oracles, so the approximate index's QUALITY is itself
    value-checked cross-engine.

    Plan shape (operators/similarity.topk_recall): both inputs are
    k-rows-per-query; the recall join and per-query count add only a
    sample-sized shuffle on top of the input plans."""
    from ..operators.similarity import topk_recall

    ex = s02_cosine_topk(spark, sf_dir)
    ap = s03_lsh_ann_topk(spark, sf_dir)
    return topk_recall(ex, ap, k=5)


from .lsh_oracle import ivfsq_topk_sql as _ivfsq_topk_sql  # noqa: E402


@query(
    "s10_ivfsq_topk",
    oracle=f"WITH {_ivfsq_topk_sql(dim=64, n_cells='auto', n_probe=2, k=5)}\n",
)
def s10_ivfsq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k via IVF + 8-bit SCALAR quantization
    (operators/sq.ivfsq_topk) — the missing design point between raw
    vectors and PQ codes that completes the compression family: s02
    exact float32 (256 B/vec), s10 SQ8 (64 B/vec, ~lossless — no
    re-rank stage needed), s08 PQ (8 B/vec, ADC lookups + exact
    re-rank to recover quantization loss). SQ8 is what a deployment
    picks when the index must fit executor RAM but scan FLOPs are
    cheap: per-dimension min/max learned from the corpus, one uint8
    per dimension, full-precision queries (asymmetric distance).

    FULL value parity despite double approximation (cells AND
    quantization): the oracle regenerates the per-dimension stats
    from the parquet, re-encodes the corpus on the same
    round-half-up grid, and replays the dequantized-dot ranking —
    see lsh_oracle.ivfsq_topk_sql. Recall vs the exact baseline is
    asserted at the IVF ceiling in tests/test_sq.py."""
    from ..operators.sq import ivfsq_topk

    e = load_table(spark, sf_dir, "embeddings")
    return ivfsq_topk(
        e.filter(F.col("vec_id") < 5),
        e,
        k=5,
        n_cells=None,
        n_probe=2,
        corpus_cache_key=(sf_dir, "embeddings"),
    )


@query(
    "s11_rrf_fusion",
    oracle=f"""
    WITH lsh AS ({_ORACLES["s03_lsh_ann_topk"]}),
    ivf AS ({_ORACLES["s04_ivf_ann_topk"]}),
    fused AS (
        SELECT coalesce(l.query_id, i.query_id) AS query_id,
               coalesce(l.candidate_id, i.candidate_id) AS candidate_id,
               CAST(floor((coalesce(CAST(1.0 AS DOUBLE)
                                    / (CAST(60.0 AS DOUBLE)
                                       + CAST(l.rank AS DOUBLE)), 0.0)
                           + coalesce(CAST(1.0 AS DOUBLE)
                                      / (CAST(60.0 AS DOUBLE)
                                         + CAST(i.rank AS DOUBLE)), 0.0))
                          * 1e9 + 0.5) AS BIGINT) AS rrf_ppb
        FROM lsh l
        FULL OUTER JOIN ivf i
          ON l.query_id = i.query_id AND l.candidate_id = i.candidate_id
    )
    SELECT query_id, candidate_id, rrf_ppb, fused_rank
    FROM (
        SELECT query_id, candidate_id, rrf_ppb,
               CAST(row_number() OVER (
                   PARTITION BY query_id ORDER BY rrf_ppb DESC, candidate_id
               ) AS BIGINT) AS fused_rank
        FROM fused
    )
    WHERE fused_rank <= 5
    """,
)
def s11_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: reciprocal-rank fusion of the sign-LSH index
    (s03) with the IVF index (s04) — operators/similarity.rrf_fuse.
    The two indexes have DIFFERENT recall failure modes (LSH misses
    near-hyperplane-boundary neighbors, IVF misses near-cell-edge
    ones), so their rank-level union beats either alone with no score
    calibration — the reason RRF is the default combiner in hybrid
    search stacks. The oracle literally composes the two underlying
    index oracles, so the fused ranking is value-checked end to end;
    the fused score becomes integer ppb before ranking so the cut is
    engine-portable."""
    from ..operators.similarity import rrf_fuse

    lsh = s03_lsh_ann_topk(spark, sf_dir)
    ivf = s04_ivf_ann_topk(spark, sf_dir)
    return rrf_fuse([lsh, ivf], k=5, c=60)


@query(
    "s13_persisted_index_topk",
    oracle=f"WITH {_ivfsq_topk_sql(dim=64, n_cells='auto', n_probe=2, k=5)}\n",
)
def s13_persisted_index_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DEPLOYMENT-shaped ANN flow, driver-certified end to end:
    build the IVF-SQ8 index to DISK (`ann_index.build_ivfsq_index` —
    codes partitioned by cell_id, quantizer + centroids in a meta
    sidecar), then serve top-k from the persisted artifact
    (`search_index` — the query batch's probed cells are pushed
    into the codes scan as an `isin` PartitionFilter, so the scan
    reads ONLY those cells' files; partition pruning is plan-asserted
    in tests/test_ann_index.py). Search is bit-identical to the
    in-memory `ivfsq_topk` path (same stats, codes, fold orders), so
    s10's oracle applies verbatim — making the amortized serving
    shape, not just the in-memory plan, a hash-checked driver row.

    The index is REBUILT from the parquet on every invocation
    (overwrite semantics): correctness must never depend on a stale
    artifact surviving a testdata regeneration. A deployment builds
    once and amortizes — that regime's 5.7× scan win is measured in
    SCALE.md §7i.

    The artifact path is keyed by (sf_dir, applicationId): two
    concurrent processes over the same sf_dir (bench alongside a
    correctness sweep, parallel CI) each build to their OWN path, so
    an in-flight partitioned read can never race another process's
    mode('overwrite') (ADVICE r4). Scratch dir overridable via
    $SPARK_GRAFT_SCRATCH; stale artifacts from DEAD sessions under
    the same prefix are best-effort reaped at build time, age-gated
    (>6h untouched) so a concurrently-live session's artifact is
    never pulled out from under its reads."""
    from ..operators.ann_index import build_ivfsq_index, search_index

    e = load_table(spark, sf_dir, "embeddings")
    path = _scratch_index_path(spark, sf_dir, "ivfsq")
    build_ivfsq_index(
        e, path, n_cells=None, corpus_cache_key=(sf_dir, "embeddings")
    )
    return search_index(
        spark, path, e.filter(F.col("vec_id") < 5), k=5, n_probe=2
    )


def _scratch_index_path(spark: SparkSession, sf_dir: str, kind: str) -> str:
    """Per-(sf_dir, applicationId) scratch path for persisted index
    artifacts (see s13's docstring for the race/reap rationale)."""
    import hashlib
    import os
    import shutil
    import time

    from .handshake import scratch_root

    token = hashlib.md5(sf_dir.encode()).hexdigest()[:12]
    scratch = scratch_root()
    app = spark.sparkContext.applicationId
    prefix = f"mergers_acquisitions_spark_{kind}_{token}"
    try:  # reap long-dead sessions' artifacts (best-effort)
        cutoff = time.time() - 6 * 3600
        for name in os.listdir(scratch):
            full = os.path.join(scratch, name)
            if (
                name.startswith(prefix)
                # the LIVE session's whole family is protected — the
                # bare index dir AND suffixed siblings (_qbatch): a
                # >6h-lived session's own artifacts must never be
                # pulled out from under its reads (ADVICE r5)
                and not name.startswith(f"{prefix}_{app}")
                and os.path.getmtime(full) < cutoff
            ):
                shutil.rmtree(full, ignore_errors=True)
    except OSError:
        pass
    return os.path.join(scratch, f"{prefix}_{app}")


def _half_index(
    spark: SparkSession, e: DataFrame, sf_dir: str, kind: str, par: int = 0
) -> str:
    """The persisted IVF-SQ8 index of the ``vec_id % 2 == par`` half
    of the corpus ``e`` (auto cell count, fit memoized under the
    half's corpus key), built at the session's ``kind`` scratch path;
    returns the path. The even half is the nightly-ingest base the
    append and stream-ingest rows grow with the odd half."""
    from ..operators.ann_index import build_ivfsq_index

    path = _scratch_index_path(spark, sf_dir, kind)
    build_ivfsq_index(
        e.filter(F.col("vec_id") % 2 == par),
        path,
        n_cells=None,
        corpus_cache_key=(sf_dir, "embeddings", f"vec_id%2={par}"),
    )
    return path


def _wire_batches(vdir: str, shards: list[DataFrame]) -> list[DataFrame]:
    """Micro-batch ``i`` of an ingest stream, replayed: ``shards[i]``
    written to ``{vdir}/b{i}`` in the stream source's wire format
    (JSONL, one `to_json` row per record) and read back with the
    stream's schema (the shard's own). Ingest shards are data-sized,
    so the write is distributed, never collected; Jackson writes
    shortest-decimal floats, so float32 round-trips exactly."""
    import os

    batches = []
    for i, shard in enumerate(shards):
        out = f"{vdir}/b{i}"
        (
            shard.select(F.to_json(F.struct(*shard.columns)).alias("value"))
            .coalesce(2)
            .write.mode("overwrite")
            .text(out)
        )
        os.utime(out)  # keep the reaper's dir-mtime key fresh (s15)
        batches.append(shard.sparkSession.read.schema(shard.schema).json(out))
    return batches


@query(
    "s20_reranked_index_topk",
    oracle=f"WITH {_ivfsq_topk_sql(dim=64, n_cells='auto', n_probe=2, k=5, rerank=15)}\n",
)
def s20_reranked_index_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT-RERANK serve from the persisted IVF-SQ8 index — the
    clone-cohort remedy SCALE.md §7o-r8 recommends, driver-certified
    (VERDICT r8 #2): the SQ8 scan OVERFETCHES a top-15 shortlist per
    query (cheap — quantized dots over the probed cells only), the
    shortlist joins back to the raw vectors, and the final top-5
    ranks on the exact rounded cosine. On clone-saturated corpora the
    quantized dot's ±0.002 noise cannot separate 500-deep
    near-duplicate cohorts (recall 0.24 at 1M stacked for ANY
    centroid set — §7o-r8's tie-density diagnostic); the exact
    rescore of a shortlist restores recall 1.00 at a cost that is
    shortlist-shaped (queries × rerank rows), never corpus-shaped,
    with the codes scan's partition pruning untouched.

    Deliberately serves from the SAME artifact path as s13: when s13
    ran earlier in the session the build here is a REBUILD at a live
    path and exercises the staged-generation commit (codes + _meta
    published by one rename, previous generation retained one cycle
    — round 9's ADVICE r8 protocol) inside a hash-checked driver
    row; at a fresh path it is the generation-0 build. Either way the
    geometry is deterministic, so the serve is bit-identical.

    Oracle: `ivfsq_topk_sql(rerank=15)` replays the same overfetch +
    exact-rescore pipeline relationally (shortlist cut and exact fold
    are both deterministic — the machinery pre-certified in
    tests/test_ann_index.py::test_rerank_serve_is_oracle_replayable).
    Reference analogue: `predictions.scala:17-38` cuts a coarse
    candidate set first (prediction == 1) and only then scores the
    surviving pairs on the exact probability product — the same
    cheap-prefilter-then-exact-score shape this serve applies to
    ANN."""
    from ..operators.ann_index import build_ivfsq_index, search_index

    e = load_table(spark, sf_dir, "embeddings")
    path = _scratch_index_path(spark, sf_dir, "ivfsq")
    build_ivfsq_index(
        e, path, n_cells=None, corpus_cache_key=(sf_dir, "embeddings")
    )
    return search_index(
        spark,
        path,
        e.filter(F.col("vec_id") < 5),
        k=5,
        n_probe=2,
        rerank=15,
        vectors=e,
    )


@query(
    "s14_index_append_topk",
    oracle=f"""WITH {_ivfsq_topk_sql(dim=64, n_cells='auto', n_probe=2, k=5,
                                     build_filter='WHERE vec_id % 2 = 0')}\n""",
)
def s14_index_append_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The NIGHTLY-INGEST index flow, driver-certified (VERDICT r4
    #5): build the persisted IVF-SQ8 index from HALF the corpus
    (vec_id % 2 = 0), append the other half as a shard
    (`ann_index.append_index` — assigned and encoded with
    the index's FROZEN centroids and quantizer stats, the production
    behavior between full rebuilds), then serve top-k over the
    combined artifact. The oracle replays the frozen-geometry
    semantics exactly: stats, cell sizing, and centroids come from
    the build split only (`ivfsq_topk_sql(build_filter=...)`), while
    codes and search cover every vector — so the append path's
    results, not just its plumbing, are hash-checked cross-engine.
    Append-vs-full-build equivalence of the SEARCH stage is
    additionally asserted in tests/test_ann_index.py; the incremental
    MinHash sibling is d12."""
    from ..operators.ann_index import append_index, search_index

    e = load_table(spark, sf_dir, "embeddings")
    path = _half_index(spark, e, sf_dir, "ivfsq_append")
    append_index(e.filter(F.col("vec_id") % 2 == 1), path)
    return search_index(
        spark, path, e.filter(F.col("vec_id") < 5), k=5, n_probe=2
    )


@query(
    "s15_stream_serve_replay",
    oracle=f"WITH {_ivfsq_topk_sql(dim=64, n_cells='auto', n_probe=2, k=5)}\n",
)
def s15_stream_serve_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE MICRO-BATCH of the streaming ANN-serving path, replayed
    batch-shaped so the driver record covers it (VERDICT r4 #6): the
    foreachBatch serving sink's per-batch body
    (`streaming/serving.serve_batch` — the code
    tests/test_ann_index.py drives through a real availableNow file
    stream) is executed here on the identical micro-batch frame: the
    query vectors round-tripped through the stream source's own
    wire format (JSONL on disk, read back with the stream's schema —
    float32 survives the repr/parse round-trip bit-exactly). The
    index is the full-corpus persisted IVF-SQ8 artifact, so s13's
    oracle applies verbatim: the stream-serving results, not just the
    sink plumbing, are hash-checked cross-engine. Stream-vs-batch
    result equality for the same code path is separately asserted in
    tests/test_ann_index.py."""
    import json as _json
    import os

    from ..operators.ann_index import build_ivfsq_index
    from ..streaming.serving import serve_batch

    e = load_table(spark, sf_dir, "embeddings")
    path = _scratch_index_path(spark, sf_dir, "ivfsq_serve")
    build_ivfsq_index(
        e, path, n_cells=None, corpus_cache_key=(sf_dir, "embeddings")
    )
    # Materialize the micro-batch in the stream source's wire format.
    # The collect is the QUERY batch (5 rows) — bounded by the ANN
    # serving contract, never corpus-sized.
    qdir = f"{path}_qbatch"
    os.makedirs(qdir, exist_ok=True)
    # Refresh the DIR mtime on every batch write: rewriting the file
    # in place doesn't touch the directory, and a sibling session's
    # age-gated reaper keys on the dir (ADVICE r5). Belt-and-braces —
    # the reaper also skips the live session's whole prefix family.
    os.utime(qdir)
    with open(os.path.join(qdir, "batch0.jsonl"), "w") as f:
        for r in e.filter(F.col("vec_id") < 5).collect():
            f.write(
                _json.dumps(
                    {
                        "vec_id": r["vec_id"],
                        "embedding": [float(x) for x in r["embedding"]],
                    }
                )
                + "\n"
            )
    batch = spark.read.schema("vec_id long, embedding array<float>").json(qdir)
    return serve_batch(spark, path, batch, k=5, n_probe=2)


#: s12's shortlist artifact — the handshake contract of
#: plans/handshake.py applied to the MMR input: the query materializes
#: the overfetched shortlist (ids, relevance, candidate vectors), and
#: the oracle replays the ENTIRE greedy selection from the same bits.
from .handshake import handshake_path as _handshake_path  # noqa: E402

_S12_SHORT_PATH = _handshake_path("s12_shortlist")

#: s12's publish-skip record: (config, sf_dir, artifact) → the
#: `util.source_fingerprint` of sf_dir AND the artifact taken right
#: after this process's last publish. A mismatch on either path
#: republishes.
_S12_PUBLISHED: dict = {}

#: Greedy MMR as a RECURSIVE CTE: one selection step per recursion
#: level — per level, score every free candidate against the chosen
#: set (λ·rel − (1−λ)·max dot) and keep the per-query argmax
#: (QUALIFY row_number, tiebroken by the (−rel, candidate) sort
#: position, numpy-argmax's first-max rule). Float discipline that
#: makes this hash-exact against the Arrow path: vectors/rel come
#: from the SAME parquet artifact; the λ complement is written
#: (1.0 - 0.7) so SQL folds the identical double the Python operator
#: computes (a 0.3 literal is a DIFFERENT double); dots and norms are
#: sequential list_sum folds, which reproduce the operator's
#: BLAS-free numpy reductions on real shortlists (equality asserted
#: at sf0.001/0.01/0.1 in tests/test_similarity_mmr.py — numpy's
#: pairwise sums and a sequential fold agree far inside the 1e-6
#: rounding quantum on unit-vector dots).
_S12_ORACLE = f"""
    WITH RECURSIVE
    c0 AS (
        SELECT query_id, candidate_id, cos_sim AS rel,
               list_transform(c_vec, x -> CAST(x AS DOUBLE)) AS v
        FROM read_parquet('{_S12_SHORT_PATH}/*.parquet')
    ),
    n0 AS (
        SELECT *, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
        FROM c0
    ),
    base AS (
        SELECT query_id, candidate_id, rel,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY rel DESC, candidate_id) AS pos,
               list_transform(
                   v, x -> x / (CASE WHEN nrm = 0 THEN 1.0 ELSE nrm END)
               ) AS u
        FROM n0
    ),
    sel(query_id, step, candidate_id, mmr_score,
        chosen_units, chosen_ids) AS (
        (SELECT query_id, 1 AS step, candidate_id, 0.7 * rel AS mmr_score,
                [u] AS chosen_units, [candidate_id] AS chosen_ids
         FROM base
         QUALIFY row_number() OVER (PARTITION BY query_id
                                    ORDER BY 0.7 * rel DESC, pos) = 1)
      UNION ALL
        (SELECT query_id, step + 1, candidate_id, mmr,
                chosen_units || [u], chosen_ids || [candidate_id]
         FROM (
            SELECT b.query_id, s.step, b.candidate_id, b.u, b.pos,
                   s.chosen_units, s.chosen_ids,
                   0.7 * b.rel - (1.0 - 0.7) * list_max(list_transform(
                       s.chosen_units,
                       cu -> list_sum(list_transform(
                           range(1, len(b.u) + 1), i -> b.u[i] * cu[i]))
                   )) AS mmr
            FROM sel s JOIN base b USING (query_id)
            WHERE s.step < 5
              AND NOT list_contains(s.chosen_ids, b.candidate_id)
         )
         QUALIFY row_number() OVER (PARTITION BY query_id
                                    ORDER BY mmr DESC, pos) = 1)
    )
    SELECT query_id, candidate_id, round(mmr_score, 6) AS mmr_score,
           CAST(step AS BIGINT) AS rank
    FROM sel
"""


@query("s12_mmr_rerank", oracle=_S12_ORACLE)  # greedy selection, replayed:
def s12_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diversity-aware re-ranking of an ANN shortlist via Maximal
    Marginal Relevance (operators/similarity.mmr_rerank): overfetch
    top-15 candidates per query from the BUCKETED multi-table
    sign-LSH index (auto-sized planes — the same scale path s03
    runs: candidates meet on bucket equi-joins, never a cross join),
    then greedily re-rank to top-5 trading relevance against
    redundancy (λ=0.7) — the standard fix for a shortlist full of
    near-duplicates, which is precisely what a dedup-focused corpus's
    raw top-k returns.

    VALUE-CHECKED since round 6 (was the last declared-iterative
    rows-only row): the shortlist is materialized to a handshake
    artifact, the greedy selection runs over the artifact read, and
    the oracle replays the ENTIRE selection as a RECURSIVE CTE (one
    recursion level per pick — see _S12_ORACLE's float discipline:
    identical artifact bits, the (1.0 - 0.7) complement, sequential
    folds, first-max tiebreak). Verified hash-equal at
    sf0.001/0.01/0.1; the sequential pure-Python reference
    equivalence + diversity-property tests in
    tests/test_similarity_mmr.py remain the operator-level evidence. Scale shape: every stage is now
    bucketed or shortlist-sized — the LSH overfetch runs the same
    bucket-equi-join shape as s03 (the registered k_max=12 config
    auto-sizes planes up to ~10⁶ vectors; past that `lsh_tables`
    raises, the signal to raise k_max and regenerate the oracle
    constants — an explicit config decision, not silent degradation), and the Python work is per-QUERY over shortlist-sized
    groups (applyInPandas — the legitimate case), never
    corpus-sized.

    ARTIFACT-HOP SKIP (VERDICT r6 #3): the shortlist is a
    deterministic function of (sf_dir contents, config), so the
    publish is skipped when `_S12_PUBLISHED` certifies the existing
    artifact was produced from the CURRENT sf_dir content — it holds
    the content fingerprint of BOTH sf_dir and the artifact path taken
    right after this process's last publish, so a testdata regen, a
    foreign overwrite (another SF's sweep), or a config change all
    republish.
    A skipped publish changes nothing the oracle sees: the query
    still reads the same artifact bits the oracle replays."""
    from ..operators.similarity import auto_planes, mmr_rerank
    from ..operators.util import memoized_literal, source_fingerprint
    from ..sources.writers import publish_parquet_atomic

    marker = ("lshk15_kmax12_probe", sf_dir, _S12_SHORT_PATH)
    if _S12_PUBLISHED.get(marker) != source_fingerprint(marker):
        e = load_table(spark, sf_dir, "embeddings")
        q = e.filter(F.col("vec_id") < 5)
        short = lsh_topk(
            q,
            e,
            k=15,
            n_planes=auto_planes(
                memoized_literal(
                    ("count", (sf_dir, "embeddings"), "vec_id"), lambda: e.count()
                )
            ),
            multiprobe=True,
            k_max=12,
            corpus_cache_key=(sf_dir, "embeddings"),
            queries_cache_key=(sf_dir, "embeddings", "vec_id<5"),
        ).join(
            e.select(
                F.col("vec_id").alias("candidate_id"),
                F.col("embedding").alias("c_vec"),
            ),
            "candidate_id",
        )
        # coalesce(1): the shortlist is shortlist-sized by contract
        # (queries × 15 rows) — one writer task instead of 32
        # near-empty part files (measured: the artifact hop cost s12
        # ~0.45 s at 32 parts, ~0.2 s coalesced; PERF.md round 6).
        publish_parquet_atomic(
            short.select("query_id", "candidate_id", "cos_sim", "c_vec").coalesce(1),
            _S12_SHORT_PATH,
        )
        _S12_PUBLISHED[marker] = source_fingerprint(marker)
    return mmr_rerank(
        spark.read.parquet(_S12_SHORT_PATH), k=5, lam=0.7
    )

from .registry import ORACLES as _ORACLES2  # noqa: E402


@query(
    "s16_index_append_drift",
    oracle=f"""
    SELECT f.query_id,
           CAST(count(a.candidate_id) AS BIGINT) AS n_hits,
           round(count(a.candidate_id) / 5.0, 4) AS recall
    FROM ({_ORACLES2["s13_persisted_index_topk"]}) f
    LEFT JOIN ({_ORACLES2["s14_index_append_topk"]}) a
      ON f.query_id = a.query_id AND f.candidate_id = a.candidate_id
    GROUP BY f.query_id
    """,
)
def s16_index_append_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Append-vs-rebuild DRIFT of the persisted index — the monitoring
    query a nightly-ingest deployment runs to decide when frozen
    geometry has decayed enough to warrant a full rebuild: per query,
    overlap@5 between the full-corpus-built index (s13) and the
    split-built + frozen-geometry-appended index (s14). Low drift ⇒
    keep appending; falling overlap ⇒ schedule the rebuild. Composes
    `operators/similarity.topk_recall` over the two certified index
    flows; the oracle literally composes their oracles, so the drift
    metric itself is value-checked cross-engine. Sample-sized on top
    of its two input plans (both k-rows-per-query)."""
    from ..operators.similarity import topk_recall

    full = s13_persisted_index_topk(spark, sf_dir)
    appended = s14_index_append_topk(spark, sf_dir)
    return topk_recall(full, appended, k=5)


@query(
    "s17_filtered_index_topk",
    oracle=f"""WITH {_ivfsq_topk_sql(
        dim=64, n_cells='auto', n_probe=2, k=5,
        candidate_filter=(
            "AND c.candidate_id IN "
            "(SELECT vec_id FROM embeddings WHERE label % 2 = 1)"
        ))}\n""",
)
def s17_filtered_index_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTERED vector search over the persisted index — the standard
    vector-DB metadata-predicate feature ("top-k among candidates
    WHERE label is odd"), served from the same IVF-SQ8 artifact as
    s13: the query batch's probed cells still prune the codes scan to
    O(probed) files, and the predicate's allowed-id set is applied as
    a left-semi join on that pruned scan BEFORE any dequantized dot is
    computed (pre-filter semantics — ranks are dense over matching
    candidates, never post-filter holes that silently return < k
    usable rows). At 100 TB the predicate side is a metadata scan
    pushed down to parquet (here `label % 2 = 1` on the embeddings
    table itself); AQE broadcasts it when dim-table-sized, and a
    corpus-sized allowed set shuffles only the probed partitions.
    The oracle replays the identical geometry with the candidate
    restriction injected into the scored CTE
    (`lsh_oracle.ivfsq_topk_sql(candidate_filter=...)`), so the
    filtered ranking is hash-checked cross-engine. Reference scope:
    the reference has no ANN surface at all (SURVEY §2.8) — this is
    part of the LLM-pipeline mandate's similarity-search family."""
    from ..operators.ann_index import build_ivfsq_index, search_index

    e = load_table(spark, sf_dir, "embeddings")
    path = _scratch_index_path(spark, sf_dir, "ivfsq_filt")
    build_ivfsq_index(
        e, path, n_cells=None, corpus_cache_key=(sf_dir, "embeddings")
    )
    return search_index(
        spark,
        path,
        e.filter(F.col("vec_id") < 5),
        k=5,
        n_probe=2,
        allowed=e.filter(F.col("label") % 2 == 1),
    )


@query(
    "s18_index_compact_serve",
    oracle=f"""WITH {_ivfsq_topk_sql(dim=64, n_cells='auto', n_probe=2, k=5,
                                     build_filter='WHERE vec_id % 2 = 0')}\n""",
)
def s18_index_compact_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full index MAINTENANCE lifecycle, driver-certified: build
    the persisted IVF-SQ8 index from half the corpus, append the
    other half as TWO nightly shards (each append adds one file per
    touched cell — the accretion that degrades probed-cell scans into
    file-open overhead at 100 TB), COMPACT the codes
    (`ann_index.compact_index` — per-cell clustered rewrite
    committed by the POINTER-FILE protocol since round 8, VERDICT r7
    #4: the new generation directory is staged + renamed into place,
    then the ``CURRENT`` manifest atomically flips to name it, so a
    reader never sees a missing or partial codes directory on any
    filesystem), then serve top-k from the compacted artifact.
    Compaction is layout-only and the geometry is frozen throughout,
    so the oracle is s14's frozen-geometry replay VERBATIM — the
    driver hash proves compaction moved bytes, not meaning (the
    equality is also asserted file-count-wise and result-wise in
    tests/test_ann_index). Completes the deployment story:
    build (s13) → append (s14) → compact (s18) → serve / stream-serve
    (s15) / drift-monitor (s16)."""
    from ..operators.ann_index import append_index, compact_index, search_index

    e = load_table(spark, sf_dir, "embeddings")
    path = _half_index(spark, e, sf_dir, "ivfsq_compact")
    append_index(e.filter(F.col("vec_id") % 4 == 1), path)
    append_index(e.filter(F.col("vec_id") % 4 == 3), path)
    compact_index(spark, path)
    return search_index(
        spark, path, e.filter(F.col("vec_id") < 5), k=5, n_probe=2
    )


from .lsh_oracle import semdedup_kept_ctes_sql as _semdedup_kept_ctes  # noqa: E402

#: s21's oracle: d11's SemDeDup replay (renamed CTEs — the dedup
#: stage's 8 fixed cells must not collide with the index stage's
#: `cent`) feeding a `kept` survivor set into the full IVF-SQ8 replay
#: restricted to it on BOTH sides: `build_filter` fits quantizer
#: stats, √n sizing, and centroids on survivors only, and
#: `candidate_filter` drops non-survivors from the scored pairs —
#: together exactly "the index was built on the deduped corpus".
_S21_ORACLE = f"""WITH RECURSIVE {_semdedup_kept_ctes(8, 0.4)},
    {_ivfsq_topk_sql(dim=64, n_cells='auto', n_probe=2, k=5,
                     build_filter='WHERE vec_id IN (SELECT vec_id FROM kept)',
                     candidate_filter='AND c.candidate_id IN (SELECT vec_id FROM kept)')}
"""


@query("s21_dedup_index_serve", oracle=_S21_ORACLE)
def s21_dedup_index_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DEDUP-BEFORE-INDEX — the recommended 100 TB ANN ingestion
    pipeline as ONE driver-certified row (VERDICT r8 #5): SemDeDup
    the corpus (d11's machinery verbatim — 8 IVF cells, within-cell
    cosine pairs >= 0.4, connected components, keep the min-id
    member), BUILD the persisted IVF-SQ8 index on the survivors only,
    serve top-k from it. SCALE.md §7o-r8 remedy (a): quantized-dot
    recall collapses on clone-saturated corpora because tie cohorts
    are deeper than the SQ8 noise floor — removing near-duplicates
    BEFORE indexing shrinks the cohorts below it at the source, where
    the rerank serve (s20) pays an exact rescore per query instead.
    Composition economics at scale: the dedup is Σ|cell|² once per
    ingest, the index build n·√n once per rebuild, and every serve
    thereafter scans only probed cells of a SMALLER index — the
    deduped corpus is also what a training pipeline would feed the
    sampler anyway (d13/t13 downstream).

    The oracle replays BOTH stages in one statement: d11's
    recursive-CTE components produce the survivor set, and the
    IVF-SQ8 replay is restricted to it on the build side (stats, √n
    sizing, centroids fit on survivors) and the candidate side
    (non-survivors never scored) — exactly the semantics of building
    on the deduped frame. Queries deliberately come from the FULL
    corpus (vec_id < 5): a dropped duplicate remains a valid query
    against the deduped index and must rank only survivors.
    Reference analogue: the reference's own dedup-before-downstream
    hygiene — `acq_etl_code.scala:96-100` distincts the joined frame
    before everything that consumes it."""
    from ..operators.ann_index import build_ivfsq_index, search_index
    from ..operators.similarity import semantic_dedup

    e = load_table(spark, sf_dir, "embeddings")
    # `dd` OWNS the component loop's localCheckpoint blocks
    # (util.own_local_checkpoint): it must stay referenced until the
    # build has MATERIALIZED the survivor-built index — a chained
    # throwaway would let the finalizer release the truncated-lineage
    # checkpoint under the derived `kept` plan (a released checkpoint
    # cannot recompute). The serve afterwards reads only the
    # persisted artifact, so `dd` may die with this frame's scope.
    dd = semantic_dedup(e, threshold=0.4, n_cells=8)
    kept = e.join(
        dd.filter(F.col("keep")).select("vec_id"), "vec_id", "left_semi"
    )
    path = _scratch_index_path(spark, sf_dir, "ivfsq_dedup")
    build_ivfsq_index(
        kept,  # survivors only — the deduped corpus
        path,
        n_cells=None,
        corpus_cache_key=(sf_dir, "embeddings", "semdedup0.4x8"),
    )
    del dd  # checkpoint blocks released deterministically, post-build
    return search_index(
        spark, path, e.filter(F.col("vec_id") < 5), k=5, n_probe=2
    )


#: s22's oracle: s21's composed statement with the rerank stage on
#: top — the three generator features (SemDeDup survivor prelude,
#: build/candidate restriction, overfetch + exact rescore) proven to
#: compose in round 9
#: (tests/test_ann_index.py::test_dedup_rerank_compose_is_oracle_replayable)
#: before this row spent a window slot on them.
_S22_ORACLE = f"""WITH RECURSIVE {_semdedup_kept_ctes(8, 0.4)},
    {_ivfsq_topk_sql(dim=64, n_cells='auto', n_probe=2, k=5, rerank=15,
                     build_filter='WHERE vec_id IN (SELECT vec_id FROM kept)',
                     candidate_filter='AND c.candidate_id IN (SELECT vec_id FROM kept)')}
"""


@query("s22_dedup_rerank_serve", oracle=_S22_ORACLE)
def s22_dedup_rerank_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE production ANN configuration as one driver-certified row
    (VERDICT r9 #1): SemDeDup the corpus, build the persisted IVF-SQ8
    index on the survivors, serve with the EXACT re-rank — s21's
    ingestion economics composed with s20's recall remedy. SCALE.md
    §7o-r9 measured the two remedies STACKED at 1M: dedup alone
    recovers recall to 0.92 (clone cohorts shatter across cells;
    residual ties remain within cells) while shrinking rebuild 60×
    and serve 8×; the exact rescore of the overfetched shortlist
    closes the rest to 1.00 at the DEDUPED serve cost — so a
    deployment runs both, and this row certifies the composition
    end-to-end, not the stages separately.

    Deliberately shares s21's artifact path: when s21 ran earlier in
    the session this build is a REBUILD at a live path and exercises
    the staged-generation commit inside a hash-checked row (s20's
    precedent at s13's path); the geometry is deterministic either
    way, so the serve is bit-identical. ``vectors`` for the exact
    rescore is the FULL corpus frame — the shortlist join pulls only
    survivor ids out of it (the index holds survivors only), so the
    result is identical to passing the survivor frame, and the
    returned plan keeps no reference to the dedup stage's
    checkpoint-owning frame (the s21 GOTCHA: `dd` must outlive every
    derived plan's materialization; here nothing derived from it
    escapes this function).

    Oracle: the SemDeDup survivor prelude + IVF-SQ8 replay restricted
    to survivors on build AND candidate sides + the overfetch/exact-
    rescore stage, all in ONE statement. Reference analogue: the
    reference's dedup-before-downstream hygiene
    (`acq_etl_code.scala:96-100`) followed by its cheap-prefilter-
    then-exact-score shape (`predictions.scala:17-38`)."""
    from ..operators.ann_index import build_ivfsq_index, search_index
    from ..operators.similarity import semantic_dedup

    e = load_table(spark, sf_dir, "embeddings")
    # `dd` OWNS the component loop's localCheckpoint blocks — keep it
    # referenced until the survivor-built index has MATERIALIZED (the
    # build's parquet write), exactly s21's discipline.
    dd = semantic_dedup(e, threshold=0.4, n_cells=8)
    kept = e.join(
        dd.filter(F.col("keep")).select("vec_id"), "vec_id", "left_semi"
    )
    path = _scratch_index_path(spark, sf_dir, "ivfsq_dedup")
    build_ivfsq_index(
        kept,
        path,
        n_cells=None,
        corpus_cache_key=(sf_dir, "embeddings", "semdedup0.4x8"),
    )
    del dd, kept  # checkpoint blocks released deterministically
    return search_index(
        spark,
        path,
        e.filter(F.col("vec_id") < 5),
        k=5,
        n_probe=2,
        rerank=15,
        vectors=e,
    )


@query(
    "s23_pq_index_topk",
    oracle=f"WITH {_ivfpq_topk_sql(n_subspaces=8, sub_dim=8, n_codes=16, n_cells='auto', n_probe=2, k=5)}\n",
)
def s23_pq_index_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build + serve the persisted IVF-PQ index (round 10) — the
    COMPRESSED persisted kind: same generation-scoped layout, pointer
    commit, and partition-pruned serve as the s13 family, with
    8-byte PQ codes in place of the SQ8 bytes (32× smaller than raw
    float32 — at 10⁹ vectors the hot index is 8 GB, not 256 GB, which
    is what decides whether a serving fleet's page cache holds it).
    The serve's ADC scan costs 8 table lookups per probed pair, no
    vector math; results are bit-identical to the in-memory
    `pq.ivfpq_topk` under the same geometry (asserted in
    tests/test_pq_index.py), so the family's oracle replays the
    persisted path unchanged: anchor codebooks + √n auto-cells +
    rounded-argmin codes + ordered ADC folds, regenerated from the
    parquet by one static statement (lsh_oracle.ivfpq_topk_sql).

    Production note (SCALE.md §7o): on clone-saturated corpora PQ's
    quantization noise needs the exact re-rank remedy exactly like
    SQ8 — `search_index(rerank=..., vectors=...)` is the
    deployment serve (frame-equality-tested vs the in-memory rerank
    path); this row certifies the plain ADC contract the remedies
    stack on. No reference analogue (the reference has no vector
    search) — SURVEY §7 Phase 4 surface."""
    from ..operators.ann_index import build_ivfpq_index, search_index

    e = load_table(spark, sf_dir, "embeddings")
    path = _scratch_index_path(spark, sf_dir, "ivfpq")
    build_ivfpq_index(
        e,
        path,
        n_cells=None,
        n_subspaces=8,
        n_codes=16,
        corpus_cache_key=(sf_dir, "embeddings"),
    )
    return search_index(
        spark, path, e.filter(F.col("vec_id") < 5), k=5, n_probe=2
    )


@query(
    "s24_maxsim_rerank_serve",
    oracle=f"WITH {_ivfsq_topk_sql(dim=64, n_cells='auto', n_probe=2, k=5, rerank=15, maxsim_tokens=4)}\n",
)
def s24_maxsim_rerank_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATE-INTERACTION serve (round 10) — the ColBERT retrieval
    architecture (Khattab & Zaharia 2020) on the persisted index: the
    IVF-SQ8 scan OVERFETCHES a top-15 shortlist per query (quantized
    dots over the probed cells only, partition-pruned), and the final
    top-5 re-ranks the shortlist by maxsim — per query token, the
    best-matching candidate token, summed (`operators/maxsim`).
    Token vectors are derived deterministically as 4 unit-normalized
    slices of the embedding (the documented stand-in for a per-token
    encoder — see the module docstring; a real token table plugs in
    by swapping the derivation).

    Scale shape: the first stage is the s13 family's pruned serve
    unchanged; the rescore joins raw vectors through the BROADCAST
    shortlist (the §7p rescore discipline — non-survivors are never
    tokenized, never shuffled), every shared sub-expression is
    hof_bind-bound once (slice, slice norm, candidate token array),
    and the only added shuffle is the per-query top-k window. Cost is
    queries × 15 pairs × 16 token dots — shortlist-shaped, never
    corpus-shaped, which is exactly why late interaction is deployed
    as a re-rank stage and not a retriever.

    Oracle: `ivfsq_topk_sql(rerank=15, maxsim_tokens=4)` replays the
    SQ8 shortlist cut and the maxsim rescore relationally — slice
    boundaries, per-slice norms, token-dot folds, the per-query-token
    max, and the m-ascending sum are all deterministic (machinery
    pre-certified in tests/test_maxsim.py). Reference analogue: none
    (the reference has no vector search) — SURVEY §7 Phase 4 surface,
    the reranking stage modern retrieval stacks put on top of ANN."""
    from ..operators.ann_index import build_ivfsq_index, search_index
    from ..operators.maxsim import maxsim_rerank

    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5)
    path = _scratch_index_path(spark, sf_dir, "ivfsq")
    build_ivfsq_index(
        e, path, n_cells=None, corpus_cache_key=(sf_dir, "embeddings")
    )
    shortlist = search_index(spark, path, q, k=15, n_probe=2)
    return maxsim_rerank(shortlist, q, e, k=5, n_tokens=4, dim=64)


@query(
    "s25_pq_rerank_topk",
    oracle=f"WITH {_ivfpq_topk_sql(n_subspaces=8, sub_dim=8, n_codes=16, n_cells='auto', n_probe=2, k=5, rerank=15)}\n",
)
def s25_pq_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The persisted IVF-PQ index's EXACT-RERANK serve — the
    deployment configuration SCALE.md §7q measured as mandatory on
    clone-heavy corpora (plain ADC recall 0.00 at 1M with K=16 books;
    rerank over a cohort-deep shortlist recovers 1.00 at a
    shortlist-shaped cost): overfetch a top-15 ADC shortlist from the
    pruned codes scan, join the raw vectors through the BROADCAST
    shortlist, and rank the exact rounded cosine. s23 certifies the
    plain ADC contract; this row certifies the remedy stacked on it
    (the s20/SQ8 pattern for the compressed kind). Serves from s23's
    artifact path — in-session it is a second serve of the SAME
    generation (the amortized regime, §7i). Oracle:
    `ivfpq_topk_sql(rerank=15)` — ADC shortlist cut + exact unit-dot
    rescore, both deterministic. Late-registered (outside the driver
    window — the s23/s24 rows carry the family's window slots) but
    fully oracle-backed at every SF via tests/test_oracle_parity."""
    from ..operators.ann_index import build_ivfpq_index, search_index

    e = load_table(spark, sf_dir, "embeddings")
    path = _scratch_index_path(spark, sf_dir, "ivfpq")
    build_ivfpq_index(
        e,
        path,
        n_cells=None,
        n_subspaces=8,
        n_codes=16,
        corpus_cache_key=(sf_dir, "embeddings"),
    )
    return search_index(
        spark,
        path,
        e.filter(F.col("vec_id") < 5),
        k=5,
        n_probe=2,
        rerank=15,
        vectors=e,
    )


@query(
    "s26_maxsim_exact_topk",
    oracle=f"WITH {_maxsim_topk_sql(k=5, n_tokens=4, dim=64)}\n",
)
def s26_maxsim_exact_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The EXACT late-interaction baseline (`maxsim.maxsim_topk`):
    every query x candidate pair scored by maxsim over 4
    unit-normalized slice-tokens, top-5 per query — the recall
    yardstick for s24's retrieve-then-rerank serve, corpus-shaped by
    construction (SCALE.md §7r prices it at ~80x per query vs the
    index+rescore path at 100k — THE reason late interaction deploys
    as a rerank stage). Oracle: `maxsim_topk_sql` — the all-pairs
    shortlist through the same deterministic scoring tail as s24's
    rescore. Late-registered (outside the driver window) but fully
    oracle-backed at every SF via tests/test_oracle_parity."""
    from ..operators.maxsim import maxsim_topk

    e = load_table(spark, sf_dir, "embeddings")
    return maxsim_topk(e.filter(F.col("vec_id") < 5), e, k=5, n_tokens=4, dim=64)


@query(
    "s27_maxsim_token_table",
    oracle=f"WITH {_ivfsq_topk_sql(dim=64, n_cells='auto', n_probe=2, k=5, rerank=15, maxsim_tokens=4)}\n",
)
def s27_maxsim_token_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """s24's serve through the LONG-FORMAT token-table path
    (`maxsim.maxsim_rerank_tokens`): the multi-vector data model a
    real per-token encoder materializes — ``(vec_id, token_id,
    vector)`` rows — re-ranked over the persisted index's shortlist.
    The token table here is derived by exploding the same
    unit-normalized slices (`posexplode(token_slices(...))`), so the
    row certifies the production-shaped path END TO END against s24's
    EXACT oracle: the grouped rebuild (broadcast-semi-join to
    shortlist survivors → collect_list → array_sort by token_id)
    reproduces the slice arrays bit-for-bit, and any
    order-nondeterminism in the rebuild (the collect_list trap) or a
    broken survivor cut would hash-fail. Candidate-side grouping is
    shortlist-sized, never corpus-shaped. Late-registered (outside
    the driver window) but fully oracle-backed at every SF."""
    from ..operators.ann_index import build_ivfsq_index, search_index
    from ..operators.maxsim import maxsim_rerank_tokens, token_slices

    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5)
    path = _scratch_index_path(spark, sf_dir, "ivfsq")
    build_ivfsq_index(
        e, path, n_cells=None, corpus_cache_key=(sf_dir, "embeddings")
    )
    shortlist = search_index(spark, path, q, k=15, n_probe=2)
    toks = e.select(
        "vec_id",
        F.posexplode(token_slices(F.col("embedding"), 4, 16)).alias(
            "token_id", "token"
        ),
    )
    return maxsim_rerank_tokens(
        shortlist, toks.filter(F.col("vec_id") < 5), toks, k=5
    )


@query(
    "s28_colbert_token_retrieval",
    oracle=f"WITH {_colbert_sql(k=5, k0=10, n_tokens=4, dim=64, n_probe=2)}\n",
)
def s28_colbert_token_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL late-interaction retrieval pipeline
    (`maxsim.maxsim_search_tokens`): token-level IVF candidate
    generation — every token an index entry under the composite id
    doc·T + m, √n cells sized on the TOKEN count, each query token
    retrieving its top-10 tokens through a cell equi-join — hits
    mapped back to parent documents (integer DIV, self-pairs
    dropped), the distinct parent pairs maxsim-reranked. s24/s27
    certify the rerank behind a single-vector retriever; this row
    certifies retrieval when no pooled vector exists — recall comes
    from ANY query token matching ANY candidate token, the property
    that makes ColBERT retrieval different from rerank-only
    deployments. Oracle: one statement replaying both stages
    (`colbert_token_retrieval_sql` — the token CTE stands in for the
    corpus relation via the IVF generators' table= hook, then the
    s24 maxsim tail). Late-registered (outside the driver window)
    but fully oracle-backed at every SF."""
    from ..operators.maxsim import maxsim_search_tokens, token_slices

    e = load_table(spark, sf_dir, "embeddings")
    toks = e.select(
        "vec_id",
        F.posexplode(token_slices(F.col("embedding"), 4, 16)).alias(
            "token_id", "token"
        ),
    )
    return maxsim_search_tokens(
        toks.filter(F.col("vec_id") < 5),
        toks,
        k=5,
        k0=10,
        n_tokens=4,
        n_probe=2,
        corpus_cache_key=(sf_dir, "embeddings", "tokens4"),
    )


from .handshake import handshake_path as _handshake_path  # noqa: E402

#: s29's codebook artifact — fixed-path handshake (s09's recipe for
#: the PERSISTED kind; see plans/handshake.py for the contract).
_S29_CB_PATH = _handshake_path("s29_codebooks")


@query(
    "s29_pq_learned_index_topk",
    oracle=f"""WITH {_ivfpq_topk_sql(n_subspaces=8, sub_dim=8, n_codes=16,
                                     n_cells='auto', n_probe=2, k=5, rerank=15,
                                     codebook_parquet=_S29_CB_PATH)}\n""",
)
def s29_pq_learned_index_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION configuration of the persisted IVF-PQ index —
    LEARNED codebooks + exact rerank (SCALE.md §7q lessons 1+2 in one
    row: learned books are the only knob that improves the ADC cut
    itself, and the rescore covers what quantization still blurs).
    s09's artifact recipe one layer down: the per-subspace k-means
    books (fixed seeds) are materialized to parquet, the PERSISTED
    index is built FROM the re-read artifact (geometry JSON
    round-trips the doubles via shortest-repr — bit-exact), and the
    oracle replays encode + ADC + exact rescore from the same files
    (`ivfpq_topk_sql(codebook_parquet=...)` composed with the √n
    auto-cell CTEs — everything downstream of the fits is
    hash-checked cross-engine). Completes the persisted-PQ ladder:
    s23 plain ADC contract, s25 rerank remedy, s29 learned books +
    rerank = the deployment serve. Late-registered (outside the
    driver window) but fully oracle-backed at every SF; the seeder
    (scripts/seed_artifact_oracles.py) re-seeds the artifact LAST in
    any multi-SF sweep ordering.

    Round 11 (VERDICT r10 #4): the books are fitted through the
    SAMPLED-fit path (`fit_sample_per_code` — §7q's measured recipe
    promoted into the API; ``fit_floor=0`` forces the large-corpus
    default branch at oracle scale, s19's pattern), so the one-call
    deployment config — content-keyed sample → per-subspace fits →
    frozen books encode the full corpus — is what this row
    hash-certifies via the artifact replay."""
    from ..operators.ann_index import build_ivfpq_index, search_index
    from ..operators.pq import pq_kmeans_codebooks
    from .handshake import publish_codebooks

    e = load_table(spark, sf_dir, "embeddings")
    cbs_art = publish_codebooks(
        spark,
        pq_kmeans_codebooks(
            e, n_subspaces=8, n_codes=16, fit_sample_per_code=25, fit_floor=0
        ),
        _S29_CB_PATH,
    )
    path = _scratch_index_path(spark, sf_dir, "ivfpq_learned")
    build_ivfpq_index(
        e,
        path,
        n_cells=None,
        n_subspaces=8,
        n_codes=16,
        codebooks=cbs_art,
        corpus_cache_key=(sf_dir, "embeddings", "learned_cb"),
    )
    return search_index(
        spark,
        path,
        e.filter(F.col("vec_id") < 5),
        k=5,
        n_probe=2,
        rerank=15,
        vectors=e,
    )


from .lsh_oracle import (  # noqa: E402
    colbert_persisted_retrieval_sql as _colbert_persisted_sql,
)


@query(
    "s30_colbert_persisted_serve",
    oracle=f"WITH {_colbert_persisted_sql(k=5, k0=10, n_tokens=4, dim=64, n_probe=2)}\n",
)
def s30_colbert_persisted_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-interaction retrieval from the PERSISTED token index —
    SCALE.md §7r-b's deployment route registered (VERDICT r10 #2):
    `maxsim.build_token_index` persists the IVF-SQ8 index over the
    composite token frame (doc·4 + m ids; √n cells ON THE TOKEN
    COUNT; the s13 family's generation-scoped commit unchanged,
    because the composite frame is plain (id, embedding)), and the
    serve (`maxsim_search_tokens_persisted`) runs each query token's
    top-10 as a partition-pruned quantized scan, maps hits to parent
    documents, and maxsim-reranks the distinct parent pairs. vs s28
    (the registered in-memory first stage): same architecture, but
    the T×n-token assignment is paid ONCE at build — §7r-b measured
    90 s/serve → 18.5 s build + 5.8 s/serve (×16) at 100k docs = 400k
    tokens. This row puts the token-index lifecycle inside a
    hash-checked driver row.

    Oracle: `colbert_persisted_retrieval_sql` — the tokens CTE feeds
    the SQ8 codec of `lsh_oracle._scored_ctes_sql` (``table="tokens"``:
    stats, codes, cells, probe-join, QUANTIZED dots — exactly where
    this row differs from s28's exact-cosine first stage), then the
    parent mapping and the s24 maxsim tail. Reference analogue: none
    (SURVEY §7 Phase 4 surface)."""
    from ..operators.maxsim import (
        build_token_index,
        maxsim_search_tokens_persisted,
        token_slices,
    )

    e = load_table(spark, sf_dir, "embeddings")
    toks = e.select(
        "vec_id",
        F.posexplode(token_slices(F.col("embedding"), 4, 16)).alias(
            "token_id", "token"
        ),
    )
    path = _scratch_index_path(spark, sf_dir, "ivfsq_tok")
    build_token_index(
        toks,
        path,
        n_tokens=4,
        corpus_cache_key=(sf_dir, "embeddings", "tokens4"),
    )
    return maxsim_search_tokens_persisted(
        spark,
        path,
        toks.filter(F.col("vec_id") < 5),
        toks,
        k=5,
        k0=10,
        n_tokens=4,
        n_probe=2,
    )


@query(
    "s31_token_table_serve",
    oracle=f"WITH {_ivfsq_topk_sql(dim=64, n_cells='auto', n_probe=2, k=5, rerank=15, maxsim_tokens=4)}\n",
)
def s31_token_table_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """s27's late-interaction serve reading a MATERIALIZED token table
    (VERDICT r10 #3 — the production fix for the serve-time explode
    SCALE.md §7r priced at +1.8 s/1M): `maxsim.write_token_table`
    persists the (id, token_id, vector) parquet ONCE, clustered by
    document id and sorted (id, token_id) within partitions; the serve
    overfetches the persisted index's top-15 shortlist, then
    `read_token_table(ids=shortlist_ids)` scans the token parquet with
    the id In-filter PUSHED DOWN (the clustered layout's row-group
    min/max prune non-survivor documents at the scan — the ``ids``
    list is queries × rerank, driver-sized by the serving contract,
    exactly like s15's query batch), and `maxsim_rerank_tokens`
    rescores. No slice math at serve time — tokens come from the
    parquet round-trip (bit-exact for double arrays), so s24/s27's
    EXACT oracle applies verbatim and the hash certifies layout,
    round-trip, pruning, and grouped rebuild end to end."""
    from ..operators.ann_index import build_ivfsq_index, search_index
    from ..operators.maxsim import (
        maxsim_rerank_tokens,
        read_token_table,
        token_slices,
        write_token_table,
    )

    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5)
    path = _scratch_index_path(spark, sf_dir, "ivfsq")
    build_ivfsq_index(
        e, path, n_cells=None, corpus_cache_key=(sf_dir, "embeddings")
    )
    tok_path = _scratch_index_path(spark, sf_dir, "toktbl")
    # (round 13: the s35/s45/s47 §2.6 build overlap was TRIED here and
    # reverted — measured even at best, one adverse outlier; this
    # row's second artifact is too small to amortize the overlap.)
    write_token_table(
        e.select(
            "vec_id",
            F.posexplode(token_slices(F.col("embedding"), 4, 16)).alias(
                "token_id", "token"
            ),
        ),
        tok_path,
    )
    shortlist = search_index(spark, path, q, k=15, n_probe=2)
    # driver-sized by the serving contract: |queries| × rerank ids
    cand_ids = [
        r["candidate_id"]
        for r in shortlist.select("candidate_id").distinct().collect()
    ]
    return maxsim_rerank_tokens(
        shortlist,
        read_token_table(spark, tok_path, ids=[r["vec_id"] for r in q.select("vec_id").collect()]),
        read_token_table(spark, tok_path, ids=cand_ids),
        k=5,
    )


@query(
    "s32_stream_rescore_replay",
    oracle=f"WITH {_ivfsq_topk_sql(dim=64, n_cells='auto', n_probe=2, k=5, rerank=15, maxsim_tokens=4)}\n",
)
def s32_stream_rescore_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE MICRO-BATCH of the streaming RESCORE serving path, replayed
    batch-shaped (VERDICT r10 #6 — s15's recipe for the round-10
    serve options): `streaming/serving.serve_batch(rerank=15,
    maxsim_tokens=4)` — the per-batch body the foreachBatch sink runs
    — executed on query vectors round-tripped through the stream
    source's own wire format (JSONL, read back with the stream's
    schema), serving the maxsim re-rank from the persisted full-corpus
    IVF-SQ8 index. s24 certifies the rescore composition as a batch
    query; this row certifies that the STREAMING entry point — the
    code each micro-batch executes, including its rerank/maxsim
    keyword plumbing — produces the hash-identical result, so the
    driver record covers online late-interaction serving end to end.
    Stream-vs-batch equality for the same code path is separately
    asserted in tests/test_maxsim.py (a real availableNow stream)."""
    import json as _json
    import os

    from ..operators.ann_index import build_ivfsq_index
    from ..streaming.serving import serve_batch

    e = load_table(spark, sf_dir, "embeddings")
    path = _scratch_index_path(spark, sf_dir, "ivfsq_serve")
    build_ivfsq_index(
        e, path, n_cells=None, corpus_cache_key=(sf_dir, "embeddings")
    )
    qdir = f"{path}_qbatch_rescore"
    os.makedirs(qdir, exist_ok=True)
    os.utime(qdir)  # keep the reaper's dir-mtime key fresh (s15)
    with open(os.path.join(qdir, "batch0.jsonl"), "w") as f:
        for r in e.filter(F.col("vec_id") < 5).collect():
            f.write(
                _json.dumps(
                    {
                        "vec_id": r["vec_id"],
                        "embedding": [float(x) for x in r["embedding"]],
                    }
                )
                + "\n"
            )
    batch = spark.read.schema("vec_id long, embedding array<float>").json(qdir)
    return serve_batch(
        spark, path, batch, k=5, n_probe=2, rerank=15, vectors=e,
        maxsim_tokens=4, dim=64,
    )


from .lsh_oracle import (  # noqa: E402
    colbert_persisted_pq_retrieval_sql as _colbert_pq_sql,
)


@query(
    "s34_index_cell_stats",
    oracle=f"""WITH {_auto_cent()},
    c_assign AS ({_ivf_assign_sql("", "candidate_id", 1)}
    )
    SELECT CAST(cell_id AS BIGINT) AS cell_id, count(*) AS n_rows
    FROM c_assign
    GROUP BY 1
""",
)
def s34_index_cell_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The persisted index's CELL-BALANCE diagnostic
    (`ann_index.index_cell_stats`, round 11) — q50_join_key_skew's
    operational role for the ANN family: rows-per-cell decides
    whether a probed-cell scan is balanced work or one hot partition,
    and whether n_probe/salting decisions transfer to production
    traffic. The engine reads its OWN codes parquet (column-pruned to
    the partition column) and counts per cell; the oracle recomputes
    the assignment relationally (√n auto cells + the c_assign argmax)
    — so the green hash certifies the ON-DISK partition layout
    itself: every vector present exactly once, in exactly the cell
    the geometry assigns. A dropped or double-written shard fails
    this row, which makes it the cheap post-append/compact integrity
    probe at deployment. Serves from the s13 family's artifact path —
    in-session this is a stats read of an already-built generation
    (the amortized regime); at a fresh path it prices one build.
    Reference analogue: none (operational diagnostic surface)."""
    from ..operators.ann_index import build_ivfsq_index, index_cell_stats

    e = load_table(spark, sf_dir, "embeddings")
    path = _scratch_index_path(spark, sf_dir, "ivfsq")
    build_ivfsq_index(
        e, path, n_cells=None, corpus_cache_key=(sf_dir, "embeddings")
    )
    return index_cell_stats(spark, path)


@query(
    "s33_colbert_pq_serve",
    oracle=f"WITH {_colbert_pq_sql(k=5, k0=10, n_tokens=4, dim=64, n_probe=2, n_subspaces=4, n_codes=16)}\n",
)
def s33_colbert_pq_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPRESSED persisted-token-index late-interaction serve —
    s30's route on the IVF-PQ kind (round 11):
    `build_token_index(kind="ivfpq")` persists 4-byte PQ codes per
    token (vs 16 SQ8 bytes — and token indexes carry T× the corpus
    rows, so §7q's memory story is amplified exactly where it
    matters), and the serve sniffs the kind from the index meta and
    runs each query token's top-10 as a partition-pruned ADC scan
    (ranked ASCENDING on the ADC distance — precisely where this row
    differs from s30's quantized-dot ranking), maps hits to parents,
    and maxsim-reranks the distinct pairs; §7q's lesson stands: the
    rerank stage is what makes a compressed first stage safe.
    Completes the token-index kind ladder (s30 SQ8, s33 PQ) and puts
    the kind-sniffing dispatch inside a hash-checked row.

    Oracle: `colbert_persisted_pq_retrieval_sql` — the tokens CTE
    through the PQ codec of `lsh_oracle._scored_ctes_sql`
    (``table="tokens"``: anchor books,
    rounded-argmin encode, √(T·n) cells, ADC scan), then the parent
    mapping and the s24 maxsim tail. Reference analogue: none
    (SURVEY §7 Phase 4 surface)."""
    from ..operators.maxsim import (
        build_token_index,
        maxsim_search_tokens_persisted,
        token_slices,
    )

    e = load_table(spark, sf_dir, "embeddings")
    toks = e.select(
        "vec_id",
        F.posexplode(token_slices(F.col("embedding"), 4, 16)).alias(
            "token_id", "token"
        ),
    )
    path = _scratch_index_path(spark, sf_dir, "ivfpq_tok")
    build_token_index(
        toks,
        path,
        n_tokens=4,
        kind="ivfpq",
        n_subspaces=4,
        n_codes=16,
        corpus_cache_key=(sf_dir, "embeddings", "tokens4", "pq"),
    )
    return maxsim_search_tokens_persisted(
        spark,
        path,
        toks.filter(F.col("vec_id") < 5),
        toks,
        k=5,
        k0=10,
        n_tokens=4,
        n_probe=2,
    )


@query(
    "s35_colbert_one_call_serve",
    oracle=f"WITH {_colbert_persisted_sql(k=5, k0=10, n_tokens=4, dim=64, n_probe=2)}\n",
)
def s35_colbert_one_call_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ONE-CALL composed persisted ColBERT serve (round 12 —
    VERDICT r11 #3): the actual deployment shape with NO in-memory
    corpus frame anywhere. Two persisted artifacts — the token-level
    IVF-SQ8 index (`build_token_index`) and the materialized token
    table (`write_token_table`) — and one call:
    `maxsim_search_tokens_persisted(token_table_path=...)` (surfaced
    as `Engine.serve_colbert`). Stage 1 serves each query token's
    top-10 from the pruned quantized scan, runs ONCE (the §7r-c
    lesson — the driver-sized parent shortlist is collected and
    drives both the table read and the rerank join, never a second
    first-stage execution), the survivors' tokens are read from the
    table with the id In-filter pushed into the clustered scan (the
    s31 rule: ids = queries × T × k0 at most, serving-contract-sized),
    and the maxsim rerank scores them. Even the QUERY tokens come from
    a pruned scan of the table (vec_id < 5 pushed down), so the
    physical plan touches only the two artifacts. vs s30 (in-memory
    cand_tokens) and s31 (hand-wired stages): same semantics, zero
    plan-body plumbing. The serve-time T is CROSS-CHECKED against the
    n_tokens the build recorded in the index meta (ADVICE r11).

    Oracle: s30's `colbert_persisted_retrieval_sql` verbatim — the
    token table replays the slice derivation bit-exactly (double
    arrays round-trip parquet losslessly), so the same SQL covers the
    composed route. Reference analogue: none (SURVEY §7 Phase 4)."""
    from ..operators.maxsim import (
        build_token_index,
        maxsim_search_tokens_persisted,
        read_token_table,
        token_slices,
        write_token_table,
    )

    e = load_table(spark, sf_dir, "embeddings")
    toks = e.select(
        "vec_id",
        F.posexplode(token_slices(F.col("embedding"), 4, 16)).alias(
            "token_id", "token"
        ),
    )
    path = _scratch_index_path(spark, sf_dir, "ivfsq_tok")
    tok_path = _scratch_index_path(spark, sf_dir, "toktbl")
    # The two persisted artifacts are INDEPENDENT (token index vs
    # clustered token table; disjoint outputs, shared read-only
    # input) — overlap the builds from a driver thread pool
    # (round 13 optimization, guide §2.6; the s45/s47 pattern).
    # Deterministic in isolation ⇒ concurrency cannot change a byte.
    # round 14: through util.run_overlapped (inheritable thread-local
    # job properties — ADVICE r13).
    from ..operators.util import run_overlapped

    run_overlapped(
        lambda: build_token_index(
            toks, path, n_tokens=4,
            corpus_cache_key=(sf_dir, "embeddings", "tokens4"),
        ),
        lambda: write_token_table(toks, tok_path),
    )
    return maxsim_search_tokens_persisted(
        spark,
        path,
        read_token_table(spark, tok_path).filter(F.col("vec_id") < 5),
        k=5,
        k0=10,
        n_tokens=4,
        n_probe=2,
        token_table_path=tok_path,
    )


_S36_RAGGED_WHERE = (
    "\n            WHERE tm.m < 2 + e.vec_id % 3"
)


@query(
    "s36_colbert_ragged_tokens",
    oracle=(
        "WITH "
        + _colbert_persisted_sql(
            k=5, k0=10, n_tokens=4, dim=64, n_probe=2,
            token_where=_S36_RAGGED_WHERE,
        )
        + "\n"
    ),
)
def s36_colbert_ragged_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The persisted ColBERT retrieval over a RAGGED token corpus
    (round 12 — VERDICT r11 #4): per-document VARIABLE token counts,
    the shape a real per-token encoder actually emits (every prior
    registered row used fixed T=4 slice tokens, so the composite-id
    injectivity guard had never executed inside a driver row). Each
    document keeps T_doc = 2 + (vec_id mod 3) ∈ {2,3,4} of its four
    slice tokens; `build_token_index(n_tokens=4)` encodes the ragged
    frame under the max-T divisor (token_id < 4 everywhere, so the
    composite mapping stays injective — the `composite_tokens` guard
    rides every scan), the index's √(Σ T_doc) auto-sizing runs on the
    true ragged token count, and the serve passes ``n_tokens=None``
    to take T from the INDEX META the build recorded (ADVICE r11 —
    this row certifies the meta-default path end to end). The maxsim
    rerank is pad-free long-format on both sides: queries score over
    their own T_q tokens, candidates over their T_c.

    Oracle: `colbert_persisted_retrieval_sql(token_where=...)` — the
    same ragged WHERE (tm.m < 2 + vec_id % 3) applied to BOTH the
    index's tokens CTE and the rerank's tok CTE, so stats, cells,
    quantized dots, parent mapping, and the maxsim tail all replay
    over the identical ragged frame. Reference analogue: none."""
    from ..operators.maxsim import (
        build_token_index,
        maxsim_search_tokens_persisted,
        token_slices,
    )

    e = load_table(spark, sf_dir, "embeddings")
    toks = e.select(
        "vec_id",
        F.posexplode(token_slices(F.col("embedding"), 4, 16)).alias(
            "token_id", "token"
        ),
    ).filter(F.col("token_id") < F.lit(2) + F.col("vec_id") % 3)
    path = _scratch_index_path(spark, sf_dir, "ivfsq_tok_ragged")
    build_token_index(
        toks,
        path,
        n_tokens=4,
        corpus_cache_key=(sf_dir, "embeddings", "tokens_ragged"),
    )
    return maxsim_search_tokens_persisted(
        spark,
        path,
        toks.filter(F.col("vec_id") < 5),
        toks,
        k=5,
        k0=10,
        n_tokens=None,  # meta-default: T comes from the build record
        n_probe=2,
    )


@query(
    "s37_pq_residual_topk",
    oracle=f"WITH {_ivfpq_topk_sql(n_subspaces=8, sub_dim=8, n_codes=16, n_cells='auto', n_probe=2, k=5, residual=True)}\n",
)
def s37_pq_residual_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The RESIDUAL-encoded persisted IVF-PQ index (round 12 —
    VERDICT r11 #7, built only after SCALE.md §7s measured the gap):
    the fine stage encodes x_unit − c_unit(cell(x)) instead of
    x_unit, the classic IVF-ADC refinement — the coarse quantizer
    absorbs the between-cluster variance and the same 8 bytes/vector
    code the within-cell spread, measured +0.16 recall@5 at equal
    bytes on the structured corpus (and a LOSS on the unstructured
    one, which is why ``residual=True`` is opt-in and RECORDED in the
    index geometry — `search_index` dispatches on the flag, and
    appends/compactions carry it with the frozen geometry). The serve
    computes the query's ADC table PER PROBED CELL from the matching
    query residual; the cell equi-join pairs each candidate with its
    own cell's table, so the scan stays M lookups per pair,
    partition-pruned, no vector math.

    Oracle: `ivfpq_topk_sql(residual=True)` — the residual CTE chain
    (cells → assignment → residuals → lowest-id residual anchor
    books → rounded-argmin codes → per-(query, cell) ADC) replayed
    relationally in one statement; s23 keeps certifying the raw kind,
    and the 164 pre-existing oracle strings are byte-identical across
    the residual hook. No reference analogue — SURVEY §7 Phase 4
    surface."""
    from ..operators.ann_index import build_ivfpq_index, search_index

    e = load_table(spark, sf_dir, "embeddings")
    path = _scratch_index_path(spark, sf_dir, "ivfpq_resid")
    build_ivfpq_index(
        e,
        path,
        n_cells=None,
        n_subspaces=8,
        n_codes=16,
        residual=True,
        corpus_cache_key=(sf_dir, "embeddings"),
    )
    return search_index(
        spark, path, e.filter(F.col("vec_id") < 5), k=5, n_probe=2
    )


#: s38's codebook artifact — s29's fixed-path handshake on the
#: residual kind (see plans/handshake.py for the contract).
_S38_CB_PATH = _handshake_path("s38_codebooks")


@query(
    "s38_pq_residual_learned_topk",
    oracle=f"""WITH {_ivfpq_topk_sql(n_subspaces=8, sub_dim=8, n_codes=16,
                                     n_cells='auto', n_probe=2, k=5, rerank=15,
                                     codebook_parquet=_S38_CB_PATH,
                                     residual=True)}\n""",
)
def s38_pq_residual_learned_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§7s's WINNING configuration as one driver row (round 12):
    LEARNED residual codebooks + residual encoding + exact re-rank —
    the measured-best compressed-index recipe (learned-over-residual
    books read 0.84 recall@5 vs 0.68 raw at equal bytes on the
    structured corpus; the rerank covers what compression still
    blurs, §7q lesson 1). `pq_kmeans_residual_codebooks` fits per-
    subspace k-means on the residual slices THROUGH THE SAMPLED
    BRANCH (fit_sample_per_code=25, fit_floor=0 — s29's deployment-
    config certification on the residual kind), the books are
    materialized to the fixed-path artifact, the index builds from
    the ARTIFACT (residual=True recorded in the geometry), and the
    serve overfetches a 15-deep ADC shortlist re-scored by exact
    cosine.

    Oracle: `ivfpq_topk_sql(residual=True, codebook_parquet=...)` —
    the residual CTE chain with the learned books read from the same
    artifact files, encode + per-(query,cell) ADC + rescore replayed
    relationally; everything downstream of the per-subspace fits is
    hash-checked cross-engine (the s29/s05 artifact recipe). No
    reference analogue — SURVEY §7 Phase 4 surface."""
    from ..operators.ann_index import _fit_centroids, build_ivfpq_index, search_index
    from ..operators.pq import pq_kmeans_residual_codebooks
    from .handshake import publish_codebooks

    e = load_table(spark, sf_dir, "embeddings")
    ck = (sf_dir, "embeddings")
    # the SAME centroid table the build will use (its memo keys)
    _, cent_rows = _fit_centroids(e, None, ck, "vec_id", "embedding")
    cbs = pq_kmeans_residual_codebooks(
        e, cent_rows, n_subspaces=8, n_codes=16,
        fit_sample_per_code=25, fit_floor=0, corpus_cache_key=ck,
    )
    cbs_art = publish_codebooks(spark, cbs, _S38_CB_PATH)
    path = _scratch_index_path(spark, sf_dir, "ivfpq_resid_learned")
    build_ivfpq_index(
        e,
        path,
        n_cells=None,
        n_subspaces=8,
        n_codes=16,
        codebooks=cbs_art,
        residual=True,
        corpus_cache_key=ck,
    )
    return search_index(
        spark,
        path,
        e.filter(F.col("vec_id") < 5),
        k=5,
        n_probe=2,
        rerank=15,
        vectors=e,
    )


@query(
    "s39_colbert_residual_pq_serve",
    oracle=f"WITH {_colbert_pq_sql(k=5, k0=10, n_tokens=4, dim=64, n_probe=2, n_subspaces=4, n_codes=16, residual=True)}\n",
)
def s39_colbert_residual_pq_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """s33's compressed token-index serve on the RESIDUAL kind
    (round 12): `build_token_index(kind="ivfpq", residual=True)` —
    the ``build_kw`` passthrough composes §7s's residual encoding
    with the token-index route with no new plumbing, because the
    composite token frame is plain (id, embedding) and the residual
    flag is frozen geometry the kind-sniffing serve dispatches on.
    Where it matters: token indexes carry T× the corpus rows, so the
    compressed kind is where the §7s recall-per-byte win lands
    hardest at scale — and token frames are SLICES of document
    embeddings, i.e. exactly the structured corpus class §7s measured
    the win on. The serve is unchanged s33 architecture: per-query-
    token ADC scan over probed cells (now on residual codes with
    per-cell tables), parent mapping, maxsim rerank.

    Oracle: `colbert_persisted_pq_retrieval_sql(residual=True)` — the
    residual CTE chain replayed over the tokens CTE (the chain is
    table-parameterized), then the parent mapping and the s24 maxsim
    tail; the 166 pre-existing oracle strings are byte-identical
    across the passthrough. No reference analogue — SURVEY §7
    Phase 4 surface."""
    from ..operators.maxsim import (
        build_token_index,
        maxsim_search_tokens_persisted,
        token_slices,
    )

    e = load_table(spark, sf_dir, "embeddings")
    toks = e.select(
        "vec_id",
        F.posexplode(token_slices(F.col("embedding"), 4, 16)).alias(
            "token_id", "token"
        ),
    )
    path = _scratch_index_path(spark, sf_dir, "ivfpq_tok_resid")
    build_token_index(
        toks,
        path,
        n_tokens=4,
        kind="ivfpq",
        n_subspaces=4,
        n_codes=16,
        residual=True,
        corpus_cache_key=(sf_dir, "embeddings", "tokens4", "pqres"),
    )
    return maxsim_search_tokens_persisted(
        spark,
        path,
        toks.filter(F.col("vec_id") < 5),
        toks,
        k=5,
        k0=10,
        n_tokens=4,
        n_probe=2,
    )


@query(
    "s40_stream_index_ingest",
    oracle=f"""WITH {_ivfsq_topk_sql(dim=64, n_cells='auto', n_probe=2, k=5,
                                     build_filter='WHERE vec_id % 2 = 0')}\n""",
)
def s40_stream_index_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE MICRO-BATCH of the streaming INDEX-INGEST path, replayed
    batch-shaped (round 12 — the s15/s32 recipe applied to the WRITE
    side): `streaming/serving.ingest_batch` — the per-batch body the
    `ingest_vector_stream` foreachBatch sink runs — executed on the
    odd-id vectors round-tripped through the stream source's own wire
    format (JSONL, read back with the stream's schema), appending
    them to the index built on the even split under its FROZEN
    geometry. This is nightly ingest AS A STREAM: s14 certifies the
    append semantics, this row certifies that the STREAMING entry
    point — the code each arriving micro-batch executes, including
    the wire round-trip — produces the hash-identical index. Oracle:
    s14's verbatim (`ivfsq_topk_sql(build_filter='vec_id % 2 = 0')` —
    stats/cells/centroids from the build split only, codes and search
    over every vector). Stream-vs-batch equality for the same code
    path through a REAL availableNow stream is separately asserted in
    tests/test_ann_index.py. Reference analogue: none (SURVEY §7
    Phase 4/5 surface)."""
    from ..operators.ann_index import search_index
    from ..streaming.serving import ingest_batch

    e = load_table(spark, sf_dir, "embeddings")
    path = _half_index(spark, e, sf_dir, "ivfsq_stream_ingest")
    odd = e.filter(F.col("vec_id") % 2 == 1).select("vec_id", "embedding")
    (batch,) = _wire_batches(f"{path}_vbatch_ingest", [odd])
    ingest_batch(path, batch)
    return search_index(
        spark, path, e.filter(F.col("vec_id") < 5), k=5, n_probe=2
    )


@query(
    "s41_stream_exactly_once_ingest",
    oracle=f"""WITH {_ivfsq_topk_sql(dim=64, n_cells='auto', n_probe=2, k=5,
                                     build_filter='WHERE vec_id % 2 = 0')}\n""",
)
def s41_stream_exactly_once_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACTLY-ONCE streaming index ingest, replayed batch-shaped
    (the guarantee `ingest_vector_stream` lacks): the odd-id shard
    arrives as a micro-batch through the stream wire format and is
    DELIBERATELY DELIVERED TWICE — the checkpoint-rollback failure
    mode — through the per-batch body the
    `ingest_vector_stream_append_only(reconcile_every=1)` foreachBatch
    sink runs: the batch stages into its own subdirectory
    (`streaming/serving.stage_batch_append_only` — the replay
    overwrites it) and the index is reconciled against the staged
    snapshot (`reconcile_index_from_snapshot` — appends only ids the
    index's own codes don't hold). The plain `ingest_batch` would
    double-append under the same replay and this row's hash would
    catch the duplicate top-k rows; instead the final index is
    identical to a single delivery, and the oracle is s14's verbatim
    (stats/cells/centroids from the even build split only, codes and
    search over every vector). Replay-idempotence for a REAL
    multi-batch availableNow stream plus a simulated rollback is
    separately asserted in tests/test_ann_index.py. Reference
    analogue: none (SURVEY §7 Phase 4/5 surface)."""
    from ..operators.ann_index import search_index
    from ..streaming.serving import (
        reconcile_index_from_snapshot,
        stage_batch_append_only,
    )

    e = load_table(spark, sf_dir, "embeddings")
    path = _half_index(spark, e, sf_dir, "ivfsq_e1_ingest")
    odd = e.filter(F.col("vec_id") % 2 == 1).select("vec_id", "embedding")
    (batch,) = _wire_batches(f"{path}_vbatch_e1", [odd])
    staged = f"{path}_staged"
    stage_batch_append_only(staged, batch, batch_id=0)
    appended = reconcile_index_from_snapshot(spark, path, staged)
    stage_batch_append_only(staged, batch, batch_id=0)  # rollback replay
    replayed = reconcile_index_from_snapshot(spark, path, staged)
    if replayed:  # the whole point: the replay must append nothing
        raise AssertionError(
            f"replayed batch appended {replayed} vectors (first "
            f"delivery appended {appended}) — exactly-once broken"
        )
    return search_index(
        spark, path, e.filter(F.col("vec_id") < 5), k=5, n_probe=2
    )


@query(
    "s42_stream_ingest_compact_serve",
    oracle=f"""WITH {_ivfsq_topk_sql(dim=64, n_cells='auto', n_probe=2, k=5,
                                     build_filter='WHERE vec_id % 2 = 0')}\n""",
)
def s42_stream_ingest_compact_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming-ingest MAINTENANCE LOOP closed in one row
    (round 13 — VERDICT r12 #5): s40 certifies the streaming append
    and s18 the compaction, but no row had the MONITOR decide.
    Here the odd-id shard arrives as TWO micro-batches through
    `streaming/serving.ingest_batch` (the foreachBatch per-batch body
    s40 certifies, each run through the stream's JSONL wire format),
    accreting one file per touched cell per batch; the accretion
    monitor (`ann_index.index_accretion_stats` — files-per-cell from
    ONE driver-side listing, the scan-economics signal, not bytes)
    then FIRES `compact_if_accreted`, and the serve runs from the
    generation the trigger committed. The row raises if the trigger
    did NOT fire (two appends must exceed the one-file-per-cell
    threshold) — so the driver hash certifies the monitored path, not
    a lucky no-op. Compaction is layout-only under frozen geometry,
    so the oracle is s14's verbatim. Deployment shape: stream ingests
    all day, the nightly job runs the trigger, serves never notice.
    Reference analogue: none (SURVEY §7 Phase 4/5 surface)."""
    from ..operators.ann_index import compact_if_accreted, search_index
    from ..streaming.serving import ingest_batch

    e = load_table(spark, sf_dir, "embeddings")
    path = _half_index(spark, e, sf_dir, "ivfsq_ingest_loop")
    # the stream contract delivers batches in order, each appending
    # into the live codes directory
    for batch in _wire_batches(
        f"{path}_vbatches",
        [
            e.filter(F.col("vec_id") % 4 == r).select("vec_id", "embedding")
            for r in (1, 3)
        ],
    ):
        ingest_batch(path, batch)
    fired, stats = compact_if_accreted(spark, path, max_files_per_cell=1)
    if not fired:
        raise AssertionError(
            f"accretion trigger did not fire after two streamed "
            f"micro-batches (stats: {stats})"
        )
    return search_index(
        spark, path, e.filter(F.col("vec_id") < 5), k=5, n_probe=2
    )


@query(
    "s43_index_recall_probe",
    oracle=f"""
    SELECT e.query_id,
           CAST(count(a.candidate_id) AS BIGINT) AS n_hits,
           round(count(a.candidate_id) / 5.0, 4) AS recall
    FROM ({_ORACLES2["s02_cosine_topk"]}) e
    LEFT JOIN ({_ORACLES2["s14_index_append_topk"]}) a
      ON e.query_id = a.query_id AND e.candidate_id = a.candidate_id
    GROUP BY e.query_id
    """,
)
def s43_index_recall_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of the frozen-geometry APPENDED index against EXACT
    ground truth (round 13 — the REBUILD schedule's monitoring
    metric, completing the maintenance-trigger pair: s42 certifies
    the accretion→compact trigger, this row certifies the probe the
    drift→REBUILD trigger fires on). s16's drift query compares two
    index flows (needs both built); a deployment's nightly probe
    instead measures the LIVE index against brute-force truth on a
    serving-contract-sized query sample — `ann_index.
    index_recall_probe`, kind-sniffed serve + s02's exact baseline +
    `topk_recall`. The index here is s14's nightly-ingest artifact
    (even-split build, odd-split frozen-geometry append); the oracle
    composes s02's exact oracle with s14's frozen-geometry replay, so
    the MONITORING METRIC ITSELF is value-checked cross-engine
    (s07's pattern, pointed at the persisted lifecycle).
    `rebuild_if_drifted` — the trigger that consumes this probe and
    refits through the staged-generation commit — is separately
    certified in tests/test_ann_index.py (fires below threshold,
    no-op above, post-rebuild index ≡ fresh build bit-identically).
    The exact side is deliberately O(queries × corpus) — the cost a
    recall probe IS; the probe set stays sample-sized (s07's rule).
    Reference analogue: none (SURVEY §7 Phase 4/5 surface)."""
    from ..operators.ann_index import append_index, index_recall_probe

    e = load_table(spark, sf_dir, "embeddings")
    path = _half_index(spark, e, sf_dir, "ivfsq_recall_probe")
    append_index(e.filter(F.col("vec_id") % 2 == 1), path)
    return index_recall_probe(
        spark, path, e.filter(F.col("vec_id") < 5), e, k=5, n_probe=2
    )


@query(
    "s44_stream_append_only_ingest",
    oracle=f"""WITH {_ivfsq_topk_sql(dim=64, n_cells='auto', n_probe=2, k=5,
                                     build_filter='WHERE vec_id % 2 = 0')}\n""",
)
def s44_stream_append_only_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACTLY-ONCE ingest on a SCHEDULED reconcile, replayed
    batch-shaped (s41 reconciles per batch; high-frequency streams
    stage many batches per reconcile): the odd-id shard arrives as
    TWO micro-batches through the stream wire format, each staged
    APPEND-ONLY into its own parquet subdirectory (`streaming/serving.
    stage_batch_append_only` — O(batch) write, the per-batch body the
    `ingest_vector_stream_append_only` foreachBatch sink runs); batch
    0 is then DELIBERATELY RE-DELIVERED (the checkpoint-rollback
    failure mode — it overwrites its own subdirectory, leaving the
    snapshot holding each batch once); finally ONE scheduled
    reconcile (`reconcile_index_from_snapshot`) absorbs the whole
    staged snapshot — deduped by id, membership-anti-joined against
    the index's own codes — and a reconcile re-run must append
    NOTHING (the row raises otherwise, so the driver hash certifies
    the exactly-once path, not a lucky single delivery). Oracle:
    s14's verbatim (stats/cells/centroids from the even build split
    only, codes and search over every vector). The same path through
    a REAL multi-batch availableNow stream with an inline
    reconcile-every-2 schedule is separately asserted in
    tests/test_ann_index.py. Reference analogue: none (SURVEY §7
    Phase 4/5 surface)."""
    from ..operators.ann_index import search_index
    from ..streaming.serving import (
        reconcile_index_from_snapshot,
        stage_batch_append_only,
    )

    e = load_table(spark, sf_dir, "embeddings")
    path = _half_index(spark, e, sf_dir, "ivfsq_ao_ingest")
    staged = f"{path}_staged_ao"
    batches = _wire_batches(
        f"{path}_vbatches_ao",
        [
            e.filter(F.col("vec_id") % 4 == r).select("vec_id", "embedding")
            for r in (1, 3)
        ],
    )
    for i, batch in enumerate(batches):
        stage_batch_append_only(staged, batch, batch_id=i)
    # checkpoint-rollback replay: batch 0 re-delivered under its own
    # batch_id — overwrites its own staged subdirectory
    stage_batch_append_only(staged, batches[0], batch_id=0)
    appended = reconcile_index_from_snapshot(spark, path, staged)
    replayed = reconcile_index_from_snapshot(spark, path, staged)
    if replayed:  # the whole point: the re-run must append nothing
        raise AssertionError(
            f"reconcile re-run appended {replayed} vectors (first run "
            f"appended {appended}) — exactly-once broken"
        )
    return search_index(
        spark, path, e.filter(F.col("vec_id") < 5), k=5, n_probe=2
    )


_SHARD_EVEN = _ivfsq_topk_sql(
    dim=64, n_cells="auto", n_probe=2, k=5,
    build_filter="WHERE vec_id % 2 = 0",
    candidate_filter="AND c.candidate_id % 2 = 0",
)
_SHARD_ODD = _ivfsq_topk_sql(
    dim=64, n_cells="auto", n_probe=2, k=5,
    build_filter="WHERE vec_id % 2 = 1",
    candidate_filter="AND c.candidate_id % 2 = 1",
)


@query(
    "s45_sharded_index_serve",
    oracle=f"""
    SELECT query_id, candidate_id, sq_sim,
           CAST(row_number() OVER (
               PARTITION BY query_id ORDER BY sq_sim DESC, candidate_id
           ) AS BIGINT) AS rank
    FROM (
        SELECT query_id, candidate_id, sq_sim
        FROM (WITH {_SHARD_EVEN}) shard_even
        UNION ALL
        SELECT query_id, candidate_id, sq_sim
        FROM (WITH {_SHARD_ODD}) shard_odd
    ) fanout
    QUALIFY rank <= 5
    """,
)
def s45_sharded_index_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHARDED fan-out serve (round 13): the corpus split into two
    shard indexes — each with its OWN frozen geometry, built
    independently (the 100 TB deployment shape: an index per ingest
    window/tenant, never one monolithic fit — shards build, retire,
    and compact on their own schedules while serves fan out) — and
    one query batch served by `ann_index.search_sharded_indexes`:
    the standard pruned per-shard serve (s13's plan, unchanged)
    followed by a global top-k merge of the per-shard lists on the
    serve's own key. The merge is exact w.r.t. the per-shard serves
    (shards partition the corpus; the global top-k of the union is
    contained in the union of same-k local lists). Oracle: TWO
    instances of s13's CTE chain — one per shard, `build_filter`
    restricting the learned geometry and `candidate_filter`
    restricting the scored candidates to the shard's own rows —
    UNION ALL'd and re-ranked globally, the engine merge replayed
    relationally. Reference analogue: none (SURVEY §7 Phase 4/5
    surface)."""
    from ..operators.ann_index import search_sharded_indexes
    from ..operators.util import run_overlapped

    e = load_table(spark, sf_dir, "embeddings")
    # The two shard builds are independent jobs on disjoint halves
    # writing disjoint artifacts (and reaping disjoint scratch
    # prefixes), each deterministic in isolation: overlapping them lets
    # each build's straggler tail back-fill with the other's tasks
    # (paired runs at sf0.1 on 4 vCPUs: 2.5 s overlapped vs 3.2 s
    # serial, medians of 7).
    shard_paths = run_overlapped(
        lambda: _half_index(spark, e, sf_dir, "ivfsq_shard0", 0),
        lambda: _half_index(spark, e, sf_dir, "ivfsq_shard1", 1),
    )
    return search_sharded_indexes(
        spark, shard_paths, e.filter(F.col("vec_id") < 5), k=5, n_probe=2
    )
