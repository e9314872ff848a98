"""Late-DEFINED queries (registration order within this module is
historical). Since round 3 the driver's 50-entry CORRECTNESS window is
pinned EXPLICITLY by `plans/__init__.DRIVER_WINDOW`, not by
registration order — the per-query "rotated out in favor of ..."
comments below record rounds 1-2 history only. The round-3 window
includes every query that had no driver row in rounds 1-2."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.readers import load_table
from .registry import query

# Queries defined in their home modules but REGISTERED here; m05
# carries its materialized-assignments oracle since round 5
# (M05_ORACLE), u03 its byte-math replay oracle since round 6
# (U03_ORACLE — the mapInPandas reductions recomputed over the raw
# bytes in DuckDB).
from .ml_queries import M05_ORACLE, m05_kmeans_clusters  # noqa: E402
from .text_queries import T01_ORACLE, t01_token_stats  # noqa: E402
from .text_queries import T02_ORACLE, t02_clean_text  # noqa: E402
from .text_queries import T14_ORACLE, t14_token_chunks  # noqa: E402
from .udf_queries import U01_ORACLE, u01_pandas_udf_charge  # noqa: E402
from .udf_queries import U02_ORACLE, u02_grouped_minmax_scale  # noqa: E402
from .udf_queries import U03_ORACLE, u03_multimodal_features  # noqa: E402

query("m05_kmeans_clusters", oracle=M05_ORACLE)(m05_kmeans_clusters)
query("u03_multimodal_features", oracle=U03_ORACLE)(u03_multimodal_features)
# u01 rotated out of the window in favor of t21_source_mixture: the
# scalar-pandas_udf mechanism keeps in-window driver evidence via
# u04's lemmatizer; u01 stays value-checked by the local parity sweep.
query("u01_pandas_udf_charge", oracle=U01_ORACLE)(u01_pandas_udf_charge)
# t02 rotated out in favor of j03_fuzzy_name_match (round 2): t02 was
# driver-green in round 1, and regex normalization keeps in-window
# evidence via t15; still value-checked by the local parity sweep.
query("t02_clean_text", oracle=T02_ORACLE)(t02_clean_text)
# t01 rotated out in favor of t26_bpe_encode (round 2): t01 was
# driver-green in round 1, and token counting keeps in-window evidence
# via t12/t16; still value-checked by the local parity sweep.
query("t01_token_stats", oracle=T01_ORACLE)(t01_token_stats)
# u02 rotated out in favor of t27_snapshot_diff (round 2): u02 was
# driver-green in round 1, and the Python-UDF surface keeps in-window
# evidence via u04/u05; still value-checked by the local parity sweep.
query("u02_grouped_minmax_scale", oracle=U02_ORACLE)(u02_grouped_minmax_scale)
# t14 rotated out in favor of t28_unigram_logprob_quality (round 2):
# the chunking/packing mechanism keeps in-window evidence via t18/t20;
# still value-checked by the local parity sweep.
query("t14_token_chunks", oracle=T14_ORACLE)(t14_token_chunks)


from .bpe_oracle import bpe_merges_sql as _bpe_merges_sql  # noqa: E402


@query("t25_bpe_merges", oracle=_bpe_merges_sql(n_merges=12, min_freq=2))
def t25_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE merge LEARNING (operators/bpe.learn_bpe_merges): one corpus
    pass builds the word-frequency table, then every iteration runs
    over that vocab-sized frame — adjacent-pair count + argmax +
    greedy merge fold, localCheckpoint-ed per round.

    VALUE-CHECKED since round 6 — the LAST rows-only registry entry
    upgraded: the oracle re-derives the whole merge sequence
    independently in DuckDB (plans/bpe_oracle.py — one unrolled CTE
    stage per round: overlapping pair count, (freq DESC, left, right)
    argmax, guarded-string replace rewrite; early-stop falls out
    structurally). Unlike the artifact recipe this replays the FIT
    itself cross-engine — possible here because the algorithm's state
    is discrete (strings and integer counts; no float surface). The
    exact merge sequence is additionally golden-tested against a
    plain-Python reference (tests/test_bpe.py) at two corpus
    shapes."""
    from ..operators.bpe import learn_bpe_merges, merges_as_df

    docs = load_table(spark, sf_dir, "documents")
    merges = learn_bpe_merges(docs, n_merges=12, min_freq=2)
    return merges_as_df(spark, merges)


#: s05's centroid artifact — same fixed-path handshake contract as
#: plans/ml_queries._M02_PREDS_PATH (a static oracle string cannot
#: carry a session token; query overwrites atomically, paired oracle
#: re-reads; $SPARK_GRAFT_SCRATCH-rooted — plans/handshake.py).
from .handshake import handshake_path as _handshake_path  # noqa: E402

_S05_CENT_PATH = _handshake_path("s05_cent")

from .lsh_oracle import SQL_DOT as _SQL_DOT  # noqa: E402
from .lsh_oracle import ivf_assign_sql as _ivf_assign  # noqa: E402

#: The k-means FIT stays Spark-side; everything downstream of it —
#: cosine cell assignment (rounded argmax, cell-id tiebreak), the
#: nprobe-4 equi-join, scoring, ranking — is replayed by DuckDB from
#: the materialized centroid table (the m02 recipe applied to an
#: index artifact: the oracle's `cent` CTE reads the parquet the
#: query just wrote, exact doubles).
_S05_ORACLE = f"""
    WITH cent AS (
        SELECT CAST(cell_id AS BIGINT) AS cell_id,
               cent_vec AS cvec, cent_norm AS cnorm
        FROM read_parquet('{_S05_CENT_PATH}/*.parquet')
    ),
    c_assign AS ({_ivf_assign("", "candidate_id", 1)}
    ),
    q_assign AS ({_ivf_assign("WHERE vec_id < 5", "query_id", 4)}
    ),
    scored AS (
        SELECT query_id, candidate_id,
               round({_SQL_DOT.format(a='q.vec', b='c.vec')}
                     / (q.nrm * c.nrm), 6) AS cos_sim
        FROM q_assign q JOIN c_assign c USING (cell_id)
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
"""


@query("s05_ivf_kmeans_topk", oracle=_S05_ORACLE)
def s05_ivf_kmeans_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION configuration of the IVF index (s04 with learned
    cells): k-means-fitted centroids (fixed seed → reproducible)
    instead of s04's deterministic anchor vectors. Same join shapes —
    broadcast centroid assignment, cell-keyed probe equi-join; the fit
    is the one-time index build a deployment persists. Locally tested
    for determinism and a recall floor (tests/test_similarity.py).

    Config note: this synthetic corpus has weak cosine structure (max
    pairwise cos ≈ 0.51), so learned query-agnostic cells scatter the
    true neighbor sets — 8 cells × 4 probes holds recall at ~0.8 here.
    (s04's anchor centroids look better locally only because its test
    queries ARE anchors, i.e. every query sits at its own cell
    center.) On corpora with real cluster structure the learned index
    dominates; k and n_probe are the standard IVF recall knobs.

    VALUE-CHECKED since round 5: the fitted centroid table is
    materialized to parquet (the index-build artifact a deployment
    persists anyway), the query consumes the ARTIFACT (not the
    in-memory fit), and the oracle replays assignment + probe join +
    scoring + ranking from the same files — everything downstream of
    the k-means fit is hash-checked cross-engine."""
    from ..operators.similarity import ivf_topk, kmeans_centroids

    e = load_table(spark, sf_dir, "embeddings")
    from ..sources.writers import publish_parquet_atomic

    publish_parquet_atomic(kmeans_centroids(e, n_cells=8), _S05_CENT_PATH)
    cent = spark.read.parquet(_S05_CENT_PATH)
    return ivf_topk(
        e.filter(F.col("vec_id") < 5), e, k=5, n_probe=4, centroids=cent
    )


#: s19's centroid artifact — the s05 handshake applied to the SAMPLED
#: fit path.
_S19_CENT_PATH = _handshake_path("s19_cent")

#: Same replay structure as _S05_ORACLE (the fit stays Spark-side;
#: assignment + probe join + scoring + ranking are replayed by DuckDB
#: from the materialized centroid table) — only the artifact path and
#: the probe width differ. NOTHING in the oracle depends on HOW the
#: centroids were fitted: that is precisely what makes the
#: artifact-replay recipe able to certify the SAMPLED fit, whose
#: Lloyd centers are not bit-stable across partitionings (SCALE.md
#: §7o) and therefore can never be regenerated cross-engine.
_S19_ORACLE = f"""
    WITH cent AS (
        SELECT CAST(cell_id AS BIGINT) AS cell_id,
               cent_vec AS cvec, cent_norm AS cnorm
        FROM read_parquet('{_S19_CENT_PATH}/*.parquet')
    ),
    c_assign AS ({_ivf_assign("", "candidate_id", 1)}
    ),
    q_assign AS ({_ivf_assign("WHERE vec_id < 5", "query_id", 2)}
    ),
    scored AS (
        SELECT query_id, candidate_id,
               round({_SQL_DOT.format(a='q.vec', b='c.vec')}
                     / (q.nrm * c.nrm), 6) AS cos_sim
        FROM q_assign q JOIN c_assign c USING (cell_id)
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
"""


@query("s19_sampled_kmeans_topk", oracle=_S19_ORACLE)
def s19_sampled_kmeans_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LARGE-CORPUS default of the IVF index build, driver-
    certified (VERDICT r7 #2): `kmeans_centroids` with the SAMPLED
    fit branch actually executing — the path a 100 TB deployment
    takes, where Lloyd's max_iter × n × n_cells distance cost is the
    dominant build term and the fit runs on a deterministic
    content-keyed sample (``xxhash64(id) % m == 0`` — partitioning-
    independent membership) while the learned centroids apply to the
    FULL corpus through the unchanged one-pass assignment. Adopted on
    the CORRECTED §7o grounds (SCALE.md §7o-r8 — the r7 "anchors
    crater at 1M" table compared different SCORING paths and was a
    confound): under exact scoring the sampled fit is never worse
    than deterministic anchors, wins at n_probe=1 on decorrelated
    corpora, and its fit cost is independent of n; the 0.24 recall
    measured at 1M stacked was SQ8 quantization noise among 500-deep
    clone cohorts — it hits ANY centroid set and is remedied by
    dedup-before-index or the exact re-rank serve
    (`ann_index.search_index(rerank=...)`), not by the fit.

    The production floor (`_FIT_SAMPLE_FLOOR` = 100k, below which the
    full fit is cheap and sampling only adds variance) is OVERRIDDEN
    to 0 here (``fit_floor=0``, ``fit_sample_per_cell=10`` → target
    80 rows) so the sampled branch runs at oracle scale on every SF —
    at 500–2000 corpus vectors the content-keyed filter keeps ~80–85
    of them for the fit (m = round(n/80) ≥ 6). Before this row the
    engine's adopted large-corpus default executed only in scripts
    and a contract test (VERDICT r7 "Missing #2").

    VALUE-CHECKED via the proven artifact-replay recipe (s05's,
    verbatim): the sampled-fit centroid table is materialized to a
    handshake artifact, the query consumes the ARTIFACT, and the
    oracle replays assignment (n_probe=2) + probe join + scoring +
    ranking from the same files — everything downstream of the fit is
    hash-checked cross-engine, with NO determinism assumption on the
    fit itself (its centers are not bit-stable across partitionings —
    §7o — which is exactly why the replay starts at the artifact).
    Reference analogue: the fit-then-transform idiom is the
    reference's core pattern (`acq_etl_code.scala:73,80,110`)."""
    from ..operators.similarity import ivf_topk, kmeans_centroids
    from ..sources.writers import publish_parquet_atomic

    e = load_table(spark, sf_dir, "embeddings")
    publish_parquet_atomic(
        kmeans_centroids(
            e, n_cells=8, fit_sample_per_cell=10, fit_floor=0
        ),
        _S19_CENT_PATH,
    )
    cent = spark.read.parquet(_S19_CENT_PATH)
    return ivf_topk(
        e.filter(F.col("vec_id") < 5), e, k=5, n_probe=2, centroids=cent
    )


@query(
    "d13_simhash_neardups",
    oracle="""
    WITH sh AS (
        SELECT doc_id,
               CAST(list_sum(list_transform(range(0, 60), b ->
                   CASE WHEN list_sum(list_transform(tok, t ->
                             CASE WHEN (('0x' || substr(md5(t), 1, 15))::BIGINT
                                        & (1::BIGINT << b)) != 0
                                  THEN 1 ELSE -1 END)) > 0
                        THEN (1::BIGINT << b) ELSE 0 END)) AS BIGINT) AS simhash64
        FROM (SELECT doc_id,
                     regexp_extract_all(lower(text), '[a-z0-9]+') AS tok
              FROM documents)
        WHERE len(tok) >= 1
    ),
    chunks AS (
        SELECT doc_id, c.chunk,
               (simhash64 >> (c.chunk * 15)) & 32767 AS val
        FROM sh, (SELECT unnest(range(0, 4)) AS chunk) c
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
        FROM chunks a
        JOIN chunks b ON a.chunk = b.chunk AND a.val = b.val
                     AND a.doc_id < b.doc_id
    )
    SELECT c.a_id, c.b_id,
           CAST(bit_count(xor(x.simhash64, y.simhash64)) AS INTEGER) AS hamming
    FROM cand c
    JOIN sh x ON c.a_id = x.doc_id
    JOIN sh y ON c.b_id = y.doc_id
    WHERE bit_count(xor(x.simhash64, y.simhash64)) <= 3
    """,
)
def d13_simhash_neardups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs at Hamming ≤ 3 via the pigeonhole band
    join (`dedup.simhash_neardup_pairs`) — the sketch-side counterpart
    of d02's MinHash banding: candidates meet on an exact 15-bit chunk
    match (distance ≤ 3 over 4 chunks guarantees one), verify is a
    two-long popcount. Registered late: the d-family window slots
    showcase one representative per mechanism and d02/d04/d06 already
    hold the banding/sketch slots; the local parity sweep still
    value-checks this oracle."""
    from ..operators.dedup import simhash_neardup_pairs

    d = load_table(spark, sf_dir, "documents")
    return simhash_neardup_pairs(d, max_hamming=3)


@query(
    "t22_funnel_accounting",
    oracle="""
    WITH scored AS (
        SELECT doc_id, lang,
               len(tok) AS n_tokens,
               CASE WHEN len(tok) = 0 THEN 0.0
                    ELSE round(least(len(tok) / 100.0, 1.0)
                         * greatest(0.0, 1.0 - abs(
                             list_sum(list_transform(tok, t -> CAST(length(t) AS DOUBLE)))
                             / len(tok) - 5.0) / 10.0), 6)
               END AS quality,
               md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                   ' +', ' ', 'g'))) AS fp
        FROM (SELECT doc_id, lang, text,
                     regexp_extract_all(lower(text), '[a-z0-9]+') AS tok
              FROM documents)
    ),
    flagged AS (
        SELECT *,
               (lang = 'en') AS pass_lang,
               (lang = 'en' AND quality >= 0.3) AS pass_quality,
               (lang = 'en' AND quality >= 0.3 AND n_tokens >= 30) AS pass_length
        FROM scored
    ),
    ranked AS (
        SELECT *,
               sum(CASE WHEN pass_length THEN 1 ELSE 0 END)
                   OVER (PARTITION BY fp ORDER BY doc_id
                         ROWS UNBOUNDED PRECEDING) AS surv_rank
        FROM flagged
    )
    SELECT count(*) AS n_total,
           CAST(sum(CASE WHEN pass_lang THEN 1 ELSE 0 END) AS BIGINT) AS n_lang,
           CAST(sum(CASE WHEN pass_quality THEN 1 ELSE 0 END) AS BIGINT) AS n_quality,
           CAST(sum(CASE WHEN pass_length THEN 1 ELSE 0 END) AS BIGINT) AS n_length,
           CAST(sum(CASE WHEN pass_length AND surv_rank = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique,
           CAST(sum(CASE WHEN pass_length AND surv_rank = 1 THEN n_tokens ELSE 0 END) AS BIGINT) AS tokens_kept
    FROM ranked
    """,
)
def t22_funnel_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stage curation-funnel observability in ONE pass — what t13
    reports only for the survivors, broken down by stage: how many
    documents (and finally tokens) survive language -> quality ->
    length -> exact dedup. Stage flags are map-side booleans; the only
    shuffle is the fingerprint window, where the dedup rank counts
    SURVIVORS only (a conditional running sum — non-survivors never
    create a second pass or a join). The final row is one conditional
    aggregation: the shape of a nightly pipeline health dashboard at
    100 TB, one fingerprint-keyed shuffle plus a scalar agg."""
    from pyspark.sql import Window as W

    from ..functions.text import tokenize
    from ..functions.textstats import fingerprint, quality_score
    from ..operators.util import repartition_for_compute
    from ..sources.readers import load_table as _load

    d = repartition_for_compute(_load(spark, sf_dir, "documents"))
    scored = d.select(
        "doc_id",
        "lang",
        tokenize(F.col("text")).alias("tok"),
        fingerprint(F.col("text")).alias("fp"),
    ).select(
        "doc_id",
        "lang",
        "fp",
        F.size("tok").cast("long").alias("n_tokens"),
        F.when(F.size("tok") == 0, F.lit(0.0))
        .otherwise(F.round(quality_score(F.col("tok")), 6))
        .alias("quality"),
    )
    flagged = scored.select(
        "*",
        (F.col("lang") == "en").alias("pass_lang"),
        ((F.col("lang") == "en") & (F.col("quality") >= 0.3)).alias("pass_quality"),
        (
            (F.col("lang") == "en")
            & (F.col("quality") >= 0.3)
            & (F.col("n_tokens") >= 30)
        ).alias("pass_length"),
    )
    w = (
        W.partitionBy("fp")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    ranked = flagged.withColumn(
        "surv_rank", F.sum(F.when(F.col("pass_length"), 1).otherwise(0)).over(w)
    )
    kept = F.col("pass_length") & (F.col("surv_rank") == 1)
    return ranked.agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum(F.col("pass_lang").cast("int")).cast("long").alias("n_lang"),
        F.sum(F.col("pass_quality").cast("int")).cast("long").alias("n_quality"),
        F.sum(F.col("pass_length").cast("int")).cast("long").alias("n_length"),
        F.sum(kept.cast("int")).cast("long").alias("n_unique"),
        F.sum(F.when(kept, F.col("n_tokens")).otherwise(0)).cast("long").alias("tokens_kept"),
    )


#: t23 interleave weights — deliberately uneven so the schedule's
#: prefix property is visible (src0 serves 5 docs per src2 doc).
_ILV_WEIGHTS = {"src0": 0.5, "src1": 0.2, "src2": 0.1}


@query(
    "t23_interleaved_order",
    oracle=f"""
    WITH ranked AS (
        SELECT doc_id, source,
               row_number() OVER (PARTITION BY source ORDER BY doc_id) AS src_rank
        FROM documents
        WHERE source IN ({', '.join(f"'{s}'" for s in _ILV_WEIGHTS)})
    ),
    vt AS (
        SELECT doc_id, source, CAST(src_rank AS BIGINT) AS src_rank,
               CAST(src_rank AS DOUBLE) /
               CASE source {' '.join(f"WHEN '{k}' THEN {v}" for k, v in _ILV_WEIGHTS.items())} END AS __vt
        FROM ranked
    )
    SELECT doc_id, source, src_rank,
           CAST(row_number() OVER (ORDER BY __vt, source, doc_id) AS BIGINT) AS position
    FROM vt
    """,
)
def t23_interleaved_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted-interleave serving order (`curation.interleaved_order`)
    — weighted fair queuing over sources: every prefix of the serving
    stream holds sources in their weight ratio, and the schedule is a
    pure function of (doc_id, source) — rerun/cluster-size stable, the
    property a resumable training run needs. The global position uses
    the distributed rank (range partition + broadcast offsets), never
    a one-task global window; the oracle replays it with a plain
    ORDER BY row_number."""
    from ..operators.curation import interleaved_order

    d = load_table(spark, sf_dir, "documents")
    return interleaved_order(d, _ILV_WEIGHTS)


@query(
    "t24_shingle_diversity",
    oracle="""
    WITH grams AS (
        SELECT source, g.gram
        FROM (
            SELECT source,
                   list_transform(range(1, len(tok) - 1),
                                  i -> array_to_string(list_slice(tok, i, i + 2), ' ')) AS tri
            FROM (SELECT source,
                         regexp_extract_all(lower(text), '[a-z0-9]+') AS tok
                  FROM documents)
        ), unnest(tri) AS g(gram)
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_grams,
           CAST(count(DISTINCT gram) AS BIGINT) AS n_distinct,
           round(count(DISTINCT gram) / CAST(count(*) AS DOUBLE), 6) AS diversity
    FROM grams
    GROUP BY source
    """,
)
def t24_shingle_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level n-gram diversity per source — the type/token ratio
    over word trigrams, the Gopher-style diversity signal for source
    triage (templated/boilerplate-heavy sources score low; t16 covers
    the within-document version). A low-diversity source is a dedup
    and quality red flag BEFORE any pairwise work runs.

    Scale shape: one explode + one two-phase distinct aggregation
    keyed (source, gram) — map-side partials absorb repeated grams,
    and the shuffle carries gram strings once per (source, distinct
    gram). For a monitoring dashboard at 100 TB swap the exact
    count(DISTINCT) for approx_count_distinct (HLL) — constant
    memory, mergeable across shards; the exact form is registered
    because DuckDB can replay it value-exactly."""
    from ..functions.text import tokenize, word_ngrams

    d = load_table(spark, sf_dir, "documents")
    grams = d.select(
        "source",
        F.explode(word_ngrams(tokenize(F.col("text")), 3)).alias("gram"),
    )
    return grams.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_grams"),
        F.countDistinct("gram").cast("long").alias("n_distinct"),
        F.round(F.countDistinct("gram") / F.count(F.lit(1)).cast("double"), 6).alias(
            "diversity"
        ),
    )

from .similarity_queries import S06_ORACLE, s06_hard_negatives  # noqa: E402

# s06 composes s02's ANN machinery with exclusion joins; s02-s04 hold
# the in-window similarity slots.
query("s06_hard_negatives", oracle=S06_ORACLE)(s06_hard_negatives)


#: m08's weights artifact — fixed-path handshake (see _S05_CENT_PATH).
_M08_W_PATH = _handshake_path("m08_weights")

_M08_PCS = ",\n           ".join(
    f"""round(list_sum(list_transform(range(1, len(e.embedding) + 1),
                 i -> CAST(e.embedding[i] AS DOUBLE) * w{j}.w[i])) - w{j}.o,
                 6) AS pc{j}"""
    for j in range(1, 5)
)
_M08_JOINS = "\n    ".join(
    f"CROSS JOIN (SELECT w, o FROM read_parquet('{_M08_W_PATH}/*.parquet')"
    f" WHERE j = {j}) w{j}"
    for j in range(1, 5)
)


@query(
    "m08_pca_whiten",
    oracle=f"""
    SELECT e.vec_id,
           {_M08_PCS}
    FROM embeddings e
    {_M08_JOINS}
    """,
)
def m08_pca_whiten(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA whitening of the embeddings table (ml/pca): MLlib
    covariance-eigendecomposition fit, then the projection as k
    literal-array dot products with centering and whitening folded
    into driver-side constants — map-side, no ml.Vector round-trip.
    Eigen signs fixed by the largest-|loading|>0 convention so output
    is a function of the data. Whitened-variance≈1,
    near-orthogonality, and sign-stability are asserted in
    tests/test_ml_extra.py.

    VALUE-CHECKED since round 5 (the m02/s05 recipe): the fitted
    whitening weights + offsets are materialized to parquet (exact
    doubles), the query projects FROM the artifact
    (`ml/pca.project_whitened`), and the oracle replays the same
    k dot-products from the same files — everything downstream of
    the eigendecomposition is hash-checked cross-engine."""
    from ..ml.pca import pca_whiten_weights, project_whitened
    from ..operators.util import local_rows_df

    e = load_table(spark, sf_dir, "embeddings")
    weights, offsets, _ = pca_whiten_weights(e, k=4)
    rows = [(j + 1, weights[j], offsets[j]) for j in range(4)]
    from ..sources.writers import publish_parquet_atomic

    publish_parquet_atomic(
        local_rows_df(spark, rows, "j BIGINT, w ARRAY<DOUBLE>, o DOUBLE"),
        _M08_W_PATH,
    )
    art = sorted(
        spark.read.parquet(_M08_W_PATH).collect(), key=lambda r: r["j"]
    )
    return project_whitened(
        e,
        [[float(x) for x in r["w"]] for r in art],
        [float(r["o"]) for r in art],
    )


# j04 composes j03's fuzzy_join via the multi-pass recall scheme; j03
# holds the in-window ER slot. Still value-checked locally.
@query(
    "j04_fuzzy_multipass",
    oracle="""
    WITH master AS (
        SELECT c_custkey AS master_key, c_name AS master_name FROM customer
    ),
    dirty AS (
        SELECT c_custkey AS dirty_key,
               CASE WHEN c_custkey % 2 = 0
                    -- even keys: corrupt the LAST char (prefix pass finds)
                    THEN substr(c_name, 1, length(c_name) - 1)
                         || translate(substr(c_name, length(c_name), 1),
                                      '0123456789', 'OIZEASGTBP')
                    -- odd keys: corrupt the FIRST char (suffix pass finds)
                    ELSE 'K' || substr(c_name, 2) END AS dirty_name
        FROM customer WHERE c_custkey % 7 = 0
    ),
    p1 AS (
        SELECT d.dirty_key, m.master_key,
               CAST(levenshtein(d.dirty_name, m.master_name) AS BIGINT) AS edit_dist
        FROM dirty d JOIN master m
          ON substr(d.dirty_name, 1, 12) = substr(m.master_name, 1, 12)
         AND abs(length(d.dirty_name) - length(m.master_name)) <= 1
        WHERE levenshtein(d.dirty_name, m.master_name) <= 1
    ),
    p2 AS (
        SELECT d.dirty_key, m.master_key,
               CAST(levenshtein(d.dirty_name, m.master_name) AS BIGINT) AS edit_dist
        FROM dirty d JOIN master m
          ON substr(d.dirty_name, length(d.dirty_name) - 5, 6)
             = substr(m.master_name, length(m.master_name) - 5, 6)
         AND abs(length(d.dirty_name) - length(m.master_name)) <= 1
        WHERE levenshtein(d.dirty_name, m.master_name) <= 1
    )
    SELECT DISTINCT dirty_key, master_key, edit_dist
    FROM (SELECT * FROM p1 UNION ALL SELECT * FROM p2)
    """,
)
def j04_fuzzy_multipass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-pass blocked entity resolution (`joins.fuzzy_join_multipass`)
    with corruption at BOTH string ends: even dirty keys corrupt the
    final character (only the name-PREFIX pass can find them), odd
    keys corrupt the first character (only the name-SUFFIX pass can) —
    so the union of passes is load-bearing, not redundant. Output is
    the distinct matched-pair set with exact distances."""
    from ..operators.joins import fuzzy_join_multipass

    cust = load_table(spark, sf_dir, "customer")
    master = cust.select(
        F.col("c_custkey").alias("master_key"), F.col("c_name").alias("master_name")
    )
    dirty = cust.filter(F.col("c_custkey") % 7 == 0).select(
        F.col("c_custkey").alias("dirty_key"),
        F.when(
            F.col("c_custkey") % 2 == 0,
            F.concat(
                F.expr("substring(c_name, 1, length(c_name) - 1)"),
                F.translate(
                    F.expr("substring(c_name, length(c_name), 1)"),
                    "0123456789",
                    "OIZEASGTBP",
                ),
            ),
        )
        .otherwise(F.concat(F.lit("K"), F.expr("substring(c_name, 2)")))
        .alias("dirty_name"),
    )
    passes = [
        (F.substring("dirty_name", 1, 12), F.substring("master_name", 1, 12)),
        (
            F.expr("substring(dirty_name, length(dirty_name) - 5, 6)"),
            F.expr("substring(master_name, length(master_name) - 5, 6)"),
        ),
    ]
    pairs = fuzzy_join_multipass(
        dirty, master, "dirty_name", "master_name", passes, max_dist=1
    )
    return pairs.select(
        "dirty_key", "master_key", F.col("edit_dist").cast("long").alias("edit_dist")
    ).distinct()


@query(
    "j05_event_window_range_join",
    oracle="""
    WITH inc AS (
        SELECT event_id AS incident_id, ts AS win_start,
               ts + INTERVAL 90 MINUTE AS win_end
        FROM events WHERE event_id % 50 = 0
    )
    SELECT i.incident_id, count(*) AS n_events,
           round(sum(e.value), 2) AS sum_value
    FROM inc i JOIN events e
      ON e.ts >= i.win_start AND e.ts < i.win_end
    GROUP BY i.incident_id
    """,
)
def j05_event_window_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HOUR-granularity interval join via `joins.range_join_bucketed`
    (the operator's sub-day parameterization): every 50th event opens
    a 90-minute incident window; all events inside any window join to
    it. The interval side explodes into its 2-3 covering hour buckets,
    the join is an equi hash join on the bucket, and the exact range
    residual filters — results are bucket-alignment-independent, the
    knob only trades explode fan-out against key selectivity (90-min
    windows × 1-hour buckets ⇒ O(1) fan-out; day buckets would put
    ~all windows of a day on one key). The only plan that survives an
    interval join at 100 TB — never a nested loop."""
    from ..operators.joins import range_join_bucketed

    ev = load_table(spark, sf_dir, "events")
    inc = ev.filter(F.col("event_id") % 50 == 0).select(
        F.col("event_id").alias("incident_id"),
        F.col("ts").alias("win_start"),
        F.timestamp_add("MINUTE", F.lit(90), F.col("ts")).alias("win_end"),
    )
    joined = range_join_bucketed(
        inc,
        ev.select("event_id", "ts", "value"),
        "win_start",
        "win_end",
        "ts",
        bucket="1 hour",
    )
    return joined.groupBy("incident_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )


# t29 upgrades t28's unigram scorer; t28 holds the in-window LM slot.
@query(
    "t29_bigram_backoff_quality",
    oracle="""
    WITH train AS (SELECT text FROM documents WHERE source <> 'src0'),
    held AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS tok
             FROM documents WHERE source = 'src0'),
    tuni AS (
        SELECT t, count(*) AS c FROM (
            SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS t
            FROM train) GROUP BY t
    ),
    tbig AS (
        SELECT prev, cur, count(*) AS c FROM (
            SELECT tok[i] AS prev, tok[i + 1] AS cur
            FROM (SELECT regexp_extract_all(lower(text), '[a-z0-9]+') AS tok
                  FROM train),
                 unnest(range(1, len(tok))) AS u(i)
        ) GROUP BY prev, cur
    ),
    consts AS (SELECT CAST(sum(c) AS DOUBLE) AS n, CAST(count(*) AS DOUBLE) AS v
               FROM tuni),
    pos AS (
        SELECT h.doc_id, len(h.tok) AS n_tokens, tok[i] AS cur,
               CASE WHEN i > 1 THEN tok[i - 1] END AS prev
        FROM held h, unnest(range(1, len(h.tok) + 1)) AS u(i)
    ),
    scored AS (
        SELECT p.doc_id, p.n_tokens,
               CASE WHEN p.prev IS NOT NULL AND b.c IS NOT NULL
                    THEN ln(b.c / CAST(up.c AS DOUBLE))
                    WHEN p.prev IS NOT NULL
                    THEN ln(0.4 * (COALESCE(uc.c, 0) + 1) / (consts.n + consts.v))
                    ELSE ln((COALESCE(uc.c, 0) + 1) / (consts.n + consts.v))
               END AS lp
        FROM pos p
        LEFT JOIN tbig b ON b.prev = p.prev AND b.cur = p.cur
        LEFT JOIN tuni up ON up.t = p.prev
        LEFT JOIN tuni uc ON uc.t = p.cur
        CROSS JOIN consts
    )
    SELECT doc_id, CAST(max(n_tokens) AS BIGINT) AS n_tokens,
           round(avg(lp), 6) AS avg_logscore
    FROM scored GROUP BY doc_id
    """,
)
def t29_bigram_backoff_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram LM quality scoring with stupid back-off (Brants et al.):
    the model is FIT on the non-src0 corpus slice and scores the
    HELD-OUT src0 documents, so unseen bigrams genuinely take the
    back-off path (scoring training data never would). Per position:
    ln(c(prev,cur)/c(prev)) when the bigram was seen, else
    ln(0.4 · laplace_unigram(cur)); the first token scores by unigram
    alone. One shuffle each for the bigram and unigram tables; the
    scoring joins are model-table-sized on the build side; N/V are
    driver scalars. The t28 shape, one order up."""
    d = load_table(spark, sf_dir, "documents")
    from ..functions.text import tokenize

    train_tok = d.filter(F.col("source") != "src0").select(
        tokenize("text").alias("tok")
    )
    tuni = (
        train_tok.select(F.explode("tok").alias("t"))
        .groupBy("t")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    tbig = (
        train_tok.filter(F.size("tok") >= 2)
        .select(
            F.explode(
                F.zip_with(
                    F.slice("tok", 1, F.size("tok") - 1),
                    F.slice("tok", 2, F.size("tok") - 1),
                    lambda a, b: F.struct(a.alias("prev"), b.alias("cur")),
                )
            ).alias("p")
        )
        .groupBy(F.col("p.prev").alias("prev"), F.col("p.cur").alias("cur"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    n_total, n_vocab = tuni.agg(
        F.sum("c").cast("double"), F.count(F.lit(1)).cast("double")
    ).first()
    held = d.filter(F.col("source") == "src0").select(
        "doc_id", tokenize("text").alias("tok")
    )
    pos = held.select(
        "doc_id",
        F.size("tok").alias("n_tokens"),
        F.posexplode("tok").alias("i", "cur"),
        F.col("tok").alias("__tok"),
    ).select(
        "doc_id",
        "n_tokens",
        "cur",
        F.when(F.col("i") > 0, F.element_at("__tok", F.col("i"))).alias("prev"),
    )
    lap = (F.coalesce(F.col("uc_c"), F.lit(0)) + 1) / F.lit(
        float(n_total) + float(n_vocab)
    )
    lp = (
        F.when(
            F.col("prev").isNotNull() & F.col("b_c").isNotNull(),
            F.log(F.col("b_c") / F.col("up_c").cast("double")),
        )
        .when(F.col("prev").isNotNull(), F.log(0.4 * lap))
        .otherwise(F.log(lap))
    )
    scored = (
        pos.join(
            tbig.select("prev", "cur", F.col("c").alias("b_c")),
            ["prev", "cur"],
            "left",
        )
        .join(
            tuni.select(F.col("t").alias("prev"), F.col("c").alias("up_c")),
            "prev",
            "left",
        )
        .join(
            tuni.select(F.col("t").alias("cur"), F.col("c").alias("uc_c")),
            "cur",
            "left",
        )
        .withColumn("lp", lp)
    )
    return scored.groupBy("doc_id").agg(
        F.max("n_tokens").cast("long").alias("n_tokens"),
        F.round(F.avg("lp"), 6).alias("avg_logscore"),
    )


# d15 reuses t17's winnow sketch. The MOSS stop-fingerprint cap
# (max_df=32) is mirrored verbatim into the oracle: fingerprints in
# more than 32 docs are dropped from the index before candidates,
# counts, and sketch sizes are computed.
@query(
    "d15_winnow_containment",
    oracle="""
    WITH n AS (
        SELECT doc_id,
               trim(regexp_replace(regexp_replace(lower(text),
                    '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')) AS norm
        FROM documents
    ),
    h AS (
        SELECT doc_id,
               list_transform(range(1, length(norm) - 8 + 2),
                   i -> ('0x' || substr(md5(substr(norm, CAST(i AS INTEGER), 8)),
                         1, 15))::BIGINT) AS hs
        FROM n
    ),
    posts AS (
        SELECT doc_id, unnest(list_distinct(
                   list_transform(range(1, len(hs) - 4 + 2),
                       j -> list_min(list_slice(hs, j, j + 3))))) AS fp
        FROM h
    ),
    hot AS (SELECT fp FROM posts GROUP BY fp HAVING count(*) > 32),
    idx AS (SELECT * FROM posts ANTI JOIN hot USING (fp)),
    sizes AS (SELECT doc_id, count(*) AS n_fp FROM idx GROUP BY doc_id),
    shared AS (
        SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS n_shared
        FROM idx a JOIN idx b
          ON a.fp = b.fp AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
        HAVING count(*) >= 2
    )
    SELECT s.a_id, s.b_id,
           CAST(s.n_shared AS BIGINT) AS n_shared,
           round(s.n_shared / least(sa.n_fp, sb.n_fp), 6) AS containment
    FROM shared s
    JOIN sizes sa ON sa.doc_id = s.a_id
    JOIN sizes sb ON sb.doc_id = s.b_id
    WHERE round(s.n_shared / least(sa.n_fp, sb.n_fp), 6) >= 0.3
    """,
)
def d15_winnow_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONTAINMENT-dup pairs (operators/dedup.winnow_containment_pairs):
    documents sharing ≥2 winnow fingerprints with
    |shared| / min(|fps|) ≥ 0.3 — the partial-duplication class
    (lifted paragraphs, boilerplate blocks, quote farms) that global
    Jaccard resemblance under-scores by construction. Fingerprints in
    more than 32 documents are dropped from the index first (the MOSS
    stop-fingerprint rule — Σdf² is the postings-join cost and one
    boilerplate fp dominates it; measured 190M → ~1M pair-rows at
    sf0.1); scores are computed over the retained index. The t17
    sketch guarantees any shared substring of length ≥ k+w-1 = 11
    chars produces a shared fingerprint."""
    from ..operators.dedup import winnow_containment_pairs

    d = load_table(spark, sf_dir, "documents")
    return winnow_containment_pairs(d, min_shared=2, threshold=0.3, max_df=32)


#: Gopher-style rule thresholds (Rae et al. 2021 §A1.1), re-banded
#: for this corpus's 10–99-word documents so the keep flag actually
#: discriminates (the paper's 50–100k word band would pass ~all docs
#: here and fail none for the right reasons).
_G_MIN_WORDS, _G_MAX_WORDS = 20, 10_000
_G_MIN_MWL, _G_MAX_MWL = 3.0, 10.0
_G_MIN_ALPHA = 0.7
_G_MIN_STOP = 1

T30_ORACLE = f"""
    SELECT doc_id,
           CAST(len(tok) AS BIGINT) AS n_words,
           round(CASE WHEN len(tok) = 0 THEN 0.0
                 ELSE list_sum(list_transform(tok, t -> CAST(length(t) AS DOUBLE)))
                      / len(tok) END, 6) AS mean_word_len,
           round(CASE WHEN len(tok) = 0 THEN 0.0
                 ELSE len(list_filter(tok, t -> regexp_matches(t, '[a-z]')))
                      / CAST(len(tok) AS DOUBLE) END, 6) AS alpha_frac,
           CAST(len(list_filter(tok,
                t -> list_contains(['the','and','of','to','is'], t)))
                AS BIGINT) AS stop_hits,
           (len(tok) BETWEEN {_G_MIN_WORDS} AND {_G_MAX_WORDS}
            AND (CASE WHEN len(tok) = 0 THEN 0.0
                 ELSE list_sum(list_transform(tok, t -> CAST(length(t) AS DOUBLE)))
                      / len(tok) END) BETWEEN {_G_MIN_MWL} AND {_G_MAX_MWL}
            AND (CASE WHEN len(tok) = 0 THEN 0.0
                 ELSE len(list_filter(tok, t -> regexp_matches(t, '[a-z]')))
                      / CAST(len(tok) AS DOUBLE) END) >= {_G_MIN_ALPHA}
            AND len(list_filter(tok,
                t -> list_contains(['the','and','of','to','is'], t)))
                >= {_G_MIN_STOP}) AS keep
    FROM (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS tok
          FROM documents)
"""


@query("t30_gopher_rules", oracle=T30_ORACLE)
def t30_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style document-quality rule filter (Rae et al. 2021
    §A1.1; the rule family C4/RefinedWeb/Dolma all reuse): word-count
    band, mean-word-length band, alphabetic-word fraction, and
    stop-word presence, each emitted as an auditable signal column
    plus the combined ``keep`` flag. Complements t11 (scalar quality
    score), t16 (repetition), and t24 (corpus diversity) — together
    they are the standard pre-training quality gate.

    Scale shape: pure map-side column expressions over one tokenize —
    runs inside the scan stage, zero shuffles, trivially linear at
    100 TB. Thresholds are module constants emitted into the oracle
    SQL so the keep flag is value-checked, not just row-counted."""
    from ..operators.curation import gopher_rules

    d = load_table(spark, sf_dir, "documents")
    return gopher_rules(
        d,
        min_words=_G_MIN_WORDS,
        max_words=_G_MAX_WORDS,
        min_mean_word_len=_G_MIN_MWL,
        max_mean_word_len=_G_MAX_MWL,
        min_alpha_frac=_G_MIN_ALPHA,
        min_stop_hits=_G_MIN_STOP,
    )


#: Vocabulary sizes at which coverage is evaluated (t32) — the
#: tokenizer-budget sweep a vocab-size decision reads off. Banded to
#: this corpus's ~64-type vocabulary so the curve discriminates (a
#: real corpus would sweep 2^13..2^18).
_VOCAB_SIZES = (5, 10, 20, 40)

T32_ORACLE = f"""
    WITH tok AS (SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
                 FROM documents),
    tc AS (SELECT term, count(*) AS freq FROM tok GROUP BY term),
    ranked AS (SELECT term, freq,
                      row_number() OVER (ORDER BY freq DESC, term) AS rnk
               FROM tc)
    SELECT s.n AS vocab_size,
           CAST(sum(CASE WHEN rnk <= s.n THEN freq ELSE 0 END) AS BIGINT)
               AS covered_tokens,
           CAST(sum(freq) AS BIGINT) AS total_tokens,
           round(sum(CASE WHEN rnk <= s.n THEN freq ELSE 0 END)
                 / CAST(sum(freq) AS DOUBLE), 6) AS coverage
    FROM ranked CROSS JOIN (VALUES {", ".join(f"({n})" for n in _VOCAB_SIZES)}) s(n)
    GROUP BY s.n
"""


@query("t32_vocab_coverage", oracle=T32_ORACLE)
def t32_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage curve: for each candidate vocab size N, the
    fraction of all corpus token OCCURRENCES covered by the N most
    frequent types (ties broken lexicographically) — the Zipf sweep
    that sizes a tokenizer vocabulary / UNK budget before a BPE run
    (t25/t26 then learn within the chosen budget).

    Scale shape: one token shuffle builds the vocab-sized frequency
    table; the global frequency rank uses
    `ordered.global_row_number` (range partition + per-partition
    rank + broadcast offsets) so there is NO single-task
    row_number() OVER (ORDER BY ...) even when the type space is
    10⁸; the curve itself is one conditional aggregation over the
    vocab-sized frame. The oracle's plain OVER (ORDER BY) is the
    same math DuckDB-side."""
    from ..operators.ordered import global_row_number
    from .text_queries import _unigram_model

    # The Zipf counts ARE t28/t34's unigram model table (same
    # tokenize, full corpus) — renamed from the shared session frame.
    freq_frame, _n, _v = _unigram_model(spark, sf_dir)
    counts = freq_frame.select(
        F.col("tok").alias("term"), F.col("c").alias("freq")
    )
    ranked = global_row_number(
        counts.withColumn("__neg", -F.col("freq")), ["__neg", "term"], "rnk"
    )
    aggs = [F.sum("freq").alias("total")] + [
        F.sum(F.when(F.col("rnk") <= n, F.col("freq")).otherwise(0)).alias(f"c{n}")
        for n in _VOCAB_SIZES
    ]
    row = ranked.agg(*aggs)
    curve = row.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(n).alias("vocab_size"),
                        F.col(f"c{n}").cast("long").alias("covered_tokens"),
                        F.col("total").cast("long").alias("total_tokens"),
                    )
                    for n in _VOCAB_SIZES
                ]
            )
        ).alias("s")
    ).select("s.vocab_size", "s.covered_tokens", "s.total_tokens")
    out = curve.withColumn(
        "coverage",
        F.round(F.col("covered_tokens") / F.col("total_tokens").cast("double"), 6),
    )
    # ranked is a localCheckpoint owner (global_row_number) — transfer
    # ownership to the composed result so the checkpoint blocks live
    # until THIS frame is done (own_local_checkpoint contract).
    from ..operators.util import own_caches

    return own_caches(out, ranked)


#: s09's codebook artifact — fixed-path handshake (see _S05_CENT_PATH).
_S09_CB_PATH = _handshake_path("s09_codebooks")

from .lsh_oracle import ivfpq_topk_sql as _ivfpq_sql  # noqa: E402


@query(
    "s09_ivfpq_kmeans_topk",
    oracle=f"""WITH {_ivfpq_sql(n_subspaces=8, sub_dim=8, n_codes=16,
                                n_cells=16, n_probe=2, k=5, rerank=40,
                                codebook_parquet=_S09_CB_PATH)}\n""",
)
def s09_ivfpq_kmeans_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION configuration of the IVF-PQ index (s08 with
    LEARNED codebooks): per-subspace k-means centroids (fixed seeds →
    reproducible) replace the anchor slices, cutting quantization
    error where the data actually lives — exactly the s05-vs-s04
    relationship, one level down the index. Every join shape is
    identical to s08 (the codebooks= parameter is the only change).
    Determinism and a recall floor are asserted in tests/test_pq.py.

    VALUE-CHECKED since round 5 (the s05 recipe one level down): the
    learned codebooks are materialized to parquet, the query encodes
    from the ARTIFACT, and the oracle replays encode + ADC scan +
    exact re-rank from the same files
    (`lsh_oracle.ivfpq_topk_sql(codebook_parquet=...)`) — everything
    downstream of the per-subspace fits is hash-checked
    cross-engine."""
    from ..operators.pq import ivfpq_topk, pq_kmeans_codebooks
    from ..operators.util import local_rows_df

    e = load_table(spark, sf_dir, "embeddings")
    cbs = pq_kmeans_codebooks(e, n_subspaces=8, n_codes=16)
    rows = [
        (m + 1, c, [float(x) for x in cbs[m][c]])
        for m in range(len(cbs))
        for c in range(len(cbs[m]))
    ]
    from ..sources.writers import publish_parquet_atomic

    publish_parquet_atomic(
        local_rows_df(spark, rows, "m BIGINT, code BIGINT, vec ARRAY<DOUBLE>"),
        _S09_CB_PATH,
    )
    art = spark.read.parquet(_S09_CB_PATH).collect()
    nested: dict = {}
    for r in art:
        nested.setdefault(int(r["m"]), {})[int(r["code"])] = [
            float(x) for x in r["vec"]
        ]
    cbs_art = [
        [nested[m][c] for c in sorted(nested[m])] for m in sorted(nested)
    ]
    return ivfpq_topk(
        e.filter(F.col("vec_id") < 5),
        e,
        k=5,
        n_cells=16,
        n_probe=2,
        codebooks=cbs_art,
        rerank=40,
    )


T33_ORACLE = """
    SELECT doc_id,
           CAST(len(tok) AS BIGINT) AS n_tokens,
           CAST(len(list_distinct(tok)) AS BIGINT) AS n_types,
           CASE WHEN len(tok) = 0 THEN 0.0
                ELSE round(-list_sum(list_transform(
                         list_sort(list_distinct(tok)),
                         t -> (CAST(len(list_filter(tok, x -> x = t)) AS DOUBLE)
                               / len(tok))
                              * ln(CAST(len(list_filter(tok, x -> x = t)) AS DOUBLE)
                                   / len(tok)))), 6)
           END AS token_entropy
    FROM (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS tok
          FROM documents)
"""


@query("t33_token_entropy", oracle=T33_ORACLE)
def t33_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document Shannon entropy of the token distribution (nats) —
    the information-density quality signal: low entropy flags
    repetitive/templated text (complementing t16's repetition ratios
    with a single scale-free number), near-log(n_types) flags
    natural prose. Summation runs over the SORTED distinct-token list
    in both engines, so the float fold order is deterministic and the
    6-dp value hash-checks (ln, not log2 — the ln parity precedent is
    t09's IDF term).

    Scale shape: pure per-row array expressions — the within-doc
    frequency scan is O(types·tokens) on ≤k-token documents, runs
    inside the scan stage, zero shuffles, linear at 100 TB."""
    from ..functions.text import tokenize

    d = load_table(spark, sf_dir, "documents")
    t = d.select("doc_id", tokenize(F.col("text")).alias("tok"))
    n = F.size("tok")
    p_of = lambda tcol: (
        F.size(F.filter(F.col("tok"), lambda x: x == tcol)).cast("double")
        / n.cast("double")
    )
    ent = -F.aggregate(
        F.transform(
            F.array_sort(F.array_distinct(F.col("tok"))),
            lambda tcol: p_of(tcol) * F.log(p_of(tcol)),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return t.select(
        "doc_id",
        n.cast("long").alias("n_tokens"),
        F.size(F.array_distinct("tok")).cast("long").alias("n_types"),
        F.when(n == 0, F.lit(0.0)).otherwise(F.round(ent, 6)).alias("token_entropy"),
    )


from .registry import ORACLES as _REG_ORACLES  # noqa: E402
from .text_queries import SQL_TOKENS as _SQL_TOKENS  # noqa: E402


@query(
    "t38_bm25_topk",
    oracle=f"""
    WITH tok AS (SELECT doc_id, unnest({_SQL_TOKENS}) AS term FROM documents),
    tf0 AS (SELECT doc_id, term, count(*) AS c FROM tok GROUP BY doc_id, term),
    dlen AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
    stats AS (SELECT (SELECT count(*) FROM documents) AS nn,
                     (SELECT CAST(sum(dl) AS DOUBLE) FROM dlen)
                       / (SELECT count(*) FROM documents) AS avgdl),
    dfreq AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY term),
    q AS (SELECT doc_id AS query_id, term
          FROM ({_REG_ORACLES["t09_tfidf_top_terms"]}) t9 WHERE doc_id < 3),
    contrib AS (
        SELECT q.query_id, tf0.doc_id, q.term,
               (ln((stats.nn - dfreq.df + 0.5) / (dfreq.df + 0.5) + 1)
                * (tf0.c * 2.2))
               / (tf0.c + 1.2 * (0.25 + 0.75 * dlen.dl / stats.avgdl)) AS w
        FROM q
        JOIN tf0 USING (term)
        JOIN dlen ON dlen.doc_id = tf0.doc_id
        JOIN dfreq ON dfreq.term = q.term
        CROSS JOIN stats
        WHERE tf0.doc_id <> q.query_id
    ),
    bscored AS (
        SELECT query_id, doc_id,
               round(list_sum(list(w ORDER BY term)), 6) AS bm25
        FROM contrib GROUP BY query_id, doc_id
    )
    SELECT query_id, doc_id, bm25,
           CAST(row_number() OVER (
               PARTITION BY query_id ORDER BY bm25 DESC, doc_id
           ) AS BIGINT) AS rank
    FROM bscored
    QUALIFY rank <= 5
    """,
)
def t38_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 lexical retrieval (round 13 — `operators/bm25.bm25_topk`,
    the sparse half of a hybrid retrieval stack; Lucene's positive
    IDF form): each of the three lowest-id documents' top-3 TF-IDF
    terms (t09's registered ranking, reused verbatim as the query
    workload — the s43 oracle-composition pattern) retrieves its
    top-5 OTHER documents. The per-(query, doc) score folds term
    contributions over the lexicographically SORTED term list (the
    t33 float-determinism pattern), so the 6-dp score hash-checks
    cross-engine; k1/b constants are pre-folded Python doubles shared
    by both spellings. Scale: the broadcast query-term semi-join
    prunes the corpus-sized tf/df aggregates before any wide join;
    doc length and corpus stats ride along as broadcasts; one grouped
    fold + one window shuffle. Reference analogue: none (the
    reference's TF-IDF is a FEATURE pipeline, `acq_etl_code.scala:
    71-81`, not retrieval) — SURVEY §7 Phase 4 surface."""
    from ..operators.bm25 import bm25_topk
    from .text_queries import t09_tfidf_top_terms

    d = load_table(spark, sf_dir, "documents")
    q = (
        t09_tfidf_top_terms(spark, sf_dir)
        .filter(F.col("doc_id") < 3)
        .select(F.col("doc_id").alias("query_id"), "term")
    )
    return bm25_topk(d, q, k=5, exclude_self=True)


@query(
    "s46_hybrid_bm25_dense",
    oracle=f"""
    WITH lex AS (SELECT query_id, doc_id AS candidate_id, rank
                 FROM ({_REG_ORACLES["t38_bm25_topk"]}) tl),
    dns AS (SELECT query_id, candidate_id, rank
            FROM ({_REG_ORACLES["s02_cosine_topk"]}) td WHERE query_id < 3),
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
        FROM lex l
        FULL OUTER JOIN dns i
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
def s46_hybrid_bm25_dense(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HYBRID retrieval across MODALITIES (round 13): BM25 lexical
    retrieval over `documents` (t38's registered ranking — sparse,
    exact-term) RRF-fused with exact dense cosine retrieval over the
    SAME ids' `embeddings` (s02's ranking, restricted to the three
    query documents) — the production hybrid-search shape, where the
    two routes' complementary failure modes (lexical misses
    paraphrase, dense misses rare exact terms) union into a better
    list with no score calibration because only RANKS enter
    (`similarity.rrf_fuse`, s11's combiner pointed across the
    lexical/dense divide instead of LSH/IVF). The testdata id spaces
    align (doc_id ≡ vec_id), so the fusion is a plain (query,
    candidate) full-outer join of two k-rows-per-query lists —
    query-set-sized work regardless of corpus size. Oracle: t38's and
    s02's statements composed verbatim + s11's fused-ppb spelling.
    Reference analogue: none — SURVEY §7 Phase 4 surface."""
    from ..operators.similarity import brute_force_topk, rrf_fuse

    e = load_table(spark, sf_dir, "embeddings")
    lex = t38_bm25_topk(spark, sf_dir).select(
        "query_id", F.col("doc_id").alias("candidate_id"), "rank"
    )
    dense = brute_force_topk(e.filter(F.col("vec_id") < 3), e, k=5).select(
        "query_id", "candidate_id", "rank"
    )
    return rrf_fuse([lex, dense], k=5, c=60)


@query(
    "t39_bm25_persisted_serve",
    oracle=_REG_ORACLES["t38_bm25_topk"],
)
def t39_bm25_persisted_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 served from the PERSISTED postings artifact (round 13 —
    the lexical sibling of s13's persisted-index discipline: pay the
    corpus tokenize/aggregate once, serve many): `build_bm25_index`
    publishes the term-range-sorted postings (term, doc_id, c, dl)
    plus the 1-row stats sidecar via the atomic staged-rename; the
    serve turns the query batch's term set into an In-predicate the
    parquet scan prunes at the row-group level (the lexical analogue
    of probed-cell partition pruning), re-derives df as rows-per-term
    of the pruned rows (round 14 — what keeps the append O(shard))
    and runs the SAME weight/fold/rank tail as t38 — postings hold
    exact integers, the sidecar's doubles round-trip parquet exactly,
    so the oracle is t38's statement VERBATIM (the s13-reuses-s02's-
    semantics pattern) and a green row certifies the on-disk artifact
    end to end. Query workload: t09's top-3 terms of docs 0-2, as
    t38. Reference analogue: none — SURVEY §7 Phase 4 surface."""
    from ..operators.bm25 import build_bm25_index, search_bm25_index
    from .similarity_queries import _scratch_index_path
    from .text_queries import t09_tfidf_top_terms

    d = load_table(spark, sf_dir, "documents")
    path = _scratch_index_path(spark, sf_dir, "bm25")
    build_bm25_index(d, path)
    q = (
        t09_tfidf_top_terms(spark, sf_dir)
        .filter(F.col("doc_id") < 3)
        .select(F.col("doc_id").alias("query_id"), "term")
    )
    return search_bm25_index(spark, path, q, k=5, exclude_self=True)


@query(
    "t40_bm25_append_serve",
    oracle=_REG_ORACLES["t38_bm25_topk"],
)
def t40_bm25_append_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL BM25 index: build on the even-id half of the
    corpus, `append_bm25_index` the odd half, serve (round 13 — the
    nightly-shard ingest story on the lexical side, with a STRONGER
    guarantee than its ANN sibling s14: where the ANN append encodes
    under frozen stale-by-design geometry, BM25's corpus statistics
    are all exact integer merges — disjoint tf rows, df re-derived
    from the surviving rows at serve time, additive (nn, Σdl) via
    the integer sidecar — so the appended artifact serves
    VALUE-IDENTICALLY to a full rebuild and the oracle is t38's
    full-corpus statement VERBATIM, no build_filter weakening
    needed). Cost (round 14 — O(shard), not O(index)): one pass over
    the NEW shard's text + one job-committed shard write + a 1-row
    stats merge; the old corpus is never re-tokenized and the old
    postings files are never rewritten (tokenize dominates the build
    at scale, §7w). Query workload: t09's top-3 terms of docs 0-2, as
    t38/t39. Reference analogue: none — SURVEY §7 Phase 4 surface."""
    from ..operators.bm25 import (
        append_bm25_index,
        build_bm25_index,
        search_bm25_index,
    )
    from .similarity_queries import _scratch_index_path
    from .text_queries import t09_tfidf_top_terms

    d = load_table(spark, sf_dir, "documents")
    path = _scratch_index_path(spark, sf_dir, "bm25app")
    build_bm25_index(d.filter(F.col("doc_id") % 2 == 0), path)
    append_bm25_index(d.filter(F.col("doc_id") % 2 == 1), path)
    q = (
        t09_tfidf_top_terms(spark, sf_dir)
        .filter(F.col("doc_id") < 3)
        .select(F.col("doc_id").alias("query_id"), "term")
    )
    return search_bm25_index(spark, path, q, k=5, exclude_self=True)


@query(
    "t41_bm25_stream_ingest",
    oracle=_REG_ORACLES["t38_bm25_topk"],
)
def t41_bm25_stream_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACTLY-ONCE document-stream ingest into the persisted BM25
    index, replayed batch-shaped (round 13 — the s44 recipe pointed
    at the LEXICAL index, completing its lifecycle:
    build/serve/append/stream): the odd-id half of `documents`
    arrives as TWO micro-batches through the stream wire format
    (JSONL, the s40 rule — distributed write, never collected), each
    staged append-only into its own subdirectory
    (`stage_batch_append_only` — payload-agnostic, the staged column
    is the text); batch 0 is DELIBERATELY RE-DELIVERED (overwrites
    its own subdirectory); ONE scheduled reconcile
    (`reconcile_bm25_from_snapshot` — staged ids deduped, membership
    anti-joined against the postings' own doc set, survivors appended
    through the exact-merge `append_bm25_index`) absorbs the
    snapshot, and a reconcile re-run must append NOTHING (the row
    raises otherwise). A naive per-batch append would double-count
    the replayed shard's df/dl and silently SHIFT SCORES — the hash
    would catch exactly that. Oracle: t38's full-corpus statement
    VERBATIM (the exact merge makes append ≡ full build, t40's
    guarantee). The same path through a REAL availableNow stream is
    separately asserted in tests/test_bm25.py. Reference analogue:
    none — SURVEY §7 Phase 4/5 surface."""
    import os

    from ..operators.bm25 import build_bm25_index, search_bm25_index
    from ..streaming.serving import (
        reconcile_bm25_from_snapshot,
        stage_batch_append_only,
    )
    from .similarity_queries import _scratch_index_path
    from .text_queries import t09_tfidf_top_terms

    from ..operators.util import run_overlapped

    d = load_table(spark, sf_dir, "documents")
    path = _scratch_index_path(spark, sf_dir, "bm25stream")
    vdir = f"{path}_vdocs"
    staged = f"{path}_staged_docs"

    def _build():
        build_bm25_index(d.filter(F.col("doc_id") % 2 == 0), path)

    def _stage_all():
        # SEQUENTIAL within this thread: the replay re-targets b0's
        # staged subdirectory, so it must follow the original staging
        # (same-dir writes share the committer staging dir — the s18
        # hazard).
        batches = []
        for i, pred in enumerate(
            (F.col("doc_id") % 4 == 1, F.col("doc_id") % 4 == 3)
        ):
            (
                d.filter(pred)
                .select(F.to_json(F.struct("doc_id", "text")).alias("value"))
                .coalesce(2)
                .write.mode("overwrite")
                .text(f"{vdir}/b{i}")
            )
            os.utime(f"{vdir}/b{i}")  # keep the reaper's dir-mtime key fresh
            batch = spark.read.schema("doc_id long, text string").json(
                f"{vdir}/b{i}"
            )
            batches.append(batch)
            stage_batch_append_only(
                staged, batch, batch_id=i, id_col="doc_id", vec_col="text"
            )
        stage_batch_append_only(  # checkpoint-rollback replay of batch 0
            staged, batches[0], batch_id=0, id_col="doc_id", vec_col="text"
        )

    # The lexical index build touches only {path}; the wire/staging
    # chain only {vdir, staged} — independent jobs with disjoint
    # artifacts, overlapped (round 14, guide §2.6); the reconcile
    # below is the join point needing both.
    run_overlapped(_build, _stage_all)
    appended = reconcile_bm25_from_snapshot(spark, path, staged)
    replayed = reconcile_bm25_from_snapshot(spark, path, staged)
    if replayed:  # the whole point: the re-run must append nothing
        raise AssertionError(
            f"reconcile re-run appended {replayed} documents (first "
            f"run appended {appended}) — exactly-once broken"
        )
    q = (
        t09_tfidf_top_terms(spark, sf_dir)
        .filter(F.col("doc_id") < 3)
        .select(F.col("doc_id").alias("query_id"), "term")
    )
    return search_bm25_index(spark, path, q, k=5, exclude_self=True)


from .lsh_oracle import ivfsq_topk_sql as _ivfsq_sql  # noqa: E402

_S47_DENSE = _ivfsq_sql(
    dim=64, n_cells="auto", n_probe=2, k=5, query_filter="WHERE vec_id < 3"
)


@query(
    "s47_hybrid_persisted_serve",
    oracle=f"""
    WITH lex AS (SELECT query_id, doc_id AS candidate_id, rank
                 FROM ({_REG_ORACLES["t38_bm25_topk"]}) tl),
    dns AS (SELECT query_id, candidate_id, rank FROM (WITH {_S47_DENSE}) td),
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
        FROM lex l
        FULL OUTER JOIN dns i
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
def s47_hybrid_persisted_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION hybrid stack in one row (round 13): BOTH
    retrieval routes served from their PERSISTED artifacts — the
    IVF-SQ8 vector index (s13's build + partition-pruned serve) and
    the BM25 postings artifact (t39's build + In-pushdown serve) —
    RRF-fused (s11's combiner). This is what a deployment actually
    runs: two pay-once indexes, each query fanning to a pruned dense
    scan + a pruned lexical scan, fused on ranks alone; s46 certifies
    the fusion against the EXACT dense baseline, this row certifies
    it against the approximate serving config. Oracle: t38's lexical
    statement + s13's CTE chain (queries < 3) + s11's fused-ppb
    spelling, composed verbatim. Reference analogue: none — SURVEY §7
    Phase 4 surface."""
    from ..operators.ann_index import build_ivfsq_index, search_index
    from ..operators.bm25 import build_bm25_index, search_bm25_index
    from ..operators.similarity import rrf_fuse
    from ..operators.util import run_overlapped
    from .similarity_queries import _scratch_index_path
    from .text_queries import t09_tfidf_top_terms

    d = load_table(spark, sf_dir, "documents")
    e = load_table(spark, sf_dir, "embeddings")

    lex_path = _scratch_index_path(spark, sf_dir, "bm25")
    dense_path = _scratch_index_path(spark, sf_dir, "ivfsq")
    # The lexical and dense artifact builds are INDEPENDENT (disjoint
    # inputs, disjoint artifacts) — overlap them from a driver thread
    # pool (round 13 optimization, guide §2.6: the two builds'
    # straggler tails back-fill each other; the deployment runs the
    # two index builds of a hybrid stack concurrently for the same
    # reason). Deterministic in isolation ⇒ concurrency cannot change
    # an artifact byte. round 14: through util.run_overlapped
    # (inheritable thread-local job properties — ADVICE r13).
    run_overlapped(
        lambda: build_bm25_index(d, lex_path),  # same artifact t39 builds
        lambda: build_ivfsq_index(
            e, dense_path,
            n_cells=None, corpus_cache_key=(sf_dir, "embeddings"),
        ),
    )
    q_lex = (
        t09_tfidf_top_terms(spark, sf_dir)
        .filter(F.col("doc_id") < 3)
        .select(F.col("doc_id").alias("query_id"), "term")
    )
    lex = search_bm25_index(spark, lex_path, q_lex, k=5, exclude_self=True).select(
        "query_id", F.col("doc_id").alias("candidate_id"), "rank"
    )
    dense = search_index(
        spark, dense_path, e.filter(F.col("vec_id") < 3), k=5, n_probe=2
    ).select("query_id", "candidate_id", "rank")
    return rrf_fuse([lex, dense], k=5, c=60)
