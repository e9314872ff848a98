"""BM25 lexical retrieval over a document table — the sparse half of
a hybrid (lexical + vector) retrieval stack (Robertson & Zaragoza
2009, "The Probabilistic Relevance Framework: BM25 and Beyond"; the
IDF form is Lucene's ln(1 + (N − df + ½)/(df + ½)), positive for
every term).

Why this exists alongside the dense s-family: embedding retrieval
misses exact-term matches (rare entities, codes, numbers) that
lexical scoring nails, and vice versa — which is why production
stacks fuse both (the engine's `similarity.rrf_fuse` is the
combiner). BM25 is also the standard quality-filter scorer for
"does this document actually contain the query terms" curation
passes over a training corpus.

Scale shape (the 100 TB discipline): the query term set is
serving-contract sized, so it BROADCASTS into a semi-join that
prunes the corpus-sized tf/df frames down to query-term rows BEFORE
any wide join; corpus statistics (N, Σdl) ride along as one
broadcast scalar row; the per-(query, doc) score folds contributions
over the SORTED term list (the t33 determinism pattern — both
engines sum in the same order, so the 6-dp score is hash-checkable);
final top-k is one window shuffle keyed by query. No UDFs, no
driver-side loops — everything is builtin column algebra.

No reference analogue (the reference's text surface is TF-IDF for
FEATURES, `acq_etl_code.scala:71-81`, not retrieval) — this is
SURVEY §7 Phase 4 training-pipeline surface.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..functions.text import tokenize

#: BM25 constants, pre-folded in Python so both engines consume the
#: same double literals (k1 = 1.2, b = 0.75).
K1 = 1.2
K1_PLUS_1 = 2.2
B = 0.75
ONE_MINUS_B = 0.25

#: Driver-collect bound on a serve's (query_id, term) batch. Serving
#: batches are a few dozen rows (the registered rows send ~9, the
#: benchmark 48); a batch past this is a caller mistake — a corpus-
#: sized frame passed as the query side — and fails loudly instead of
#: pulling it onto the driver.
MAX_QUERY_BATCH_ROWS = 100_000


def _tokenized(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(doc_id, __toks) projection — tokenize ONCE, derive everything
    downstream from the array (round 13 optimization, guide §2.3/§2.4:
    the original spelling re-tokenized the corpus in three separate
    passes for tf / df / dl)."""
    return docs.select(
        F.col(id_col).alias("doc_id"),
        tokenize(F.col(text_col)).alias("__toks"),
    )


def _dl_of_toks() -> Column:
    """Exact document length from the token ARRAY, map-side — no
    explode, no shuffle. NULL text is 0 tokens in both ANSI
    (size(NULL)=NULL) and legacy (size(NULL)=-1) modes."""
    return F.when(F.col("__toks").isNull(), F.lit(0)).otherwise(
        F.size(F.col("__toks"))
    ).cast("long")


def _tf_with_dl(toks: DataFrame) -> DataFrame:
    """(doc_id, term, c, dl) from the tokenized projection in ONE
    corpus pass: dl (the FULL per-doc token count) is computed
    map-side from the array and rides the exploded rows through the
    (doc_id, term) aggregation — `min` is exact because dl is constant
    per doc. Replaces the former separate dl pass AND its doc_id-keyed
    join (two corpus shuffles gone)."""
    tok = toks.select(
        "doc_id", _dl_of_toks().alias("dl"), F.explode("__toks").alias("term")
    )
    return tok.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).alias("c"), F.min("dl").alias("dl")
    )


def _corpus_stats(toks: DataFrame) -> DataFrame:
    """1-row (nn, sdl) in ONE map-side aggregate over the tokenized
    projection (nn counts EVERY document, tokenless included; sdl is
    the exact integer token total) — replaces the former two-scan
    count × sum crossJoin."""
    return toks.agg(
        F.count(F.lit(1)).alias("nn"), F.sum(_dl_of_toks()).alias("sdl")
    )


def _materialize_query_batch(q: DataFrame):
    """Collect the (query_id, term) batch to the driver ONCE and
    rebuild it as a single-partition local frame (round 14, guide
    §2.4/§5): the batch is serving-contract sized — the same rule
    that already let `search_bm25_index` collect the distinct term
    list — but the lazy spelling embedded the caller's query-
    DERIVATION subplan twice per serve (once under the term-set
    prune, once under the contribution join; for the registered rows
    that subplan is t09's corpus-wide TF-IDF, re-executed per
    appearance because separate broadcast exchanges never reuse).
    Returns (qloc, terms): the exact collected rows as a local frame
    (schema preserved — duplicates and types survive, so results are
    bit-identical) and the sorted non-null distinct terms for the
    postings-side In-prune. One partition is the point
    (`util.local_rows_df`'s py4j lesson). Raises ValueError past
    ``MAX_QUERY_BATCH_ROWS`` rows."""
    spark = q.sparkSession
    rows = q.limit(MAX_QUERY_BATCH_ROWS + 1).collect()
    if len(rows) > MAX_QUERY_BATCH_ROWS:
        raise ValueError(
            f"BM25 query batch exceeds {MAX_QUERY_BATCH_ROWS} (query_id, "
            "term) rows — the batch is collected to the driver; split it "
            "into serving-sized batches"
        )
    terms = sorted({r["term"] for r in rows if r["term"] is not None})
    qloc = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), q.schema
    )
    return qloc, terms


def bm25_topk(
    docs: DataFrame,
    queries: DataFrame,
    k: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
    query_id_col: str = "query_id",
    term_col: str = "term",
    exclude_self: bool = False,
) -> DataFrame:
    """Top-``k`` documents per query by BM25.

    ``queries`` is a long-format (query_id, term) frame — one row per
    query term, the shape a tokenized query batch naturally lands in.
    Returns (query_id, doc_id, bm25, rank) with the score rounded to
    6 dp and ranked (bm25 DESC, doc_id ASC) for cross-engine
    determinism. ``exclude_self`` drops doc_id == query_id pairs —
    the convention when queries are derived from corpus documents
    (the s02 self-match rule).

    Scoring: Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl)),
    idf(t) = ln((N − df + ½)/(df + ½) + 1); the Σ folds left-to-right
    over terms sorted lexicographically.

    Plan shape (round 13 optimization — values unchanged, certified by
    the unchanged t38 oracle): the corpus is tokenized ONCE; dl rides
    the exploded rows map-side; df is the per-term ROW COUNT of the
    pruned tf frame (tf rows are distinct (doc, term) pairs), computed
    as a window over the same shuffle instead of a second corpus
    aggregate; stats is one map-side aggregate. Two corpus passes
    total (pruned tf + 1-row stats) where the original paid four, and
    the corpus-sized doc_id join is gone."""
    toks = _tokenized(docs, id_col, text_col)
    q = queries.select(
        F.col(query_id_col).alias("query_id"), F.col(term_col).alias("term")
    )
    # One driver-side materialization of the serving-contract-sized
    # batch (round 14): the query-derivation subplan executes ONCE
    # here instead of once per appearance below, and the In-predicate
    # prune replaces the broadcast semi-join (same rows kept, one
    # broadcast build + join node fewer).
    qloc, terms = _materialize_query_batch(q)
    pruned = (
        F.col("term").isin(terms) if terms else F.lit(False)
    )
    # corpus pass 1: tf over query-term postings only (In-predicate
    # prunes BEFORE the aggregation), dl riding along;
    # df = rows-per-term of tf — a window over the PRUNED tf frame
    # (one small extra exchange by term: the groupBy's
    # hash(doc_id, term) does not satisfy the window's
    # ClusteredDistribution(term), but the frame is query-term-sized
    # by then — ADVICE r13). Kept over a corpus-sized count_distinct
    # aggregate, which scales with the corpus instead of the query.
    tf = (
        toks.select(
            "doc_id",
            _dl_of_toks().alias("dl"),
            F.explode("__toks").alias("term"),
        )
        .filter(pruned)
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("c"), F.min("dl").alias("dl"))
        .withColumn(
            "df", F.count(F.lit(1)).over(W.partitionBy("term")).cast("long")
        )
    )
    # corpus pass 2: the 1-row stats aggregate
    stats = _corpus_stats(toks).select(
        "nn", (F.col("sdl").cast("double") / F.col("nn")).alias("avgdl")
    )
    contrib = (
        F.broadcast(qloc)
        .join(tf, "term")
        .crossJoin(F.broadcast(stats))
        .select("query_id", "doc_id", "term", _bm25_weight().alias("w"))
    )
    return _rank_contributions(contrib, k, exclude_self)


def _bm25_weight():
    """idf(t)·tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl)) over columns
    (c, df, dl, nn, avgdl) — ONE spelling shared by the in-memory and
    persisted serves so their 6-dp scores are bit-identical (and both
    match the oracle's arithmetic order)."""
    idf = F.log(
        (F.col("nn") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
        + F.lit(1.0)
    )
    num = F.col("c") * F.lit(K1_PLUS_1)
    den = F.col("c") + F.lit(K1) * (
        F.lit(ONE_MINUS_B) + F.lit(B) * F.col("dl") / F.col("avgdl")
    )
    return (idf * num) / den


def _rank_contributions(
    contrib: DataFrame, k: int, exclude_self: bool
) -> DataFrame:
    """Grouped deterministic fold + top-k: contributions sorted by
    term, summed left-to-right (the t33 pattern — DuckDB's list_sum
    over list(w ORDER BY term) folds identically), 6-dp round, rank
    (bm25 DESC, doc_id ASC)."""
    if exclude_self:
        contrib = contrib.filter(F.col("doc_id") != F.col("query_id"))
    scored = (
        contrib.groupBy("query_id", "doc_id")
        .agg(
            F.sort_array(F.collect_list(F.struct("term", "w"))).alias("tw")
        )
        .select(
            "query_id",
            "doc_id",
            F.round(
                F.aggregate(
                    F.col("tw"),
                    F.lit(0.0),
                    lambda acc, x: acc + x["w"],
                ),
                6,
            ).alias("bm25"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.desc("bm25"), F.asc("doc_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "doc_id", "bm25", "rank")
    )


def build_bm25_index(
    docs: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_range_partitions: int | None = 8,
) -> None:
    """Persist the BM25 POSTINGS artifact — the lexical sibling of the
    ann_index build (pay the corpus aggregation once, serve many):

    - ``{path}/postings``: one row per (term, doc) carrying
      (term, doc_id, c, dl). Range-partitioned by (term, doc_id) and
      sorted within partitions: every parquet row group covers a
      tight term interval, so a query's `term IN (...)` predicate
      prunes at the footer level (the lexical analogue of the
      cell-partition pruning the ann serve relies on) — and a HOT
      term's rows SPLIT across partitions at doc_id boundaries
      instead of pinning one straggler partition (round 14, guide
      §2.5: the former count-over-term window forced all rows of a
      term into one range partition, Zipf's canonical skew at corpus
      scale).
    - ``{path}/stats``: the 1-row (nn, sdl) sidecar.

    ``df`` is NOT stored (round 14 — VERDICT r13 #1/#2): postings
    rows are distinct (doc, term) pairs by construction, so document
    frequency is exactly rows-per-term of the artifact and the serve
    re-derives it with a window over the query-term-PRUNED rows
    (query-sized work — the t38 serve shape). Normalizing df out is
    what makes the append O(shard): a stored per-row df would force
    every append to rewrite the ENTIRE postings artifact (df changes
    for every term the new shard touches). INVARIANT for future
    delete/tombstone paths: df ≡ surviving rows per term — a path
    that filters postings rows redefines df accordingly (ADVICE r13).

    Both artifacts publish via the atomic staged-rename
    (`publish_parquet_atomic`) — readers never see a torn artifact;
    a REBUILD at a live path is also the family's COMPACTION (it
    atomically replaces however many accreted append shards with one
    clustered layout — the ANN `compact_index` analogue). Rebuild =
    re-run (the artifact is a pure function of the corpus).

    Plan shape (rounds 13–14 — artifact VALUES unchanged, certified
    by the t39/t40/t41 oracles and the persisted≡in-memory test): ONE
    tokenize pass TOTAL — tokenize once, dl rides the exploded rows
    map-side into the postings write; the stats sidecar is then
    derived WITHOUT re-tokenizing: nn is a plain `docs.count()` (no
    text touched — parquet sources answer from metadata) and
    sdl = SUM(c) over the JUST-WRITTEN postings (every token becomes
    exactly one (doc, term) count, so Σc ≡ Σdl — exact integers; an
    artifact-sized, column-pruned, page-cache-warm scan). An earlier
    spelling rode the stats on the write via `Observation`, but
    SparkSession.observationManager is the session's ONLY
    non-transient lazy field (Spark 4.1): first use initializes it
    and every LATER Java serialization of a session-capturing closure
    in the SAME session fails (MLlib models carry their session via
    trainingSummary — m-family rows after a bm25 build would die with
    `NotSerializableException: ObservationManager`).
    ``n_range_partitions=None`` makes the postings layout
    scale-adaptive: the range exchange then starts at
    spark.sql.shuffle.partitions and AQE coalesces — the production
    setting; the default 8 keeps the local artifact layout stable
    across rounds."""
    from ..sources.writers import publish_parquet_atomic

    spark = docs.sparkSession
    toks = _tokenized(docs, id_col, text_col)
    tf = _tf_with_dl(toks)
    ranged = (
        tf.repartitionByRange(n_range_partitions, "term", "doc_id")
        if n_range_partitions is not None
        else tf.repartitionByRange("term", "doc_id")
    )
    postings = ranged.select("term", "doc_id", "c", "dl").sortWithinPartitions(
        "term", "doc_id"
    )
    publish_parquet_atomic(postings, f"{path}/postings")
    # sdl is kept as an exact integer so `append_bm25_index` can merge
    # corpus stats without float error; avgdl is derived at read time
    # from the same division the in-memory path performs. Σc over the
    # written postings ≡ Σdl over docs (tokenless docs contribute no
    # rows and 0 tokens — identical), and nn counts EVERY document,
    # tokenless included, without touching the text column.
    nn = docs.count()
    sdl = (
        spark.read.parquet(f"{path}/postings")
        .agg(F.coalesce(F.sum("c"), F.lit(0)).cast("long"))
        .first()[0]
    )
    publish_parquet_atomic(
        spark.createDataFrame([(nn, sdl)], "nn bigint, sdl bigint"),
        f"{path}/stats",
    )


def append_bm25_index(
    docs_new: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_range_partitions: int | None = 8,
) -> None:
    """EXACT-MERGE append of a new document shard to a persisted BM25
    index — the lexical counterpart of the ann_index nightly append,
    with a stronger guarantee: where the ANN append encodes under
    FROZEN (stale-by-design) geometry, BM25's corpus statistics are
    all exact integer merges — tf rows are disjoint across shards
    (ids are immutable content, the append-path contract), dl rows
    are per-doc, and (nn, Σdl) add — so the appended index is
    VALUE-IDENTICAL to a full rebuild over the union.

    O(SHARD), NOT O(INDEX) (round 14 — VERDICT r13 #1): because the
    artifact stores no per-row df (the serve derives df as
    rows-per-term of the pruned scan), appending is ONE job-committed
    parquet append of the new shard's (term, doc_id, c, dl) rows in
    their own range layout plus a 1-row stats merge — the old
    postings files are NEVER read, rewritten, or renamed (the former
    spelling re-ranged and re-windowed old ∪ new, an O(index) rewrite
    per micro-batch — a scale-killer for the t40/t41/s44 deployment
    story). Each append accretes one shard's files into the postings
    directory (every shard internally term-range-sorted, so footer
    pruning still works per shard); the accretion remedy is the
    nightly REBUILD at the same path, which publishes one clustered
    layout atomically — the lexical `compact_index`.

    Crash contract (unchanged from round 13): stats publishes FIRST,
    then the shard postings commit. A crash between the two leaves
    merged stats over shard-less postings; the membership reconcile
    (`reconcile_bm25_from_snapshot`) re-appends the missing documents
    on re-run — the same convergence story as before, now with a
    SMALLER torn window (the shard append is one job commit: files
    appear only on commit, and old files are never unlinked, so the
    round-13 FAILED_READ_FILE rename hazard against a concurrent
    reader of the live postings is gone entirely)."""
    from ..sources.writers import publish_parquet_atomic

    spark = docs_new.sparkSession
    old_stats = spark.read.parquet(f"{path}/stats")

    # ONE tokenize pass over the new shard for the postings job (dl
    # rides the exploded rows map-side) + one O(batch) stats pass —
    # the old corpus is never touched (re-tokenize is the dominant
    # build term at scale, and the merge shuffle is gone with it).
    toks = _tokenized(docs_new, id_col, text_col)
    add = _corpus_stats(toks).select(
        F.col("nn").alias("nn_add"),
        F.coalesce(F.col("sdl"), F.lit(0)).alias("sdl_add"),
    )
    stats = old_stats.crossJoin(F.broadcast(add)).select(
        (F.col("nn") + F.col("nn_add")).alias("nn"),
        (F.col("sdl") + F.col("sdl_add")).alias("sdl"),
    )
    publish_parquet_atomic(stats, f"{path}/stats")
    tf_new = _tf_with_dl(toks)
    ranged = (
        tf_new.repartitionByRange(n_range_partitions, "term", "doc_id")
        if n_range_partitions is not None
        else tf_new.repartitionByRange("term", "doc_id")
    )
    shard = ranged.select("term", "doc_id", "c", "dl").sortWithinPartitions(
        "term", "doc_id"
    )
    shard.write.mode("append").parquet(f"{path}/postings")
    # File-listing staleness guard (the ann_index append's lesson): a
    # session that already served this path must not reuse a cached
    # listing missing the new shard's files.
    spark.catalog.refreshByPath(f"{path}/postings")


def search_bm25_index(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 5,
    query_id_col: str = "query_id",
    term_col: str = "term",
    exclude_self: bool = False,
) -> DataFrame:
    """Serve BM25 top-``k`` from the persisted postings artifact: the
    query batch's term set (serving-contract sized — the same rule as
    the ann serve's probed-cell collect) becomes an In-predicate on
    the postings scan, which parquet prunes to the row groups whose
    term range matches; ``df`` is re-derived as rows-per-term of the
    PRUNED rows (round 14 — postings rows are distinct (doc, term)
    pairs, so the count-over-term window over the query-term rows is
    exactly the document frequency; query-sized work, one small
    exchange, and it is what lets the append stay O(shard) — see
    `build_bm25_index`); everything else is the broadcast query join
    + the shared weight/fold/rank tail, bit-identical to the
    in-memory `bm25_topk` because postings hold exact integers and
    the stats sidecar's doubles round-trip parquet exactly."""
    q = queries.select(
        F.col(query_id_col).alias("query_id"), F.col(term_col).alias("term")
    )
    # One execution of the caller's query-derivation plan (round 14):
    # the old spelling collected the distinct terms AND re-embedded q
    # under the contribution join — two executions of a subplan that
    # is corpus-sized for the registered rows (t09's TF-IDF).
    q, terms = _materialize_query_batch(q)
    post = (
        spark.read.parquet(f"{path}/postings")
        # explicit projection: legacy artifacts carrying a stored df
        # column serve identically (recomputed df ≡ stored df)
        .select("term", "doc_id", "c", "dl")
        .filter(F.col("term").isin(terms))
        .withColumn(
            "df", F.count(F.lit(1)).over(W.partitionBy("term")).cast("long")
        )
    )
    # avgdl derives from the exact-integer sidecar with the SAME
    # division the in-memory path performs — identical double
    stats = spark.read.parquet(f"{path}/stats").select(
        "nn", (F.col("sdl").cast("double") / F.col("nn")).alias("avgdl")
    )
    contrib = (
        F.broadcast(q)
        .join(post, "term")
        .crossJoin(F.broadcast(stats))
        .select("query_id", "doc_id", "term", _bm25_weight().alias("w"))
    )
    return _rank_contributions(contrib, k, exclude_self)
