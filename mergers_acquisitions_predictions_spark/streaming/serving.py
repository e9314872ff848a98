"""Online ANN serving: a query stream served from the persisted
IVF-SQ8 index (`operators/ann_index`) via foreachBatch — the
online-retrieval deployment shape: the index is FROZEN on disk,
query batches arrive continuously, and every micro-batch runs the
same partition-pruned search a batch caller runs.

`serve_batch` is the single per-batch body; the streaming sink
(`serve_query_stream`, used by tests/test_ann_index.py) and the
registered batch-shaped replay (s15_stream_serve_replay, which gives
the path a hash-checked driver row — VERDICT r4 #6) both call it, so
the driver-certified code IS the code each micro-batch executes.

The write side has two ingest paths: `ingest_batch` /
`ingest_vector_stream` append each micro-batch directly
(at-least-once), and the exactly-once path stages each batch into its
own parquet subdirectory (`stage_batch_append_only`) and reconciles
the index against the staged snapshot by id membership
(`reconcile_index_from_snapshot`, `reconcile_bm25_from_snapshot`; the
sinks `ingest_vector_stream_append_only` /
`ingest_document_stream_append_only`).
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def serve_batch(
    spark: SparkSession,
    index_path: str,
    batch_df: DataFrame,
    k: int = 5,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    rerank: int | None = None,
    vectors: DataFrame | None = None,
    maxsim_tokens: int | None = None,
    dim: int | None = None,
) -> DataFrame:
    """One serving step: top-k for a (micro-)batch of query vectors
    against the persisted index. Identical whether ``batch_df`` is a
    foreachBatch micro-batch or a batch read of the same rows.

    ``rerank``/``vectors``: the exact-rescore serve (s20's remedy) per
    micro-batch. ``maxsim_tokens``: rescore the overfetched shortlist
    by late-interaction maxsim instead of cosine (s24's serve shape —
    requires ``rerank`` and ``vectors``); both rescores are
    shortlist-shaped, so the per-batch cost stays the pruned scan +
    a shortlist-sized join regardless of corpus size."""
    from ..operators.ann_index import search_index

    if maxsim_tokens is not None:
        if rerank is None or vectors is None:
            raise ValueError("maxsim serving needs rerank= and vectors=")
        if rerank < k:
            # same contract as the search_ivf*_index rescore serves: a
            # shortlist thinner than k silently under-returns.
            raise ValueError(f"rerank ({rerank}) must be >= k ({k})")
        from ..operators.maxsim import maxsim_rerank

        shortlist = search_index(
            spark, index_path, batch_df, k=rerank, n_probe=n_probe,
            id_col=id_col, vec_col=vec_col,
        )
        return maxsim_rerank(
            shortlist, batch_df, vectors, k=k, n_tokens=maxsim_tokens,
            id_col=id_col, vec_col=vec_col, dim=dim,
        )
    return search_index(
        spark, index_path, batch_df, k=k, n_probe=n_probe,
        id_col=id_col, vec_col=vec_col, rerank=rerank, vectors=vectors,
    )


def serve_query_stream(
    index_path: str,
    stream_df: DataFrame,
    emit: Callable[[DataFrame, int], None],
    k: int = 5,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    **serve_kw,
):
    """foreachBatch serving sink: per micro-batch, run `serve_batch`
    and hand the result frame to ``emit(result_df, batch_id)`` (write
    to a sink, push to a cache — the deployment decides). Returns the
    DataStreamWriter; caller picks trigger/checkpoint and starts.
    Extra keyword args (``rerank``/``vectors``/``maxsim_tokens``/
    ``dim``) flow to `serve_batch` — the rescore serves run per
    micro-batch unchanged."""
    spark = stream_df.sparkSession

    def _serve(batch_df: DataFrame, batch_id: int) -> None:
        emit(
            serve_batch(
                spark, index_path, batch_df, k=k, n_probe=n_probe,
                id_col=id_col, vec_col=vec_col, **serve_kw,
            ),
            batch_id,
        )

    return stream_df.writeStream.foreachBatch(_serve)


def ingest_batch(
    index_path: str,
    batch_df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """ONE micro-batch of the streaming INDEX-INGEST path (the
    write-side sibling of `serve_batch`): append the batch's vectors
    to the persisted index under its FROZEN geometry (kind-agnostic
    `append_index` — the persisted centroids and the kind's own
    quantizer, exactly the nightly-shard semantics s14 certifies).
    The registered replay (s40) and the streaming sink
    (`ingest_vector_stream`) run this identical body. Empty batches
    are skipped (an empty append would still pay an assignment job).
    Takes no session argument: `append_index` derives the session
    from ``batch_df.sparkSession``, which inside foreachBatch is the
    micro-batch's OWN session."""
    from ..operators.ann_index import append_index

    if not batch_df.limit(1).count():
        return
    append_index(batch_df, index_path, id_col=id_col, vec_col=vec_col)


def ingest_vector_stream(
    index_path: str,
    stream_df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """foreachBatch INGEST sink: per micro-batch, append the arriving
    vectors to the persisted index at ``index_path`` under its frozen
    geometry (per-shard files accrete per cell; run `compact_index`
    on the accretion schedule, rebuild on the drift schedule). Returns
    the DataStreamWriter; caller picks trigger/checkpoint and starts.
    At-least-once: a batch replayed after a checkpoint rollback
    double-appends its vectors — deployments that need exactly-once
    use `ingest_vector_stream_append_only` (staged batches + the
    membership reconcile)."""

    def _ingest(batch_df: DataFrame, batch_id: int) -> None:
        ingest_batch(index_path, batch_df, id_col=id_col, vec_col=vec_col)

    return stream_df.writeStream.foreachBatch(_ingest)


def _reconcile(
    spark: SparkSession, staged_dir: str, id_col: str, payload_col: str,
    members: str, member_id: str, append: Callable[[DataFrame], None],
    keep: Column | None = None,
) -> int:
    """The exactly-once reconcile both index kinds run: the staged
    snapshot deduped by id (ids are immutable content — the
    append-path contract — so any staged copy is the same payload),
    optionally filtered by ``keep``, anti-joined against the
    artifact's OWN id column (``member_id`` of the parquet at
    ``members`` — column-pruned, one id column per reconcile),
    and the survivors handed to ``append``. The anti-join is
    persisted across the count and the append's jobs (one staged scan
    + one membership scan total) and released before return. Nothing
    staged yet (no batch has landed, or every batch so far was empty)
    appends nothing. Returns the number appended."""
    from ..sources.fs import fs_exists

    if not fs_exists(spark, staged_dir):
        return 0
    staged = spark.read.parquet(staged_dir).select(id_col, payload_col)
    staged = staged.dropDuplicates([id_col])
    if keep is not None:
        staged = staged.filter(keep)
    present = spark.read.parquet(members).select(F.col(member_id).alias(id_col))
    fresh = staged.join(present.distinct(), id_col, "left_anti").persist()
    try:
        n = fresh.count()
        if n:
            append(fresh)
    finally:
        fresh.unpersist()
    return n


def reconcile_index_from_snapshot(
    spark: SparkSession,
    index_path: str,
    staged_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> int:
    """Append to the persisted ANN index every staged vector it does
    not already hold — the RECONCILE half of the exactly-once ingest.
    Idempotent however many times the staged rows were delivered or
    this reconcile ran: membership is decided against the index's own
    codes (the ``candidate_id`` column of the live generation), so a
    replayed batch, a re-run after a crash, even a crash between
    append jobs (appends are job-committed) all converge to each id
    encoded exactly once. Reads any parquet directory as the
    snapshot. Scale: the membership anti-join reads one id column of
    the index per reconcile — schedule it nightly/on accretion, not
    per row, when the index is large. Returns the number appended."""
    from ..operators.ann_index import _codes_path, append_index

    return _reconcile(
        spark, staged_dir, id_col, vec_col,
        _codes_path(spark, index_path), "candidate_id",
        lambda fresh: append_index(fresh, index_path, id_col, vec_col),
    )


def reconcile_bm25_from_snapshot(
    spark: SparkSession,
    index_path: str,
    staged_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> int:
    """`reconcile_index_from_snapshot` pointed at the persisted BM25
    index: membership is the postings' own doc_id set, survivors go
    through the exact-merge `append_bm25_index`, so every document is
    counted EXACTLY ONCE in tf/df/dl/(nn, Σdl) — where a naive
    per-batch append would double-count a re-delivered shard's term
    statistics (scores drift instead of rows duplicating). TOKENLESS
    documents are dropped: they contribute no postings row, so
    membership could never see them and every reconcile would
    re-append them into (nn, Σdl). Returns the number appended."""
    from ..functions.text import tokenize
    from ..operators.bm25 import append_bm25_index

    return _reconcile(
        spark, staged_dir, id_col, text_col,
        f"{index_path}/postings", "doc_id",
        lambda fresh: append_bm25_index(fresh, index_path, text_col, id_col),
        keep=F.size(tokenize(F.col(text_col))) > 0,
    )


def stage_batch_append_only(
    staged_dir: str,
    batch_df: DataFrame,
    batch_id: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """ONE micro-batch of the exactly-once ingest's staging layer:
    the batch's (``id_col``, ``vec_col``) columns are written to their
    OWN parquet subdirectory ``{staged_dir}/batch_id=<id>`` at
    O(batch) cost — payload-agnostic (``vec_col`` is the text column
    for document streams). Replay-idempotent at the file level: a
    re-delivered batch OVERWRITES its own subdirectory, so the
    snapshot holds each delivered batch once whatever the checkpoint
    rollbacks. Duplicate ids ACROSS batches are absorbed by the
    reconcile's dedupe. Empty batches are skipped."""
    if not batch_df.limit(1).count():
        return
    out = f"{staged_dir}/batch_id={int(batch_id)}"
    batch_df.select(id_col, vec_col).write.mode("overwrite").parquet(out)
    # the overwrite happened behind any same-session reader's file
    # listing cache
    batch_df.sparkSession.catalog.refreshByPath(staged_dir)


def _append_only_sink(
    reconcile, index_path: str, stream_df: DataFrame, staged_dir: str,
    reconcile_every: int | None, id_col: str, payload_col: str,
):
    """The foreachBatch body both exactly-once sinks run: stage the
    batch (`stage_batch_append_only`), then every ``reconcile_every``
    batches run ``reconcile`` (`reconcile_index_from_snapshot` or
    `reconcile_bm25_from_snapshot`) against the staged snapshot."""

    def _ingest(batch_df: DataFrame, batch_id: int) -> None:
        stage_batch_append_only(
            staged_dir, batch_df, batch_id, id_col=id_col, vec_col=payload_col
        )
        if reconcile_every and (int(batch_id) + 1) % reconcile_every == 0:
            reconcile(
                batch_df.sparkSession, index_path, staged_dir, id_col, payload_col
            )

    return stream_df.writeStream.foreachBatch(_ingest)


def ingest_vector_stream_append_only(
    index_path: str,
    stream_df: DataFrame,
    staged_dir: str,
    reconcile_every: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """foreachBatch EXACTLY-ONCE ingest sink for the persisted ANN
    index: each micro-batch stages append-only into its own parquet
    subdirectory (`stage_batch_append_only` — O(batch), no O(table)
    rewrite), and the index reconciles against the staged snapshot
    (`reconcile_index_from_snapshot`) every ``reconcile_every``
    batches when set, else on the deployment's own schedule — the
    reconcile is idempotent, so a tail of staged-but-unreconciled
    batches is absorbed by the next run. Replayed batches overwrite
    their own subdirectory and the membership anti-join appends only
    ids the index does not hold. Returns the DataStreamWriter; caller
    picks trigger/checkpoint and starts."""
    return _append_only_sink(
        reconcile_index_from_snapshot, index_path, stream_df, staged_dir,
        reconcile_every, id_col, vec_col,
    )


def ingest_document_stream_append_only(
    index_path: str,
    stream_df: DataFrame,
    staged_dir: str,
    reconcile_every: int | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """`ingest_vector_stream_append_only` for a DOCUMENT stream
    feeding the persisted BM25 index: the staged column is the text
    and the scheduled reconcile is `reconcile_bm25_from_snapshot`.
    Returns the DataStreamWriter; caller picks trigger/checkpoint and
    starts."""
    return _append_only_sink(
        reconcile_bm25_from_snapshot, index_path, stream_df, staged_dir,
        reconcile_every, id_col, text_col,
    )
