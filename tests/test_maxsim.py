"""Late-interaction (maxsim) rerank family: exact-baseline vs rerank
self-consistency, the n_tokens=1 degeneration to single-vector cosine,
and pre-certification of the s24 driver row (persisted-serve shortlist
re-scored by maxsim, hash-matched against the extended DuckDB oracle)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mergers_acquisitions_predictions_spark.operators.ann_index import (
    build_ivfsq_index,
    search_index,
)
from mergers_acquisitions_predictions_spark.operators.maxsim import (
    maxsim_rerank,
    maxsim_topk,
)
from mergers_acquisitions_predictions_spark.operators.similarity import (
    brute_force_topk,
)
from mergers_acquisitions_predictions_spark.sources.readers import load_table

SF_SMALL = "/root/testdata/sf0.001"
SF = "/root/testdata/sf0.01"


def test_maxsim_topk_is_full_shortlist_rerank(spark):
    """`maxsim_topk` (exact baseline) must equal `maxsim_rerank` over
    the all-pairs shortlist — same per-pair expression by
    construction; this pins the delegation."""
    e = load_table(spark, SF_SMALL, "embeddings")
    q = e.filter(F.col("vec_id") < 3)
    got = sorted(map(tuple, maxsim_topk(q, e, k=5, n_tokens=4).collect()))
    pairs = (
        e.select(F.col("vec_id").alias("candidate_id"))
        .crossJoin(F.broadcast(q.select(F.col("vec_id").alias("query_id"))))
        .filter(F.col("query_id") != F.col("candidate_id"))
    )
    want = sorted(
        map(tuple, maxsim_rerank(pairs, q, e, k=5, n_tokens=4).collect())
    )
    assert got == want


def test_single_token_maxsim_ranks_like_cosine(spark):
    """With n_tokens=1 the one 'token' is the whole unit vector, so
    maxsim degenerates to the exact cosine — the ranked (query_id,
    candidate_id, rank) triples must match `brute_force_topk`. Scores
    are compared at 6 dp (the two paths normalize in different FP
    order: dot/(qn*cn) vs dot of pre-divided unit vectors)."""
    e = load_table(spark, SF_SMALL, "embeddings")
    q = e.filter(F.col("vec_id") < 3)
    ms = maxsim_topk(q, e, k=5, n_tokens=1).collect()
    bf = brute_force_topk(q, e, k=5).collect()
    assert sorted((r.query_id, r.candidate_id, r.rank) for r in ms) == sorted(
        (r.query_id, r.candidate_id, r.rank) for r in bf
    )
    bf_scores = {(r.query_id, r.candidate_id): r.cos_sim for r in bf}
    for r in ms:
        assert abs(r.maxsim - bf_scores[(r.query_id, r.candidate_id)]) < 2e-6


def test_maxsim_rejects_indivisible_dim(spark):
    e = load_table(spark, SF_SMALL, "embeddings")
    q = e.filter(F.col("vec_id") < 2)
    with pytest.raises(ValueError, match="not divisible"):
        maxsim_topk(q, e, k=5, n_tokens=7)


def test_maxsim_rerank_empty_vectors_probe_fails_loud(spark):
    """ADVICE r10: the dim probe on an EMPTY vectors frame must raise
    a ValueError naming the input, not an opaque TypeError."""
    e = load_table(spark, SF_SMALL, "embeddings")
    q = e.filter(F.col("vec_id") < 2)
    empty = e.filter(F.lit(False))
    pairs = q.select(
        F.col("vec_id").alias("query_id"), F.col("vec_id").alias("candidate_id")
    )
    with pytest.raises(ValueError, match="empty"):
        maxsim_rerank(pairs, q, empty, k=2, n_tokens=4)


def test_search_tokens_rejects_out_of_range_token_id(spark):
    """ADVICE r10 (medium): composite ids doc·T + m collide across
    documents when token_id >= n_tokens — the map-side guard must
    fail the job instead of silently corrupting the retrieval. The
    guard rides the scan (no extra job), so it is checked at execute
    time: errors surface when the stage runs."""
    from py4j.protocol import Py4JJavaError
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    from mergers_acquisitions_predictions_spark.operators.maxsim import (
        maxsim_search_tokens,
        token_slices,
    )

    e = load_table(spark, SF_SMALL, "embeddings")
    toks = e.select(
        "vec_id",
        F.posexplode(token_slices(F.col("embedding"), 4, 16)).alias(
            "token_id", "token"
        ),
    )
    # declare n_tokens=2 while the data carries token_id up to 3:
    # doc 0 token 2 collides with doc 1 token 0 under T=2
    with pytest.raises((SparkRuntimeException, Py4JJavaError)) as exc:
        maxsim_search_tokens(
            toks.filter(F.col("vec_id") < 2), toks, k=2, k0=5, n_tokens=2
        ).collect()
    assert "token_id out of range" in str(exc.value)


def test_serve_batch_maxsim_rejects_rerank_below_k(spark, tmp_path):
    """ADVICE r10: the maxsim serve must enforce rerank >= k like the
    search_ivf*_index rescore serves do."""
    from mergers_acquisitions_predictions_spark.streaming.serving import (
        serve_batch,
    )

    e = load_table(spark, SF_SMALL, "embeddings")
    with pytest.raises(ValueError, match="must be >= k"):
        serve_batch(
            spark,
            str(tmp_path / "idx"),
            e.filter(F.col("vec_id") < 2),
            k=5,
            rerank=3,
            vectors=e,
            maxsim_tokens=4,
            dim=64,
        )


def test_token_table_roundtrip_and_id_pushdown(spark, tmp_path):
    """`write_token_table` → `read_token_table` must round-trip the
    token doubles bit-exactly, and the ``ids=`` pre-filter must reach
    the parquet scan as a pushed In filter (the clustered layout's
    row-group pruning hook)."""
    from mergers_acquisitions_predictions_spark.operators.maxsim import (
        read_token_table,
        token_slices,
        write_token_table,
    )

    e = load_table(spark, SF_SMALL, "embeddings")
    toks = e.select(
        "vec_id",
        F.posexplode(token_slices(F.col("embedding"), 4, 16)).alias(
            "token_id", "token"
        ),
    )
    path = str(tmp_path / "toktbl")
    write_token_table(toks, path)
    back = read_token_table(spark, path)
    want = sorted(map(tuple, toks.collect()))
    got = sorted(map(tuple, back.select("vec_id", "token_id", "token").collect()))
    assert got == want
    pruned = read_token_table(spark, path, ids=[1, 2, 3])
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "In(vec_id" in plan
    assert pruned.select("vec_id").distinct().count() == 3


def test_persisted_token_retrieval_matches_oracle_shape(spark, tmp_path):
    """`maxsim_search_tokens_persisted` (s30's composition) returns
    the family's ranking contract and covers every query doc."""
    from mergers_acquisitions_predictions_spark.operators.maxsim import (
        build_token_index,
        maxsim_search_tokens_persisted,
        token_slices,
    )

    e = load_table(spark, SF_SMALL, "embeddings")
    toks = e.select(
        "vec_id",
        F.posexplode(token_slices(F.col("embedding"), 4, 16)).alias(
            "token_id", "token"
        ),
    )
    path = str(tmp_path / "tokidx")
    build_token_index(toks, path, n_tokens=4)
    out = maxsim_search_tokens_persisted(
        spark, path, toks.filter(F.col("vec_id") < 3), toks, k=5, k0=10
    )
    rows = out.collect()
    assert out.columns == ["query_id", "candidate_id", "maxsim", "rank"]
    by_q: dict = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r.rank)
    assert set(by_q) == {0, 1, 2}
    for ranks in by_q.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))


def test_token_index_append_lifecycle(spark, tmp_path):
    """The persisted token index supports the whole s13-family
    lifecycle because the composite frame is plain (id, embedding):
    build on even docs' tokens, append odd docs' tokens under the
    FROZEN geometry (the s14 contract on a token frame), and the
    serve must cover every query doc, return the family's ranking
    contract, and be deterministic across repeated serves."""
    from mergers_acquisitions_predictions_spark.operators.ann_index import (
        append_index,
    )
    from mergers_acquisitions_predictions_spark.operators.maxsim import (
        build_token_index,
        composite_tokens,
        maxsim_search_tokens_persisted,
        token_slices,
    )

    e = load_table(spark, SF_SMALL, "embeddings")
    toks = e.select(
        "vec_id",
        F.posexplode(token_slices(F.col("embedding"), 4, 16)).alias(
            "token_id", "token"
        ),
    )
    even = toks.filter(F.col("vec_id") % 2 == 0)
    odd = toks.filter(F.col("vec_id") % 2 == 1)
    split_path = str(tmp_path / "tok_split")
    build_token_index(even, split_path, n_tokens=4)
    append_index(composite_tokens(odd, 4), split_path)
    q = toks.filter(F.col("vec_id") < 3)
    got = sorted(
        map(
            tuple,
            maxsim_search_tokens_persisted(
                spark, split_path, q, toks, k=5, k0=10
            ).collect(),
        )
    )
    assert len({r[0] for r in got}) == 3  # every query doc served
    # serving again from the appended index is deterministic
    again = sorted(
        map(
            tuple,
            maxsim_search_tokens_persisted(
                spark, split_path, q, toks, k=5, k0=10
            ).collect(),
        )
    )
    assert got == again


def test_token_index_pq_kind(spark, tmp_path):
    """`build_token_index(kind="ivfpq")` — the compressed kind on the
    token frame (token indexes carry T× the corpus rows, so the
    M-bytes/token codes matter more there). The persisted serve
    sniffs the kind from the index's own meta (no kind= needed at
    serve), and an unknown kind fails loud."""
    from mergers_acquisitions_predictions_spark.operators.maxsim import (
        build_token_index,
        maxsim_search_tokens_persisted,
        token_slices,
    )

    e = load_table(spark, SF_SMALL, "embeddings")
    toks = e.select(
        "vec_id",
        F.posexplode(token_slices(F.col("embedding"), 4, 16)).alias(
            "token_id", "token"
        ),
    )
    path = str(tmp_path / "pqtok")
    build_token_index(
        toks, path, n_tokens=4, kind="ivfpq", n_subspaces=4, n_codes=16
    )
    q = toks.filter(F.col("vec_id") < 3)
    warm = sorted(
        map(
            tuple,
            maxsim_search_tokens_persisted(
                spark, path, q, toks, k=5, k0=10
            ).collect(),
        )
    )
    assert warm and len({r[0] for r in warm}) == 3
    with pytest.raises(ValueError, match="unknown index kind 'hnsw'"):
        build_token_index(toks, str(tmp_path / "x"), n_tokens=4, kind="hnsw")


def test_maxsim_serve_is_oracle_replayable(spark, tmp_path):
    """Pre-certification of the s24 driver row: the persisted-index
    SQ8 shortlist re-scored by late-interaction maxsim hash-matches
    the extended DuckDB oracle (`ivfsq_topk_sql(rerank=...,
    maxsim_tokens=...)`) at the driver SF — slice boundaries,
    per-slice norms, token-dot folds, the per-query-token max, and
    the m-ordered sum are all deterministic on both engines."""
    import pandas as pd

    from mergers_acquisitions_predictions_spark.plans.lsh_oracle import (
        ivfsq_topk_sql,
    )

    from .oracle_utils import normalize, run_oracle

    e = load_table(spark, SF, "embeddings")
    q = e.filter(F.col("vec_id") < 5)
    path = str(tmp_path / "idx")
    build_ivfsq_index(e, path, n_cells=None)
    shortlist = search_index(spark, path, q, k=15, n_probe=2)
    got = normalize(
        maxsim_rerank(shortlist, q, e, k=5, n_tokens=4).toPandas()
    )
    want = normalize(
        run_oracle(
            "WITH "
            + ivfsq_topk_sql(
                n_cells="auto", n_probe=2, k=5, rerank=15, maxsim_tokens=4
            ),
            SF,
        )
    )
    assert list(got.columns) == list(want.columns)
    pd.testing.assert_frame_equal(got, want, check_dtype=False, check_exact=True)


def test_token_table_path_matches_slice_path(spark):
    """`maxsim_rerank_tokens` over a long-format token table derived
    from the same slices must be BIT-IDENTICAL to `maxsim_rerank` —
    the token-array rebuild (collect_list + array_sort by token_id)
    reproduces the slice arrays in m order, so every fold sees the
    same doubles in the same order."""
    from mergers_acquisitions_predictions_spark.operators.maxsim import (
        maxsim_rerank_tokens,
        token_slices,
    )

    e = load_table(spark, SF_SMALL, "embeddings")
    q = e.filter(F.col("vec_id") < 3)
    pairs = (
        e.select(F.col("vec_id").alias("candidate_id"))
        .crossJoin(F.broadcast(q.select(F.col("vec_id").alias("query_id"))))
        .filter(F.col("query_id") != F.col("candidate_id"))
    )
    toks = e.select(
        "vec_id",
        F.posexplode(token_slices(F.col("embedding"), 4, 16)).alias(
            "token_id", "token"
        ),
    )
    got = sorted(
        map(
            tuple,
            maxsim_rerank_tokens(
                pairs, toks.filter(F.col("vec_id") < 3), toks, k=5
            ).collect(),
        )
    )
    want = sorted(
        map(tuple, maxsim_rerank(pairs, q, e, k=5, n_tokens=4).collect())
    )
    assert got == want


def test_token_table_grouping_is_partition_invariant(spark):
    """The token-array rebuild must not depend on the token table's
    physical order: a shuffled/repartitioned long table produces the
    same ranked rows (array_sort pins token order, not collect_list's
    arrival order)."""
    from mergers_acquisitions_predictions_spark.operators.maxsim import (
        maxsim_rerank_tokens,
        token_slices,
    )

    e = load_table(spark, SF_SMALL, "embeddings")
    q = e.filter(F.col("vec_id") < 2)
    pairs = (
        e.select(F.col("vec_id").alias("candidate_id"))
        .crossJoin(F.broadcast(q.select(F.col("vec_id").alias("query_id"))))
        .filter(F.col("query_id") != F.col("candidate_id"))
    )
    toks = e.select(
        "vec_id",
        F.posexplode(token_slices(F.col("embedding"), 4, 16)).alias(
            "token_id", "token"
        ),
    )
    shuffled = toks.orderBy(F.desc("token_id"), F.asc("vec_id")).repartition(7)
    a = sorted(map(tuple, maxsim_rerank_tokens(pairs, toks.filter(F.col("vec_id") < 2), toks, k=5).collect()))
    b = sorted(map(tuple, maxsim_rerank_tokens(pairs, shuffled.filter(F.col("vec_id") < 2), shuffled, k=5).collect()))
    assert a == b


def test_colbert_retrieval_shortlist_covers_token_matches(spark):
    """`maxsim_search_tokens` end-to-end sanity beyond the oracle row:
    (a) ranked output contract (k rows max per query, dense ranks,
    no self-pairs); (b) STRUCTURAL delegation — every returned pair
    must be a parent pair of some stage-1 token hit (replayed here
    through the same `ivf_topk` call), i.e. the rerank never
    manufactures candidates the token retrieval didn't surface.
    (Recall vs exact maxsim is corpus-dependent on this
    weak-cosine-structure synthetic data — NOTES.md invariant — so
    it is measured, not asserted: the oracle row s28 pins the exact
    values instead.)"""
    from mergers_acquisitions_predictions_spark.operators.maxsim import (
        maxsim_search_tokens,
        token_slices,
    )

    e = load_table(spark, SF_SMALL, "embeddings")
    toks = e.select(
        "vec_id",
        F.posexplode(token_slices(F.col("embedding"), 4, 16)).alias(
            "token_id", "token"
        ),
    )
    out = maxsim_search_tokens(
        toks.filter(F.col("vec_id") < 5), toks, k=5, k0=10
    ).collect()
    by_q = {}
    for r in out:
        assert r.query_id != r.candidate_id
        by_q.setdefault(r.query_id, []).append(r.rank)
    for q, ranks in by_q.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))
        assert len(ranks) <= 5
    from mergers_acquisitions_predictions_spark.operators.similarity import (
        ivf_topk,
    )

    comp = lambda df: df.select(  # noqa: E731 — mirrors the operator
        (F.col("vec_id") * 4 + F.col("token_id")).cast("long").alias("vec_id"),
        F.col("token").alias("embedding"),
    )
    stage1 = {
        (r.query_id // 4, r.candidate_id // 4)
        for r in ivf_topk(
            comp(toks.filter(F.col("vec_id") < 5)), comp(toks), k=10, n_cells=None, n_probe=2
        ).collect()
        if r.query_id // 4 != r.candidate_id // 4
    }
    got_pairs = {(r.query_id, r.candidate_id) for r in out}
    assert got_pairs <= stage1  # rerank only ever ranks retrieved pairs


def test_streaming_maxsim_serve_matches_batch(spark, tmp_path):
    """Online late-interaction serving: a file stream of query
    vectors served per micro-batch from the persisted index with the
    maxsim rescore (`streaming.serving.serve_batch(maxsim_tokens=…)`)
    — results must equal the batch path for the same query set (same
    shortlist cut, same token scoring; the serving sink runs the
    identical code)."""
    import json as _json

    from mergers_acquisitions_predictions_spark.operators.ann_index import (
        build_ivfsq_index,
        search_index,
    )
    from mergers_acquisitions_predictions_spark.streaming.serving import (
        serve_query_stream,
    )

    e = load_table(spark, SF, "embeddings")
    path = str(tmp_path / "idx")
    build_ivfsq_index(e, path, n_cells=16)

    qdir = tmp_path / "qstream"
    qdir.mkdir()
    rows = e.filter(F.col("vec_id") < 3).collect()
    with open(qdir / "batch0.jsonl", "w") as f:
        for r in rows:
            f.write(
                _json.dumps(
                    {"vec_id": r.vec_id, "embedding": [float(x) for x in r.embedding]}
                )
                + "\n"
            )

    got = []
    stream = (
        serve_query_stream(
            path,
            spark.readStream.schema("vec_id long, embedding array<float>").json(
                str(qdir)
            ),
            lambda res, _bid: got.extend(map(tuple, res.collect())),
            k=5,
            n_probe=2,
            rerank=15,
            vectors=e,
            maxsim_tokens=4,
            dim=64,
        )
        .trigger(availableNow=True)
        .start()
    )
    stream.awaitTermination(120)

    shortlist = search_index(
        spark, path, e.filter(F.col("vec_id") < 3), k=15, n_probe=2
    )
    want = sorted(
        map(
            tuple,
            maxsim_rerank(
                shortlist, e.filter(F.col("vec_id") < 3), e, k=5, n_tokens=4, dim=64
            ).collect(),
        )
    )
    assert sorted(got) == want and len(want) == 15


def test_token_index_records_n_tokens_and_rejects_mismatch(spark, tmp_path):
    """ADVICE r11: `build_token_index` records n_tokens in the index
    meta; serving with a different T would decode composite candidate
    ids with the wrong divisor and map hits to WRONG parent documents
    — it must raise instead (the check reads the live generation's
    ``_meta`` on every serve), and ``n_tokens=None`` must take T from
    the index."""
    from mergers_acquisitions_predictions_spark.operators.maxsim import (
        build_token_index,
        maxsim_search_tokens_persisted,
        token_slices,
    )

    e = load_table(spark, SF_SMALL, "embeddings")
    toks = e.select(
        "vec_id",
        F.posexplode(token_slices(F.col("embedding"), 4, 16)).alias(
            "token_id", "token"
        ),
    )
    path = str(tmp_path / "tok_meta")
    build_token_index(toks, path, n_tokens=4)
    q = toks.filter(F.col("vec_id") < 2)
    with pytest.raises(ValueError, match="built with n_tokens=4"):
        maxsim_search_tokens_persisted(
            spark, path, q, toks, k=3, k0=6, n_tokens=2
        )
    # n_tokens=None: T comes from the build record — identical serve
    explicit = sorted(
        map(
            tuple,
            maxsim_search_tokens_persisted(
                spark, path, q, toks, k=3, k0=6, n_tokens=4
            ).collect(),
        )
    )
    from_meta = sorted(
        map(
            tuple,
            maxsim_search_tokens_persisted(
                spark, path, q, toks, k=3, k0=6, n_tokens=None
            ).collect(),
        )
    )
    assert explicit and explicit == from_meta


def test_direct_build_requires_explicit_n_tokens(spark, tmp_path):
    """An index built directly through `build_ivfsq_index` (not via
    `build_token_index`) records no T: ``n_tokens=None`` must fail
    loud asking for the argument, and the explicit T must serve."""
    from mergers_acquisitions_predictions_spark.operators.maxsim import (
        composite_tokens,
        maxsim_search_tokens_persisted,
        token_slices,
    )

    e = load_table(spark, SF_SMALL, "embeddings")
    toks = e.select(
        "vec_id",
        F.posexplode(token_slices(F.col("embedding"), 4, 16)).alias(
            "token_id", "token"
        ),
    )
    path = str(tmp_path / "tok_direct")
    build_ivfsq_index(composite_tokens(toks, 4), path, n_cells=None)
    q = toks.filter(F.col("vec_id") < 2)
    with pytest.raises(ValueError, match="records no n_tokens"):
        maxsim_search_tokens_persisted(
            spark, path, q, toks, k=3, k0=6, n_tokens=None
        )
    got = maxsim_search_tokens_persisted(
        spark, path, q, toks, k=3, k0=6, n_tokens=4
    ).collect()
    assert got and len({r["query_id"] for r in got}) == 2


def test_one_call_token_table_route_matches_in_memory(spark, tmp_path):
    """VERDICT r11 #3: the composed deployment serve
    (``token_table_path=``) must equal the in-memory-cand_tokens
    route bit-for-bit in BOTH shortlist-cut modes (id In-pushdown and
    broadcast semi join — the §7r-c crossover pair), and passing both
    candidate sources must fail loud."""
    from mergers_acquisitions_predictions_spark.operators.maxsim import (
        build_token_index,
        maxsim_search_tokens_persisted,
        token_slices,
        write_token_table,
    )

    e = load_table(spark, SF_SMALL, "embeddings")
    toks = e.select(
        "vec_id",
        F.posexplode(token_slices(F.col("embedding"), 4, 16)).alias(
            "token_id", "token"
        ),
    )
    idx = str(tmp_path / "tok_idx")
    tbl = str(tmp_path / "tok_tbl")
    build_token_index(toks, idx, n_tokens=4)
    write_token_table(toks, tbl)
    q = toks.filter(F.col("vec_id") < 3)
    want = sorted(
        map(
            tuple,
            maxsim_search_tokens_persisted(
                spark, idx, q, toks, k=5, k0=10
            ).collect(),
        )
    )
    pushdown = sorted(
        map(
            tuple,
            maxsim_search_tokens_persisted(
                spark, idx, q, k=5, k0=10, token_table_path=tbl
            ).collect(),
        )
    )
    semijoin = sorted(
        map(
            tuple,
            maxsim_search_tokens_persisted(
                spark, idx, q, k=5, k0=10,
                token_table_path=tbl, ids_pushdown=False,
            ).collect(),
        )
    )
    assert want and want == pushdown == semijoin
    with pytest.raises(ValueError, match="not both"):
        maxsim_search_tokens_persisted(
            spark, idx, q, toks, k=5, k0=10, token_table_path=tbl
        )
    with pytest.raises(ValueError, match="pass cand_tokens"):
        maxsim_search_tokens_persisted(spark, idx, q, k=5, k0=10)


def test_n_tokens_check_survives_same_session_compact(spark, tmp_path):
    """A same-session `compact_index` promotes a NEW generation; the
    n_tokens cross-check must hold through it (the serve reads the
    carried-forward ``_meta`` of whatever generation is live), and
    ``n_tokens=None`` must still resolve T from it."""
    from mergers_acquisitions_predictions_spark.operators.ann_index import (
        compact_index,
    )
    from mergers_acquisitions_predictions_spark.operators.maxsim import (
        build_token_index,
        maxsim_search_tokens_persisted,
        token_slices,
    )

    e = load_table(spark, SF_SMALL, "embeddings")
    toks = e.select(
        "vec_id",
        F.posexplode(token_slices(F.col("embedding"), 4, 16)).alias(
            "token_id", "token"
        ),
    )
    path = str(tmp_path / "tok_compact_meta")
    build_token_index(toks, path, n_tokens=4)
    compact_index(spark, path)  # live is now codes_g000001
    q = toks.filter(F.col("vec_id") < 2)
    with pytest.raises(ValueError, match="built with n_tokens=4"):
        maxsim_search_tokens_persisted(
            spark, path, q, toks, k=3, k0=6, n_tokens=2
        )
    got = maxsim_search_tokens_persisted(
        spark, path, q, toks, k=3, k0=6, n_tokens=None
    ).collect()
    assert got and len({r["query_id"] for r in got}) == 2
