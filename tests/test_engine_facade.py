from __future__ import annotations

import pytest

from mergers_acquisitions_predictions_spark.engine import Engine

SF = "/root/testdata/sf0.001"


def test_engine_surfaces(spark):
    eng = Engine(spark, SF)
    assert eng.table("nation").count() == 25
    assert eng.sql("SELECT count(*) AS n FROM region").first().n == 5
    df = eng.run("q01_pricing_summary")
    assert df.count() > 0
    assert "q06_label_within_year" in eng.query_names()


def test_engine_errors(spark):
    eng = Engine(spark)
    with pytest.raises(ValueError, match="attach"):
        eng.table("nation")
    eng.attach(SF)
    with pytest.raises(KeyError, match="unknown query"):
        eng.run("nope")


def test_engine_operator_dispatchers(spark):
    eng = Engine(spark, SF)
    docs = eng.table("documents")
    emb = eng.table("embeddings")

    n = docs.count()
    exact = eng.dedup(docs, "exact")
    assert 0 < exact.count() <= n

    clustered = eng.dedup(docs, "cluster")
    assert 0 < clustered.count() <= n
    assert clustered.columns == docs.columns

    pairs = eng.neardup_pairs(docs, "prefix", threshold=0.7)
    assert set(pairs.columns) == {"a_id", "b_id", "jaccard"}

    from pyspark.sql import functions as F

    top = eng.ann_topk(emb.filter(F.col("vec_id") < 3), emb, "ivf", k=3)
    assert top.groupBy("query_id").count().filter("count > 3").count() == 0

    with pytest.raises(ValueError, match="unknown dedup"):
        eng.dedup(docs, "nope")
    with pytest.raises(ValueError, match="unknown ann"):
        eng.ann_topk(emb, emb, "nope")


def test_engine_semantic_dedup(spark):
    from mergers_acquisitions_predictions_spark.operators.similarity import (
        semantic_dedup,
    )

    eng = Engine(spark, SF)
    emb = eng.table("embeddings")
    n = emb.count()

    labeled = semantic_dedup(emb, threshold=0.4, n_cells=8)
    rows = labeled.collect()
    assert len(rows) == n  # one verdict per vector
    # exactly one kept representative per cluster, and it IS the
    # cluster label (min-id member)
    clusters = {}
    for r in rows:
        clusters.setdefault(r.cluster_id, []).append(r)
    for cid, members in clusters.items():
        kept = [r for r in members if r.keep]
        assert len(kept) == 1 and kept[0].vec_id == cid == min(r.vec_id for r in members)

    deduped = eng.dedup(emb, "semantic", threshold=0.4, n_cells=8)
    assert deduped.columns == emb.columns
    assert deduped.count() == len(clusters)


def test_engine_curation_ops(spark):
    from pyspark.sql import functions as F

    eng = Engine(spark, SF)
    docs = eng.table("documents")
    is_eval = F.col("source") == "src0"

    hits = eng.contamination(docs.filter(~is_eval), docs.filter(is_eval))
    assert hits.columns == ["doc_id", "n_shared", "contamination"]
    assert hits.count() > 0  # synthetic sources share vocabulary

    packed = eng.pack_sequences(docs, seq_len=128)
    rows = packed.collect()
    assert len(rows) == docs.filter(F.length("text") > 0).count()
    total = sum(r.n_tokens for r in rows)
    # stream positions tile [0, total): last doc ends at the total.
    last = max(rows, key=lambda r: r.start_offset)
    assert last.start_offset + last.n_tokens == total
    assert all(r.last_pack == (r.start_offset + r.n_tokens - 1) // 128 for r in rows)


def test_engine_mixture_sample(spark):
    from pyspark.sql import functions as F

    eng = Engine(spark, SF)
    docs = eng.table("documents")
    sampled = eng.mixture_sample(docs, {"src0": 5.0, "src1": 0.5}, 1000)
    rows = sampled.collect()
    by_src = {}
    for r in rows:
        by_src.setdefault(r.source, []).append(r)
    # unweighted sources contribute nothing
    assert set(by_src) <= {"src0", "src1"}
    # src0's target (5000 tokens) exceeds its size → rate clips at 1.0
    # and EVERY src0 doc is kept
    assert all(r.keep_rate == 1.0 for r in by_src["src0"])
    assert len(by_src["src0"]) == docs.filter(F.col("source") == "src0").count()
    # src1 is down-sampled: strictly fewer docs than the source holds,
    # at a rate < 1
    n_src1 = docs.filter(F.col("source") == "src1").count()
    assert 0 < len(by_src.get("src1", [])) < n_src1
    assert all(0 < r.keep_rate < 1 for r in by_src["src1"])
    # determinism: a rerun keeps the identical membership
    again = {
        (r.doc_id, r.source)
        for r in eng.mixture_sample(docs, {"src0": 5.0, "src1": 0.5}, 1000).collect()
    }
    assert again == {(r.doc_id, r.source) for r in rows}


def test_pack_manifest_tiles_the_stream(spark):
    from mergers_acquisitions_predictions_spark.plans import QUERIES

    rows = QUERIES["t20_pack_manifest"](spark, SF).collect()
    by_id = sorted(rows, key=lambda r: r.pack_id)
    # pack ids are dense 0..P-1; every interior pack holds exactly 256
    # tokens (the stream tiles); only the final pack may be partial.
    assert [r.pack_id for r in by_id] == list(range(len(by_id)))
    assert all(r.n_tokens == 256 for r in by_id[:-1])
    assert 0 < by_id[-1].n_tokens <= 256
    assert all(r.first_doc <= r.last_doc for r in by_id)


def test_facade_fuzzy_match_single_and_multipass(spark):
    from pyspark.sql import functions as F

    eng = Engine(spark)
    left = spark.createDataFrame([(1, "acme corp")], ["lid", "lname"])
    right = spark.createDataFrame(
        [(10, "acme corp."), (12, "acmex corp")], ["rid", "rname"]
    )
    first = lambda c: F.split(F.col(c), " ")[0]  # noqa: E731
    last = lambda c: F.element_at(F.split(F.col(c), " "), -1)  # noqa: E731
    single = eng.fuzzy_match(
        left, right, "lname", "rname", (first("lname"), first("rname"))
    )
    assert {r.rid for r in single.collect()} == {10}
    multi = eng.fuzzy_match(
        left, right, "lname", "rname",
        [(first("lname"), first("rname")), (last("lname"), last("rname"))],
    )
    assert {r.rid for r in multi.collect()} == {10, 12}


def test_facade_bpe_learn_then_encode(spark):
    from pyspark.sql import functions as F

    eng = Engine(spark)
    docs = spark.createDataFrame(
        [(1, "low low lower"), (2, "lowest low")], ["doc_id", "text"]
    )
    merges = eng.learn_bpe(docs, n_merges=4, min_freq=2)
    assert merges and all(len(m) == 3 for m in merges)
    enc = eng.bpe_encode(docs, merges)
    rows = {r.doc_id: r for r in enc.collect()}
    assert set(enc.columns) >= {"bpe_tokens", "n_bpe_tokens"}
    # encoding with the learned merges never yields more subword
    # tokens than characters, and at least one merge fired
    n_chars = sum(len(t) for t in "low low lower".split())
    assert 0 < rows[1].n_bpe_tokens < n_chars


def test_facade_zorder_write(spark, tmp_path):
    eng = Engine(spark, SF)
    orders = eng.table("orders")
    path = str(tmp_path / "z")
    eng.write_zordered(orders, path, ["o_custkey", "o_totalprice"], n_files=4)
    assert spark.read.parquet(path).count() == orders.count()


def test_facade_explain_returns_physical_plan(spark):
    eng = Engine(spark, SF)
    plan = eng.explain("q04_revenue_by_region")
    assert "Physical Plan" in plan and "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_facade_fuzzy_match_accepts_pair_lists_and_rejects_junk(spark):
    """Multipass detection must treat a list of 2-element LISTS (or a
    tuple of pairs) like a list of tuples, and reject unrecognizable
    shapes with a clear error instead of an unpack failure."""
    from pyspark.sql import functions as F

    eng = Engine(spark)
    left = spark.createDataFrame([(1, "acme corp")], ["lid", "lname"])
    right = spark.createDataFrame(
        [(10, "acme corp."), (12, "acmex corp")], ["rid", "rname"]
    )
    first = lambda c: F.split(F.col(c), " ")[0]  # noqa: E731
    last = lambda c: F.element_at(F.split(F.col(c), " "), -1)  # noqa: E731
    for shape in (
        [[first("lname"), first("rname")], [last("lname"), last("rname")]],
        ([first("lname"), first("rname")], (last("lname"), last("rname"))),
    ):
        multi = eng.fuzzy_match(left, right, "lname", "rname", shape)
        assert {r.rid for r in multi.collect()} == {10, 12}
    import pytest

    with pytest.raises(ValueError, match="block_on"):
        eng.fuzzy_match(left, right, "lname", "rname", "not a pair")


def test_fit_released_respects_caller_cache(spark):
    """A dataset the caller already persisted must stay persisted after
    the fit (the caller owns the handle for post-fit transforms)."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector
    from pyspark.sql import functions as F

    from mergers_acquisitions_predictions_spark.operators.util import fit_released

    e = (
        spark.range(50)
        .select(
            F.col("id"),
            array_to_vector(
                F.array((F.col("id") % 5).cast("double"), F.lit(1.0))
            ).alias("features"),
        )
        .cache()
    )
    try:
        fit_released(KMeans(k=3, seed=1, maxIter=2), e)
        lvl = e.storageLevel
        assert lvl.useMemory or lvl.useDisk  # still the caller's cache
    finally:
        e.unpersist(blocking=True)


def test_facade_round3_surfaces(spark):
    """span_coverage / ann_recall / profile / dedup(components=) route
    to the round-3 operators with the documented contracts."""
    from mergers_acquisitions_predictions_spark.engine import Engine

    eng = Engine(spark)
    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),
            (2, "alpha beta gamma delta epsilon zeta"),
            (3, "totally different words here now ok"),
        ],
        "doc_id long, text string",
    )
    cov = {r["doc_id"]: r["dup_fraction"] for r in eng.span_coverage(docs).collect()}
    assert cov[1] == 1.0 and cov[2] == 1.0 and cov[3] == 0.0

    exact = spark.createDataFrame([(1, 10), (1, 11)], "query_id long, candidate_id long")
    approx = spark.createDataFrame([(1, 10), (1, 12)], "query_id long, candidate_id long")
    rec = eng.ann_recall(exact, approx, k=2).collect()
    assert rec[0]["n_hits"] == 1

    prof = {r["column"] for r in eng.profile(docs).collect()}
    assert prof == {"doc_id", "text"}

    # star components through the cluster dedup path: same keep set
    kept_star = {
        r["doc_id"]
        for r in eng.dedup(docs, method="cluster", components="star").collect()
    }
    kept_prop = {
        r["doc_id"] for r in eng.dedup(docs, method="cluster").collect()
    }
    assert kept_star == kept_prop

    import pytest as _pytest

    with _pytest.raises(ValueError, match="components"):
        eng.dedup(docs, method="cluster", components="nope")


def test_facade_quality_and_sampling_surfaces(spark):
    from mergers_acquisitions_predictions_spark.engine import Engine

    eng = Engine(spark)
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog " * 4),
            (2, "x"),
        ],
        "doc_id long, text string",
    )
    rules = {r["doc_id"]: r.asDict() for r in eng.quality_rules(docs).collect()}
    assert rules[1]["keep"] is True
    assert rules[2]["keep"] is False and rules[2]["n_words"] == 1

    weighted = spark.createDataFrame(
        [(i, 1.0) for i in range(50)] + [(i, 0.0) for i in range(50, 100)],
        "doc_id long, w double",
    )
    kept = {r["doc_id"] for r in eng.importance_sample(weighted, "w", "doc_id").collect()}
    assert kept == set(range(50))  # weight 1 always kept, weight 0 never

    # ivfpq through the ann facade
    import pyspark.sql.functions as F
    from mergers_acquisitions_predictions_spark.sources.readers import load_table

    e = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    out = eng.ann_topk(
        e.filter(F.col("vec_id") < 2), e, method="ivfpq", k=3, rerank=12
    )
    assert out.columns == ["query_id", "candidate_id", "cos_sim", "rank"]
    assert out.count() == 6


def test_facade_stratified_split_and_filtered_ann(spark, tmp_path):
    import pyspark.sql.functions as F

    from mergers_acquisitions_predictions_spark.engine import Engine
    from mergers_acquisitions_predictions_spark.sources.readers import load_table

    eng = Engine(spark)
    d = load_table(spark, "/root/testdata/sf0.001", "documents")
    s = eng.stratified_split(d, ["lang"], [("train", 0.9), ("test", 0.1)], "doc_id")
    assert set(s.select("split").distinct().toPandas()["split"]) <= {"train", "test"}
    assert s.count() == d.count()

    e = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    path = str(tmp_path / "idx")
    eng.build_ann_index(e, path, n_cells=4)
    hits = eng.search_ann_index(
        path,
        e.filter(F.col("vec_id") < 2),
        k=3,
        n_probe=2,
        allowed=e.filter(F.col("label") % 2 == 1),
    ).collect()
    odd = {r["vec_id"] for r in e.filter(F.col("label") % 2 == 1).select("vec_id").collect()}
    assert hits and all(r.candidate_id in odd for r in hits)


def test_facade_ann_index_kind_dispatch(spark, tmp_path):
    import pyspark.sql.functions as F

    from mergers_acquisitions_predictions_spark.engine import Engine
    from mergers_acquisitions_predictions_spark.sources.readers import load_table

    eng = Engine(spark)
    e = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    path = str(tmp_path / "pqidx")
    eng.build_ann_index(e, path, kind="ivfpq", n_cells=4)
    hits = eng.search_ann_index(
        path, e.filter(F.col("vec_id") < 2), k=3, n_probe=2
    ).collect()
    assert hits and {"query_id", "candidate_id", "adc_dist", "rank"} == set(
        hits[0].asDict()
    )
    # the compaction facade is kind-agnostic
    before, after = eng.compact_ann_index(path)
    assert after <= before
    with pytest.raises(ValueError, match="unknown index kind"):
        eng.build_ann_index(e, str(tmp_path / "x"), kind="hnsw")


def test_facade_token_index_and_table(spark, tmp_path):
    """Round-11 surfaces: build/search the persisted token index and
    the write-once token table, through the facade."""
    import pyspark.sql.functions as F

    from mergers_acquisitions_predictions_spark.engine import Engine
    from mergers_acquisitions_predictions_spark.operators.maxsim import (
        token_slices,
    )
    from mergers_acquisitions_predictions_spark.sources.readers import load_table

    eng = Engine(spark)
    e = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    toks = e.select(
        "vec_id",
        F.posexplode(token_slices(F.col("embedding"), 4, 16)).alias(
            "token_id", "token"
        ),
    )
    tbl = str(tmp_path / "toktbl")
    eng.write_token_table(toks, tbl)
    back = eng.read_token_table(tbl)
    assert back.count() == toks.count()
    assert eng.read_token_table(tbl, ids=[0, 1]).select(
        "vec_id"
    ).distinct().count() == 2
    idx = str(tmp_path / "tokidx")
    eng.build_token_index(back, idx, n_tokens=4)
    hits = eng.search_token_index(
        idx, back.filter(F.col("vec_id") < 2), back, k=3, k0=6
    ).collect()
    assert hits and {"query_id", "candidate_id", "maxsim", "rank"} == set(
        hits[0].asDict()
    )


def test_facade_serve_colbert_one_call(spark, tmp_path):
    """`Engine.serve_colbert` — the one-call composed deployment serve
    (round 12): two persisted artifacts in, ranked parents out, equal
    to the hand-wired route, with T defaulting from the index meta."""
    from pyspark.sql import functions as F

    from mergers_acquisitions_predictions_spark.engine import Engine
    from mergers_acquisitions_predictions_spark.operators.maxsim import (
        maxsim_search_tokens_persisted,
        token_slices,
    )
    from mergers_acquisitions_predictions_spark.sources.readers import load_table

    eng = Engine(spark)
    e = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    toks = e.select(
        "vec_id",
        F.posexplode(token_slices(F.col("embedding"), 4, 16)).alias(
            "token_id", "token"
        ),
    )
    idx = str(tmp_path / "tokidx")
    tbl = str(tmp_path / "toktbl")
    eng.build_token_index(toks, idx, n_tokens=4)
    eng.write_token_table(toks, tbl)
    q = eng.read_token_table(tbl).filter(F.col("vec_id") < 2)
    got = sorted(
        map(tuple, eng.serve_colbert(idx, tbl, q, k=3, k0=6).collect())
    )
    want = sorted(
        map(
            tuple,
            maxsim_search_tokens_persisted(
                spark, idx, q, toks, k=3, k0=6, n_tokens=4
            ).collect(),
        )
    )
    assert got and got == want


def test_facade_exactly_once_ingest_and_accretion(spark, tmp_path):
    """Round-13 facade surface: staged reconcile ingest + the
    accretion-schedule compaction trigger."""
    import pyspark.sql.functions as F

    from mergers_acquisitions_predictions_spark.sources.readers import load_table

    eng = Engine(spark)
    e = load_table(spark, SF, "embeddings")
    path = str(tmp_path / "idx")
    staged = str(tmp_path / "staged")
    eng.build_ann_index(e.filter(F.col("vec_id") % 2 == 0), path, n_cells=4)
    from mergers_acquisitions_predictions_spark.streaming.serving import (
        ingest_batch_staged,
    )

    odd = e.filter(F.col("vec_id") % 2 == 1)
    n1 = ingest_batch_staged(path, staged, odd, batch_id=0)
    assert n1 == odd.count()
    # the facade reconcile is the idempotent recovery entry
    assert eng.reconcile_ann_index(path, staged) == 0
    fired, stats = eng.compact_ann_index_if_accreted(path, max_files_per_cell=1)
    assert fired and stats["n_cells"] == 4
    hits = eng.search_ann_index(
        path, e.filter(F.col("vec_id") < 2), k=3, n_probe=2
    ).collect()
    assert len(hits) == 6


def test_facade_append_only_ingest(spark, tmp_path):
    """Round-13 facade surface: the high-frequency append-only ingest
    sink — a one-batch availableNow stream with reconcile_every=1
    must leave the index serving the appended vectors."""
    import json as _json

    import pyspark.sql.functions as F

    from mergers_acquisitions_predictions_spark.sources.readers import load_table

    eng = Engine(spark)
    e = load_table(spark, SF, "embeddings")
    path = str(tmp_path / "idx_ao")
    eng.build_ann_index(e.filter(F.col("vec_id") % 2 == 0), path, n_cells=4)
    vdir = tmp_path / "vao"
    vdir.mkdir()
    with open(vdir / "shard.jsonl", "w") as f:
        for r in e.filter(F.col("vec_id") % 2 == 1).collect():
            f.write(
                _json.dumps(
                    {
                        "vec_id": r.vec_id,
                        "embedding": [float(x) for x in r.embedding],
                    }
                )
                + "\n"
            )
    stream = (
        eng.ingest_vector_stream_append_only(
            path,
            spark.readStream.schema("vec_id long, embedding array<float>")
            .json(str(vdir)),
            str(tmp_path / "staged_ao"),
            reconcile_every=1,
        )
        .option("checkpointLocation", str(tmp_path / "ckpt_ao"))
        .trigger(availableNow=True)
        .start()
    )
    stream.awaitTermination(120)
    hits = eng.search_ann_index(
        path, e.filter(F.col("vec_id") < 2), k=3, n_probe=2
    ).collect()
    assert len(hits) == 6


def test_facade_recall_probe_and_rebuild_trigger(spark, tmp_path):
    """Round-13 facade surface: the rebuild-schedule pair."""
    import pyspark.sql.functions as F

    from mergers_acquisitions_predictions_spark.sources.readers import load_table

    eng = Engine(spark)
    e = load_table(spark, SF, "embeddings")
    q = e.filter(F.col("vec_id") < 3)
    path = str(tmp_path / "idx")
    eng.build_ann_index(e.filter(F.col("vec_id") % 2 == 0), path, n_cells=4)
    eng.append_ann_index(e.filter(F.col("vec_id") % 2 == 1), path)
    probe = eng.index_recall_probe(path, q, e, k=3, n_probe=2)
    assert probe.count() == 3
    fired, mean = eng.rebuild_ann_index_if_drifted(
        path, e, q, threshold=1.01, k=3, n_probe=2, n_cells=4
    )
    assert fired and 0.0 <= mean <= 1.0


def test_facade_bm25_family(spark, tmp_path):
    """Round-13 facade surface: the lexical retrieval family —
    in-memory top-k, persisted build/serve, exact-merge append, and
    the exactly-once reconcile."""
    import pyspark.sql.functions as F

    eng = Engine(spark)
    docs = spark.createDataFrame(
        [
            (0, "spark engine shuffles data fast"),
            (1, "the spark engine optimizes the query plan"),
            (2, "ducks swim in the pond"),
            (3, "query plan for the pond"),
        ],
        "doc_id long, text string",
    )
    q = spark.createDataFrame(
        [(100, "spark"), (100, "pond")], "query_id long, term string"
    )
    inmem = sorted(map(tuple, eng.bm25_topk(docs, q, k=4).collect()))
    assert inmem

    path = str(tmp_path / "bm25")
    eng.build_bm25_index(docs.filter(F.col("doc_id") < 2), path)
    eng.append_bm25_index(docs.filter(F.col("doc_id") >= 2), path)
    served = sorted(map(tuple, eng.search_bm25_index(path, q, k=4).collect()))
    assert served == inmem

    # staged reconcile: everything already present -> no-op
    staged = str(tmp_path / "staged")
    docs.write.parquet(staged)
    assert eng.reconcile_bm25_index(path, staged) == 0
