"""BM25 retrieval (`operators/bm25.bm25_topk`): the score must match
an independent per-document computation of the Lucene-IDF BM25
formula, self-exclusion and absent-term semantics must hold, and
ranks must be dense per query."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from mergers_acquisitions_predictions_spark.operators.bm25 import (
    B,
    K1,
    bm25_topk,
)

DOCS = [
    (0, "spark engine shuffles data fast"),
    (1, "the spark engine optimizes the query plan"),
    (2, "ducks swim in the pond"),
    (3, "spark spark spark everywhere spark"),
    (4, "query plan for the pond"),
]


def _tok(text: str) -> list[str]:
    import re

    return re.findall(r"[a-z0-9]+", text.lower())


def _expected(query_terms: list[str], exclude_self=None):
    toks = {d: _tok(t) for d, t in DOCS}
    n = len(DOCS)
    avgdl = sum(len(v) for v in toks.values()) / n
    out = {}
    for d, tk in toks.items():
        if exclude_self is not None and d == exclude_self:
            continue
        s = 0.0
        for term in sorted(set(query_terms)):
            c = tk.count(term)
            if not c:
                continue
            df = sum(1 for v in toks.values() if term in v)
            idf = math.log((n - df + 0.5) / (df + 0.5) + 1)
            s += (idf * (c * (K1 + 1))) / (c + K1 * ((1 - B) + B * len(tk) / avgdl))
        if s:
            out[d] = round(s, 6)
    return out


def test_bm25_matches_hand_computation(spark):
    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    q = spark.createDataFrame(
        [(100, "spark"), (100, "query")], "query_id long, term string"
    )
    got = {
        r.doc_id: r.bm25
        for r in bm25_topk(docs, q, k=10).collect()
    }
    assert got == _expected(["spark", "query"])


def test_bm25_rank_density_and_order(spark):
    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    q = spark.createDataFrame(
        [(100, "spark"), (100, "query"), (200, "pond")],
        "query_id long, term string",
    )
    rows = bm25_topk(docs, q, k=3).collect()
    per_q = {}
    for r in rows:
        per_q.setdefault(r.query_id, []).append((r.rank, r.bm25, r.doc_id))
    for qid, lst in per_q.items():
        lst.sort()
        assert [rk for rk, _, _ in lst] == list(range(1, len(lst) + 1))
        scores = [s for _, s, _ in lst]
        assert scores == sorted(scores, reverse=True)
    # 'pond' appears in docs 2 and 4 only
    assert {d for _, _, d in per_q[200]} == {2, 4}


def test_bm25_query_batch_over_bound_raises(spark, monkeypatch):
    """The serve collects its (query_id, term) batch to the driver;
    a batch past MAX_QUERY_BATCH_ROWS fails loudly, naming the bound,
    instead of pulling a corpus-sized frame onto the driver. At the
    bound it still serves."""
    import pytest

    from mergers_acquisitions_predictions_spark.operators import bm25 as B25

    monkeypatch.setattr(B25, "MAX_QUERY_BATCH_ROWS", 3)
    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    ok = spark.createDataFrame(
        [(100, "spark"), (100, "query"), (200, "pond")], "query_id long, term string"
    )
    assert bm25_topk(docs, ok, k=2).count() > 0
    over = spark.createDataFrame(
        [(100, "spark"), (100, "query"), (200, "pond"), (200, "plan")],
        "query_id long, term string",
    )
    with pytest.raises(ValueError, match="exceeds 3"):
        bm25_topk(docs, over, k=2)


def test_bm25_exclude_self_and_absent_terms(spark):
    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    q = spark.createDataFrame(
        [(3, "spark"), (7, "zebra")], "query_id long, term string"
    )
    rows = bm25_topk(docs, q, k=10, exclude_self=True).collect()
    # query 3 excludes doc 3 even though it is the strongest match
    assert 3 not in {r.doc_id for r in rows if r.query_id == 3}
    assert {r.doc_id for r in rows if r.query_id == 3} == {0, 1}
    # a term absent from the corpus retrieves nothing
    assert not [r for r in rows if r.query_id == 7]
    exp = _expected(["spark"], exclude_self=3)
    got = {r.doc_id: r.bm25 for r in rows if r.query_id == 3}
    assert got == {d: s for d, s in exp.items() if d != 3}


def test_bm25_persisted_serve_matches_inmemory(spark, tmp_path):
    """Round 13: `search_bm25_index` from the persisted postings
    artifact must be bit-identical to the in-memory `bm25_topk`
    (postings hold exact integers; the stats sidecar's doubles
    round-trip parquet exactly), and the postings scan must carry the
    query-term In-predicate as a pushed filter."""
    from mergers_acquisitions_predictions_spark.operators.bm25 import (
        build_bm25_index,
        search_bm25_index,
    )

    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    q = spark.createDataFrame(
        [(100, "spark"), (100, "query"), (200, "pond")],
        "query_id long, term string",
    )
    path = str(tmp_path / "bm25_idx")
    build_bm25_index(docs, path)

    served = search_bm25_index(spark, path, q, k=10)
    want = sorted(map(tuple, bm25_topk(docs, q, k=10).collect()))
    assert sorted(map(tuple, served.collect())) == want and want

    plan = served._jdf.queryExecution().executedPlan().toString()
    # the only parquet scan with an In(term, ...) pushed filter is the
    # postings scan (the stats sidecar scan pushes nothing)
    assert "PushedFilters: [In(term" in plan, plan

    # exclude_self parity too
    q2 = spark.createDataFrame([(3, "spark")], "query_id long, term string")
    got2 = sorted(
        map(
            tuple,
            search_bm25_index(spark, path, q2, k=10, exclude_self=True).collect(),
        )
    )
    want2 = sorted(
        map(tuple, bm25_topk(docs, q2, k=10, exclude_self=True).collect())
    )
    assert got2 == want2 and 3 not in {t[1] for t in got2}


def test_bm25_append_equals_full_rebuild(spark, tmp_path):
    """Rounds 13–14: `append_bm25_index` must leave the artifact
    serving VALUE-IDENTICALLY to a full rebuild over the union —
    BM25's corpus statistics are exact integer merges (disjoint tf
    rows, df re-derived from surviving rows at serve time, additive
    (nn, Σdl)) — so the serves are bit-identical. Also covers terms
    exclusive to one shard."""
    from mergers_acquisitions_predictions_spark.operators.bm25 import (
        append_bm25_index,
        build_bm25_index,
        search_bm25_index,
    )

    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    even = docs.filter(F.col("doc_id") % 2 == 0)
    odd = docs.filter(F.col("doc_id") % 2 == 1)  # doc 1 has 'optimizes'
    q = spark.createDataFrame(
        [(100, "spark"), (100, "query"), (200, "pond"), (300, "optimizes")],
        "query_id long, term string",
    )
    inc = str(tmp_path / "bm25_inc")
    full = str(tmp_path / "bm25_full")
    build_bm25_index(even, inc)
    append_bm25_index(odd, inc)
    build_bm25_index(docs, full)

    got = sorted(map(tuple, search_bm25_index(spark, inc, q, k=10).collect()))
    want = sorted(map(tuple, search_bm25_index(spark, full, q, k=10).collect()))
    assert got == want and want
    # the appended artifact's stats merged exactly
    si = spark.read.parquet(f"{inc}/stats").first()
    sf_ = spark.read.parquet(f"{full}/stats").first()
    assert (si.nn, si.sdl) == (sf_.nn, sf_.sdl)


def test_bm25_append_is_o_shard(spark, tmp_path):
    """Round 14 (VERDICT r13 #1): the append must be O(shard) — the
    pre-append postings files are never read, rewritten, renamed or
    deleted; the shard lands as NEW files only (job-committed), and
    the serve sees the union. A rewrite of the old postings (the
    round-13 O(index) merge) would show as changed/removed paths or
    changed bytes here."""
    import os

    from mergers_acquisitions_predictions_spark.operators.bm25 import (
        append_bm25_index,
        build_bm25_index,
        search_bm25_index,
    )

    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    path = str(tmp_path / "bm25_oshard")
    build_bm25_index(docs.filter(F.col("doc_id") % 2 == 0), path)

    def snapshot(d):
        out = {}
        for root, _dirs, files in os.walk(d):
            for fn in files:
                p = os.path.join(root, fn)
                st = os.stat(p)
                out[p] = (st.st_size, st.st_mtime_ns)
        return out

    before = snapshot(f"{path}/postings")
    assert any(p.endswith(".parquet") for p in before)
    append_bm25_index(docs.filter(F.col("doc_id") % 2 == 1), path)
    after = snapshot(f"{path}/postings")
    # every pre-append parquet file survives byte-for-byte in place
    old_parquet = {p: v for p, v in before.items() if p.endswith(".parquet")}
    for p, v in old_parquet.items():
        assert after.get(p) == v, f"append rewrote old postings file {p}"
    # and the shard added at least one new parquet file
    new_files = [
        p for p in after if p.endswith(".parquet") and p not in before
    ]
    assert new_files, "append added no shard files"
    # the accreted artifact serves the union
    q = spark.createDataFrame(
        [(100, "spark"), (200, "pond")], "query_id long, term string"
    )
    got = {
        (r.query_id, r.doc_id)
        for r in search_bm25_index(spark, path, q, k=10).collect()
    }
    assert (200, 2) in got and (200, 4) in got  # docs from both shards


def test_bm25_stream_ingest_exactly_once(spark, tmp_path):
    """Round 13: the document-stream ingest into the persisted BM25
    index. A real multi-batch availableNow stream through
    `ingest_document_stream_append_only(reconcile_every=2)` must
    leave the index serving identically to a full build over the
    union; a replayed batch + reconcile re-run must append nothing
    (where a naive per-batch append would double-count df/dl and
    silently shift scores)."""
    import json as _json

    from mergers_acquisitions_predictions_spark.operators.bm25 import (
        build_bm25_index,
        search_bm25_index,
    )
    from mergers_acquisitions_predictions_spark.streaming.serving import (
        ingest_document_stream_append_only,
        reconcile_bm25_from_snapshot,
        stage_batch_append_only,
    )

    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    even = docs.filter(F.col("doc_id") % 2 == 0)
    q = spark.createDataFrame(
        [(100, "spark"), (100, "query"), (200, "pond")],
        "query_id long, term string",
    )
    inc = str(tmp_path / "bm25_stream")
    full = str(tmp_path / "bm25_full")
    build_bm25_index(even, inc)
    build_bm25_index(docs, full)

    vdir = tmp_path / "vdocs"
    vdir.mkdir()
    odd_rows = [d for d in DOCS if d[0] % 2 == 1]
    for i, chunk in enumerate((odd_rows[:1], odd_rows[1:])):
        with open(vdir / f"shard{i}.jsonl", "w") as f:
            for did, text in chunk:
                f.write(_json.dumps({"doc_id": did, "text": text}) + "\n")
    staged = str(tmp_path / "staged_docs")
    stream = (
        ingest_document_stream_append_only(
            inc,
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .json(str(vdir)),
            staged,
            reconcile_every=2,
        )
        .option("checkpointLocation", str(tmp_path / "ckpt_docs"))
        .trigger(availableNow=True)
        .start()
    )
    stream.awaitTermination(120)

    got = sorted(map(tuple, search_bm25_index(spark, inc, q, k=10).collect()))
    want = sorted(map(tuple, search_bm25_index(spark, full, q, k=10).collect()))
    assert got == want and want

    # rollback replay of batch 0 + reconcile re-run: both no-ops
    replay = spark.read.schema("doc_id long, text string").json(
        str(vdir / "shard0.jsonl")
    )
    stage_batch_append_only(
        staged, replay, batch_id=0, id_col="doc_id", vec_col="text"
    )
    assert reconcile_bm25_from_snapshot(spark, inc, staged) == 0
    again = sorted(map(tuple, search_bm25_index(spark, inc, q, k=10).collect()))
    assert again == want


def test_bm25_build_does_not_poison_mllib_closures(spark, tmp_path):
    """Round 14 regression: SparkSession.observationManager is the
    session's only NON-transient lazy field (Spark 4.1) — the first
    `Observation` use initializes it, and every later Java
    serialization of a session-capturing closure in the SAME session
    then fails (MLlib models carry their session via trainingSummary:
    `NotSerializableException: ObservationManager`; caught by the
    full suite's e2e pipeline running after the bm25 tests). The
    build's stats sidecar must therefore be derived WITHOUT the
    Observation API: after a build, an MLlib model whose transform
    UDF captures the model (and so the session) must still evaluate."""
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.evaluation import BinaryClassificationEvaluator
    from pyspark.ml.linalg import Vectors

    from mergers_acquisitions_predictions_spark.operators.bm25 import (
        build_bm25_index,
    )

    docs = spark.createDataFrame(
        [(i, f"alpha beta doc {i}") for i in range(20)],
        "doc_id long, text string",
    )
    build_bm25_index(docs, str(tmp_path / "bm25_obs_free"))

    df = spark.createDataFrame(
        [(Vectors.dense([0.1, 0.9]), 1.0), (Vectors.dense([0.8, 0.2]), 0.0)]
        * 10,
        ["features", "label"],
    )
    model = LogisticRegression().fit(df)  # trainingSummary -> session
    scored = model.transform(df)  # UDF closure captures the model
    auc = BinaryClassificationEvaluator(
        rawPredictionCol="rawPrediction"
    ).evaluate(scored)
    assert 0.0 <= auc <= 1.0
