"""Unit tests for the relational operator library (SURVEY §2.3–§2.5)."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from mergers_acquisitions_predictions_spark.operators.aggregates import (
    confusion_matrix,
    document_frequency,
)
from mergers_acquisitions_predictions_spark.operators.dedup import exact_dedup
from mergers_acquisitions_predictions_spark.operators.joins import range_join_bucketed
from mergers_acquisitions_predictions_spark.operators.topk import grouped_topk


def test_bounded_collect_is_one_job_and_raises_past_bound(spark, tmp_path):
    """`util.bounded_collect` runs ONE job whatever the input's
    partition count (a root ``limit`` scans partitions in scale-up
    rounds, one job each), returns every row under the bound and
    raises, naming the bound, past it."""
    import pytest

    from mergers_acquisitions_predictions_spark.operators.util import bounded_collect

    sc = spark.sparkContext
    for n in (1, 2, 8):
        path = str(tmp_path / f"p{n}")
        spark.range(0, 8, 1, n).write.parquet(path)
        df = spark.read.parquet(path).filter(F.col("id") >= 0)
        group = f"bounded-collect-{n}"
        sc.setJobGroup(group, group)
        try:
            rows = bounded_collect(df, 100, "ids")
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        assert sorted(r.id for r in rows) == list(range(8))
        assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1, n
    assert len(bounded_collect(df, 8, "ids")) == 8
    with pytest.raises(ValueError, match="ids exceeds 7 rows"):
        bounded_collect(df, 7, "ids")


def test_range_join_bucketed_matches_naive(spark):
    t0 = dt.datetime(2024, 1, 1)
    intervals = spark.createDataFrame(
        [(i, t0 + dt.timedelta(hours=5 * i), t0 + dt.timedelta(hours=5 * i + 30))
         for i in range(10)],
        ["iid", "start", "end"],
    )
    points = spark.createDataFrame(
        [(j, t0 + dt.timedelta(hours=j)) for j in range(80)], ["pid", "ts"]
    )
    got = {
        (r.iid, r.pid)
        for r in range_join_bucketed(intervals, points, "start", "end", "ts").collect()
    }
    naive = {
        (r.iid, r.pid)
        for r in intervals.crossJoin(points)
        .where((F.col("ts") >= F.col("start")) & (F.col("ts") < F.col("end")))
        .collect()
    }
    assert got == naive and got
    # Bucket width is a perf knob, never a semantics one: every
    # granularity yields the identical result set.
    for bucket in ("1 hour", "6 hours", "2 days"):
        rebucketed = {
            (r.iid, r.pid)
            for r in range_join_bucketed(
                intervals, points, "start", "end", "ts", bucket=bucket
            ).collect()
        }
        assert rebucketed == naive, bucket


def test_confusion_matrix_single_shuffle_equivalence(spark):
    df = spark.createDataFrame(
        [(1, 1), (1, 0), (0, 0), (0, 0), (1, 1)], ["y", "prediction"]
    )
    cm = {(r.label, r.prediction): r.n for r in confusion_matrix(df, "y", "prediction").collect()}
    assert cm == {(1, 1): 2, (1, 0): 1, (0, 0): 2}


def test_document_frequency_band(spark):
    df = spark.createDataFrame(
        [(1, ["a", "b", "a"]), (2, ["a", "c"]), (3, ["a"])], ["doc_id", "tokens"]
    )
    out = {r.term: r.df for r in document_frequency(df, min_df=2).collect()}
    assert out == {"a": 3}  # 'a' counted once per doc (distinct), b/c below band


def test_topk(spark):
    df = spark.createDataFrame(
        [("g1", i, float(i)) for i in range(5)] + [("g2", 9, 1.0)], ["g", "id", "v"]
    )
    per_group = grouped_topk(df, ["g"], [F.desc("v"), F.asc("id")], 1).collect()
    assert {(r.g, r.id) for r in per_group} == {("g1", 4), ("g2", 9)}


def test_exact_dedup_keeps_min_id(spark):
    df = spark.createDataFrame(
        [(1, "Hello  World"), (2, "hello world"), (3, "other")], ["doc_id", "text"]
    )
    kept = sorted(r.doc_id for r in exact_dedup(df).collect())
    assert kept == [1, 3]  # 2 is a normalized dup of 1; min doc_id survives


def test_prefix_jaccard_equals_plain_jaccard(spark):
    from mergers_acquisitions_predictions_spark.operators.dedup import (
        jaccard_pairs,
        prefix_jaccard_pairs,
    )

    # Near-dup pair (0,1), distant docs 2/3, plus an exact dup (4 of 0).
    docs = spark.createDataFrame(
        [
            (0, "alpha beta gamma delta epsilon zeta eta theta"),
            (1, "alpha beta gamma delta epsilon zeta eta iota"),
            (2, "one two three four five six seven eight nine"),
            (3, "totally different words in this document here now"),
            (4, "alpha beta gamma delta epsilon zeta eta theta"),
        ],
        ["doc_id", "text"],
    )
    for t in (0.5, 0.7):
        plain = {
            (r.a_id, r.b_id, r.jaccard)
            for r in jaccard_pairs(docs, threshold=t, shingle_n=2).collect()
        }
        pruned = {
            (r.a_id, r.b_id, r.jaccard)
            for r in prefix_jaccard_pairs(docs, threshold=t, shingle_n=2).collect()
        }
        assert pruned == plain and plain  # exact, and non-vacuous


def test_jaccard_max_df_prunes_stopgram_only_pairs(spark):
    """max_df drops hot shingles from candidate generation: pairs
    sharing ONLY stop-grams disappear; surviving pairs keep their
    EXACT Jaccard (full-array verify)."""
    from mergers_acquisitions_predictions_spark.operators.dedup import jaccard_pairs

    # "the of" is a stop-bigram present in EVERY doc (df=4 > max_df=2);
    # docs 0/1 also share real content; 2/3 share only the stop-gram.
    docs = spark.createDataFrame(
        [
            (0, "the of alpha beta gamma delta"),
            (1, "the of alpha beta gamma zeta"),
            (2, "the of one two three four"),
            (3, "the of five six seven eight"),
        ],
        ["doc_id", "text"],
    )
    exact = {
        (r.a_id, r.b_id): r.jaccard
        for r in jaccard_pairs(docs, threshold=0.01, shingle_n=2).collect()
    }
    pruned = {
        (r.a_id, r.b_id): r.jaccard
        for r in jaccard_pairs(docs, threshold=0.01, shingle_n=2, max_df=2).collect()
    }
    assert set(pruned) < set(exact)  # strictly fewer pairs
    assert (2, 3) in exact and (2, 3) not in pruned  # stop-gram-only pair gone
    assert (0, 1) in pruned
    for k, v in pruned.items():
        assert v == exact[k]  # surviving pairs: exact values


def test_simhash_neardups_pigeonhole_complete(spark):
    """The banded plan must find EVERY pair within max_hamming (the
    pigeonhole guarantee) — checked against a brute-force popcount of
    all C(n,2) sketches — and report exact dups at distance 0."""
    from itertools import combinations

    from mergers_acquisitions_predictions_spark.operators.dedup import (
        simhash,
        simhash_neardup_pairs,
    )
    from mergers_acquisitions_predictions_spark.functions.text import tokenize

    docs = spark.createDataFrame(
        [
            (0, "alpha beta gamma delta epsilon zeta eta theta"),
            (1, "alpha beta gamma delta epsilon zeta eta iota"),
            (2, "one two three four five six seven eight nine"),
            (3, "totally different words in this document here now"),
            (4, "alpha beta gamma delta epsilon zeta eta theta"),
        ],
        ["doc_id", "text"],
    )
    got = {
        (r.a_id, r.b_id): r.hamming
        for r in simhash_neardup_pairs(docs, max_hamming=3).collect()
    }
    sketches = {
        r.doc_id: r.sh
        for r in docs.select(
            "doc_id", simhash(tokenize("text")).alias("sh")
        ).collect()
    }
    want = {}
    for a, b in combinations(sorted(sketches), 2):
        d = bin(sketches[a] ^ sketches[b]).count("1")
        if d <= 3:
            want[(a, b)] = d
    assert got == want
    assert got[(0, 4)] == 0  # exact dup
    assert all(d <= 3 for d in got.values())


def test_dup_clusters_min_label_components(spark):
    from mergers_acquisitions_predictions_spark.operators.dedup import dup_clusters

    docs = spark.createDataFrame([(i, "x") for i in range(7)], ["doc_id", "text"])
    # Components: {0,1,2,3} via a chain, {5,6}; 4 is a singleton.
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (5, 6)], ["a_id", "b_id"]
    )
    got = {r.doc_id: r.cluster_id for r in dup_clusters(docs, pairs).collect()}
    assert got == {0: 0, 1: 0, 2: 0, 3: 0, 4: 4, 5: 5, 6: 5}


def test_global_running_sum_matches_global_window(spark):
    from pyspark.sql import Window as W

    from mergers_acquisitions_predictions_spark.operators.ordered import (
        global_running_sum,
    )

    rows = [(i, (i * 7919) % 13) for i in range(1000)]
    df = spark.createDataFrame(rows, ["k", "v"]).repartition(16)
    got = {
        r.k: r.running_sum
        for r in global_running_sum(df, "k", "v").collect()
    }
    w = W.orderBy("k").rowsBetween(W.unboundedPreceding, W.currentRow)
    want = {
        r.k: r.cum
        for r in df.withColumn("cum", F.sum("v").over(w)).collect()
    }
    assert got == want


def test_global_running_sum_stays_distributed(spark):
    """The point of the operator: the plan must NOT collapse to a
    single partition (no empty-frame Window sort over ONE task)."""
    from mergers_acquisitions_predictions_spark.operators.ordered import (
        global_running_sum,
    )

    df = spark.range(10_000).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("v")
    )
    out = global_running_sum(df, "k", "v")
    plan = out._jdf.queryExecution().executedPlan().toString()
    # The range exchange now lives in the checkpoint BUILD (it must
    # execute exactly once — see _ranged_with_pid); the final plan
    # scans the materialized RDD and its per-row window is keyed on
    # the stamped partition id — i.e. the data path is parallel. (The
    # offsets subtree's single-partition window over #partitions rows
    # is intentional and driver-sized.)
    assert "Scan ExistingRDD" in plan  # the one-shot materialization
    assert "windowspecdefinition(__pid" in plan
    # the materialized frame really is range-partitioned: pid is
    # non-decreasing in the order key across partition boundaries
    pid_of = {
        r.k: r.p
        for r in df.repartitionByRange("k")
        .withColumn("p", F.spark_partition_id())
        .collect()
    }
    ks = sorted(pid_of)
    assert all(pid_of[a] <= pid_of[b] for a, b in zip(ks, ks[1:]))


def test_global_row_number_matches_global_window(spark):
    from pyspark.sql import Window as W

    from mergers_acquisitions_predictions_spark.operators.ordered import (
        global_row_number,
    )

    rows = [((i * 37) % 101, i) for i in range(500)]
    df = spark.createDataFrame(rows, ["v", "id"]).repartition(8)
    got = {r.id: r.row_num for r in global_row_number(df, ["v", "id"]).collect()}
    w = W.orderBy("v", "id")
    want = {
        r.id: r.rn
        for r in df.withColumn("rn", F.row_number().over(w)).collect()
    }
    assert got == want


def test_incremental_neardup_persisted_index_roundtrip(spark, tmp_path):
    """The production d12 configuration: the corpus' banded index is
    built once, persisted as parquet partitioned by band, and probed
    by each incoming shard WITHOUT re-hashing the corpus — candidates
    must equal the from-scratch computation exactly."""
    from mergers_acquisitions_predictions_spark.operators.dedup import (
        banded_frame,
        incremental_neardup_candidates,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    corpus = docs.filter("doc_id % 5 != 0")
    shard = docs.filter("doc_id % 5 = 0")

    path = str(tmp_path / "neardup_index")
    banded_frame(corpus, "text", "doc_id", 4, 2, 3).write.partitionBy(
        "band"
    ).parquet(path)
    index = spark.read.parquet(path)

    from_index = {
        (r.new_id, r.index_id)
        for r in incremental_neardup_candidates(
            shard, index, n_bands=4, rows_per_band=2, index_is_banded=True
        ).collect()
    }
    from_scratch = {
        (r.new_id, r.index_id)
        for r in incremental_neardup_candidates(
            shard, corpus, n_bands=4, rows_per_band=2
        ).collect()
    }
    assert from_index == from_scratch and from_index  # identical, non-vacuous


def test_band_config_scurve_midpoints():
    """The chosen (b, r) puts the S-curve midpoint (1/b)^(1/r) near
    the requested threshold, monotonically stricter with higher
    thresholds, within the hash budget."""
    from mergers_acquisitions_predictions_spark.operators.dedup import band_config

    for t in (0.3, 0.5, 0.7, 0.9):
        b, r = band_config(t, n_hashes=64)
        assert b * r <= 64
        assert abs((1.0 / b) ** (1.0 / r) - t) < 0.08, (t, b, r)
    # stricter threshold => more rows per band
    rows = [band_config(t, 64)[1] for t in (0.3, 0.5, 0.7, 0.9)]
    assert rows == sorted(rows)
    # the repo default budget reproduces the registered 4x2 at t=0.5
    assert band_config(0.5, 8) == (4, 2)


def test_global_rank_consistent_at_scale_with_cached_input(spark):
    """Regression: the two consumers of the range exchange (local scan
    + totals) MUST see one partitioning. Before the ordered.py
    localCheckpoint, each branch executed its own sampled exchange and
    a boundary mismatch silently corrupted ranks (observed at 1M rows
    with a cached input: Σrow_number 0.67% high). Exact-sum identity
    over a million rows with duplicate order keys and a persisted
    input is the reproducing condition."""
    from pyspark.sql import functions as F

    from mergers_acquisitions_predictions_spark.operators.ordered import (
        global_row_number,
        global_running_sum,
    )

    n = 1_000_000
    df = (
        spark.range(n)
        .select(F.col("id"), (F.hash("id") % 1000).alias("v"))
        .persist()
    )
    try:
        df.count()
        rn = global_row_number(df, ["v", "id"], out_col="rn")
        assert rn.agg(F.sum("rn")).first()[0] == n * (n + 1) // 2
        assert rn.filter(F.col("rn") > n).count() == 0
        cum = global_running_sum(
            df.withColumn("one", F.lit(1)), ["v", "id"], "one", out_col="cs"
        )
        assert cum.agg(F.sum("cs")).first()[0] == n * (n + 1) // 2
    finally:
        df.unpersist()


def test_select_canonicals_quality_argmax_with_id_tiebreak(spark):
    from mergers_acquisitions_predictions_spark.operators.curation import (
        select_canonicals,
    )

    clusters = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (4, 4), (5, 4), (6, 6)],
        ["doc_id", "cluster_id"],
    )
    # cluster 1: strict max at doc 2; cluster 4: tie -> min doc_id (4);
    # cluster 6: singleton.
    scored = spark.createDataFrame(
        [(1, 0.2), (2, 0.9), (3, 0.5), (4, 0.7), (5, 0.7), (6, 0.0)],
        ["doc_id", "quality"],
    )
    rows = {
        r.cluster_id: (r.canonical_id, r.quality, r.n_members)
        for r in select_canonicals(clusters, scored).collect()
    }
    assert rows == {1: (2, 0.9, 3), 4: (4, 0.7, 2), 6: (6, 0.0, 1)}


def test_snapshot_diff_statuses(spark):
    from mergers_acquisitions_predictions_spark.operators.curation import (
        snapshot_diff,
    )

    old = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], ["doc_id", "fp"]
    )
    new = spark.createDataFrame(
        [(1, "a"), (2, "B"), (4, "d")], ["doc_id", "fp"]
    )
    got = {r.doc_id: r.status for r in snapshot_diff(old, new).collect()}
    assert got == {1: "unchanged", 2: "changed", 3: "removed", 4: "added"}


def test_winnow_containment_catches_what_jaccard_misses(spark):
    """A lifted paragraph inside an otherwise-unrelated document:
    containment flags it; global Jaccard resemblance stays low."""
    from mergers_acquisitions_predictions_spark.operators.dedup import (
        jaccard_pairs,
        winnow_containment_pairs,
    )

    para = "the quick brown fox jumps over the lazy dog again and again"
    filler = " ".join(f"unrelated{i} filler{i} words{i}" for i in range(30))
    docs = spark.createDataFrame(
        [(0, para), (1, para + " " + filler), (2, filler + " totally other")],
        ["doc_id", "text"],
    )
    cont = {
        (r.a_id, r.b_id): r.containment
        for r in winnow_containment_pairs(docs, threshold=0.5).collect()
    }
    assert (0, 1) in cont and cont[(0, 1)] >= 0.9  # doc 0 ⊂ doc 1
    jac = {
        (r.a_id, r.b_id): r.jaccard
        for r in jaccard_pairs(docs, threshold=0.0, shingle_n=3).collect()
    }
    # resemblance between 0 and its containing doc is LOW — the class
    # split that motivates the containment operator
    assert jac.get((0, 1), 0.0) < 0.2


def test_dup_span_coverage_interval_union(spark):
    """Overlapping duplicated windows merge into one covered interval;
    within-doc-only repeats do not count; clean docs report zeroes."""
    from mergers_acquisitions_predictions_spark.operators.dedup import dup_span_coverage

    shared = "alpha beta gamma delta epsilon zeta"  # 6 tokens → 2 windows (w=5), union = 6 tokens
    docs = spark.createDataFrame(
        [
            (1, shared + " one two three"),
            (2, "x y " + shared),
            (3, "p q r s t u v w"),  # no cross-doc window
            (4, "rep rep rep rep rep rep rep"),  # within-doc repeat only
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r.asDict()
        for r in dup_span_coverage(docs, window=5).collect()
    }
    assert out[1]["dup_tokens"] == 6 and out[1]["dup_windows"] == 2
    assert out[2]["dup_tokens"] == 6
    assert out[3]["dup_tokens"] == 0 and out[3]["dup_fraction"] == 0.0
    assert out[4]["dup_tokens"] == 0  # countDistinct(doc) >= 2, not count >= 2
    assert abs(out[1]["dup_fraction"] - 6 / 9) < 1e-6


def test_table_profile_exact_and_approx_shapes(spark):
    from mergers_acquisitions_predictions_spark.operators.aggregates import table_profile

    df = spark.createDataFrame(
        [(1, 2.5, None), (2, 3.5, "b"), (2, None, "b")],
        "k long, v double, s string",
    )
    prof = {r["column"]: r.asDict() for r in table_profile(df).collect()}
    assert prof["k"]["ndv"] == 2 and prof["k"]["n_nonnull"] == 3
    assert prof["v"]["n_nonnull"] == 2 and prof["v"]["min_str"] == "2.50"
    assert prof["s"]["ndv"] == 1 and abs(prof["s"]["null_frac"] - 1 / 3) < 1e-6
    assert prof["k"]["min_str"] == "1" and prof["k"]["max_str"] == "2"
    # approx path: same schema, NDVs within HLL tolerance of exact
    ap = {r["column"]: r.asDict() for r in table_profile(df, approx=True).collect()}
    assert set(ap) == set(prof)
    for c in ap:
        assert abs(ap[c]["ndv"] - prof[c]["ndv"]) <= 1


def test_star_components_match_propagation_on_random_graphs(spark):
    """large-star/small-star labels == min-label-propagation labels on
    seeded random graphs (including singletons and multi-component)."""
    import random

    from mergers_acquisitions_predictions_spark.operators.dedup import (
        connected_components_star,
        dup_clusters,
    )

    rng = random.Random(7)
    n = 120
    nodes = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(90)]
    pairs = spark.createDataFrame(
        [(min(a, b), max(a, b)) for a, b in edges if a != b],
        "a_id long, b_id long",
    )
    star = {
        r["doc_id"]: r["cluster_id"]
        for r in connected_components_star(nodes, pairs).collect()
    }
    prop = {
        r["doc_id"]: r["cluster_id"] for r in dup_clusters(nodes, pairs).collect()
    }
    assert star == prop


def test_star_components_depth_independent_where_propagation_gives_up(spark):
    """A 512-node chain: diameter 511. Propagation needs >50 rounds
    (its default cap raises); the star algorithm converges in a
    handful of rounds and labels the whole chain with node 0."""
    import pytest as _pytest

    from mergers_acquisitions_predictions_spark.operators.dedup import (
        connected_components_star,
        dup_clusters,
    )

    n = 512
    nodes = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "a_id long, b_id long"
    )
    out = connected_components_star(nodes, chain, max_iter=12).collect()
    assert all(r["cluster_id"] == 0 for r in out) and len(out) == n
    with _pytest.raises(RuntimeError, match="did not converge"):
        dup_clusters(nodes, chain, max_iter=5)


def test_trim_dup_spans_keeps_first_occurrence(spark):
    """The (min doc, min pos) occurrence survives; every other
    occurrence's positions drop; reassembly preserves token order."""
    from mergers_acquisitions_predictions_spark.operators.dedup import trim_dup_spans

    docs = spark.createDataFrame(
        [
            (1, "a b c d e f"),
            (2, "z a b c d e"),
            (3, "q w e r t y"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r.asDict()
        for r in trim_dup_spans(docs, window=5, return_text=True).collect()
    }
    assert out[1]["n_dropped"] == 0 and out[1]["clean_text"] == "a b c d e f"
    assert out[2]["n_dropped"] == 5 and out[2]["clean_text"] == "z"
    assert out[3]["n_dropped"] == 0 and out[3]["clean_text"] == "q w e r t y"
    import hashlib

    assert out[2]["clean_fp"] == hashlib.md5(b"z").hexdigest()


def test_memoized_literal_session_scoped(spark):
    """Same key + live session -> the SAME Column object (no py4j
    rebuild); different key -> a different build. The cache key
    includes applicationId so Columns never leak across sessions."""
    from mergers_acquisitions_predictions_spark.operators.util import (
        _LITERAL_MEMO,
        memoized_literal,
    )
    from pyspark.sql import functions as F

    calls = []

    def build():
        calls.append(1)
        return F.lit(1.0)

    a = memoized_literal(("t_memo", 1), build)
    b = memoized_literal(("t_memo", 1), build)
    c = memoized_literal(("t_memo", 2), build)
    assert a is b and len(calls) == 2 and c is not a
    app = spark.sparkContext.applicationId
    assert (app, ("t_memo", 1)) in _LITERAL_MEMO


def test_stratified_split_exact_quotas_and_determinism(spark):
    """Exact-proportion contract: per stratum, each split's size is
    the quota-cutoff arithmetic exactly (so within ±1 row of frac·n);
    assignment is a pure function of (seed, key) — invariant under
    repartitioning — and changing the seed moves members."""
    import math

    from mergers_acquisitions_predictions_spark.operators.curation import (
        stratified_split,
    )
    from mergers_acquisitions_predictions_spark.sources.readers import load_table

    d = load_table(spark, "/root/testdata/sf0.01", "documents")
    fr = [("train", 0.8), ("val", 0.1), ("test", 0.1)]
    s = stratified_split(d, ["lang"], fr, "doc_id", seed=7)
    rows = s.groupBy("lang", "split").count().collect()
    per = {}
    for r in rows:
        per.setdefault(r["lang"], {})[r["split"]] = r["count"]
    for lang, m in per.items():
        n = sum(m.values())
        cum = 0.0
        prev = 0
        for name, frac in fr[:-1]:
            cum += frac
            cutoff = math.floor(n * cum + 0.5)
            assert m.get(name, 0) == cutoff - prev, (lang, name, m)
            prev = cutoff
        assert m.get(fr[-1][0], 0) == n - prev
        for name, frac in fr:
            assert abs(m.get(name, 0) - frac * n) <= 1
    # repartition-invariance: membership identical under a different
    # physical layout
    a = {(r["doc_id"], r["split"]) for r in s.select("doc_id", "split").collect()}
    s2 = stratified_split(d.repartition(13, "doc_id"), ["lang"], fr, "doc_id", seed=7)
    b = {(r["doc_id"], r["split"]) for r in s2.select("doc_id", "split").collect()}
    assert a == b
    # a different seed must actually reshuffle membership
    s3 = stratified_split(d, ["lang"], fr, "doc_id", seed=8)
    c = {(r["doc_id"], r["split"]) for r in s3.select("doc_id", "split").collect()}
    assert a != c
    # coverage is total and single-valued
    assert len(a) == d.count()


def test_stratified_split_rejects_bad_fractions(spark):
    import pytest as _pytest

    from mergers_acquisitions_predictions_spark.operators.curation import (
        stratified_split,
    )
    from mergers_acquisitions_predictions_spark.sources.readers import load_table

    d = load_table(spark, "/root/testdata/sf0.001", "documents")
    with _pytest.raises(ValueError):
        stratified_split(d, ["lang"], [("a", 0.5), ("b", 0.4)], "doc_id")


def test_shuffle_shards_balance_and_replayability(spark):
    """Epoch-shuffle contract: shard sizes balanced to ±1, positions
    are a permutation of 1..n, membership is repartition-invariant,
    and a new seed is a genuinely different epoch order."""
    from mergers_acquisitions_predictions_spark.operators.curation import (
        shuffle_shards,
    )
    from mergers_acquisitions_predictions_spark.sources.readers import load_table

    d = load_table(spark, "/root/testdata/sf0.01", "documents")
    n = d.count()
    s = shuffle_shards(d, "doc_id", 8, seed=1)
    rows = s.select("doc_id", "position", "shard").collect()
    assert sorted(r["position"] for r in rows) == list(range(1, n + 1))
    sizes = {}
    for r in rows:
        sizes[r["shard"]] = sizes.get(r["shard"], 0) + 1
        assert r["shard"] == (r["position"] - 1) % 8
    assert max(sizes.values()) - min(sizes.values()) <= 1 and len(sizes) == 8
    a = {(r["doc_id"], r["position"]) for r in rows}
    s2 = shuffle_shards(d.repartition(17, "doc_id"), "doc_id", 8, seed=1)
    assert {(r["doc_id"], r["position"]) for r in s2.select("doc_id", "position").collect()} == a
    s3 = shuffle_shards(d, "doc_id", 8, seed=2)
    assert {(r["doc_id"], r["position"]) for r in s3.select("doc_id", "position").collect()} != a


def test_stratified_split_tiny_strata_and_shuffle_shards_excess_shards(spark):
    """Degenerate shapes: a 1-row stratum goes entirely to the first
    split whose cumulative quota reaches 1 (never lost, never
    double-assigned); n_shards > n rows leaves high shards empty
    while filled shards still hold exactly one row each; n_shards=1
    is the identity deal; n_shards=0 rejects."""
    import pytest as _pytest

    from mergers_acquisitions_predictions_spark.operators.curation import (
        shuffle_shards,
        stratified_split,
    )

    d = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "b"), (4, "c"), (5, "c"), (6, "c")],
        "doc_id long, lang string",
    )
    fr = [("train", 0.8), ("val", 0.1), ("test", 0.1)]
    rows = stratified_split(d, ["lang"], fr, "doc_id").collect()
    assert len(rows) == 6 and all(r["split"] in {"train", "val", "test"} for r in rows)
    # the 1-row stratum: floor(1*0.8+0.5)=1 -> train
    assert [r["split"] for r in rows if r["lang"] == "a"] == ["train"]

    s = shuffle_shards(d, "doc_id", 50)
    got = s.collect()
    assert sorted(r["position"] for r in got) == list(range(1, 7))
    assert all(r["shard"] == (r["position"] - 1) % 50 for r in got)
    one = shuffle_shards(d, "doc_id", 1).collect()
    assert {r["shard"] for r in one} == {0}
    with _pytest.raises(ValueError):
        shuffle_shards(d, "doc_id", 0)
