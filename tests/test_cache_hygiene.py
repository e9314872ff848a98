"""Persisted intermediates must not outlive the plans that need them:
operators that `.persist()` (LSH banding, Jaccard postings) tie the
cache to the returned DataFrame via `own_caches`, so a long-lived
session running many queries back-to-back (the driver harness runs
50+) sees no cached-partition growth once results are dropped.
"""

from __future__ import annotations

import gc

from mergers_acquisitions_predictions_spark.operators.util import (
    release_memoized_frames,
)
from mergers_acquisitions_predictions_spark.plans import QUERIES

from .conftest import SF_SMOKE


def _n_cached_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def _quiescent_cached_rdds(spark, timeout_s: float = 5.0) -> int:
    """Cached-RDD count once async releases settle. Finalizers call
    `unpersist(blocking=False)`, and a gc.collect() here may also be
    the first collection of a PREVIOUS module's dropped frames — so a
    count read immediately after gc can still be draining. Collect,
    then poll until the count holds steady for two consecutive reads."""
    import time

    gc.collect()
    deadline = time.monotonic() + timeout_s
    prev = _n_cached_rdds(spark)
    stable = 0
    while time.monotonic() < deadline:
        # Nudge the ContextCleaner: localCheckpoint RDDs (dup_clusters'
        # final round) unregister only after JVM GC notices them.
        spark.sparkContext._jvm.System.gc()
        time.sleep(0.25)
        cur = _n_cached_rdds(spark)
        # Require THREE consecutive equal reads: a queued
        # unpersist(blocking=False) behind a busy scheduler can hold
        # the old count across one 0.25 s poll, and a baseline read
        # that lands mid-drain poisons every later equality assert.
        stable = stable + 1 if cur == prev else 0
        if stable >= 2:
            return cur
        prev = cur
    return prev


def _drains_to(spark, target: int, timeout_s: float = 15.0) -> bool:
    """Poll until the cached-RDD count reaches ``target`` (True) or
    the timeout expires (False). Sharper than `_quiescent_cached_rdds`
    for equality asserts: that helper exits on ANY two equal
    consecutive reads, and a `unpersist(blocking=False)` queued behind
    a busy scheduler (e.g. a second pytest JVM saturating the host)
    can hold the old count steady across several 0.25 s polls —
    observed once as a spurious 'leak' of 1. A true leak still fails:
    the count never reaches target and the timeout trips."""
    import time

    gc.collect()
    deadline = time.monotonic() + timeout_s
    while time.monotonic() < deadline:
        if _n_cached_rdds(spark) == target:
            return True
        spark.sparkContext._jvm.System.gc()
        time.sleep(0.25)
    return _n_cached_rdds(spark) == target


def test_dedup_sweep_releases_caches(spark):
    """Run every persist-using dedup query, drop the results, release
    the deliberate session-index cache (the memoized banded frame
    d02/d06 now share), and assert the persistent-RDD map returns to
    its starting size — i.e. nothing UNOWNED leaked."""
    release_memoized_frames()
    before = _quiescent_cached_rdds(spark)
    # d09 exercises the localCheckpoint-per-round release in
    # dup_clusters (one leaked RDD per propagation round otherwise).
    for name in (
        "d02_minhash_lsh_pairs",
        "d03_jaccard_pairs",
        "d06_lsh_verified_neardups",
        "d09_dup_clusters",
        "d13_simhash_neardups",  # persists the sketch frame
        "t18_sequence_packing",  # owns the prefix-sum localCheckpoint
        "t19_quality_rank_filter",  # owns the global-rank localCheckpoint
        "t23_interleaved_order",  # owns the global-rank localCheckpoint
    ):
        df = QUERIES[name](spark, SF_SMOKE)
        assert df.count() >= 0
        del df
    release_memoized_frames()
    assert _quiescent_cached_rdds(spark) == before


def test_cache_alive_while_result_referenced(spark):
    """The own_caches mechanism itself, on an UNKEYED operator call
    (registered queries now use the session cache instead): the cache
    must NOT be released while the returned plan is still referenced
    (the whole point of persisting the banded frame), and must be
    released when it dies."""
    from mergers_acquisitions_predictions_spark.operators.dedup import (
        lsh_candidate_pairs,
    )
    from mergers_acquisitions_predictions_spark.sources.readers import load_table

    before = _quiescent_cached_rdds(spark)
    d = load_table(spark, SF_SMOKE, "documents")
    df = lsh_candidate_pairs(d, "text", "doc_id", n_bands=4, rows_per_band=2)
    assert df.count() >= 0
    gc.collect()
    assert _n_cached_rdds(spark) > before  # banded frame still cached
    del df
    assert _quiescent_cached_rdds(spark) == before


def test_ownership_transfers_through_composition(spark):
    """Composing operators must transfer cache ownership to the final
    result: the intermediate candidate frame dies inside the
    composition — its caches must survive until the FINAL result is
    dropped (else the verify join recomputes the banded lineage from
    scratch). Exercised on UNKEYED calls (the registered d06 now
    routes the banded frame through the session cache instead)."""
    from pyspark.sql import functions as F

    from mergers_acquisitions_predictions_spark.functions.text import (
        shingles,
        tokenize,
    )
    from mergers_acquisitions_predictions_spark.operators.dedup import (
        jaccard_verify_pairs,
        lsh_candidate_pairs,
    )
    from mergers_acquisitions_predictions_spark.operators.util import own_caches
    from mergers_acquisitions_predictions_spark.sources.readers import load_table

    gc.collect()
    d = load_table(spark, SF_SMOKE, "documents")
    cand = lsh_candidate_pairs(d, "text", "doc_id", n_bands=4, rows_per_band=2)
    sh = (
        d.select("doc_id", tokenize(F.col("text")).alias("__tok"))
        .select(F.col("doc_id").alias("doc"), shingles(F.col("__tok"), 3).alias("sh"))
        .persist()
    )
    df = own_caches(jaccard_verify_pairs(cand, sh, threshold=0.1), cand, sh)
    del cand, sh  # die inside the composition — ownership must have moved
    gc.collect()
    # Two caches owned: the banded frame (from lsh_candidate_pairs,
    # transferred through the candidate frame) and the shingles frame.
    assert len(df._owned_caches) == 2
    for cached in df._owned_caches:
        lvl = cached.storageLevel
        assert lvl.useMemory or lvl.useDisk


def test_mllib_fits_leave_no_cached_blocks(spark):
    """MLlib estimators persist their input internally when it isn't
    cached (handlePersistence) — and those blocks were observed
    outliving the fit across a 110-query sweep. util.fit_released
    owns the handle instead; this guards every fit-bearing query."""
    import gc
    import time

    for name in (
        "m02_lr_confusion",
        "m05_kmeans_clusters",
        "m08_pca_whiten",
        "s05_ivf_kmeans_topk",
        "s19_sampled_kmeans_topk",  # the sampled-fit branch's KMeans
    ):
        QUERIES[name](spark, SF_SMOKE).count()
    # Session-scoped memoized index frames (the LSH bucket cache) are
    # DELIBERATE long-lived caches, not leaks; drop them so the
    # zero-storage assertion below sees only fit leftovers.
    release_memoized_frames()
    gc.collect()
    sc = spark.sparkContext
    for _ in range(24):
        if not sc._jsc.sc().getRDDStorageInfo():
            break
        time.sleep(0.5)
    left = sc._jsc.sc().getRDDStorageInfo()
    assert not left, [x.name()[:90] for x in left]


def test_memoized_bucket_frame_is_transparent(spark):
    """The session-scoped LSH bucket cache (util.memoized_frame) must
    be a pure perf knob: (a) repeat invocations return bit-identical
    results; (b) an external clearCache() — the bench harness does
    this between passes — must not change results (the memo
    re-registers and rebuilds); (c) release_memoized_frames() returns
    storage to baseline."""
    import pandas as pd

    release_memoized_frames()
    before = _quiescent_cached_rdds(spark)

    def frame():
        df = QUERIES["s03_lsh_ann_topk"](spark, SF_SMOKE).toPandas()
        return df.sort_values(list(df.columns)).reset_index(drop=True)

    first = frame()
    assert _n_cached_rdds(spark) > before  # bucket frame cached
    pd.testing.assert_frame_equal(first, frame())  # warm hit
    spark.catalog.clearCache()
    pd.testing.assert_frame_equal(first, frame())  # post-clearCache rebuild
    release_memoized_frames()
    assert _quiescent_cached_rdds(spark) == before


def test_memoized_frame_eviction_bound(spark):
    """The session frame cache is BOUNDED: past _FRAME_MEMO_MAX live
    entries the oldest is unpersisted and dropped, and a re-request
    transparently rebuilds it (perf knob, never correctness)."""
    from pyspark.sql import functions as F

    from mergers_acquisitions_predictions_spark.operators import util as U

    release_memoized_frames()
    base = spark.range(100)

    def build(i):
        return lambda: base.select(
            F.col("id"), (F.col("id") * i).alias("v")
        )

    frames = [
        U.memoized_frame(("evict-test", i), build(i))
        for i in range(U._FRAME_MEMO_MAX + 2)
    ]
    live = [k for k in U._FRAME_MEMO if k[1][:1] == ("evict-test",)]
    assert len(live) <= U._FRAME_MEMO_MAX
    # the two oldest were evicted AND unpersisted
    evicted_lvl = frames[0].storageLevel
    assert not (evicted_lvl.useMemory or evicted_lvl.useDisk)
    # a re-request rebuilds with correct content
    again = U.memoized_frame(("evict-test", 0), build(0))
    assert again.count() == 100
    assert [r.v for r in again.orderBy("id").limit(3).collect()] == [0, 0, 0]
    release_memoized_frames()


def test_memoized_frame_sees_source_mutation(spark, tmp_path):
    """VERDICT r5 #5 / ADVICE r5: overwriting a corpus parquet
    mid-session must invalidate the memo — the key's absolute-path
    elements contribute a content fingerprint, so the stale persisted
    frame is unpersisted and the next call rebuilds from the NEW
    files. (Engine contract: corpus identity = path + content, not
    path alone.) The overwrite here is FOREIGN (raw spark.write, not
    an engine sink) and is seen at the very next access."""
    from pyspark.sql import functions as F

    from mergers_acquisitions_predictions_spark.operators import util as U

    release_memoized_frames()
    before = _quiescent_cached_rdds(spark)
    src = str(tmp_path / "corpus.parquet")
    spark.range(10).withColumn("v", F.col("id") * 2).write.mode(
        "overwrite"
    ).parquet(src)

    def build():
        return spark.read.parquet(src).groupBy().agg(
            F.sum("v").alias("total")
        )

    key = ("mutation-test", src)
    first = U.memoized_frame(key, build)
    assert first.collect()[0]["total"] == 90
    # Overwrite the source in-session: the engine must NOT serve the
    # stale frame.
    spark.range(10).withColumn("v", F.col("id") * 10).write.mode(
        "overwrite"
    ).parquet(src)
    second = U.memoized_frame(key, build)
    assert second is not first
    assert second.collect()[0]["total"] == 450
    # the displaced stale frame was unpersisted, not leaked: exactly
    # one persisted RDD remains (the fresh one). NOTE storageLevel on
    # the stale HANDLE is not probative — Spark resolves it by
    # canonicalized plan, which aliases to the fresh cache entry.
    assert _quiescent_cached_rdds(spark) == before + 1
    # unchanged source: still a cache hit
    assert U.memoized_frame(key, build) is second
    release_memoized_frames()
    assert _quiescent_cached_rdds(spark) == before


def test_memoized_frame_concurrent_misses_no_leak(spark):
    """ADVICE r5 (hardened round 6): driver threads missing on the
    same key must produce ONE build, ONE persisted frame, and a clean
    RDD-storage map after release. The original
    build-then-loser-unpersists design intermittently leaked here
    under the 4-thread race (CacheManager entries are plan-keyed, so
    loser unpersists and hit-path re-persists interleave badly — seen
    twice in full-suite runs); misses now serialize on a per-key
    build event, so this test is the regression guard for that
    mechanism. Three rounds with clearCache between them also
    exercise the re-register path under concurrency."""
    import threading

    from pyspark.sql import functions as F

    from mergers_acquisitions_predictions_spark.operators import util as U

    release_memoized_frames()
    before = _quiescent_cached_rdds(spark)
    build_calls = []

    def build():
        build_calls.append(1)
        return spark.range(1000).withColumn("v", F.col("id") % 7)

    for _round in range(3):
        barrier = threading.Barrier(6)
        results = []

        def worker():
            barrier.wait()
            f = U.memoized_frame(("concurrent-test",), build)
            results.append((f, f.count()))

        threads = [threading.Thread(target=worker) for _ in range(6)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        assert [n for _, n in results] == [1000] * 6
        live = [k for k in U._FRAME_MEMO if k[1] == ("concurrent-test",)]
        assert len(live) == 1
        del results
        # next round starts with dropped blocks but a live memo entry:
        # the winner's handle re-registers (possibly concurrently)
        spark.catalog.clearCache()
    assert len(build_calls) == 1  # one build total: waiters waited
    release_memoized_frames()
    assert _drains_to(spark, before), [
        x.name()[:120] for x in spark.sparkContext._jsc.sc().getRDDStorageInfo()
    ]


def test_fingerprint_sees_foreign_overwrite_at_next_access(tmp_path, monkeypatch):
    """The fingerprint is a plain walk on every access: no cache, so
    an overwrite by any writer is seen by the very next access, with
    no invalidation call. No Spark needed."""
    import os as _os

    from mergers_acquisitions_predictions_spark.operators import util as U

    p = str(tmp_path / "src")
    _os.makedirs(p)
    with open(_os.path.join(p, "part-0.parquet"), "wb") as f:
        f.write(b"x" * 64)
    walks = []
    real_walk = _os.walk

    def counting_walk(top, *a, **kw):
        walks.append(top)
        return real_walk(top, *a, **kw)

    monkeypatch.setattr(U.os, "walk", counting_walk)
    fp1 = U.source_fingerprint(("k", p))
    assert fp1 == U.source_fingerprint(("k", p))
    assert walks.count(p) == 2
    with open(_os.path.join(p, "part-0.parquet"), "wb") as f:
        f.write(b"y" * 65)
    fp2 = U.source_fingerprint(("k", p))
    assert fp2 != fp1 and fp2[0][:2] == (1, 65)
    assert U.source_fingerprint(("k", str(tmp_path / "gone"))) == (("absent",),)


def test_engine_publish_invalidates_fingerprints_despite_ttl(spark, tmp_path):
    """The engine's own sinks are seen IMMEDIATELY: a
    publish_parquet_atomic over a memoized frame's source must make
    the very next memo access rebuild, with no writer-side hook into
    the memo layer."""
    from pyspark.sql import functions as F

    from mergers_acquisitions_predictions_spark.operators import util as U
    from mergers_acquisitions_predictions_spark.sources.writers import (
        publish_parquet_atomic,
    )

    release_memoized_frames()
    src = str(tmp_path / "corpus.parquet")
    publish_parquet_atomic(spark.range(10).withColumn("v", F.col("id") * 2), src)

    def build():
        return spark.read.parquet(src).groupBy().agg(F.sum("v").alias("t"))

    key = ("ttl-test", src)
    first = U.memoized_frame(key, build)
    assert first.collect()[0]["t"] == 90
    publish_parquet_atomic(spark.range(10).withColumn("v", F.col("id") * 10), src)
    second = U.memoized_frame(key, build)
    assert second is not first
    assert second.collect()[0]["t"] == 450
    release_memoized_frames()


def test_double_literal_helpers_bit_equal_and_fallback(spark):
    """The one-literal construction must be BIT-EQUAL to the
    element-wise F.lit tree (repr is the shortest round-trip form and
    reads back exactly), including exponent-form reprs, and must fall
    back to the F.lit tree for non-finite values."""
    import math

    from pyspark.sql import functions as F

    from mergers_acquisitions_predictions_spark.operators.util import (
        double_array_literal,
        double_matrix_literal,
    )

    vals = [0.1, -3.2e16, 1e-05, 2.0, -0.0, 123456.789012345, 5e-324]
    row = (
        spark.range(1)
        .select(
            double_array_literal(vals).alias("fast"),
            F.array(*[F.lit(float(x)) for x in vals]).alias("slow"),
        )
        .first()
    )
    assert list(row["fast"]) == list(row["slow"])
    mat = [vals, [x * 7.0 for x in vals]]
    row2 = (
        spark.range(1)
        .select(
            double_matrix_literal(mat).alias("fast"),
            F.array(
                *[F.array(*[F.lit(float(x)) for x in r]) for r in mat]
            ).alias("slow"),
        )
        .first()
    )
    assert [list(r) for r in row2["fast"]] == [list(r) for r in row2["slow"]]
    # non-finite: falls back to the Literal tree and still carries NaN
    got = (
        spark.range(1)
        .select(double_array_literal([1.0, float("nan")]).alias("a"))
        .first()["a"]
    )
    assert got[0] == 1.0 and math.isnan(got[1])


def test_array_literal_is_one_folded_bit_exact_constant(spark):
    """`util.array_literal` (behind `double_array_literal` /
    `double_matrix_literal`): the Column is not an unparsed SQL text
    (Spark 4.1 re-parses an ``F.expr`` at every Dataset use), the
    values come back bit-for-bit — sign of -0.0, the smallest
    subnormal and the largest double included, at 1-, 2- and 3-level
    nesting and as bigints — and the optimized plan of a multi-row
    select holds the folded constant, not a per-row ``from_json``."""
    import struct

    from pyspark.sql import functions as F

    from mergers_acquisitions_predictions_spark.operators.util import (
        array_literal,
        double_array_literal,
        double_matrix_literal,
    )

    def bits(v):
        if isinstance(v, list):
            return [bits(x) for x in v]
        return struct.pack(">d", v)

    edge = [-0.0, 0.0, 5e-324, 1.7976931348623157e308, -2.5e-310, 0.1, 1 / 3]
    vals = edge + [i * 1.0000000000000002e-3 for i in range(2000)]
    mat = [vals[:40], [-x for x in vals[:40]]]
    ten = [[[-0.0, 5e-324], [1.7976931348623157e308, 0.1]], [[2.0, -3.5], [1e-300, 7.0]]]
    ids = [3, 2**62, -1, 0]
    cols = {
        "a": double_array_literal(vals),
        "m": double_matrix_literal(mat),
        "t": array_literal(ten, "array<array<array<double>>>"),
        "i": array_literal(ids, "array<bigint>"),
    }
    for c in cols.values():
        assert "SqlExpression" not in c._jc.node().getClass().getName()
    row = spark.range(1).select(*[c.alias(n) for n, c in cols.items()]).first()
    assert bits(list(row["a"])) == bits(vals)
    assert bits([list(r) for r in row["m"]]) == bits(mat)
    assert bits([[list(c) for c in b] for b in row["t"]]) == bits(ten)
    assert list(row["i"]) == ids

    used = spark.range(50).select(
        "id",
        F.element_at(cols["a"], (F.col("id") + 1).cast("int")).alias("v"),
        F.element_at(cols["m"], 2)[F.col("id") % 40].alias("w"),
    )
    plan = used._jdf.queryExecution().optimizedPlan().toString().lower()
    assert "from_json" not in plan and "jsontostructs" not in plan, plan[:400]
    got = sorted(used.collect())
    assert bits([r["v"] for r in got]) == bits(vals[:50])
    assert bits([r["w"] for r in got]) == bits([-x for x in vals[:40]] * 2)[:50]
