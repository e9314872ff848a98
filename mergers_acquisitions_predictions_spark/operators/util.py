"""Physical-layout helpers shared by CPU-heavy operators."""

from __future__ import annotations

import os
import threading
import weakref

from pyspark.sql import Column, DataFrame


def _owner_lists(result: DataFrame) -> tuple[list[DataFrame], list]:
    """The (caches, checkpoint-jdfs) lists released when ``result``'s
    Python object dies. Created (with ONE finalizer) on first use;
    subsequent own_* calls on the same result extend the same lists —
    the finalizer captures the list objects, so growth is seen."""
    caches = getattr(result, "_owned_caches", None)
    ckpts = getattr(result, "_owned_ckpts", None)
    if caches is None:
        caches, ckpts = [], []
        result._owned_caches = caches
        result._owned_ckpts = ckpts

        def _release(caches: list[DataFrame] = caches, ckpts: list = ckpts) -> None:
            for c in caches:
                try:
                    c.unpersist(blocking=False)
                except Exception:  # session already stopped — nothing to free
                    pass
            for j in ckpts:
                release_local_checkpoint(j)

        weakref.finalize(result, _release)
    return caches, ckpts


def own_caches(result: DataFrame, *frames: DataFrame) -> DataFrame:
    """Tie persisted ``frames`` to ``result``'s lifetime: when the
    Python object for ``result`` is garbage-collected, each frame is
    unpersisted — so operators can persist reused intermediates (the
    LSH banded frame, the Jaccard postings frame) without leaking
    cached partitions across a long-lived session that runs many
    queries back-to-back (the driver harness runs 50+).

    Ownership TRANSFERS through composition: if a frame in ``frames``
    itself owns caches or localCheckpoints (it came from an operator
    that called own_caches / own_local_checkpoint), those move to
    ``result`` and the intermediate's own finalizer becomes a no-op —
    a wrapper plan dying early inside a composing operator (e.g. the
    candidate frame inside lsh-then-verify) can then never release a
    cache the final plan still needs. For plain persists this is a
    perf knob, never correctness (a released plan silently
    recomputes); for inherited CHECKPOINTS the transfer is load-
    bearing — see own_local_checkpoint."""
    owned, ckpts = _owner_lists(result)
    for f in frames:
        inherited = getattr(f, "_owned_caches", None)
        if inherited:
            owned.extend(inherited)
            inherited.clear()
        ick = getattr(f, "_owned_ckpts", None)
        if ick:
            ckpts.extend(ick)
            ick.clear()
        lvl = f.storageLevel
        if lvl.useMemory or lvl.useDisk:
            owned.append(f)
    return result


def release_local_checkpoint(jdf) -> None:
    """Deterministically free a ``localCheckpoint(eager=True)``
    DataFrame's cached blocks. Spark only releases checkpoint RDDs via
    the ContextCleaner when the JVM object is garbage-collected — in a
    tight iterative loop (label propagation) that lets every round's
    blocks pile up in the block manager for an unbounded while. The
    checkpointed RDD is reachable through the plan's LogicalRDD node;
    unpersisting it drops the blocks NOW.

    Takes the py4j ``_jdf`` (not the Python DataFrame) so a
    weakref.finalize on the consuming result can hold it without
    keeping the whole Python object graph alive. After release the
    frame is NOT recomputable (checkpointing truncated its lineage) —
    only call on frames no plan will read again."""
    try:
        jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:  # plan shape changed or session gone — best-effort
        pass


def own_local_checkpoint(result: DataFrame, checkpointed: DataFrame) -> DataFrame:
    """Tie a ``localCheckpoint(eager=True)`` frame's blocks to
    ``result``'s lifetime, mirroring ``own_caches`` for checkpoints:
    when the Python object for ``result`` is collected, the checkpoint
    RDD is unpersisted immediately instead of waiting for the JVM
    ContextCleaner to notice the dead reference (which can take until
    the next full GC in a long-lived driver session).

    Sharper contract than plain persists: a released CHECKPOINT cannot
    recompute (lineage truncated), so a composing operator that
    derives a new plan from ``result`` and drops it MUST transfer
    ownership (``own_caches(final, result)`` inherits it) or the
    finalizer poisons the survivor. Holds only the py4j ``_jdf`` so
    the finalizer does not keep the Python plan graph alive."""
    _, ckpts = _owner_lists(result)
    ckpts.append(checkpointed._jdf)
    return result


def repartition_for_compute(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Round small inputs up to cluster parallelism before expression-
    heavy per-row work (hashing, shingling).

    A 15 MB parquet file arrives as ONE split (`maxPartitionBytes`),
    which serializes minutes of per-row hashing onto a single core. At
    real scale inputs have many splits and this is a no-op; locally it
    is the difference between 1× and 32× CPU. The round-robin shuffle
    it inserts moves only the small input once, before the expensive
    projection."""
    if df.isStreaming:  # partitioning is the source's concern per micro-batch
        return df
    spark = df.sparkSession
    target = min_partitions or spark.sparkContext.defaultParallelism
    # Estimate the scan's split count from optimizer statistics instead
    # of df.rdd.getNumPartitions(): touching .rdd forces full PHYSICAL
    # planning (and codegen) per call, measurable at interactive scale;
    # stats().sizeInBytes comes from the analyzed/optimized plan only
    # (file-listing sizes for file sources, row estimates otherwise).
    try:
        size = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        max_bytes = int(
            spark._jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
                spark.conf.get("spark.sql.files.maxPartitionBytes", "128m")
            )
        )
        est_splits = max(1, -(-size // max_bytes))
    except Exception:  # non-SQL plan or py4j shape change: assume small
        est_splits = 1
    if est_splits < target:
        return df.repartition(target)
    return df


def hof_bind(expr, body):
    """Evaluate ``expr`` ONCE per row and hand it to ``body`` as a
    higher-order-function LAMBDA VARIABLE:
    ``element_at(transform(array(expr), x -> body(x)), 1)``.

    The HOF-barrier lesson (SCALE.md §7o-r9 addendum, found by
    thread-dumping a wedged 1M index build): higher-order functions
    run on the INTERPRETED expression path, where a composed input
    expression — one the caller spliced into the lambda body as a
    Column, or one CollapseProject inlined from an adjacent
    projection — is RE-EVALUATED on every lambda element that reads
    it. Composing `encode(unit(v))` therefore re-derives the full
    unit transform per output code dimension (d² work per row, d³
    when the norm fold is inlined too). A lambda VARIABLE, by
    contrast, is a bound VALUE: the outer transform here evaluates
    its one-element input array once, and every read of ``x`` inside
    ``body`` is an O(1) variable lookup. Plan-level barriers
    (Exchange, Generate, a persisted frame) achieve the same thing
    between OPERATORS; this is the expression-level form for when no
    such barrier exists or inserting one would add a shuffle.

    Bit-identical by construction — same scalar arithmetic, only the
    evaluation COUNT changes (the idiom t16's top-bigram scan has
    used since round 6; `element_at` on the `transform` result is not
    subject to the `element_at(array(...), i)` constant-fold rewrite,
    so the optimizer cannot undo the binding)."""
    from pyspark.sql import functions as F

    return F.element_at(F.transform(F.array(expr), body), 1)


def fit_released(estimator, dataset: DataFrame):
    """Fit an MLlib estimator with OUR persistence handle. Estimators
    cache an uncached input internally (handlePersistence) and release
    it on paths that can outlive the fit in a long-lived session
    (observed: LR's sampled train split and KMeans' feature projection
    still cached after a 110-query registry sweep). Persisting the
    input first makes MLlib skip its internal cache entirely, and the
    finally puts the release on OUR exit path.

    A dataset the CALLER already persisted is used as-is: the caller
    owns that handle (unpersisting here would silently drop a cache
    the caller created for post-fit transforms)."""
    lvl = dataset.storageLevel
    if lvl.useMemory or lvl.useDisk:
        return estimator.fit(dataset)
    dataset = dataset.persist()
    try:
        return estimator.fit(dataset)
    finally:
        dataset.unpersist(blocking=False)


def array_literal(values, ddl: str) -> Column:
    """A nested array constant of type ``ddl`` — ``array<`` ... ``>``
    around a ``double`` or ``bigint`` leaf, at any depth — as ONE string
    literal read by ``from_json``: the Column holds a single
    ``Literal`` whatever the element count, and ConstantFolding turns
    the ``from_json`` into one array ``Literal`` when the plan is
    optimized, so the JSON is parsed once per query execution, never
    per row. Nothing is parsed again when a Dataset operation re-uses
    the Column (an ``F.expr`` text stays an unparsed expression that
    Spark 4.1's Column API hands to the SQL parser at every use).
    Doubles are written by ``repr`` (shortest round-trip form) and read
    back as the IDENTICAL IEEE values, the sign of -0.0 and subnormals
    included. Double leaves are coerced with ``float``, bigint leaves
    with ``int``. A double table holding a non-finite value is built
    element-wise instead (a tree of ``F.lit`` Literals carries NaN and
    ±inf exactly); JSON has no spelling for them."""
    import json

    from pyspark.sql import functions as F

    depth = ddl.count("<")
    leaf = {"double": float, "bigint": int}[ddl.rstrip(">").rsplit("<", 1)[-1]]

    def coerce(v, d):
        return leaf(v) if d == 0 else [coerce(x, d - 1) for x in v]

    def tree(v, d):
        return F.lit(v) if d == 0 else F.array(*[tree(x, d - 1) for x in v])

    vals = coerce(values, depth)
    try:
        text = json.dumps(vals, allow_nan=False)
    except ValueError:  # a non-finite double
        return tree(vals, depth)
    return F.from_json(F.lit(text), ddl)


def double_array_literal(values) -> Column:
    """``values`` as one ``array<double>`` constant (`array_literal`):
    bit-exact, one folded Literal per plan, non-finite values kept
    through the element-wise fallback."""
    return array_literal(values, "array<double>")


def double_matrix_literal(rows) -> Column:
    """``rows`` as one ``array<array<double>>`` constant
    (`array_literal`) — the centroid-table / PCA-weights shape."""
    return array_literal(rows, "array<array<double>>")


def run_overlapped(*thunks):
    """Run independent job-submitting thunks from a driver thread pool
    so one job's straggler tail back-fills with the next job's tasks
    (guide §2.6 — the s35/s45/s47 build-overlap pattern).
    ONLY for thunks whose Spark actions are pairwise independent AND
    write disjoint artifacts: concurrent writes into one directory
    share the FileOutputCommitter staging dir (the s18 hazard — a
    correctness bug, not a tuning choice). Each thunk is wrapped with
    `pyspark.util.inheritable_thread_target(session)` for the active
    session, so JVM thread-local job properties (job group/description,
    scheduler pool) AND the session's job tags propagate to the worker
    threads under pinned-thread mode — job attribution and group
    cancellation keep working. Returns results in thunk order (``[]``
    for no thunks); the first exception propagates after every thunk
    has finished (no artifact is left mid-write by a sibling's
    failure)."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.sql import SparkSession
    from pyspark.util import inheritable_thread_target

    if not thunks:
        return []
    session = SparkSession.getActiveSession()
    wrap = inheritable_thread_target if session is None else inheritable_thread_target(session)
    if wrap is session:  # pinned-thread mode off: nothing to inherit
        wrap = lambda t: t  # noqa: E731
    with ThreadPoolExecutor(max_workers=len(thunks)) as pool:
        futs = [pool.submit(wrap(t)) for t in thunks]
        results, first_err = [], None
        for f in futs:
            try:
                results.append(f.result())
            except BaseException as e:  # keep draining: siblings finish
                if first_err is None:
                    first_err = e
                results.append(None)
        if first_err is not None:
            raise first_err
        return results


def bounded_collect(df: DataFrame, bound: int, what: str) -> list:
    """The rows of ``df`` collected to the driver in ONE job, or a
    ValueError ``"<what> exceeds <bound> rows"`` when there are more
    than ``bound``. A root ``limit(bound + 1)`` alone plans as
    CollectLimit, which scans partitions in scale-up rounds — one job
    per round, so a many-partition input costs several jobs;
    ``coalesce(1)`` ahead of the limit makes it one task in one job.
    Meant for driver-sized inputs (serving batches, broadcast sides),
    whose last stage that single task reads in full."""
    rows = df.coalesce(1).limit(bound + 1).collect()
    if len(rows) > bound:
        raise ValueError(
            f"{what} exceeds {bound} rows — the rows are collected to the "
            "driver; split the input into smaller batches"
        )
    return rows


def local_rows_df(spark, rows: list, schema) -> DataFrame:
    """DataFrame over a small DRIVER-side row list (index artifacts,
    BPE merge lists, vocabularies, collected serving batches) that
    the JVM holds as a ``LocalRelation``: the rows cross to the JVM
    once as an Arrow stream, and no job over the frame starts a
    Python worker (a ``sparkContext.parallelize`` frame runs one per
    slice in every job that reads it). ``schema`` is a DDL string or
    a StructType; ``rows`` are tuples or Rows of plain values in
    schema order (numbers, strings, arrays of them). Values arrive
    exactly as given — doubles bit-for-bit — and an empty list gives
    an empty frame of that schema. Driver-sized inputs only."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    st = schema if isinstance(schema, StructType) else StructType.fromDDL(schema)
    arrow = to_arrow_schema(st)
    table = pa.Table.from_arrays(
        [pa.array([r[i] for r in rows], type=f.type) for i, f in enumerate(arrow)],
        schema=arrow,
    )
    return spark.createDataFrame(table, st)


#: One lock for both memo maps. Concurrent-query drivers (thread-pool
#: schedulers over one SparkSession) can miss on the same key at once;
#: without the lock the loser's persisted frame was silently
#: overwritten in the dict and its blocks leaked until
#: release_memoized_frames() (ADVICE r5). build() runs OUTSIDE the
#: lock (it is py4j-heavy, seconds for index frames); the insert
#: re-checks under the lock and the loser unpersists its own frame.
_MEMO_LOCK = threading.Lock()


def _fp_of_path(p: str):
    """(file count, total bytes, max mtime_ns) for ``p`` from a
    recursive walk; ``("absent",)`` when missing."""
    if not os.path.exists(p):
        return ("absent",)
    if os.path.isfile(p):
        st = os.stat(p)
        return (1, st.st_size, st.st_mtime_ns)
    n = size = mt = 0
    for dp, _, fs in os.walk(p):
        for f in fs:
            try:
                st = os.stat(os.path.join(dp, f))
            except OSError:  # racing a writer's rename
                continue
            n += 1
            size += st.st_size
            mt = max(mt, st.st_mtime_ns)
    return (n, size, mt)


def _abs_path_elements(key: tuple) -> list:
    """Every absolute-path string element of a (nested) memo key."""
    out = []

    def scan(obj) -> None:
        if isinstance(obj, str) and os.path.isabs(obj):
            out.append(obj)
        elif isinstance(obj, tuple):
            for el in obj:
                scan(el)

    scan(key)
    return out


def source_fingerprint(key: tuple):
    """Cheap content identity for every ABSOLUTE path element of a
    memo ``key``: per path, (file count, total bytes, max mtime_ns)
    from a recursive walk taken on every access (missing path → an
    "absent" marker, so a path that appears later invalidates too).
    Folded into every memo hit/insert so an in-session overwrite of a
    corpus directory — by the engine or by any other process — is
    seen at the next access; the memo serves stale frames on path
    identity alone otherwise. Driver-side stat calls only; the keyed
    paths are corpus directories of a handful of files. On an object
    store swap the walk for one listing call — the contract (identity
    = path + content fingerprint) is unchanged. GRANULARITY CAVEAT:
    this is a freshness heuristic, not a checksum — an overwrite that
    preserves file count and total bytes within the filesystem's
    mtime resolution can alias."""
    return tuple(_fp_of_path(p) for p in _abs_path_elements(key))


#: Session-scoped memo for driver-side values derived from a CORPUS
#: (row counts, collected centroid tables, quantizer stats, fitted
#: codebooks): each costs one or more Spark jobs to recompute. Keyed
#: by applicationId so a value from a stopped session is never
#: reused; values stored as (source_fingerprint, value) so a mutated
#: source path invalidates (see source_fingerprint).
_LITERAL_MEMO: dict = {}


#: Live-session entry bound: distinct keys accumulate per corpus /
#: config (centroids, quantizer stats, codebooks); past this many the
#: session's own entries are dropped and rebuilt on demand (the memo
#: is a perf knob, never correctness).
_LITERAL_MEMO_MAX = 256


def memoized_literal(key: tuple, build):
    """Return ``build()``, memoized per (live session, ``key``,
    source content). ``key`` must fully determine the constructed
    expression (include every value folded into the literal); any
    ABSOLUTE path element additionally contributes a content
    fingerprint, so regenerating testdata or rebuilding an index
    in-session invalidates rather than serving a stale constant.
    Eviction is precise: on a miss, entries from OTHER applicationIds
    are dropped (their JVM-backed Column handles belong to stopped
    sessions), never the live session's; the live session is
    separately bounded at ``_LITERAL_MEMO_MAX`` entries so a
    long-lived driver running many corpora cannot accumulate Column
    handles unboundedly. Thread-safe; build() runs outside the lock
    (first concurrent caller to insert wins)."""
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    app = sc.applicationId if sc is not None else None
    k = (app, key)
    fp = source_fingerprint(key)
    with _MEMO_LOCK:
        ent = _LITERAL_MEMO.get(k)
        if ent is not None and ent[0] == fp:
            return ent[1]
        if ent is not None:
            del _LITERAL_MEMO[k]  # source mutated: stale constant
        for kk in [kk for kk in _LITERAL_MEMO if kk[0] != app]:
            del _LITERAL_MEMO[kk]  # dead-session handles only
        if sum(1 for kk in _LITERAL_MEMO if kk[0] == app) >= _LITERAL_MEMO_MAX:
            _LITERAL_MEMO.clear()
    hit = build()
    with _MEMO_LOCK:
        ent = _LITERAL_MEMO.get(k)
        if ent is not None and ent[0] == fp:
            return ent[1]  # a concurrent builder won the insert
        _LITERAL_MEMO[k] = (fp, hit)
    return hit


def keyed_memo(corpus_cache_key: tuple | None, key: tuple, build):
    """``build()``, memoized under ``key`` (`memoized_literal`) only
    when the caller opted in with a ``corpus_cache_key``."""
    return build() if corpus_cache_key is None else memoized_literal(key, build)


#: Session-scoped PERSISTED-DataFrame cache — the memoized_literal
#: idea one level up (VERDICT r4 #4): index-shaped corpus frames
#: (the multi-table LSH bucket assignment) are identical across every
#: consumer in a session (s03/s06/s11/s12 at ~3.5 s/rebuild at sf0.1)
#: and a deployment computes them ONCE per corpus, not once per
#: query. Unlike own_caches frames these deliberately outlive any one
#: result — they are the in-session analogue of the on-disk persisted
#: ANN index (s13) — so they are bounded, applicationId-keyed, and
#: explicitly releasable (tests that assert zero cached RDDs call
#: release_memoized_frames() first).
_FRAME_MEMO: dict = {}

#: Live-session entry bound: one entry per (corpus, index config);
#: past this the oldest live entry is unpersisted and rebuilt on
#: demand (a perf knob, never correctness — a dropped frame silently
#: recomputes). Sized to hold the full registered index family for
#: one corpus directory (LSH buckets + query probes, IVF assign +
#: query side, SQ/PQ codes, MinHash banded, neardup bucket index,
#: unigram LM ≈ 9 keys) with headroom — every frame is narrow
#: (ids + short keys/codes), never document bodies or raw vectors
#: beyond the ivf assignment's.
_FRAME_MEMO_MAX = 16


#: Per-key build-in-progress events: concurrent MISSES on the same
#: key serialize on the first thread's build instead of racing
#: duplicate builds. The round-6 hardening replaced the earlier
#: build-then-loser-unpersists design after it intermittently leaked
#: a cache entry under a 4-thread race: Spark's CacheManager keys
#: entries by ANALYZED PLAN, so a loser's unpersist could silently
#: drop the WINNER's entry (shared plan), and hit-path re-persists
#: interleaved with loser unpersists could create entries no handle
#: tracked. With one builder per key, persist/unpersist calls for a
#: plan strictly alternate and nothing races — and concurrent missers
#: no longer burn a duplicate build.
_KEY_BUILDING: dict = {}


def memoized_frame(key: tuple, build) -> DataFrame:
    """Return ``build()`` persisted, memoized per (live session,
    ``key``, source content). ``key`` must fully determine the
    frame's CONTENT — include the corpus identity (source path +
    filter fingerprint) and every config folded into the plan; any
    ABSOLUTE path element additionally contributes a content
    fingerprint (`source_fingerprint`), so overwriting a corpus
    parquet mid-session is SEEN: the stale frame is unpersisted and
    rebuilt from the new files (VERDICT r5 #5). An external
    ``spark.catalog.clearCache()`` (the bench harness does this
    between passes) drops the cached blocks but not the memo entry;
    the next hit re-registers the persist and the first consumer pays
    one honest rebuild. Results are identical with or without the
    memo (asserted in tests/test_cache_hygiene.py). Thread-safe:
    build() runs outside the lock; concurrent misses on the same key
    WAIT for the first builder (one build, one persist — see
    _KEY_BUILDING) instead of racing duplicates (ADVICE r5, hardened
    round 6)."""
    import threading

    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    app = sc.applicationId if sc is not None else None
    k = (app, key)
    fp = source_fingerprint(key)
    while True:
        with _MEMO_LOCK:
            ent = _FRAME_MEMO.get(k)
            if ent is not None:
                fp0, hit = ent
                if fp0 == fp:
                    lvl = hit.storageLevel
                    if not (lvl.useMemory or lvl.useDisk):
                        hit.persist()  # clearCache() dropped it — re-register
                    return hit
                _FRAME_MEMO.pop(k)  # source mutated: stale frame
                try:
                    hit.unpersist(blocking=False)
                except Exception:
                    pass
            for kk in [kk for kk in _FRAME_MEMO if kk[0] != app]:
                _FRAME_MEMO.pop(kk)  # dead-session handles only
            ev = _KEY_BUILDING.get(k)
            if ev is None:
                ev = _KEY_BUILDING[k] = threading.Event()
                break  # this thread builds
        # Another thread is building this key: wait for it, then
        # re-read the memo (hit in the common case; if the builder
        # failed, the next waiter through the lock becomes builder).
        ev.wait(timeout=600)
    try:
        built = build().persist()
        with _MEMO_LOCK:
            live = [kk for kk in _FRAME_MEMO if kk[0] == app]
            if len(live) >= _FRAME_MEMO_MAX:
                try:
                    _FRAME_MEMO.pop(live[0])[1].unpersist(blocking=False)
                except Exception:
                    pass
            _FRAME_MEMO[k] = (fp, built)
        return built
    finally:
        with _MEMO_LOCK:
            _KEY_BUILDING.pop(k, None)
        ev.set()


def release_memoized_frames() -> None:
    """Unpersist and drop every memoized frame (all sessions). Tests
    that assert an empty RDD-storage map call this first; a long-lived
    driver may call it to return to a zero-cache baseline."""
    with _MEMO_LOCK:
        entries = [_FRAME_MEMO.pop(kk) for kk in list(_FRAME_MEMO)]
    for _, frame in entries:
        try:
            frame.unpersist(blocking=False)
        except Exception:
            pass
