"""Similarity search over `array<float>` embedding columns.

Baseline: brute-force cosine top-k — correct at any scale but O(q·n).
Scale path: LSH bucketing via deterministic random-hyperplane signs —
candidates meet in an equi-join on the bucket key, so the cross
product never materializes (same banding idea as MinHash dedup).

No Python in the hot path: dot products are `zip_with`+`aggregate`
(JVM codegen); a vectorized Pandas-UDF variant only makes sense once
the JVM expression is the bottleneck, which at 64 dims it is not.
"""

from __future__ import annotations

import math
from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql import Window as W

from ..functions.vectors import cosine, dot, l2_norm
from .topk import grouped_topk
from .util import (
    array_literal,
    bounded_collect,
    double_array_literal,
    double_matrix_literal,
    local_rows_df,
    own_caches,
    repartition_for_compute,
)


def brute_force_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    score_blas: bool = False,
) -> DataFrame:
    """Exact cosine top-k: broadcast the query set against the corpus,
    rank per query. Similarity is rounded to 6 dp BEFORE ranking so
    ordering is reproducible (ties broken by candidate id).

    Scale: queries are the small side → broadcast, corpus streams
    through map-side; the only shuffle is the per-query top-k window,
    keyed by query id. For large k·q use TakeOrdered-per-group via
    repartition on query_id.

    ``score_blas`` (VERDICT r9 #4 — `ivf_assign_blas`' lesson applied
    to the QUERY side): route the queries × corpus scoring through
    one numpy matmul per Arrow batch with per-partition top-k
    selection, instead of one interpreted JVM fold per pair. The
    exact-baseline scoring is THE recall-harness cost at deployment
    scale (PERF.md r8: ~75 s of HOF cosine at 1M×200 queries; the
    matmul is the same shape the assignment vectorized). Opt-in with
    the same parity scope as `ivf_assign_blas`: the matmul's
    accumulation order differs from the left-to-right fold in the
    last ulp and the 6-dp HALF_UP replication is float-approximate,
    so a rounded score (hence a boundary rank) is not bit-guaranteed
    — registered oracle rows keep the fold path; the recall harness
    and rerank sweeps at scale opt in. Equality on the test corpora
    is asserted in tests/test_blas_similarity.py."""
    if score_blas:
        return _brute_force_topk_blas(queries, corpus, k, id_col, vec_col)
    # Norms precomputed per ROW (map-side) so each pair pays ONE dot
    # fold; the dot/(qn·cn) expression shape matches the SQL oracle
    # exactly (same FP operation order).
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        l2_norm(F.col(vec_col)).alias("q_norm"),
    )
    c = corpus.select(
        F.col(id_col).alias("candidate_id"),
        F.col(vec_col).alias("c_vec"),
        l2_norm(F.col(vec_col)).alias("c_norm"),
    )
    cos = dot(F.col("q_vec"), F.col("c_vec")) / (F.col("q_norm") * F.col("c_norm"))
    scored = (
        repartition_for_compute(c)
        .join(F.broadcast(q), F.col("query_id") != F.col("candidate_id"))
        .select("query_id", "candidate_id", F.round(cos, 6).alias("cos_sim"))
    )
    return grouped_topk(
        scored, ["query_id"], [F.desc("cos_sim"), F.asc("candidate_id")], k, "rank"
    ).select("query_id", "candidate_id", "cos_sim", "rank")


def _half_up_6dp(S):
    """Spark's ``round(x, 6)`` (HALF_UP) replicated on a float array:
    floor(x·1e6 + 0.5) / ceil(x·1e6 − 0.5) by sign — numpy's own
    round() is HALF_EVEN. The float multiply and add carry their own
    ulp error, so a value within float error of a .5 boundary can
    round apart from Spark's decimal rounding: the parity scope of
    every ``*_blas`` leg."""
    import numpy as np

    scaled = S * 1e6
    return np.where(scaled >= 0, np.floor(scaled + 0.5), np.ceil(scaled - 0.5)) / 1e6


def _blas_topk(blocks, cut: int, score_col: str):
    """The per-partition top-k of the ``*_blas`` scoring legs: over
    ``blocks`` of (candidate ids, query ids, rounded candidate × query
    score matrix), yield one pandas frame (query_id, candidate_id,
    ``score_col``) holding each query's top ``cut`` candidates under
    the final comparator (score desc, candidate id asc), so the
    driver-side window ranks partitions × queries × cut rows, never
    the scored pairs. Self-pairs are masked to −inf (the fold paths'
    ``query_id != candidate_id``); the per-query cut threshold is
    vectorized across the block, and boundary ties at it survive to
    the id tiebreak."""
    import numpy as np
    import pandas as pd

    acc: dict = {}
    for cand, qids, R in blocks:
        R[cand[:, None] == qids[None, :]] = -np.inf
        nb = R.shape[0]
        if nb > cut:
            thr = np.partition(R, nb - cut, axis=0)[nb - cut]
            keep = (R >= thr) & np.isfinite(R)
        else:
            keep = np.isfinite(R)
        rows, cols = np.nonzero(keep)
        order = np.argsort(cols, kind="stable")
        rows, cols = rows[order], cols[order]
        bounds = np.searchsorted(cols, np.arange(len(qids) + 1))
        for j in range(len(qids)):
            lo, hi = bounds[j], bounds[j + 1]
            if lo < hi:
                cs, ss = acc.setdefault(int(qids[j]), ([], []))
                cs.append(cand[rows[lo:hi]])
                ss.append(R[rows[lo:hi], j])
    out_q, out_c, out_s = [], [], []
    for qid, (cs, ss) in acc.items():
        c, s = np.concatenate(cs), np.concatenate(ss)
        sel = np.lexsort((c, -s))[:cut]
        out_q.append(np.full(sel.size, qid, dtype=np.int64))
        out_c.append(c[sel])
        out_s.append(s[sel])
    if out_q:
        yield pd.DataFrame(
            {
                "query_id": np.concatenate(out_q),
                "candidate_id": np.concatenate(out_c),
                score_col: np.concatenate(out_s),
            }
        )


def _brute_force_topk_blas(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    id_col: str,
    vec_col: str,
    max_query_rows: int = 100_000,
) -> DataFrame:
    """`brute_force_topk`'s BLAS scoring leg: the query batch is
    collected (bounded — the ANN contract's small side, same guard
    class as `all_pairs_cosine_blas`) and broadcast; each Arrow batch
    of the corpus scores against it with one ``V @ Q.T``, rounded by
    `_half_up_6dp`, and `_blas_topk` keeps its per-partition top-k
    per query, so the driver-side window ranks partitions × queries ×
    k rows, never the corpus."""
    import numpy as np

    spark = corpus.sparkSession
    q_rows = bounded_collect(
        queries.select(id_col, vec_col),
        max_query_rows,
        "brute_force_topk(score_blas=True): query side",
    )
    out_ddl = "query_id long, candidate_id long, cos_sim double"
    if not q_rows:
        return local_rows_df(spark, [], out_ddl + ", rank long")
    q_ids = np.array([r[0] for r in q_rows], dtype=np.int64)
    Q = np.array([[float(x) for x in r[1]] for r in q_rows], dtype=np.float64)
    qn = np.sqrt(np.einsum("ij,ij->i", Q, Q))
    bc = spark.sparkContext.broadcast((q_ids, Q, qn))

    def score(batches):
        ids, Qm, qns = bc.value

        def blocks():
            for pdf in batches:
                if pdf.empty:
                    continue
                V = np.asarray(
                    [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
                )
                vn = np.sqrt(np.einsum("ij,ij->i", V, V))
                S = (V @ Qm.T) / (vn[:, None] * qns[None, :])
                yield pdf[id_col].to_numpy(dtype=np.int64), ids, _half_up_6dp(S)

        yield from _blas_topk(blocks(), k, "cos_sim")

    part = repartition_for_compute(corpus.select(id_col, vec_col)).mapInPandas(
        score, schema=out_ddl
    )
    return grouped_topk(
        part, ["query_id"], [F.desc("cos_sim"), F.asc("candidate_id")], k, "rank"
    ).select("query_id", "candidate_id", "cos_sim", "rank")


def all_pairs_cosine_blas(
    left: DataFrame,
    right: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_right_rows: int = 1_000_000,
) -> DataFrame:
    """All-pairs cosine ≥ threshold via blocked NumPy matmul — the
    Arrow/BLAS path for when the JVM expression fold (d05's plan)
    becomes the bottleneck. The right side is collected to a dense
    matrix and broadcast (fits executors for ≤ ~10⁶×small-dim); each
    Arrow batch of the left side scores against it with one `A @ B.T`.

    ~25× less per-pair overhead than the interpreted fold, at the cost
    of BLAS reduction order — values can differ from the SQL oracle in
    the last ulp, so the oracle-checked d05 keeps the JVM-exact plan
    and this operator is equivalence-tested with a tolerance instead.

    Returns (a_id, b_id, cos_sim) with a_id < b_id when left==right
    semantics are wanted downstream; here: all cross pairs above
    threshold."""
    import numpy as np
    import pandas as pd

    spark = left.sparkSession
    out_schema = T.StructType(
        [
            T.StructField("a_id", T.LongType()),
            T.StructField("b_id", T.LongType()),
            T.StructField("cos_sim", T.DoubleType()),
        ]
    )

    # Guard the driver-side collect: this operator is an OPT-IN for
    # pre-bounded right sides; past the cap the caller must use the
    # distributed LSH path (lsh_neardup_pairs), not raise the cap.
    r_rows = bounded_collect(
        right.select(id_col, vec_col),
        max_right_rows,
        "all_pairs_cosine_blas: right side",
    )
    if not r_rows:
        return local_rows_df(spark, [], out_schema)
    r_ids = np.array([r[0] for r in r_rows], dtype=np.int64)
    r_mat = np.array([r[1] for r in r_rows], dtype=np.float64)
    r_norms = np.linalg.norm(r_mat, axis=1)
    bc = spark.sparkContext.broadcast((r_ids, r_mat, r_norms))

    def score(batches):
        ids, mat, norms = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            a_ids = pdf[id_col].to_numpy(dtype=np.int64)
            a_mat = np.array(list(pdf[vec_col]), dtype=np.float64)
            a_norms = np.linalg.norm(a_mat, axis=1)
            sims = (a_mat @ mat.T) / np.outer(a_norms, norms)
            ai, bi = np.nonzero(sims >= threshold)
            yield pd.DataFrame(
                {
                    "a_id": a_ids[ai],
                    "b_id": ids[bi],
                    "cos_sim": np.round(sims[ai, bi], 6),
                }
            )

    return (
        repartition_for_compute(left.select(id_col, vec_col))
        .mapInPandas(score, schema=out_schema)
        .filter(F.col("a_id") < F.col("b_id"))
    )


def arrow_pair_cosines(
    joined: DataFrame,
    threshold: float,
    keep_cols: tuple[str, ...] = ("a_id", "b_id"),
    a_vec: str = "a_vec",
    b_vec: str = "b_vec",
    a_norm: str = "a_norm",
    b_norm: str = "b_norm",
    out_col: str = "cos_sim",
) -> DataFrame:
    """Arrow-vectorized pair-cosine scoring — the fast path for the
    verify stage of d05/d07 when the interpreted `aggregate`/`zip_with`
    fold becomes the bottleneck (it is: Spark HOFs are evaluated
    per-element, not codegen'd; measured 2.6 s → 1.8 s on d07's 815 k
    candidate verify at sf0.1, and the gap widens with dimension —
    at 768 dims the fold pays 12× more interpreted element ops while
    this path pays 12× more of a vectorized numpy column op).

    PARITY CONTRACT (what makes this safe under the value-hash gate):

    - The accumulation is ORDER-PRESERVING: one numpy pass per
      dimension, `acc = acc + A[:,j] * B[:,j]` in float64 — the exact
      IEEE operation sequence of the JVM fold and of the DuckDB
      oracle's `list_sum(list_transform(...))`. No `np.dot`/BLAS: a
      pairwise-blocked reduction would differ in the last ulp.
      (Bit-equality fold-vs-this is asserted over every sf0.1 pair in
      tests/test_arrow_verify.py.)
    - RAW cosines are emitted; the caller applies `F.round` and the
      threshold filter JVM-side, so rounding mode (HALF_UP, not
      numpy's HALF_EVEN) and Spark's NaN-is-greatest comparison
      semantics are byte-identical to the fold plan. Here we only
      PRE-filter at `threshold - 1e-6` (loose by more than the max
      round-up of 5e-7) and keep NaNs for the JVM filter to judge.
    - Rows the fold would NULL out (null vector, length mismatch —
      zip_with pads with null, which poisons the sum) are dropped,
      matching `NULL >= t` ⇒ filtered.

    Input must carry ``keep_cols + (a_vec, b_vec, a_norm, b_norm)``;
    output is ``keep_cols + (out_col,)`` with ``out_col`` double."""
    fields = [joined.schema[c] for c in keep_cols]
    fields.append(T.StructField(out_col, T.DoubleType()))
    out_schema = T.StructType(fields)
    prefilter = threshold - 1e-6
    keep_list = list(keep_cols)

    def score(batches):
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        for batch in batches:
            tb = pa.Table.from_batches([batch])
            n = tb.num_rows
            if n == 0:
                continue
            av = tb.column(a_vec).combine_chunks()
            bv = tb.column(b_vec).combine_chunks()
            an = tb.column(a_norm).to_numpy(zero_copy_only=False)
            bn = tb.column(b_norm).to_numpy(zero_copy_only=False)
            valid = np.ones(n, dtype=bool)
            if av.null_count == 0 and bv.null_count == 0:
                la = pc.list_value_length(av).to_numpy(zero_copy_only=False)
                lb = pc.list_value_length(bv).to_numpy(zero_copy_only=False)
                uniform = la.min() == la.max() and bool((la == lb).all())
            else:
                uniform = False
            if uniform:
                dim = int(la[0])
                A = (
                    av.flatten()
                    .to_numpy(zero_copy_only=False)
                    .astype(np.float64)
                    .reshape(n, dim)
                )
                B = (
                    bv.flatten()
                    .to_numpy(zero_copy_only=False)
                    .astype(np.float64)
                    .reshape(n, dim)
                )
                acc = np.zeros(n, dtype=np.float64)
                for j in range(dim):
                    acc = acc + A[:, j] * B[:, j]
            else:  # ragged/null batch: per-row, same op order
                acc = np.zeros(n, dtype=np.float64)
                for i, (x, y) in enumerate(zip(av.to_pylist(), bv.to_pylist())):
                    if x is None or y is None or len(x) != len(y):
                        valid[i] = False  # fold ⇒ NULL ⇒ filtered
                        continue
                    s = 0.0
                    for xv, yv in zip(x, y):
                        s = s + float(xv) * float(yv)
                    acc[i] = s
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = acc / (an * bn)
            keep = valid & ((cos >= prefilter) | np.isnan(cos))
            out = tb.select(keep_list).filter(pa.array(keep))
            out = out.append_column(
                out_col, pa.array(cos[keep], type=pa.float64())
            )
            yield from out.to_batches()

    return joined.mapInArrow(score, schema=out_schema)


def exact_cosine_pairs(
    df: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    use_arrow: bool = True,
) -> DataFrame:
    """Exact all-pairs cosine ≥ threshold (d05's plan): theta self-join
    on `a_id < b_id`, norms precomputed per ROW map-side so each pair
    pays one dot product. `use_arrow` routes the per-pair dot through
    `arrow_pair_cosines` (order-preserving, bit-identical — see its
    parity contract); False keeps the pure-JVM fold, the literal shape
    of the SQL oracle.

    Scale: O(n²) by definition — the exactness anchor for ≤ ~10⁵
    vectors; `lsh_neardup_pairs` is the registered scale path. No
    broadcast hint: the join side is the FULL table, so the size
    decision belongs to AQE (a forced broadcast OOMs executors at
    10⁷+ vectors)."""
    src = repartition_for_compute(df)
    a = src.select(
        F.col(id_col).alias("a_id"),
        F.col(vec_col).alias("a_vec"),
        l2_norm(F.col(vec_col)).alias("a_norm"),
    )
    b = src.select(
        F.col(id_col).alias("b_id"),
        F.col(vec_col).alias("b_vec"),
        l2_norm(F.col(vec_col)).alias("b_norm"),
    )
    joined = a.join(b, F.col("a_id") < F.col("b_id"))
    if use_arrow:
        scored = arrow_pair_cosines(joined, threshold)
    else:
        cos = dot(F.col("a_vec"), F.col("b_vec")) / (
            F.col("a_norm") * F.col("b_norm")
        )
        scored = joined.select("a_id", "b_id", cos.alias("cos_sim"))
    return (
        scored.select("a_id", "b_id", F.round(F.col("cos_sim"), 6).alias("cos_sim"))
        .filter(F.col("cos_sim") >= threshold)
    )


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random unit hyperplanes (pure-Python LCG,
    no numpy dependency in the plan) — fixed by seed so bucketing is
    reproducible across runs and engines."""
    state = seed
    planes = []
    for _ in range(n_planes):
        vals = []
        for _ in range(dim):
            state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 64)
            # Box-Muller-free: uniform in [-1, 1) is fine for sign-LSH.
            vals.append((state >> 11) / float(1 << 53) * 2.0 - 1.0)
        norm = math.sqrt(sum(v * v for v in vals)) or 1.0
        planes.append([v / norm for v in vals])
    return planes


def lsh_tables(
    dim: int,
    n_planes: int,
    n_tables: int,
    seed: int = 42,
    k_max: int | None = None,
) -> list[list[list[float]]]:
    """Per-table hyperplane lists for the multi-table sign-LSH ops.

    With ``k_max`` set, each table draws a ``k_max``-sized chunk from
    the deterministic plane stream and uses only its FIRST
    ``n_planes`` planes — so a table's planes are a fixed PREFIX
    independent of ``n_planes`` (≤ k_max). That prefix property is
    what makes an AUTO-SIZED plane count oracle-replayable: the SQL
    oracle emits the full k_max chunks once and masks to a k it
    computes from ``count(*)`` with the same `auto_planes` formula, so
    one static oracle string is value-exact at every corpus size.

    ``k_max=None`` (default) chunks at ``n_planes`` — byte-identical
    to the historical allocation, so fixed-k callers and their oracle
    constants are unaffected."""
    chunk = k_max if k_max is not None else n_planes
    if n_planes > chunk:
        raise ValueError(
            f"n_planes={n_planes} exceeds k_max={chunk}; raise k_max "
            "(and regenerate the oracle constants) for larger corpora"
        )
    all_planes = _hyperplanes(dim, chunk * n_tables, seed)
    return [
        all_planes[t * chunk : t * chunk + n_planes] for t in range(n_tables)
    ]


def auto_planes(n_vectors: int, target_bucket: int = 125, floor: int = 4) -> int:
    """Plane count for `lsh_neardup_pairs`/`lsh_topk` at a given
    corpus size: k ≈ log2(n / target_bucket) keeps expected bucket
    occupancy near ``target_bucket``, so candidate pairs stay
    ~n·target_bucket instead of n²/2^k — the load-bearing knob the
    SCALE.md §7b experiment measures (fixed k=4 thrashes at 16k
    vectors; k=log2(n/125) holds wall time flat). Recall follows the
    multi-table S-curve: more planes ⇒ fewer chance collisions AND
    more near-threshold misses — recover recall by raising n_tables
    (multiplies index size, not candidate pairs)."""
    if n_vectors <= 0:
        return floor
    return max(floor, int(math.log2(max(1.0, n_vectors / target_bucket))))


def auto_cells(n_vectors: int, floor: int = 16) -> int:
    """Cell count for the IVF family (`ivf_topk`/`ivfpq_topk`/
    `ivfsq_topk`) at a given corpus size: cells ≈ √n — the classic
    flat-IVF balance (FAISS guidance is C·√n). Why √n: assignment
    costs n·cells cosines (map-side) and each probe scans ~n/cells
    candidates, so √n equalizes the two and BOTH grow as n^1.5 /
    √n-per-query instead of one of them going quadratic. A fixed
    cell count is the same trap as a fixed LSH plane count
    (`auto_planes`, SCALE.md §7b): at 100× the data each cell holds
    100× the vectors and every probe join degenerates toward a scan.
    ``n_cells=None`` on the operators selects this policy; since
    round 4 the REGISTERED IVF queries (s04/s08/s10/s13) run it too —
    their oracles recompute ⌊√n⌋ from count(*)
    (`plans/lsh_oracle.auto_ivf_cent_ctes_sql`), so the auto-sized
    results stay fully value-checked."""
    if n_vectors <= 0:
        return floor
    return max(floor, int(math.isqrt(n_vectors)))


def lsh_bucket(vec_col, planes: list[list[float]]):
    """Sign-LSH bucket key: one bit per hyperplane (sign of the dot
    product), concatenated to a string key. Pure expression; each
    plane is one folded ``array<double>`` constant
    (`util.double_array_literal`)."""
    bits = []
    for plane in planes:
        d = F.aggregate(
            F.zip_with(
                vec_col, double_array_literal(plane), lambda x, y: x.cast("double") * y
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        bits.append(F.when(d >= 0, F.lit("1")).otherwise(F.lit("0")))
    return F.concat(*bits)


def lsh_neardup_pairs(
    df: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_planes: int = 4,
    n_tables: int = 8,
    seed: int = 42,
    use_arrow: bool = True,
    k_max: int | None = None,
    corpus_cache_key: tuple | None = None,
) -> DataFrame:
    """Embedding near-duplicate pairs (cosine ≥ threshold) via
    sign-LSH prefilter + EXACT verification of collisions only — the
    scale replacement for the all-pairs plan (d05): the quadratic pair
    space shrinks to bucket collisions before any vector math runs.

    Plan shape for 100 TB:

    1. Bucket index: map-side explode to (id, table, bucket) — a
       NARROW frame (ids + ≤10-byte keys, vectors do NOT ride along),
       persisted because the self-join reads it twice and its lineage
       (n_tables × n_planes dot products per row) is the expensive part.
    2. Candidates: self-equi-join on (table, bucket), a_id < b_id,
       distinct — a plain hash join, AQE/skew handling applies.
    3. Verify: join embeddings back by id (twice) and compute the
       exact cosine once per candidate pair; norms precomputed per
       row so each pair pays one dot fold.

    Recall is the multi-table S-curve 1−(1−p^k)^L, p = 1−θ/π; misses
    are pairs NEAR the threshold — and the DuckDB oracle reproduces
    the same candidate set exactly (hyperplanes are deterministic),
    so this is value-checkable despite being approximate.

    ``n_planes`` MUST grow with corpus size (`auto_planes`): at a
    fixed k, buckets hold n/2^k vectors and candidates grow
    quadratically — measured in SCALE.md §7b (k=4 thrashes at 16k
    vectors; k=log2(n/125) holds wall time flat). Pass
    ``n_planes=auto_planes(n)`` with ``k_max`` set (prefix-stable
    plane chunks, see `lsh_tables`) so the registered oracle replays
    the same auto-sized buckets; the default 4 fits the ≤4k-vector
    test corpora.

    ``corpus_cache_key``: opt-in session reuse of the bucket index
    frame (`util.memoized_frame` — the same contract as `lsh_topk`'s
    corpus cache: key identifies corpus content, operator appends
    the plane config, results identical either way). The memoized
    frame outlives any one result, so it is NOT tied to the result's
    own_caches lifetime."""
    tables = lsh_tables(dim, n_planes, n_tables, seed, k_max)
    src = repartition_for_compute(df)

    def bucket_index() -> DataFrame:
        return src.select(
            F.col(id_col).alias("id"),
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(t).alias("table"),
                            lsh_bucket(F.col(vec_col), tables[t]).alias("bucket"),
                        )
                        for t in range(n_tables)
                    ]
                )
            ).alias("tb"),
        ).select(
            "id", F.col("tb.table").alias("table"), F.col("tb.bucket").alias("bucket")
        )

    if corpus_cache_key is not None:
        from .util import memoized_frame

        idx = memoized_frame(
            (
                "lsh_neardup_idx",
                corpus_cache_key,
                id_col,
                vec_col,
                dim,
                n_planes,
                n_tables,
                seed,
                k_max,
            ),
            bucket_index,
        )
    else:
        idx = bucket_index().persist()
    a = idx.select(F.col("id").alias("a_id"), "table", "bucket")
    b = idx.select(F.col("id").alias("b_id"), "table", "bucket")
    cand = (
        a.join(b, ["table", "bucket"])
        .filter(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id")
        .distinct()
    )
    va = src.select(
        F.col(id_col).alias("a_id"),
        F.col(vec_col).alias("a_vec"),
        l2_norm(F.col(vec_col)).alias("a_norm"),
    )
    vb = src.select(
        F.col(id_col).alias("b_id"),
        F.col(vec_col).alias("b_vec"),
        l2_norm(F.col(vec_col)).alias("b_norm"),
    )
    joined = cand.join(va, "a_id").join(vb, "b_id")
    if use_arrow:  # order-preserving Arrow verify, bit-identical (see
        # arrow_pair_cosines' parity contract); round+filter stay JVM-side
        scored = arrow_pair_cosines(joined, threshold)
    else:
        cos = dot(F.col("a_vec"), F.col("b_vec")) / (
            F.col("a_norm") * F.col("b_norm")
        )
        scored = joined.select("a_id", "b_id", cos.alias("cos_sim"))
    out = (
        scored.select("a_id", "b_id", F.round(F.col("cos_sim"), 6).alias("cos_sim"))
        .filter(F.col("cos_sim") >= threshold)
    )
    if corpus_cache_key is not None:
        return out  # the memoized index frame outlives this result
    return own_caches(out, idx)


def ivf_centroids(
    corpus: DataFrame,
    n_cells: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The ``n_cells`` lowest-id corpus vectors as a centroid table
    (cell_id, cent_vec, cent_norm) — deterministic, hence
    oracle-replayable (`plans/lsh_oracle.ivf_cent_cte_sql`). A
    production index fits k-means instead; the consumers below only
    need SOME small centroid table, so the swap is drop-in."""
    return (
        corpus.orderBy(id_col)
        .limit(n_cells)
        .select(
            F.col(id_col).alias("cell_id"),
            F.col(vec_col).alias("cent_vec"),
            l2_norm(F.col(vec_col)).alias("cent_norm"),
        )
    )


#: Below this corpus size the full Lloyd fit is cheap and sampling
#: only adds variance — `fit_kmeans_books` samples only above it.
_FIT_SAMPLE_FLOOR = 100_000


def fit_kmeans_books(
    frame: DataFrame,
    id_col: str,
    vec_col: str,
    n_subspaces: int,
    k: int,
    seed: int,
    max_iter: int,
    sample_per_center: int | None,
    fit_floor: int | None,
    corpus_cache_key: tuple | None = None,
    pre: Callable[[DataFrame], tuple[DataFrame, Column]] | None = None,
) -> list[list[list[float]]]:
    """The one learned-quantizer fit: ``books[m]`` holds the ``k``
    MLlib k-means centers (``seed + m``, ``max_iter`` Lloyd rounds) of
    slice ``m`` of ``n_subspaces`` equal slices of the training
    vector. The IVF centroids are the one-subspace call, the PQ books
    the ``n_subspaces`` call.

    The training vector is the unit vector of ``vec_col``, or — with
    ``pre`` — the column of ``pre(frame)``, which maps the (sampled)
    frame to ``(frame, column)`` (the residual route's cell
    assignment and centroid subtract run on the sample only).

    Sample rule: with ``sample_per_center`` set and the row count
    ``n`` above ``max(sample_per_center × k, floor)`` (``floor`` is
    ``fit_floor``, else `_FIT_SAMPLE_FLOOR`), the fit runs on the
    content-keyed sample ``xxhash64(id) % m == 0`` with ``m = max(2,
    round(n / (sample_per_center × k)))`` — membership independent of
    partitioning. ``n`` is one ``count()``, memoized under the index
    builds' ``("count", corpus_cache_key, id_col)`` when a key is
    given.

    The slices are persisted once for all ``n_subspaces`` fits and
    released after them. The training frame keeps the caller's
    partitioning: k-means|| initialisation samples per partition, so a
    repartition would change the centers."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    from . import util
    from .sq import _unit

    cols = [F.col("__v")]
    if n_subspaces > 1:
        dim = len(frame.select(vec_col).first()[0])
        if dim % n_subspaces:
            raise ValueError(f"dim {dim} not divisible by n_subspaces {n_subspaces}")
        sub = dim // n_subspaces
        cols = [F.slice(cols[0], m * sub + 1, sub) for m in range(n_subspaces)]
    if sample_per_center is not None:
        target = sample_per_center * k
        floor = _FIT_SAMPLE_FLOOR if fit_floor is None else fit_floor
        ck = corpus_cache_key
        n = util.keyed_memo(ck, ("count", ck, id_col), frame.count)
        if n > max(target, floor):
            m = max(2, round(n / target))
            frame = frame.filter(F.xxhash64(F.col(id_col)) % m == 0)
    frame, vec = (
        pre(frame) if pre else (frame, _unit(F.col(vec_col), l2_norm(F.col(vec_col))))
    )
    slices = (
        frame.select(vec.alias("__v"))
        .select(*[array_to_vector(c).alias(f"__s{m}") for m, c in enumerate(cols)])
        .persist()
    )
    try:
        models = [
            util.fit_released(
                KMeans(k=k, seed=seed + m, maxIter=max_iter, featuresCol=f"__s{m}"), slices
            )
            for m in range(len(cols))
        ]
    finally:
        slices.unpersist()
    return [[[float(x) for x in c] for c in model.clusterCenters()] for model in models]


def kmeans_centroids(
    corpus: DataFrame,
    n_cells: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    max_iter: int = 20,
    fit_sample_per_cell: int | None = 50,
    fit_floor: int | None = None,
) -> DataFrame:
    """FITTED centroid table for the IVF index — the production
    replacement for `ivf_centroids`' deterministic anchor vectors:
    k-means learns cells that follow the data distribution, so cell
    populations are balanced. Returns the same (cell_id, cent_vec,
    cent_norm) schema, so `ivf_assign_literal`/`ivf_topk`/
    `semantic_dedup` consume it unchanged.

    The one-subspace `fit_kmeans_books` call over the UNIT vectors
    (the index assigns by cosine, and on the unit sphere Euclidean
    k-means ranks like cosine), ``seed`` as given, ``k = n_cells``,
    sampled above ``max(fit_sample_per_cell × n_cells, floor)`` rows
    (`fit_kmeans_books`' rule; ``fit_floor`` overrides
    `_FIT_SAMPLE_FLOOR`, ``0`` forces the sampled branch as s19 does,
    ``fit_sample_per_cell=None`` disables sampling). The centers are
    driver-sized (n_cells × dim floats) by construction: the
    index-build artifact a deployment persists once (SCALE.md §7o
    measures the sampled fit)."""
    (books,) = fit_kmeans_books(
        corpus, id_col, vec_col, 1, n_cells, seed, max_iter,
        fit_sample_per_cell, fit_floor,
    )
    cent = local_rows_df(
        corpus.sparkSession,
        list(enumerate(books)),
        "cell_id BIGINT, cent_vec ARRAY<DOUBLE>",
    )
    return cent.select(
        "cell_id", "cent_vec", l2_norm(F.col("cent_vec")).alias("cent_norm")
    )


#: bound on a centroid table's driver collect — √n cells for corpora
#: up to ~4·10⁹ vectors; a caller table (a parquet artifact, say)
#: past it is not a centroid table
MAX_CENTROID_ROWS = 65_536


def collect_centroid_rows(cent: DataFrame) -> list[tuple[int, list[float], float]]:
    """Materialize a (cell_id, cent_vec, cent_norm) centroid table as
    driver constants for `ivf_assign_literal` — n_cells rows by
    construction, the index artifact a deployment holds in memory.
    Collected in one job under `MAX_CENTROID_ROWS`
    (`util.bounded_collect`): a larger table raises ValueError.

    SORTED by cell_id (ADVICE r8): `collect()` order of an unordered
    DataFrame is not stable across invocations, and two things key off
    the row LIST downstream — the assignment-memo content digest
    (`ivf_topk` under caller-supplied centroids hashes
    ``repr(cent_rows)``) and the literal expression text
    (`ivf_assign_literal`). Assignment RESULTS were already
    order-independent (the probe sort breaks ties on (−sim, cell_id)
    inside the struct array), but an order-unstable digest could
    silently defeat the memo it exists to serve — recomputing the
    corpus assignment the cache is there to avoid. Sorting here makes
    digest, literal text, and plans canonical for a given table
    CONTENT."""
    return sorted(
        (
            (r["cell_id"], [float(x) for x in r["cent_vec"]], float(r["cent_norm"]))
            for r in bounded_collect(
                cent, MAX_CENTROID_ROWS,
                f"centroid table (MAX_CENTROID_ROWS={MAX_CENTROID_ROWS})",
            )
        ),
        key=lambda t: t[0],
    )


def ivf_assign_literal(
    df: DataFrame,
    cent_rows: list[tuple[int, list[float], float]],
    id_alias: str,
    probes: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign each vector to its ``probes`` nearest centroid cells,
    with the centroid table as LITERALS: per row, one transform
    computes the rounded cosine to every centroid, and the ``probes``
    nearest cells come from a sort of the (−sim, cell_id) struct
    array — entirely map-side, no ×n_cells row fan-out and no
    per-vector argmax window exchange. Returns (id_alias, __vec,
    __norm, cell_id), one row per probed cell; cosines are rounded to
    6 dp and ties go to the lower cell id, the ranking the oracles'
    argmax window (`plans/lsh_oracle.ivf_assign_sql`) replays.

    ``cent_rows`` is the collected centroid table [(cell_id, vec,
    norm)] — n_cells rows, driver-sized by construction (the same
    class of collect as `kmeans_centroids` / `pq_anchor_codebooks`;
    a deployment holds the index's centroids as constants anyway)."""
    cent_rows = sorted(cent_rows, key=lambda r: r[0])
    k = len(cent_rows)
    if k == 0:
        raise ValueError("ivf_assign_literal needs at least one centroid")
    cvecs = double_matrix_literal([r[1] for r in cent_rows])
    cnorms = double_array_literal([r[2] for r in cent_rows])
    cids = array_literal([r[0] for r in cent_rows], "array<bigint>")
    side = df.select(
        F.col(id_col).alias(id_alias),
        F.col(vec_col).alias("__vec"),
        l2_norm(F.col(vec_col)).alias("__norm"),
    )
    sims = F.transform(
        F.sequence(F.lit(1), F.lit(k)),
        lambda i: F.round(
            dot(F.col("__vec"), F.element_at(cvecs, i.cast("int")))
            / (F.col("__norm") * F.element_at(cnorms, i.cast("int"))),
            6,
        ),
    )
    # materialize __sims as a column so the ranking transform reads it
    # k times instead of re-deriving the k-cosine array per element
    with_sims = side.withColumn("__sims", sims)
    ranked = F.slice(
        F.sort_array(
            F.transform(
                F.sequence(F.lit(1), F.lit(k)),
                lambda i: F.struct(
                    (-F.element_at(F.col("__sims"), i.cast("int"))).alias("neg"),
                    F.element_at(cids, i.cast("int")).alias("cell_id"),
                ),
            )
        ),
        1,
        probes,
    )
    return with_sims.select(
        id_alias,
        "__vec",
        "__norm",
        F.explode(ranked).alias("__probe"),
    ).select(id_alias, "__vec", "__norm", F.col("__probe.cell_id").alias("cell_id"))


def ivf_assign_blas(
    df: DataFrame,
    cent_rows: list[tuple[int, list[float], float]],
    id_alias: str,
    probes: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """`ivf_assign_literal` with the n×cells similarity matrix as ONE
    numpy matmul per Arrow batch instead of n×cells codegen'd folds —
    the scale path for THE dominant index-build term (SCALE.md
    §7o-r9 addendum: at 1M×1000 cells the fold assignment is ~minutes
    of the 348 s build; BLAS turns the 6.4·10¹⁰-flop product into
    seconds). Same contract: (id_alias, __vec, __norm, cell_id), one
    row per probed cell, 6-dp HALF_UP rounding, sim-desc /
    cell-id-asc tiebreak.

    PARITY SCOPE — why this is opt-in while the registered rows stay
    on the fold path: only the CELL CHOICE is computed in numpy. The
    vector passes through Arrow unchanged (float32 exact both ways)
    and ``__norm`` is re-derived JVM-side from it, so everything
    downstream of assignment — unit vectors, SQ codes, serve scoring
    — is BIT-IDENTICAL to the fold path. The matmul's dot differs
    from the left-to-right fold only in final-ulp accumulation order,
    so a cell choice can diverge only where two centroids' 6-dp
    cosines tie at a rounding boundary within that float error —
    zero disagreements measured on the test corpora
    (tests/test_blas_similarity.py sweeps probes 1 and 2 at two SFs)
    and vanishing at scale, but not a bit-level guarantee, which the
    driver-checked oracles require. The 6-dp rounding is
    `_half_up_6dp`, whose own float error near .5 boundaries is the
    same divergence class as the accumulation-order caveat above."""
    import numpy as np

    cent_rows = sorted(cent_rows, key=lambda r: r[0])
    if not cent_rows:
        raise ValueError("ivf_assign_blas needs at least one centroid")
    if probes < 1:
        raise ValueError(f"probes must be >= 1, got {probes}")
    cmat = [list(map(float, r[1])) for r in cent_rows]
    cnorm = [float(r[2]) for r in cent_rows]
    cids = [int(r[0]) for r in cent_rows]
    n_probe = min(probes, len(cent_rows))

    def assign(batches):
        C = np.asarray(cmat, dtype=np.float64)  # cells × dim
        cn = np.asarray(cnorm, dtype=np.float64)
        cid = np.asarray(cids, dtype=np.int64)
        for pdf in batches:
            if pdf.empty:
                continue
            V = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )  # batch × dim
            norms = np.sqrt(np.einsum("ij,ij->i", V, V))
            R = _half_up_6dp((V @ C.T) / (norms[:, None] * cn[None, :]))
            if n_probe == 1:
                # first max = lowest cell_id among exact ties (columns
                # are cell_id-ascending by the sort above)
                sel = np.argmax(R, axis=1)[:, None]
            else:
                # stable sort keeps column (= cell_id) order on ties
                sel = np.argsort(-R, axis=1, kind="stable")[:, :n_probe]
            import pandas as pd

            ids = pdf[id_col].to_numpy()
            yield pd.DataFrame(
                {
                    id_alias: np.repeat(ids, n_probe),
                    "__vec": [
                        v for v in pdf[vec_col] for _ in range(n_probe)
                    ],
                    "cell_id": cid[sel].ravel(),
                }
            )

    assigned = df.select(id_col, vec_col).mapInPandas(
        assign, schema=f"{id_alias} long, __vec array<float>, cell_id long"
    )
    # __norm from the passthrough vector via the JVM fold — NOT numpy —
    # so quantization and scoring downstream stay bit-identical to the
    # fold-assignment path.
    return assigned.select(
        id_alias,
        "__vec",
        l2_norm(F.col("__vec")).alias("__norm"),
        "cell_id",
    )


def semantic_dedup(
    df: DataFrame,
    threshold: float = 0.4,
    n_cells: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    use_arrow: bool = False,
) -> DataFrame:
    """Semantic deduplication in the SemDeDup shape (Abbas et al.,
    2023, arXiv:2303.09540): cluster embeddings into ``n_cells`` cells,
    find cosine-similar pairs WITHIN each cell only, resolve the dup
    graph to connected components, keep one representative (the min-id
    member) per component. Returns one row per vector:
    (id, cell_id, cluster_id, keep).

    Scale shape: the clustering bounds the quadratic pair space to
    Σ|cell|² — the whole point of the method at 10⁹ vectors, where
    all-pairs (d05) is impossible. Every stage is distributed: cell
    assignment is a broadcast + argmax window, the pair search a
    cell-keyed self equi-join, components the iterative min-label
    propagation of `dedup.dup_clusters`. Recall is bounded by cell
    purity (cross-cell near-dups are missed) — raise n_cells for
    smaller cells and lower recall, or run d07's sign-LSH variant when
    recall matters more than the cluster structure.

    ``use_arrow`` routes the within-cell pair scoring through
    `arrow_pair_cosines` (order-preserving, bit-identical to the fold
    — see its parity contract). The JVM fold is fine at 64 dims; at
    768+ the interpreted per-element HOF cost dominates and the Arrow
    path wins (same crossover as d05/d07's verify stage). Default
    False so the registered d11 query stays the literal shape of its
    SQL oracle."""
    from .dedup import dup_clusters
    from .util import own_caches

    cent = ivf_centroids(df, n_cells, id_col, vec_col)
    asg = ivf_assign_literal(
        repartition_for_compute(df), collect_centroid_rows(cent), id_col, 1,
        id_col, vec_col,
    )
    a = asg.select(
        F.col(id_col).alias("a_id"),
        F.col("__vec").alias("a_vec"),
        F.col("__norm").alias("a_norm"),
        "cell_id",
    )
    b = asg.select(
        F.col(id_col).alias("b_id"),
        F.col("__vec").alias("b_vec"),
        F.col("__norm").alias("b_norm"),
        "cell_id",
    )
    joined = a.join(b, "cell_id").filter(F.col("a_id") < F.col("b_id"))
    if use_arrow:
        scored = arrow_pair_cosines(joined, threshold)
    else:
        cos = dot(F.col("a_vec"), F.col("b_vec")) / (
            F.col("a_norm") * F.col("b_norm")
        )
        scored = joined.select("a_id", "b_id", cos.alias("cos_sim"))
    pairs = (
        scored.select("a_id", "b_id", F.round(F.col("cos_sim"), 6).alias("cos_sim"))
        .filter(F.col("cos_sim") >= threshold)
    )
    clusters = dup_clusters(df, pairs, id_col=id_col)
    out = (
        asg.select(id_col, "cell_id")
        .join(clusters, id_col)
        .select(
            id_col,
            "cell_id",
            "cluster_id",
            (F.col(id_col) == F.col("cluster_id")).alias("keep"),
        )
    )
    # clusters' label frame is a localCheckpoint — transfer its
    # ownership to the composed plan (see own_local_checkpoint).
    return own_caches(out, clusters)


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    n_cells: int | None = 16,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
    corpus_cache_key: tuple | None = None,
) -> DataFrame:
    """Approximate top-k via an IVF (inverted-file) index — the
    cell-partitioned counterpart of the sign-LSH path: every corpus
    vector is assigned to its nearest of ``n_cells`` centroid cells;
    a query scores only the vectors in its ``n_probe`` nearest cells,
    by the exact cosine of the raw vectors.

    The unquantized member of the IVF family: centroids are fitted
    and the corpus assigned by the functions the SQ8/PQ index builds
    use, and queries are served by the same kernel as `sq.ivfsq_topk`,
    `pq.ivfpq_topk` and the persisted serve (`ann_index._corpus_topk`
    with the `ann_index.FLOAT` codec): literal-centroid assignment,
    then an equi-join of the query's probed cells against the
    broadcast query side — corpus × query never cross-joins, and
    raising n_probe trades recall for scanned cells exactly like an
    IVF nprobe knob.

    Returns (query_id, candidate_id, cos_sim, rank); cos_sim is the
    6-dp-rounded cosine, rank ties broken by candidate_id, self-pairs
    excluded.

    Centroids are the ``n_cells`` lowest-id corpus vectors —
    deterministic and oracle-replayable (DuckDB regenerates the same
    cells, so the approximate result is value-checkable). ``centroids``
    takes a caller table (cell_id, cent_vec, cent_norm) instead, e.g.
    a `kmeans_centroids` fit; it defines the cell count.
    ``n_cells=None`` sizes cells as √n (`auto_cells`).

    ``corpus_cache_key``: opt-in session memoization of the corpus
    count, the anchor centroid rows and the assigned corpus frame
    (`util.memoized_frame`); the key must identify corpus content.
    Under caller ``centroids`` a digest of their collected rows joins
    the frame's key, so two tables under one key never share an
    assignment. Results are identical with or without the memo."""
    import hashlib

    from .ann_index import FLOAT, _corpus_topk, _fit_centroids

    ck = corpus_cache_key
    n_cells, cent_rows = _fit_centroids(corpus, n_cells, ck, id_col, vec_col, centroids)
    digest = None
    if ck is not None and centroids is not None:
        digest = hashlib.md5(repr(cent_rows).encode()).hexdigest()
    return _corpus_topk(
        FLOAT, (), cent_rows, corpus, queries, k, n_probe, id_col, vec_col,
        None if ck is None else ("ivf_codes", ck, n_cells, digest, id_col, vec_col),
    )


def lsh_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_planes: int = 4,
    n_tables: int = 8,
    seed: int = 42,
    multiprobe: bool = False,
    k_max: int | None = None,
    corpus_cache_key: tuple | None = None,
    queries_cache_key: tuple | None = None,
) -> DataFrame:
    """Approximate top-k via MULTI-TABLE sign-LSH: `n_tables`
    independent hash tables of `n_planes` sign bits each; a corpus
    vector is a candidate when it collides with the query in ANY
    table. For bit-agreement probability p = 1 − θ/π per plane,
    candidate recall is 1 − (1 − p^k)^L — with k=4, L=8 that is ≳0.8
    for cosine ≥ 0.5 neighbors, vs ~2% for a single 8-plane table
    (empirically 1/46 on the 64-dim test embeddings).

    ``multiprobe=True`` additionally probes, on the QUERY side only,
    every bucket at Hamming distance 1 (flip each of the k bits):
    (k+1)× more query bucket rows — still tiny — for a large recall
    boost without touching the corpus-side index.

    Scale shape: explode each vector into L (table, bucket) keys —
    an L× map-side blowup of 10-byte keys, NOT of vectors (the vector
    rides along once per table; at extreme scale store bucket tables
    separately) — then equi-join on (table, bucket), dedup candidate
    pairs, score once, per-query top-k. The corpus×query cross join
    never materializes. ``k_max``: prefix-stable plane chunks for
    auto-sized ``n_planes`` (see `lsh_tables`).

    ``corpus_cache_key``: opt-in SESSION-SCOPED reuse of the
    corpus-side bucket assignment (`util.memoized_frame`). The
    assignment is a pure function of (corpus, plane config) and is
    the dominant per-invocation cost, yet every LSH consumer in a
    session (retrieval, fusion, rerank-shortlist, hard-negative
    mining) rebuilds the identical frame — a deployment assigns
    buckets once per corpus, like any index build. Pass a tuple that
    IDENTIFIES THE CORPUS CONTENT (e.g. ``(sf_dir, "embeddings")``);
    the operator appends every plane-config parameter, so distinct
    configs never collide. Results are identical with or without the
    cache. ``queries_cache_key``: same contract for the QUERY-side
    bucket+probe frame — the probe entries are hundreds of py4j
    Column constructions (~1.3 s of pure DRIVER time per invocation
    at L=8, measured), and the memoized plan object survives an
    external clearCache(), so repeat invocations skip the analysis
    cost even when the data must recompute."""
    tables = lsh_tables(dim, n_planes, n_tables, seed, k_max)

    def with_buckets(
        df: DataFrame, id_alias: str, vec_alias: str, probe: bool = False
    ) -> DataFrame:
        # Stage 1 materializes each table's base bucket ONCE as a
        # column; stage 2's probe entries reference those columns with
        # cheap string ops. Inlining the k-dot bucket expression into
        # every Hamming-1 flip (3 substring copies x k flips x L
        # tables) put ~400 dot-product folds into one Catalyst tree
        # and cost seconds of DRIVER-side analysis per invocation —
        # the pq.py tree-size lesson. CollapseProject keeps the split
        # because the producers are non-cheap (NOTES.md).
        staged = df.select(
            F.col(id_col).alias(id_alias),
            F.col(vec_col).alias(vec_alias),
            *[
                lsh_bucket(F.col(vec_col), tables[t]).alias(f"__b{t}")
                for t in range(n_tables)
            ],
        )
        entries = []
        for t in range(n_tables):
            base = F.col(f"__b{t}")
            entries.append(
                F.struct(F.lit(t).alias("table"), base.alias("bucket"))
            )
            if probe:
                # Hamming-1 probes: flip bit i of the k-bit key.
                for i in range(n_planes):
                    flipped = F.concat(
                        F.substring(base, 1, i),
                        F.when(
                            F.substring(base, i + 1, 1) == "1", F.lit("0")
                        ).otherwise(F.lit("1")),
                        F.substring(base, i + 2, n_planes - i - 1),
                    )
                    entries.append(
                        F.struct(F.lit(t).alias("table"), flipped.alias("bucket"))
                    )
        return staged.select(
            id_alias,
            vec_alias,
            F.explode(F.array(*entries)).alias("tb"),
        ).select(
            id_alias,
            vec_alias,
            F.col("tb.table").alias("table"),
            F.col("tb.bucket").alias("bucket"),
        )

    if queries_cache_key is not None:
        from .util import memoized_frame

        q = memoized_frame(
            (
                "lsh_buckets_q",
                queries_cache_key,
                id_col,
                vec_col,
                dim,
                n_planes,
                n_tables,
                seed,
                k_max,
                multiprobe,
            ),
            lambda: with_buckets(queries, "query_id", "q_vec", probe=multiprobe),
        )
    else:
        q = with_buckets(queries, "query_id", "q_vec", probe=multiprobe)
    if corpus_cache_key is not None:
        from .util import memoized_frame

        c = memoized_frame(
            (
                "lsh_buckets",
                corpus_cache_key,
                id_col,
                vec_col,
                dim,
                n_planes,
                n_tables,
                seed,
                k_max,
            ),
            lambda: with_buckets(corpus, "candidate_id", "c_vec"),
        )
    else:
        c = with_buckets(corpus, "candidate_id", "c_vec")
    candidates = (
        c.join(F.broadcast(q), ["table", "bucket"])
        .filter(F.col("query_id") != F.col("candidate_id"))
        .select("query_id", "candidate_id", "q_vec", "c_vec")
        .dropDuplicates(["query_id", "candidate_id"])
    )
    scored = candidates.select(
        "query_id",
        "candidate_id",
        F.round(cosine(F.col("q_vec"), F.col("c_vec")), 6).alias("cos_sim"),
    )
    return grouped_topk(
        scored, ["query_id"], [F.desc("cos_sim"), F.asc("candidate_id")], k, "rank"
    ).select("query_id", "candidate_id", "cos_sim", "rank")


def mine_hard_negatives(
    queries: DataFrame,
    corpus: DataFrame,
    n_neg: int = 5,
    overfetch: int = 3,
    positives: DataFrame | None = None,
    label_col: str | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    topk_fn=None,
    brute_force_max: int = 50_000,
) -> DataFrame:
    """Hard-negative mining for contrastive training data: the
    candidates most similar to each query that are NOT its positives —
    the negatives that actually move an embedding model.

    Composition of existing machinery: ANN top-(n_neg × overfetch)
    (``topk_fn``: any of brute_force_topk / lsh_topk / ivf_topk with
    the (query_id, candidate_id, cos_sim, rank) contract), minus
    known positives (``positives`` as a (query_id, candidate_id)
    frame, anti-joined) and/or same-class candidates (``label_col``:
    a label equality filter — the textbook "similar but differently
    labeled" definition), re-ranked to the top ``n_neg`` per query.

    Default top-k is SIZE-AWARE, not brute force: when the corpus
    exceeds ``brute_force_max`` rows (one count, the index-build-time
    decision), the multi-table sign-LSH path with ``auto_planes``-
    sized buckets is selected — the O(q·n) broadcast scan is exact
    but quadratic-in-practice once q grows with n, and a default must
    not be the config that falls over at 10⁶ vectors. Pass ``topk_fn``
    explicitly to force either path (the swap equivalence is tested).

    Overfetch bounds the candidate pool: if more than
    (overfetch-1)·n_neg of a query's neighbors are positives, fewer
    than n_neg negatives come back — raise ``overfetch`` rather than
    re-scanning (standard practice; the miss is visible in the output
    cardinality). The exclusion joins run on the q × k candidate
    frame, which is tiny."""
    if topk_fn is None:
        n = corpus.count()
        if n <= brute_force_max:
            fn = brute_force_topk
        else:
            planes = auto_planes(n)

            def fn(q, c, **kw):
                return lsh_topk(q, c, n_planes=planes, multiprobe=True, **kw)

    else:
        fn = topk_fn
    k = n_neg * overfetch
    cand = fn(queries, corpus, k=k, id_col=id_col, vec_col=vec_col).drop("rank")
    if positives is not None:
        pos = positives.toDF("query_id", "candidate_id")
        cand = cand.join(pos, ["query_id", "candidate_id"], "left_anti")
    if label_col is not None:
        ql = queries.select(
            F.col(id_col).alias("query_id"), F.col(label_col).alias("__ql")
        )
        cl = corpus.select(
            F.col(id_col).alias("candidate_id"), F.col(label_col).alias("__cl")
        )
        cand = (
            cand.join(F.broadcast(ql), "query_id")
            .join(cl, "candidate_id")
            .filter(F.col("__ql") != F.col("__cl"))
            .drop("__ql", "__cl")
        )
    return grouped_topk(
        cand, ["query_id"], [F.desc("cos_sim"), F.asc("candidate_id")], n_neg, "rank"
    ).select("query_id", "candidate_id", "cos_sim", "rank")


def topk_recall(
    exact: DataFrame,
    approx: DataFrame,
    k: int,
    query_col: str = "query_id",
    cand_col: str = "candidate_id",
) -> DataFrame:
    """Recall@k of an approximate top-k result against the exact
    baseline, per query: (query_id, n_hits, recall). The evaluation
    loop every ANN deployment needs ("measure, don't guess"): run the
    exact scorer over a SAMPLE of queries, the candidate index over
    the same sample, and this join scores the index — tune
    n_planes / n_tables / nprobe against a recall target instead of
    folklore.

    Plan shape: both inputs are k-rows-per-query (tiny relative to
    the corpus that produced them); the equi-join on
    (query, candidate) and the per-query count are query-set-sized.
    The expensive parts are the INPUT plans; this adds nothing but a
    sample-sized shuffle."""
    a = exact.select(
        F.col(query_col).alias("__q"), F.col(cand_col).alias("__c")
    )
    b = approx.select(
        F.col(query_col).alias("__q"), F.col(cand_col).alias("__c"), F.lit(1).alias("__hit")
    )
    return (
        a.join(b, ["__q", "__c"], "left_outer")
        .groupBy("__q")
        .agg(F.count("__hit").alias("n_hits"))
        .select(
            F.col("__q").alias(query_col),
            F.col("n_hits").cast("long").alias("n_hits"),
            F.round(F.col("n_hits") / F.lit(float(k)), 4).alias("recall"),
        )
    )


def rrf_fuse(
    ranked: list[DataFrame],
    k: int = 5,
    c: int = 60,
    query_col: str = "query_id",
    cand_col: str = "candidate_id",
    rank_col: str = "rank",
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al. 2009) of N ranked
    retrieval lists: score(q, d) = Σ_lists 1/(c + rank_list(q, d)),
    missing-from-a-list contributes 0. THE standard hybrid-retrieval
    combiner — fuse a sign-LSH index with an IVF index (different
    recall failure modes: LSH misses near-boundary buckets, IVF
    misses near-cell-edge vectors) and the union outranks either,
    with no score calibration needed because only RANKS enter.

    Determinism/oracle contract: 1/(c + rank) is the same double on
    both engines; the N contributions add in list order via nested
    coalesce(x, 0) sums; the fused score becomes integer parts-per-
    billion (floor(x*1e9 + 0.5) — round-half-up, NOTES.md) BEFORE the
    final rank so the cut is engine-portable.

    Plan shape: inputs are k-rows-per-query (tiny vs the corpora that
    produced them); N-1 full-outer joins on (query, candidate) plus
    one per-query top-k window — all query-set-sized. The expensive
    parts are the INPUT index scans; fusion itself is free at scale.

    Returns (query_id, candidate_id, rrf_ppb, fused_rank)."""
    if len(ranked) < 2:
        raise ValueError("rrf_fuse needs at least two ranked lists")
    contribs = [
        df.select(
            query_col,
            cand_col,
            (
                F.lit(1.0) / (F.lit(float(c)) + F.col(rank_col).cast("double"))
            ).alias(f"__rrf{i}"),
        )
        for i, df in enumerate(ranked)
    ]
    joined = contribs[0]
    for nxt in contribs[1:]:
        joined = joined.join(nxt, [query_col, cand_col], "full_outer")
    score: Column = F.coalesce(F.col("__rrf0"), F.lit(0.0))
    for i in range(1, len(contribs)):
        score = score + F.coalesce(F.col(f"__rrf{i}"), F.lit(0.0))
    fused = joined.select(
        query_col,
        cand_col,
        F.floor(score * F.lit(1e9) + F.lit(0.5)).cast("long").alias("rrf_ppb"),
    )
    w = W.partitionBy(query_col).orderBy(F.desc("rrf_ppb"), F.asc(cand_col))
    return (
        fused.withColumn("fused_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("fused_rank") <= k)
        .select(query_col, cand_col, "rrf_ppb", "fused_rank")
    )


def mmr_rerank(
    candidates: DataFrame,
    k: int = 5,
    lam: float = 0.7,
    query_col: str = "query_id",
    cand_col: str = "candidate_id",
    score_col: str = "cos_sim",
    vec_col: str = "c_vec",
) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein
    1998): greedily pick, per query, the candidate maximizing
    λ·sim(q,d) − (1−λ)·max_{s∈selected} sim(d,s) — relevance traded
    against redundancy, the standard fix for an ANN shortlist full of
    near-duplicates of the same document (which, in a dedup-focused
    corpus, is exactly what a raw top-k returns).

    Input: a per-query candidate SHORTLIST (query_id, candidate_id,
    cos_sim, c_vec) — the overfetched output of any ANN path with the
    candidate vectors attached (tens of rows per query, by the
    shortlist contract). Output: (query_id, candidate_id, mmr_score,
    rank) with rank 1..k in greedy pick order.

    Greedy sequential selection is genuinely iterative — each pick
    depends on everything picked so far — so this is the legitimate
    `applyInPandas` case (per-QUERY groups, shortlist-sized: the
    Python work is O(k·|shortlist|·dim) on ≲40 rows, never
    corpus-sized; the one shuffle is the query_id grouping).
    Deterministic: float64 numpy, candidates pre-sorted by
    (−cos_sim, candidate_id), ties broken by that order, and the
    redundancy dot products are BLAS-FREE (elementwise multiply +
    numpy pairwise-sum reduction — portable C with a fixed reduction
    order, so the result does not vary with the BLAS build the way a
    matmul can) — a sequential pure-Python reference reproduces it
    exactly (tests/test_similarity_mmr.py). Output id columns keep
    the INPUT id columns' types (string ids work unchanged)."""
    import pandas as pd

    qt = candidates.schema[query_col].dataType.simpleString()
    ct = candidates.schema[cand_col].dataType.simpleString()
    out_schema = (
        f"{query_col} {qt}, {cand_col} {ct}, mmr_score double, rank long"
    )
    k_, lam_ = int(k), float(lam)
    qc, cc, sc, vc = query_col, cand_col, score_col, vec_col

    def pick(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        pdf = pdf.sort_values([sc, cc], ascending=[False, True]).reset_index(
            drop=True
        )
        vecs = np.array([np.asarray(v, dtype=np.float64) for v in pdf[vc]])
        norms = np.sqrt((vecs * vecs).sum(axis=1))
        norms[norms == 0.0] = 1.0
        unit = vecs / norms[:, None]
        rel = pdf[sc].to_numpy(dtype=np.float64)
        n = len(pdf)
        chosen: list[int] = []
        scores: list[float] = []
        free = np.ones(n, dtype=bool)
        for _ in range(min(k_, n)):
            if chosen:
                # BLAS-free on purpose: matmul reduction order varies
                # by BLAS build; broadcasted multiply + np.sum is
                # numpy's own pairwise fold, stable across platforms.
                red = (unit[:, None, :] * unit[chosen][None, :, :]).sum(
                    axis=2
                ).max(axis=1)
            else:
                red = np.zeros(n)
            mmr = lam_ * rel - (1.0 - lam_) * red
            mmr[~free] = -np.inf
            best = int(np.argmax(mmr))  # first max = the sort-order tiebreak
            chosen.append(best)
            scores.append(float(mmr[best]))
            free[best] = False
        return pd.DataFrame(
            {
                qc: pdf[qc].iloc[chosen].to_numpy(),
                cc: pdf[cc].iloc[chosen].to_numpy(),
                "mmr_score": [round(s, 6) for s in scores],
                "rank": range(1, len(chosen) + 1),
            }
        )

    return candidates.groupBy(query_col).applyInPandas(pick, out_schema)
