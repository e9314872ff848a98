"""Product quantization (PQ) for embedding search at scale — the
compression layer of an IVF-PQ index (Jégou et al. 2011, "Product
Quantization for Nearest Neighbor Search").

Why this exists at 100 TB: a raw float32 64-dim embedding is 256
bytes; its PQ code here is 8 bytes (one code per subspace). The
corpus-side index a search fleet keeps hot shrinks 32×, and the
asymmetric-distance (ADC) scan compares a full-precision query
against those codes with M table lookups per candidate instead of a
64-dim dot product. Composition with the IVF coarse quantizer
(`operators/similarity.ivf_assign_literal`) keeps the scan
sub-linear: only the query's ``n_probe`` cells are ADC-scanned.

Everything is SPHERICAL: vectors are L2-normalized before encoding,
so squared-L2 ADC distance ranks identically to cosine (‖u−v‖² =
2−2·cos on the unit sphere) and the cosine-based IVF cells are
metric-consistent with the PQ fine stage.

Determinism/oracle contract: codebooks are subspace slices of the
``n_codes`` lowest-id corpus vectors (the `ivf_centroids` anchor
trick), encoding breaks argmin ties toward the lowest code on
6-dp-rounded distances, and every float reduction is a left-to-right
double fold — so DuckDB replays codebooks, codes, and ADC ranks
value-exactly (plans/lsh_oracle.ivfpq_topk_sql), making even this
approximate index hash-checkable. A production deployment swaps the
anchor codebooks for per-subspace k-means (train once, persist —
exactly like `kmeans_centroids` vs `ivf_centroids`); every join
shape is unchanged.

The PQ primitives live here; `ivfpq_topk` fits, encodes and serves
through the persisted index's own functions (`operators/ann_index.py`
— one serve kernel for both paths).

No reference analogue (the reference has no vector search at all) —
this is part of the training-data-pipeline surface SURVEY §7 Phase 4
calls for alongside sign-LSH (similarity.lsh_topk) and IVF
(similarity.ivf_topk).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.vectors import l2_norm
from .sq import _unit
from .util import hof_bind


def anchor_slices(
    frame: DataFrame,
    id_col: str,
    vec: Column,
    n_subspaces: int,
    n_codes: int,
) -> list[list[list[float]]]:
    """The one lowest-id anchor slice: the ``vec`` values of the
    ``n_codes`` lowest-``id_col`` rows of ``frame``, each cut into
    ``n_subspaces`` equal subvectors → ``books[m][c]`` is code ``c``
    of subspace ``m``. Deterministic and oracle-replayable: the
    oracle recomputes the same vectors and takes the same lowest-id
    LIMIT. One driver collect of ``n_codes`` rows (a `limit`) — the
    index-build artifact a deployment persists once. A width not
    divisible by ``n_subspaces`` raises ValueError."""
    rows = frame.select(id_col, vec.alias("__v")).orderBy(id_col).limit(n_codes).collect()
    dim = len(rows[0]["__v"])
    if dim % n_subspaces:
        raise ValueError(f"dim {dim} not divisible by n_subspaces {n_subspaces}")
    sub = dim // n_subspaces
    vs = [[float(x) for x in r["__v"]] for r in rows]
    return [[v[m * sub : (m + 1) * sub] for v in vs] for m in range(n_subspaces)]


def pq_anchor_codebooks(
    corpus: DataFrame,
    n_subspaces: int = 8,
    n_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[list[float]]]:
    """Deterministic PQ codebooks: `anchor_slices` of the ``n_codes``
    lowest-id corpus vectors, L2-normalized (`sq._unit` over the
    left-to-right `l2_norm` fold — the oracle's ``list_sum``
    spelling, so DuckDB regenerates the same values from the
    parquet)."""
    return anchor_slices(
        corpus, id_col, _unit(F.col(vec_col), l2_norm(F.col(vec_col))),
        n_subspaces, n_codes,
    )


def _cb_literal(codebooks: list[list[list[float]]]) -> Column:
    """The codebooks as ONE nested array<array<array<double>>> literal
    column (`util.array_literal`: a single folded Literal). Keeping
    the codebook a literal (not a join) keeps encoding map-side;
    keeping it ONE column (not n_subspaces x n_codes unrolled
    sub-expressions) keeps the Catalyst tree small — the first
    formulation here unrolled 128 aggregate expressions and spent
    seconds per query in driver-side analysis alone."""
    from .util import array_literal

    return array_literal(codebooks, "array<array<array<double>>>")


def _sqdist(u_slice: Column, code: Column) -> Column:
    """Squared L2 between a unit-vector slice and a codebook
    subvector: left-to-right double fold, the oracle's list_sum
    order."""
    return F.aggregate(
        F.zip_with(u_slice, code, lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def pq_encode(
    unit_vec: Column, codebooks: list[list[list[float]]]
) -> Column:
    """PQ codes for a unit vector: per subspace, the argmin-distance
    code over the codebook, ties → lowest code on 6-dp-rounded
    distances (`array_position` returns the FIRST minimum — the same
    tiebreak the oracle's `list_position` applies). Returns
    ``array<int>`` of length ``n_subspaces`` — the 8-byte compressed
    representation that replaces the 256-byte vector corpus-side.

    One nested higher-order-function expression (transform over
    subspaces -> transform over codes -> zip_with fold over dims)
    against the literal codebook column — semantically identical to
    unrolling every (m, c) pair but ~100x smaller as a Catalyst
    tree (the unrolled form cost seconds of driver-side analysis
    per query; see _cb_literal).

    Evaluation count (the §7o-r9 interpreted-HOF lesson): the
    subspace SLICE and the per-subspace DISTANCE array are each bound
    ONCE as lambda variables (`util.hof_bind`) — inline, the slice is
    re-evaluated per code and the K-distance array twice (argmin =
    array_position + array_min), and a composed ``unit_vec`` would
    multiply through both (M·K·d-ish work per row). Pass ``unit_vec``
    as a concrete attribute: `ann_index._encoded` encodes after the
    cell shuffle. Bit-identical — same arithmetic, fewer
    evaluations."""
    sub = len(codebooks[0][0])
    n_sub = len(codebooks)
    cbs = _cb_literal(codebooks)

    def code_of(m: Column) -> Column:
        return hof_bind(
            F.slice(unit_vec, m * sub + 1, sub),
            lambda sl: hof_bind(
                F.transform(
                    F.element_at(cbs, (m + 1).cast("int")),
                    lambda code: F.round(_sqdist(sl, code), 6),
                ),
                lambda dd: (F.array_position(dd, F.array_min(dd)) - 1).cast(
                    "int"
                ),
            ),
        )

    return F.transform(F.sequence(F.lit(0), F.lit(n_sub - 1)), code_of)


def pq_adc_table(
    unit_vec: Column, codebooks: list[list[list[float]]]
) -> Column:
    """Per-query ADC distance table: ``dtab[m][c]`` = squared L2
    between the query's subspace-``m`` slice and code ``c`` — the
    classic PQ trick that turns each candidate's distance into M
    array lookups. Computed ONCE per query row (M*K doubles, ~1 KB),
    then carried through the broadcast to every probe pair. The
    subspace slice is bound once per m (`util.hof_bind`) — inline it
    re-sliced (and, for a composed ``unit_vec``, re-derived) the
    query vector per code."""
    sub = len(codebooks[0][0])
    n_sub = len(codebooks)
    cbs = _cb_literal(codebooks)
    return F.transform(
        F.sequence(F.lit(0), F.lit(n_sub - 1)),
        lambda m: hof_bind(
            F.slice(unit_vec, m * sub + 1, sub),
            lambda sl: F.transform(
                F.element_at(cbs, (m + 1).cast("int")),
                lambda code: _sqdist(sl, code),
            ),
        ),
    )


def adc_sum(n_sub: int) -> Column:
    """Σ_m dtab[m][pq[m]] over ``n_sub`` subspaces as a left-to-right
    add chain — the oracle's outer `list_sum` order. Reads the
    ``dtab`` (per-query ADC table) and ``pq`` (candidate codes)
    columns of the joined probe frame — the PQ codec's score in
    `ann_index`'s one rank step."""
    adc: Column = F.lit(0.0)
    for m in range(n_sub):
        adc = adc + F.element_at(
            F.element_at("dtab", m + 1), F.element_at("pq", m + 1) + 1
        )
    return adc


def ivfpq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    n_cells: int | None = 16,
    n_probe: int = 2,
    n_subspaces: int = 8,
    n_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codebooks: list[list[list[float]]] | None = None,
    rerank: int | None = None,
    corpus_cache_key: tuple | None = None,
    residual: bool = False,
) -> DataFrame:
    """Approximate top-k via IVF-PQ: cosine IVF cells prune the
    candidate space (equi-join on cell_id — corpus × query never
    cross-joins), then an ADC scan ranks each query's probed
    candidates by quantized squared-L2 on the unit sphere.

    The in-memory form of the persisted PQ index: centroids and
    codebooks are fitted (`ann_index._pq_books`), the corpus encoded
    and the queries served by the SAME functions
    `ann_index.build_ivfpq_index` and `ann_index.search_index` use
    (`ann_index._corpus_topk`), so the two paths return bit-identical
    rows.

    ``rerank=R`` adds the production third stage: the ADC scan keeps
    a per-query shortlist of R candidates (cheap — codes only), then
    EXACT cosine re-scores just those R full vectors and the top-k
    comes from the re-ranked list. This recovers the quantization
    loss almost entirely (measured here: raw ADC recall@5 0.25 vs
    the 0.81 IVF ceiling; R=8k re-ranked 0.80) while still never
    touching more than n_probe cells of codes + R vectors per query.
    Output schema switches to (query_id, candidate_id, cos_sim,
    rank) — the same contract as the other ANN paths.

    Plan shape for 100 TB: cell assignment is map-side against
    literal centroids, one shuffle clusters the corpus by cell and
    the encode runs after it; the coded corpus ``(candidate_id,
    cell_id, pq)`` is 9 bytes/vector + the partition key. Queries
    broadcast with their precomputed ADC tables; per candidate the
    score is M element_at lookups + M-1 adds — no vector math in the
    scan. The per-query top-k window shuffles only probed pairs.

    Returns (query_id, candidate_id, adc_dist, rank); adc_dist is the
    6-dp-rounded quantized distance (≈ 2−2·cos), rank ties broken by
    candidate_id — deterministic, DuckDB-replayable end to end.

    ``codebooks``: caller books (e.g. `pq_kmeans_codebooks`); a
    corpus whose width is not n_subspaces × their sub-dimension
    raises ValueError.

    ``corpus_cache_key``: opt-in session memoization of the index
    artifacts (count, centroid rows, anchor books, the PQ-coded
    corpus frame) per (corpus, config) — the usual contract: the key
    identifies corpus content, results are identical either way.
    Only applies to the coded frame when ``codebooks`` is None
    (caller-supplied books have content the key cannot see).

    ``residual=True`` (SCALE.md §7s): the fine stage encodes x_unit −
    c_unit(cell(x)) instead of x_unit, and the query's ADC table is
    computed PER PROBED CELL from the matching query residual (the
    classic IVF-ADC serve shape — n_probe small tables per query
    instead of one; the cell equi-join already pairs each candidate
    with its own cell's table). Same bytes, same join shapes, same
    ranking contract; §7s measured +0.16 recall@5 on the structured
    corpus and a LOSS on the unstructured one — opt-in by design.
    Anchor books come from the lowest-id RESIDUALS (`anchor_slices`
    over the residual column); caller-supplied ``codebooks`` must
    have been fitted on residuals."""
    from .ann_index import PQ, _assigned, _corpus_topk, _fit_centroids, _pq_books

    ck = corpus_cache_key
    n_cells, cent_rows = _fit_centroids(corpus, n_cells, ck, id_col, vec_col)
    cbs = _pq_books(
        corpus,
        _assigned(corpus, cent_rows, False, id_col, vec_col),
        cent_rows, n_cells, n_subspaces, n_codes, ck, codebooks, residual,
        id_col, vec_col,
    )
    key = (
        None
        if ck is None or codebooks is not None
        else (
            "ivfpq_codes", ck, n_cells, n_subspaces, n_codes, id_col, vec_col,
            *(("resid",) if residual else ()),
        )
    )
    return _corpus_topk(
        PQ, (cbs, residual), cent_rows, corpus, queries, k, n_probe, id_col,
        vec_col, key, rerank,
    )


def pq_kmeans_codebooks(
    corpus: DataFrame,
    n_subspaces: int = 8,
    n_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    max_iter: int = 20,
    fit_sample_per_code: int | None = 6250,
    fit_floor: int | None = None,
    corpus_cache_key: tuple | None = None,
) -> list[list[list[float]]]:
    """LEARNED PQ codebooks — the production replacement for
    `pq_anchor_codebooks`, as `kmeans_centroids` is for
    `ivf_centroids`: the ``n_subspaces`` call of
    `similarity.fit_kmeans_books` over the unit vectors, so book ``m``
    is the ``n_codes`` k-means centers (``seed + m``) of subspace
    ``m``'s unit-vector slices. Same nested-list shape as the anchor
    books: `pq_encode` / `pq_adc_table` / ``codebooks=`` consume it
    unchanged.

    Sample rule (`fit_kmeans_books`): above ``max(fit_sample_per_code
    × n_codes, floor)`` rows the fits share one content-keyed
    ``xxhash64(id) % m`` sample (default 6250 × 16 = the 100k sample
    SCALE.md §7q measured); ``fit_floor`` overrides the 100k floor
    (``0`` forces the sampled branch, as s29 does); ``None`` disables
    sampling. ``corpus_cache_key`` memoizes the sizing count under
    the index builds' key. The learned books still encode the FULL
    corpus: encode, not fit, dominates once books are frozen."""
    from .similarity import fit_kmeans_books

    return fit_kmeans_books(
        corpus, id_col, vec_col, n_subspaces, n_codes, seed, max_iter,
        fit_sample_per_code, fit_floor, corpus_cache_key,
    )


def pq_kmeans_residual_codebooks(
    corpus: DataFrame,
    cent_rows: list[tuple[int, list[float], float]],
    n_subspaces: int = 8,
    n_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    max_iter: int = 20,
    fit_sample_per_code: int | None = 6250,
    fit_floor: int | None = None,
    corpus_cache_key: tuple | None = None,
    assign_blas: bool = False,
) -> list[list[list[float]]]:
    """LEARNED books for the RESIDUAL kind: `pq_kmeans_codebooks`' call
    over the residuals x_unit − c_unit(cell(x)) instead of the unit
    vectors (not re-normalized: a residual is not a direction). The
    residual column is the PQ codec's own pre-encode
    (`ann_index._pq_pre`) of the sample's cell assignment against
    ``cent_rows`` — pass the centroid table the index build uses, and
    the books are fitted on exactly the residuals the build encodes.
    Sampling as in `pq_kmeans_codebooks`; the sample is drawn before
    the assignment.

    ``assign_blas`` routes that assignment through `ivf_assign_blas`
    (one numpy matmul per Arrow batch — at 1M × 1000 cells the fold
    assignment dominates the fit, SCALE.md §7s-b); it only picks the
    cell, which is identical off tie boundaries. Default off, like
    every registered-row fold-path default."""
    from .ann_index import _pq_pre
    from .similarity import fit_kmeans_books, ivf_assign_blas, ivf_assign_literal

    assign = ivf_assign_blas if assign_blas else ivf_assign_literal
    return fit_kmeans_books(
        corpus, id_col, vec_col, n_subspaces, n_codes, seed, max_iter,
        fit_sample_per_code, fit_floor, corpus_cache_key,
        pre=lambda f: _pq_pre(
            assign(f, cent_rows, "candidate_id", 1, id_col, vec_col), True, cent_rows
        ),
    )
