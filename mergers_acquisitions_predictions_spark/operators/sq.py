"""Scalar quantization (SQ8) for embedding search — the OTHER
compression point on the ANN memory/recall curve, completing the
family next to `operators/pq.py`:

    raw float32 (s02/s03/s04)   256 B/vector, exact dot products
    SQ8 (here)                   64 B/vector, ~lossless recall
    PQ 8x16 (pq.py)               8 B/vector, table-lookup ADC

SQ8 stores one uint8 code PER DIMENSION against per-dimension
min/max learned from the corpus (the FAISS ``SQ8`` /
Lucene-KNN-byte-vector design point): 4x smaller than float32 with
recall that is near-indistinguishable from exact search, because an
8-bit grid per dimension is far finer than the inter-vector spacing
of real embedding distributions. The scan cost stays a d-length
fused multiply-add per candidate (unlike PQ's M lookups) — SQ8 buys
MEMORY, not FLOPs, which is the right trade when the index must fit
executor RAM but the scan is compute-light.

Composition with the IVF coarse quantizer keeps the scan sub-linear
exactly as in `pq.ivfpq_topk`: candidates come from an equi-join on
the query's ``n_probe`` nearest cells — corpus x query never
cross-joins. The quantizer primitives live here; `ivfsq_topk` fits,
encodes and serves through the persisted index's own functions
(`operators/ann_index.py` — one serve kernel for both paths).

Determinism/oracle contract (same discipline as pq.py): stats are
per-dimension min/max of the UNIT-normalized corpus (exact double
comparisons — no fold-order sensitivity at all), encoding is a fixed
round-half-up grid, and the asymmetric dequantized dot product is a
left-to-right double fold — so DuckDB regenerates stats, codes, and
ranks value-exactly from the parquet (plans/lsh_oracle.ivfsq_topk_sql)
and even this approximate index is hash-checkable.

Plan shape for 100 TB: stats aggregation is one posexplode +
dim-keyed groupBy whose shuffle is #partitions x dim rows after
map-side partial aggregation (the collect is ``dim`` rows — a driver
constant like centroids/codebooks, persisted once at index build).
Cell assignment is map-side; one shuffle clusters the unit vectors
by cell and the encode runs after it (`ann_index._encoded`), giving
the (candidate_id, cell_id, sq) index at ~d bytes per vector.
Queries broadcast with full-precision unit vectors (asymmetric
distance — queries are never quantized), and the per-query top-k
window, keyed by query_id, shuffles only probed pairs.

No reference analogue (the reference has no vector search) — part of
the training-data-pipeline surface SURVEY §7 Phase 4 calls for.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.vectors import l2_norm
from .util import bounded_collect, double_array_literal, keyed_memo

#: Driver-collect bound on `sq_stats`: one (dim, min, max) row per
#: vector dimension. Embedding widths are hundreds to a few thousand;
#: a wider "vector" is a caller mistake (a corpus-sized array column)
#: and fails loudly instead of pulling that many rows to the driver.
MAX_SQ_DIMS = 65_536


def _unit(vec: Column, norm: Column) -> Column:
    """x/‖v‖ per element in double — the one unit-normalization the
    SQ8 and PQ encoders and serves share, spelled like the oracle's
    list_transform so unit values are bit-equal."""
    return F.transform(vec, lambda x: x.cast("double") / norm)


def sq_stats(
    corpus: DataFrame,
    vec_col: str = "embedding",
) -> tuple[list[float], list[float]]:
    """Per-dimension (min, range) of the unit-normalized corpus — the
    learned quantizer. Distributed: posexplode to (dim, x), one
    dim-keyed groupBy (map-side partial agg makes the shuffle
    #partitions x dim rows, not corpus-sized), collect ``dim`` rows
    in one job (`util.bounded_collect` — at most `MAX_SQ_DIMS`, else
    ValueError). The collect IS the index-build artifact a deployment
    persists — same class as `ivf_centroids` / `pq_anchor_codebooks`.

    min/max of doubles are exact comparisons (no accumulation), so
    the oracle's SQL aggregate reproduces them bit-identically."""
    u = _unit(F.col(vec_col), l2_norm(F.col(vec_col)))
    rows = bounded_collect(
        corpus.select(F.posexplode(u).alias("dim", "x"))
        .groupBy("dim")
        .agg(F.min("x").alias("mn"), F.max("x").alias("mx")),
        MAX_SQ_DIMS,
        f"SQ8 stats rows, one per dimension (MAX_SQ_DIMS={MAX_SQ_DIMS})",
    )
    by_dim = sorted(rows, key=lambda r: r["dim"])
    mns = [float(r["mn"]) for r in by_dim]
    rngs = [float(r["mx"]) - float(r["mn"]) for r in by_dim]
    return mns, rngs


def sq_encode(
    unit_vec: Column, mns: list[float], rngs: list[float]
) -> Column:
    """SQ8 codes for a unit vector: per dimension, round-half-up onto
    the 0..255 grid between that dimension's corpus min/max (clamped;
    degenerate constant dimensions encode as 0). Returns
    ``array<int>`` of length ``dim`` — the 1-byte-per-dimension
    compressed form. One map-side HOF expression against two literal
    stat arrays (the pq.py lesson: literals + HOFs keep the Catalyst
    tree O(1) in the config constants)."""
    d = len(mns)
    mnl, rgl = double_array_literal(mns), double_array_literal(rngs)

    def code(i: Column) -> Column:
        ii = i.cast("int")
        grid = F.floor(
            (F.element_at(unit_vec, ii) - F.element_at(mnl, ii))
            / F.element_at(rgl, ii)
            * F.lit(255.0)
            + F.lit(0.5)
        )
        return (
            F.when(F.element_at(rgl, ii) == 0.0, F.lit(0).cast("long"))
            .otherwise(F.least(F.greatest(grid, F.lit(0).cast("long")), F.lit(255).cast("long")))
            .cast("int")
        )

    return F.transform(F.sequence(F.lit(1), F.lit(d)), code)


def sq_score(
    q_unit: Column, codes: Column, mns: list[float], rngs: list[float]
) -> Column:
    """Asymmetric dequantized dot product: the full-precision query
    against the candidate's reconstructed vector,
    Σ_i q_i * (mn_i + code_i * rng_i / 255). Left-to-right double
    fold — the oracle's list_sum order. On the unit sphere this ranks
    like cosine (queries are exact; only the corpus side carries
    quantization error)."""
    d = len(mns)
    mnl, rgl = double_array_literal(mns), double_array_literal(rngs)
    return F.aggregate(
        F.sequence(F.lit(1), F.lit(d)),
        F.lit(0.0),
        lambda acc, i: acc
        + F.element_at(q_unit, i.cast("int"))
        * (
            F.element_at(mnl, i.cast("int"))
            + F.element_at(codes, i.cast("int")).cast("double")
            * F.element_at(rgl, i.cast("int"))
            / F.lit(255.0)
        ),
    )


def ivfsq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    n_cells: int | None = 16,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    corpus_cache_key: tuple | None = None,
) -> DataFrame:
    """Approximate top-k via IVF-SQ8: cosine IVF cells prune the
    candidate space (equi-join on cell_id), then the scan ranks each
    query's probed candidates by the asymmetric dequantized dot
    product against 1-byte-per-dimension codes.

    The in-memory form of the persisted SQ8 index: stats and
    centroids are fitted, the corpus encoded and the queries served
    by the SAME functions `ann_index.build_ivfsq_index` and
    `ann_index.search_index` use (`ann_index._corpus_topk`), so the
    two paths return bit-identical rows.

    Returns (query_id, candidate_id, sq_sim, rank); sq_sim is the
    6-dp-rounded dequantized cosine, rank ties broken by
    candidate_id — deterministic, DuckDB-replayable end to end
    (plans/lsh_oracle.ivfsq_topk_sql). No exact re-rank stage is
    needed at 8 bits/dimension — recall vs the exact baseline sits at
    the IVF ceiling (asserted in tests/test_sq.py), which is the
    practical argument for SQ8 when index memory, not scan FLOPs, is
    the binding constraint.

    ``corpus_cache_key``: opt-in session memoization of the index
    artifacts — count, quantizer stats, centroid rows, and the
    ENCODED-corpus frame (the in-memory codes) — per (corpus,
    config); the usual contract (key identifies corpus content,
    results identical either way)."""
    from .ann_index import SQ8, _corpus_topk, _fit_centroids

    ck = corpus_cache_key
    stats = keyed_memo(ck, ("sq_stats", ck, vec_col), lambda: sq_stats(corpus, vec_col))
    n_cells, cent_rows = _fit_centroids(corpus, n_cells, ck, id_col, vec_col)
    return _corpus_topk(
        SQ8, stats, cent_rows, corpus, queries, k, n_probe, id_col, vec_col,
        None if ck is None else ("ivfsq_codes", ck, n_cells, id_col, vec_col),
    )
