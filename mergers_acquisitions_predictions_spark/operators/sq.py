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
cross-joins.

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
Cell assignment + encoding are one map-side pass over the corpus
scan; the persisted index is (candidate_id, cell_id, sq) at ~d bytes
per vector. Queries broadcast with full-precision unit vectors
(asymmetric distance — queries are never quantized), and the only
corpus-sized shuffle is the per-query top-k window keyed by query_id.

No reference analogue (the reference has no vector search) — part of
the training-data-pipeline surface SURVEY §7 Phase 4 calls for.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from ..functions.vectors import l2_norm
from .util import repartition_for_compute


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
    #partitions x dim rows, not corpus-sized), collect ``dim`` rows.
    The collect IS the index-build artifact a deployment persists —
    same class as `ivf_centroids` / `pq_anchor_codebooks`.

    min/max of doubles are exact comparisons (no accumulation), so
    the oracle's SQL aggregate reproduces them bit-identically."""
    u = _unit(F.col(vec_col), l2_norm(F.col(vec_col)))
    rows = (
        corpus.select(F.posexplode(u).alias("dim", "x"))
        .groupBy("dim")
        .agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
        .collect()
    )
    by_dim = sorted(rows, key=lambda r: r["dim"])
    mns = [float(r["mn"]) for r in by_dim]
    rngs = [float(r["mx"]) - float(r["mn"]) for r in by_dim]
    return mns, rngs


def _lit_arr(xs: list[float]) -> Column:
    from .util import double_array_literal, memoized_literal

    return memoized_literal(
        ("sq_stats_arr", tuple(map(float, xs))),
        lambda: double_array_literal(xs),
    )


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
    mnl, rgl = _lit_arr(mns), _lit_arr(rngs)

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
    mnl, rgl = _lit_arr(mns), _lit_arr(rngs)
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
    stats: tuple[list[float], list[float]] | None = None,
    corpus_cache_key: tuple | None = None,
) -> DataFrame:
    """Approximate top-k via IVF-SQ8: cosine IVF cells prune the
    candidate space (equi-join on cell_id), then the scan ranks each
    query's probed candidates by the asymmetric dequantized dot
    product against 1-byte-per-dimension codes.

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
    results identical either way). Ignored for stats when ``stats``
    is caller-supplied."""
    from .similarity import (
        auto_cells,
        collect_centroid_rows,
        ivf_assign_literal,
        ivf_centroids,
    )
    from .util import memoized_frame, memoized_literal

    memoize = corpus_cache_key is not None
    if n_cells is None:  # √n sizing policy — see similarity.auto_cells
        n = (
            memoized_literal(
                ("count", corpus_cache_key, id_col), lambda: corpus.count()
            )
            if memoize
            else corpus.count()
        )
        n_cells = auto_cells(n)
    if stats is not None:
        mns, rngs = stats
    elif memoize:
        mns, rngs = memoized_literal(
            ("sq_stats", corpus_cache_key, vec_col), lambda: sq_stats(corpus, vec_col)
        )
    else:
        mns, rngs = sq_stats(corpus, vec_col)
    if memoize:
        cent_rows = memoized_literal(
            ("ivf_cent_rows", corpus_cache_key, n_cells, id_col, vec_col),
            lambda: collect_centroid_rows(
                ivf_centroids(corpus, n_cells, id_col, vec_col)
            ),
        )
    else:
        cent_rows = collect_centroid_rows(
            ivf_centroids(corpus, n_cells, id_col, vec_col)
        )

    def corpus_codes() -> DataFrame:
        from .util import hof_bind

        # Bind the unit vector ONCE as a HOF lambda variable before
        # encoding (util.hof_bind — the §7o-r9 interpreted-HOF lesson
        # applied to the IN-MEMORY encode): splicing `_unit(...)` into
        # sq_encode's per-dimension lambda re-evaluates the full unit
        # transform per code dimension — d² work per row, ~40 s of
        # pure re-evaluation at 1M×64d and quadratically worse at
        # embedding dims. The persisted build (ann_index) breaks the
        # same composition with its cell shuffle; here no shuffle
        # exists to lean on, so the binding is expression-level.
        # Values and codes are bit-identical (asserted by this
        # family's oracles and by the in-memory-vs-persisted equality
        # test).
        return ivf_assign_literal(
            repartition_for_compute(corpus),
            cent_rows,
            "candidate_id",
            1,
            id_col,
            vec_col,
        ).select(
            "candidate_id",
            "cell_id",
            hof_bind(
                _unit(F.col("__vec"), F.col("__norm")),
                lambda u: sq_encode(u, mns, rngs),
            ).alias("sq"),
        )

    if memoize and stats is None:
        c = memoized_frame(
            ("ivfsq_codes", corpus_cache_key, n_cells, id_col, vec_col), corpus_codes
        )
    else:
        c = corpus_codes()
    q = ivf_assign_literal(
        queries, cent_rows, "query_id", n_probe, id_col, vec_col
    ).select(
        "query_id",
        "cell_id",
        _unit(F.col("__vec"), F.col("__norm")).alias("qu"),
    )

    joined = c.join(F.broadcast(q), "cell_id").filter(
        F.col("query_id") != F.col("candidate_id")
    )
    scored = joined.select(
        "query_id",
        "candidate_id",
        F.round(sq_score(F.col("qu"), F.col("sq"), mns, rngs), 6).alias("sq_sim"),
    )
    w = W.partitionBy("query_id").orderBy(F.desc("sq_sim"), F.asc("candidate_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "candidate_id", "sq_sim", "rank")
    )
