"""DuckDB SQL generators for the approximate-retrieval oracles.

Each generator replays an engine operator bit-exactly over the parquet
tables: LSH hyperplane constants are emitted as shortest-roundtrip float
literals, dot products fold left-to-right in double, and ranked scores
round to 6 dp with the candidate id as tiebreak. The IVF oracles share
one kernel, kept as SQL text so it stays independent of the engine's
`ann_index._Codec`: the `_CODECS` table, `_scored_ctes_sql`, `_tail_sql`
and `_colbert_sql`. tests/test_oracle_text.py pins every oracle's text.
"""

from __future__ import annotations

from typing import NamedTuple

from ..operators.similarity import _hyperplanes

#: DuckDB spelling of sum(x_i * x_i) over a list column.
SQL_SQNORM = "list_sum(list_transform({v}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))"

#: DuckDB spelling of the pairwise double dot product.
SQL_DOT = """list_sum(list_transform(range(1, len({a}) + 1),
             i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"""


def planes_values_sql(dim: int, n_planes: int, n_tables: int, seed: int = 42) -> str:
    """`(table, plane_index, plane)` VALUES rows carrying the engine's
    hyperplane constants verbatim."""
    planes = _hyperplanes(dim, n_planes * n_tables, seed)
    rows = []
    for idx, p in enumerate(planes):
        lit = "[" + ", ".join(repr(v) for v in p) + "]"
        rows.append(f"({idx // n_planes}, {idx % n_planes}, {lit}::DOUBLE[])")
    return ",\n        ".join(rows)


def _buckets_sql(dim: int, n_planes: int, n_tables: int, seed: int, kk: str) -> str:
    """`planes` + ``kk`` + `buckets`; with a ``kk`` CTE each table's
    bit string is masked to its first ``kk.k`` planes."""
    mask = " CROSS JOIN kk\n        WHERE pl.i < kk.k" if kk else ""
    return f"""
    planes(t, i, p) AS (VALUES
        {planes_values_sql(dim, n_planes, n_tables, seed)}
    ),{kk}
    buckets AS (
        SELECT e.vec_id AS vec_id, pl.t,
               string_agg(
                   CASE WHEN list_sum(list_transform(range(1, {dim} + 1),
                            j -> CAST(e.embedding[j] AS DOUBLE) * pl.p[j])) >= 0
                        THEN '1' ELSE '0' END,
                   '' ORDER BY pl.i) AS bucket
        FROM embeddings e CROSS JOIN planes pl{mask}
        GROUP BY e.vec_id, pl.t
    )"""


def buckets_cte_sql(dim: int, n_planes: int, n_tables: int, seed: int = 42) -> str:
    """CTEs `planes` + `buckets(vec_id, t, bucket)` over ``embeddings``,
    mirroring `similarity.lsh_bucket`: one sign bit per plane (dot >= 0
    → '1'), concatenated in plane order."""
    return _buckets_sql(dim, n_planes, n_tables, seed, "")


def auto_buckets_cte_sql(
    dim: int,
    k_max: int,
    n_tables: int,
    seed: int = 42,
    target_bucket: int = 125,
    floor: int = 4,
) -> str:
    """`buckets_cte_sql` for auto-sized sign-LSH (`lsh_tables(...,
    k_max=k_max)` + `auto_planes`): ``planes`` holds ``k_max`` planes
    per table, ``kk`` recomputes greatest(floor, ⌊log2(n/target)⌋) from
    count(*), and each bucket keeps the first k bits. A table's first k
    planes do not change as k grows, so one string is exact at every
    corpus size."""
    kk = f"""
    kk AS (
        SELECT greatest({floor}, CAST(floor(log2(greatest(1.0,
                   count(*) / {target_bucket}.0))) AS INTEGER)) AS k
        FROM embeddings
    ),"""
    return _buckets_sql(dim, k_max, n_tables, seed, kk)


def _hamming1_sql(n: int, base: str, auto: bool) -> str:
    """The base bucket plus each 1-bit-flipped variant; ``auto`` flips
    only the first ``kk.k`` of the ``n`` generated positions."""
    width, kk, mask = (
        ("kk.k", " CROSS JOIN kk", "\n        WHERE r.i < kk.k") if auto else (n, "", "")
    )
    return f"""
        SELECT vec_id, t, bucket FROM {base}
        UNION ALL
        SELECT vec_id, t,
               substr(bucket, 1, CAST(r.i AS INTEGER))
               || (CASE WHEN substr(bucket, CAST(r.i AS INTEGER) + 1, 1) = '1'
                        THEN '0' ELSE '1' END)
               || substr(bucket, CAST(r.i AS INTEGER) + 2,
                         {width} - CAST(r.i AS INTEGER) - 1) AS bucket
        FROM {base}{kk} CROSS JOIN range(0, {n}) r(i){mask}"""


def hamming1_probe_sql(n_planes: int, base: str = "qb") -> str:
    """Query-side Hamming-1 multiprobe over the bucket CTE ``base``,
    mirroring `lsh_topk(multiprobe=True)`."""
    return _hamming1_sql(n_planes, base, auto=False)


def auto_hamming1_probe_sql(k_max: int, base: str = "qb") -> str:
    """`hamming1_probe_sql` over `auto_buckets_cte_sql`'s buckets: flips
    run to the ``kk``-computed k (generated to ``k_max`` and masked,
    since DuckDB's range() wants a constant)."""
    return _hamming1_sql(k_max, base, auto=True)


def ivf_cent_cte_sql(n_cells: int) -> str:
    """Mirror of `similarity.ivf_centroids`: the ``n_cells`` lowest-id
    ``embeddings`` vectors as (cell_id, cvec, cnorm)."""
    return f"""
        SELECT vec_id AS cell_id, embedding AS cvec,
               sqrt({SQL_SQNORM.format(v='embedding')}) AS cnorm
        FROM embeddings ORDER BY vec_id LIMIT {n_cells}"""


def auto_ivf_cent_ctes_sql(
    floor: int = 16, build_filter: str = "", table: str = "embeddings"
) -> str:
    """CTEs ``ncells`` + ``cent`` mirroring `similarity.auto_cells` +
    `ivf_centroids`: greatest(floor, ⌊√n⌋) cells over count(*) of
    ``table``, centroids the lowest-id vectors. One string is exact at
    every corpus size. floor(sqrt(n)) equals isqrt(n) below 2^52
    because double sqrt is correctly rounded. ``build_filter`` (e.g.
    "WHERE vec_id % 2 = 0") restricts the vectors sizing and centroids
    are learned from."""
    return f"""ncells AS (
        SELECT greatest({floor},
                        CAST(floor(sqrt(CAST(count(*) AS DOUBLE))) AS INTEGER)) AS c
        FROM {table} {build_filter}
    ),
    cent AS (
        SELECT cell_id, cvec, cnorm FROM (
            SELECT vec_id AS cell_id, embedding AS cvec,
                   sqrt({SQL_SQNORM.format(v='embedding')}) AS cnorm,
                   row_number() OVER (ORDER BY vec_id) AS __rn
            FROM {table} {build_filter}
        ) WHERE __rn <= (SELECT c FROM ncells)
    )"""


def ivf_assign_sql(
    filter_sql: str,
    id_alias: str,
    probes: int,
    cent_cte: str = "cent",
    table: str = "embeddings",
) -> str:
    """Mirror of `similarity.ivf_assign_literal`: the ``probes`` best
    cells of each ``table`` row passing ``filter_sql``, by cosine
    against ``cent_cte`` rounded to 6 dp, cell id as tiebreak. Rows are
    (``id_alias``, vec, nrm, cell_id)."""
    return f"""
        SELECT {id_alias}, vec, nrm, cell_id FROM (
            SELECT e.vec_id AS {id_alias}, e.embedding AS vec,
                   sqrt({SQL_SQNORM.format(v='e.embedding')}) AS nrm,
                   ct.cell_id,
                   row_number() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY round({SQL_DOT.format(a='e.embedding', b='ct.cvec')}
                                / (sqrt({SQL_SQNORM.format(v='e.embedding')}) * ct.cnorm),
                                6) DESC, ct.cell_id
                   ) AS rn
            FROM (SELECT * FROM {table} {filter_sql}) e CROSS JOIN {cent_cte} ct
        ) WHERE rn <= {probes}"""


def _cent_sql(n_cells: int | str, build_filter: str = "", table: str = "embeddings") -> str:
    """The ``cent`` CTE: √n auto cells (``n_cells="auto"``) or the
    ``n_cells`` lowest-id vectors."""
    if n_cells == "auto":
        return auto_ivf_cent_ctes_sql(build_filter=build_filter, table=table)
    if table != "embeddings" or build_filter:
        raise ValueError("fixed n_cells supports only the unfiltered embeddings table")
    return f"cent AS ({ivf_cent_cte_sql(n_cells)}\n    )"


class _Codec(NamedTuple):
    """What the IVF oracle chain spells differently per codec, as SQL
    templates over ``{D}`` (SQ8 width), ``{M}``/``{SUB}``/``{K}`` (PQ
    subspaces, subspace width, codes per book), ``{DIM}`` (= M·SUB),
    ``{bf}`` (build filter) and ``{books}`` (the ``cb_nested`` CTE)."""

    unit: bool  # the chain opens with the ``unit`` CTE
    books: str  # anchor ``cb_nested`` CTE; "" for kinds without books
    pre: str  # CTEs between ``unit`` and ``cent``
    post: str  # CTEs between the assignments and ``scored``
    scored: str  # body of ``scored``: query_id, candidate_id, score col
    col: str  # score column
    order: str  # its sort direction in every rank window


class _Keep(dict):
    def __missing__(self, key: str) -> str:
        return "{" + key + "}"


def _fill(template: str, **values) -> str:
    """Format the named placeholders, leave the others for later."""
    return template.format_map(_Keep(values))


#: ``scored``'s probe join for the coded kinds; ``{cent_join}`` and
#: ``{stats}`` vary.
_CODED_FROM = """FROM q_assign q{cent_join}
        JOIN c_assign c USING (cell_id)
        JOIN codes cd ON cd.vec_id = c.candidate_id
        JOIN unit qu ON qu.vec_id = q.query_id
        CROSS JOIN {stats}
        WHERE q.query_id <> c.candidate_id"""

#: PQ encode of ``{x}`` rows of ``{src}``: per subspace, the book entry
#: at the rounded-minimum squared distance, lowest code on ties.
_PQ_DISTS = """list_transform(range(1, {K} + 1), c ->
                       round(list_sum(list_transform(range(1, {SUB} + 1),
                           i -> ({x}[(m - 1) * {SUB} + i] - cbs[m][c][i])
                                * ({x}[(m - 1) * {SUB} + i] - cbs[m][c][i]))), 6))"""
_PQ_CODES = f"""
    {{books}},
    codes AS (
        SELECT vec_id,
               list_transform(range(1, {{M}} + 1), m ->
                   CAST(list_position({_PQ_DISTS},
                        list_min({_PQ_DISTS})) - 1 AS INTEGER)) AS pq
        FROM {{src}} CROSS JOIN cb_nested
    ),"""

#: Anchor books: subspace slices of the ``{K}`` lowest-id ``{x}`` rows.
_ANCHOR_BOOKS = """cb_nested AS (
        SELECT list_transform(range(1, {M} + 1), m ->
                   list_transform(anchors, a ->
                       list_transform(range(1, {SUB} + 1),
                                      i -> a[(m - 1) * {SUB} + i]))) AS cbs
        FROM (SELECT list({x} ORDER BY vec_id) AS anchors
              FROM (SELECT vec_id, {x} FROM {src} ORDER BY vec_id LIMIT {K}))
    )"""

#: Learned books read back from their ``(m, code, vec)`` artifact.
_PARQUET_BOOKS = """cb_nested AS (
        SELECT list(cbm ORDER BY m) AS cbs FROM (
            SELECT m, list(vec ORDER BY code) AS cbm
            FROM read_parquet('{path}/*.parquet')
            GROUP BY m)
    )"""

#: ADC: Σ_m ‖q[m] − cb[m][code_m]‖², ``{q}`` the query's m-th slice.
_ADC = """SELECT q.query_id, c.candidate_id,
               round(list_sum(list_transform(range(1, {M} + 1), m ->
                   list_sum(list_transform(range(1, {SUB} + 1), i ->
                       ({q} - cbs[m][pq[m] + 1][i])
                     * ({q} - cbs[m][pq[m] + 1][i]))))), 6)
                   AS adc_dist
        """ + _CODED_FROM

_CODECS = {
    # 8-bit scalar quantization: per-dimension min/range over the build
    # vectors, round-half-up 0..255 codes, asymmetric dequantized dot.
    "sq8": _Codec(
        unit=True,
        books="",
        pre="""
    dimstats AS (
        SELECT CAST(t.i AS INTEGER) AS dim,
               min(u[CAST(t.i AS INTEGER)]) AS mn,
               max(u[CAST(t.i AS INTEGER)]) - min(u[CAST(t.i AS INTEGER)]) AS rng
        FROM (SELECT * FROM unit {bf}) bu
        CROSS JOIN range(1, {D} + 1) t(i)
        GROUP BY 1
    ),
    statarr AS (
        SELECT list(mn ORDER BY dim) AS mns, list(rng ORDER BY dim) AS rngs
        FROM dimstats
    ),
    codes AS (
        SELECT vec_id,
               list_transform(range(1, {D} + 1), i -> CAST(CASE WHEN rngs[i] = 0 THEN 0
                        ELSE least(greatest(floor(
                            (u[i] - mns[i]) / rngs[i] * 255.0 + 0.5), 0), 255)
                   END AS INTEGER)) AS sq
        FROM unit CROSS JOIN statarr
    ),""",
        post="",
        scored="""SELECT q.query_id, c.candidate_id,
               round(list_sum(list_transform(range(1, {D} + 1), i ->
                   qu.u[i] * (sa.mns[i]
                              + CAST(cd.sq[i] AS DOUBLE) * sa.rngs[i] / 255.0))),
                     6) AS sq_sim
        """ + _fill(_CODED_FROM, cent_join="", stats="statarr sa"),
        col="sq_sim",
        order=" DESC",
    ),
    # PQ over the unit vectors.
    "pq": _Codec(
        unit=True,
        books=_fill(_ANCHOR_BOOKS, x="u", src="unit"),
        pre=_fill(_PQ_CODES, x="u", src="unit"),
        post="",
        scored=_fill(_ADC, q="qu.u[(m - 1) * {SUB} + i]", cent_join="", stats="cb_nested"),
        col="adc_dist",
        order="",
    ),
    # PQ over x_unit − c_unit(cell(x)); the query's ADC table per probed
    # cell comes from its residual to that cell.
    "pq_residual": _Codec(
        unit=True,
        books=_fill(_ANCHOR_BOOKS, x="r", src="resid"),
        pre="",
        post="""
    resid AS (
        SELECT c.candidate_id AS vec_id, c.cell_id,
               list_transform(range(1, {DIM} + 1), i ->
                   u.u[i] - ct.cvec[i] / ct.cnorm) AS r
        FROM c_assign c
        JOIN unit u ON u.vec_id = c.candidate_id
        JOIN cent ct USING (cell_id)
    ),""" + _fill(_PQ_CODES, x="r", src="resid"),
        scored=_fill(
            _ADC,
            q="(qu.u[(m - 1) * {SUB} + i] - ct.cvec[(m - 1) * {SUB} + i] / ct.cnorm)",
            cent_join="\n        JOIN cent ct USING (cell_id)",
            stats="cb_nested",
        ),
        col="adc_dist",
        order="",
    ),
    # Exact float cosine over the probed cells.
    "float": _Codec(
        unit=False,
        books="",
        pre="",
        post="",
        scored=f"""SELECT query_id, candidate_id,
               round({SQL_DOT.format(a='q.vec', b='c.vec')}
                     / (q.nrm * c.nrm), 6) AS cos_sim
        FROM q_assign q JOIN c_assign c USING (cell_id)
        WHERE query_id <> candidate_id""",
        col="cos_sim",
        order=" DESC",
    ),
}


def _scored_ctes_sql(
    codec: str,
    cent: str,
    n_probe: int,
    query_filter: str,
    candidate_filter: str = "",
    table: str = "embeddings",
    books_parquet: str | None = None,
    **dims,
) -> str:
    """The IVF chain through ``scored(query_id, candidate_id, <col>)``
    over ``table``: unit → codes → ``cent`` → c_assign (1 cell) /
    q_assign (``n_probe`` cells of the rows passing ``query_filter``) →
    probe join, self-pairs dropped, ``candidate_filter`` (e.g. "AND
    c.candidate_id IN (...)") applied to the pairs. ``books_parquet`` is
    a learned PQ books artifact (default: anchor books); ``dims`` fill
    the codec's placeholders."""
    c = _CODECS[codec]
    if c.books:
        dims["DIM"] = dims["M"] * dims["SUB"]
        books = _fill(_PARQUET_BOOKS, path=books_parquet) if books_parquet else c.books
        dims["books"] = books.format(**dims)
    unit = f"""
    unit AS (
        SELECT vec_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)
                   / sqrt({SQL_SQNORM.format(v='embedding')})) AS u
        FROM {table}
    ),""" if c.unit else ""
    return f"""{unit}{c.pre.format(**dims)}
    {cent},
    c_assign AS ({ivf_assign_sql("", "candidate_id", 1, table=table)}
    ),
    q_assign AS ({ivf_assign_sql(query_filter, "query_id", n_probe, table=table)}
    ),{c.post.format(**dims)}
    scored AS (
        {c.scored.format(**dims)}
        {candidate_filter}
    )"""


def _rank_sql(col: str, order: str, src: str, k: int) -> str:
    """The final top-``k`` per query of ``src`` on (``col``, candidate
    id), rank a 1-based BIGINT."""
    return f"""SELECT query_id, candidate_id, {col}, rank
    FROM (
        SELECT query_id, candidate_id, {col},
               CAST(row_number() OVER (
                   PARTITION BY query_id ORDER BY {col}{order}, candidate_id
               ) AS BIGINT) AS rank
        FROM {src}
    )
    WHERE rank <= {k}"""


def _cut_sql(name: str, codec: str, n: int) -> str:
    """CTE ``name``: the top-``n`` (query_id, candidate_id) pairs per
    query of ``scored`` in the codec's rank order."""
    c = _CODECS[codec]
    return f"""{name} AS (
        SELECT query_id, candidate_id FROM (
            SELECT query_id, candidate_id,
                   row_number() OVER (
                       PARTITION BY query_id ORDER BY {c.col}{c.order}, candidate_id
                   ) AS rnk
            FROM scored
        ) WHERE rnk <= {n}
    )"""


#: Exact cosine rescores of a ``shortlist``: from the shared unit
#: vectors (SQ8), or as raw dot over the norm product (PQ).
_RESCORE = {
    "unit": f"""rescored AS (
        SELECT s.query_id, s.candidate_id,
               round({SQL_DOT.format(a='qu.u', b='cu.u')}, 6) AS cos_sim
        FROM shortlist s
        JOIN unit qu ON qu.vec_id = s.query_id
        JOIN unit cu ON cu.vec_id = s.candidate_id
    )""",
    "raw": f"""rescored AS (
        SELECT s.query_id, s.candidate_id,
               round({SQL_DOT.format(a='qe.embedding', b='ce.embedding')}
                     / (sqrt({SQL_SQNORM.format(v='qe.embedding')})
                        * sqrt({SQL_SQNORM.format(v='ce.embedding')})), 6) AS cos_sim
        FROM shortlist s
        JOIN embeddings qe ON qe.vec_id = s.query_id
        JOIN embeddings ce ON ce.vec_id = s.candidate_id
    )""",
}


def _tokens_sql(name: str, ids: str, col: str, n_tokens: int, sub: int, token_where: str) -> str:
    """CTE ``name``: each embedding cut into ``n_tokens`` slices of
    ``sub`` doubles, each slice L2-normalized into ``col``.
    ``token_where`` filters (e, tm.m) rows for ragged token counts."""
    return f"""{name} AS (
        SELECT {ids},
               list_transform(sl, x ->
                   x / sqrt(list_sum(list_transform(sl, y -> y * y)))) AS {col}
        FROM (
            SELECT e.vec_id, CAST(tm.m AS INTEGER) AS m,
                   list_transform(range(1, {sub} + 1), i ->
                       CAST(e.embedding[CAST(tm.m AS INTEGER) * {sub} + i]
                            AS DOUBLE)) AS sl
            FROM embeddings e CROSS JOIN range(0, {n_tokens}) tm(m){token_where}
        )
    )"""


def _maxsim_sql(k: int, n_tokens: int, dim: int, token_where: str = "") -> str:
    """Maxsim rescore of a preceding ``shortlist`` + the final rank,
    mirroring `maxsim.maxsim_rerank`: per (pair, query token) the exact
    max token dot, summed m-ascending via ``list_sum(list(mx ORDER BY
    m))`` (the engine's left-to-right fold), rounded to 6 dp."""
    sub = dim // n_tokens
    tok_dot = (
        f"list_sum(list_transform(range(1, {sub} + 1), "
        "i -> qt.t[i] * ct.t[i]))"
    )
    return f"""{_tokens_sql("tok", "vec_id, m", "t", n_tokens, sub, token_where)},
    pairtok AS (
        SELECT s.query_id, s.candidate_id, qt.m,
               max({tok_dot}) AS mx
        FROM shortlist s
        JOIN tok qt ON qt.vec_id = s.query_id
        JOIN tok ct ON ct.vec_id = s.candidate_id
        GROUP BY 1, 2, 3
    ),
    rescored AS (
        SELECT query_id, candidate_id,
               round(list_sum(list(mx ORDER BY m)), 6) AS maxsim
        FROM pairtok
        GROUP BY 1, 2
    )
    {_rank_sql("maxsim", " DESC", "rescored", k)}"""


def _cosine_sql(by: str, k: int) -> str:
    """`_RESCORE[by]` + the final rank on (cos_sim DESC, candidate_id)."""
    return f"{_RESCORE[by]}\n    {_rank_sql('cos_sim', ' DESC', 'rescored', k)}"


def _tail_sql(codec: str, k: int, rerank: int | None = None, rescore: str = "") -> str:
    """After ``scored``: the top-``k`` in the codec's order, or with
    ``rerank`` the top-R ``shortlist`` then ``rescore`` (rescored CTEs
    + final rank)."""
    c = _CODECS[codec]
    if rerank is None:
        return "\n    " + _rank_sql(c.col, c.order, "scored", k)
    return f""",
    {_cut_sql("shortlist", codec, rerank)},
    {rescore}"""


def ivf_topk_sql(n_probe: int, centroids_parquet: str | None = None) -> str:
    """Mirror of `similarity.ivf_topk` for queries ``vec_id < 5``, k=5:
    exact float cosine over the ``n_probe`` probed cells, ranked
    (cos_sim DESC, candidate_id). Cells are √n auto cells, or the
    ``(cell_id, cent_vec, cent_norm)`` table at ``centroids_parquet``."""
    cent = _cent_sql("auto") if centroids_parquet is None else f"""cent AS (
        SELECT CAST(cell_id AS BIGINT) AS cell_id,
               cent_vec AS cvec, cent_norm AS cnorm
        FROM read_parquet('{centroids_parquet}/*.parquet')
    )"""
    scored = _scored_ctes_sql("float", cent, n_probe, "WHERE vec_id < 5")
    return scored + _tail_sql("float", 5)


def ivfsq_topk_sql(
    dim: int = 64,
    n_cells: int | str = 16,
    n_probe: int = 2,
    k: int = 5,
    query_filter: str = "WHERE vec_id < 5",
    build_filter: str = "",
    candidate_filter: str = "",
    rerank: int | None = None,
    maxsim_tokens: int | None = None,
) -> str:
    """Mirror of `ann_index.search_index` over an IVF-SQ8 index built by
    `build_ivfsq_index` (and of `sq.ivfsq_topk`), ranked (sq_sim DESC,
    candidate_id). ``build_filter`` restricts the vectors the stats,
    cell count and centroids are learned from while every vector is
    encoded and searched (build on a split, append the rest).
    ``candidate_filter`` mirrors ``allowed=`` pre-filtering. ``rerank``
    mirrors ``rerank=R, vectors=...``: the top-R rescored on the exact
    unit dot, ranked (cos_sim DESC, candidate_id); with
    ``maxsim_tokens`` the shortlist is rescored by
    `maxsim.maxsim_rerank` instead."""
    scored = _scored_ctes_sql(
        "sq8", _cent_sql(n_cells, build_filter), n_probe, query_filter,
        candidate_filter, D=dim, bf=build_filter,
    )
    if maxsim_tokens is None:
        rescore = _cosine_sql("unit", k)
    else:
        assert rerank is not None, "maxsim rescore needs a shortlist cut"
        rescore = _maxsim_sql(k, maxsim_tokens, dim)
    # the blank ahead of the shortlist's comma is part of the pinned text
    return f"{scored} {_tail_sql('sq8', k, rerank, rescore)}"


def ivfpq_topk_sql(
    n_subspaces: int = 8,
    sub_dim: int = 8,
    n_codes: int = 16,
    n_cells: int | str = 16,
    n_probe: int = 2,
    k: int = 5,
    query_filter: str = "WHERE vec_id < 5",
    rerank: int | None = None,
    codebook_parquet: str | None = None,
    residual: bool = False,
) -> str:
    """Mirror of `ann_index.search_index` over an IVF-PQ index (and of
    `pq.ivfpq_topk`), ranked (adc_dist, candidate_id). Books are the
    subspace slices of the ``n_codes`` lowest-id unit vectors, or the
    learned books at ``codebook_parquet`` (rows (m, code, vec), m
    1-based). ``residual`` encodes x_unit − c_unit(cell(x)) (the
    residual kind). ``rerank`` rescores the top-R on the exact cosine
    of the raw vectors, ranked (cos_sim DESC, candidate_id)."""
    codec = "pq_residual" if residual else "pq"
    scored = _scored_ctes_sql(
        codec, _cent_sql(n_cells), n_probe, query_filter, books_parquet=codebook_parquet,
        M=n_subspaces, SUB=sub_dim, K=n_codes,
    )
    return scored + _tail_sql(codec, k, rerank, _cosine_sql("raw", k))


def maxsim_topk_sql(
    k: int = 5,
    n_tokens: int = 4,
    dim: int = 64,
    query_filter: str = "WHERE q.vec_id < 5",
) -> str:
    """Mirror of `maxsim.maxsim_topk`: every (query, candidate) pair,
    self excluded, scored by maxsim over ``n_tokens`` unit-normalized
    slices, ranked (maxsim DESC, candidate_id)."""
    return f"""shortlist AS (
        SELECT q.vec_id AS query_id, c.vec_id AS candidate_id
        FROM embeddings q CROSS JOIN embeddings c
        {query_filter} AND q.vec_id <> c.vec_id
    ),
    {_maxsim_sql(k, n_tokens, dim)}"""


def semdedup_kept_ctes_sql(n_cells: int = 8, threshold: float = 0.4) -> str:
    """CTEs ``dcent`` → ``kept(vec_id)``: the survivors of
    `similarity.semantic_dedup` (pairs in one of ``n_cells`` anchor
    cells with rounded cosine ≥ ``threshold``; each connected component
    keeps its lowest id). Names are ``d``-prefixed so the block
    composes with `ivfsq_topk_sql`. Callers open the statement with
    ``WITH RECURSIVE``."""
    return f"""dcent AS ({ivf_cent_cte_sql(n_cells)}
    ),
    dassign AS ({ivf_assign_sql("", "vec_id", 1, cent_cte="dcent")}
    ),
    dpairs AS (
        SELECT a.vec_id AS a_id, b.vec_id AS b_id
        FROM dassign a JOIN dassign b
          ON a.cell_id = b.cell_id AND a.vec_id < b.vec_id
        WHERE round({SQL_DOT.format(a='a.vec', b='b.vec')}
                    / (a.nrm * b.nrm), 6) >= {threshold}
    ),
    dedges AS (
        SELECT a_id AS u, b_id AS v FROM dpairs
        UNION ALL SELECT b_id, a_id FROM dpairs
    ),
    dreach AS (
        SELECT u, v FROM dedges
        UNION
        SELECT r.u, e.v FROM dreach r JOIN dedges e ON r.v = e.u
    ),
    kept AS (
        SELECT e.vec_id
        FROM embeddings e LEFT JOIN dreach r ON r.u = e.vec_id
        GROUP BY e.vec_id
        HAVING e.vec_id = least(e.vec_id, coalesce(min(r.v), e.vec_id))
    )"""


def _colbert_sql(
    codec: str,
    k: int,
    k0: int,
    n_tokens: int,
    dim: int,
    n_probe: int,
    query_docs: int,
    token_where: str = "",
    **dims,
) -> str:
    """Token-level retrieval then document maxsim: a ``tokens`` table
    (id ``doc·T + m``) indexed by ``codec`` over √(T·n) auto cells;
    each token of the docs ``< query_docs`` keeps its top-``k0`` token
    hits; distinct parent pairs (self dropped) are rescored by
    `_maxsim_sql`. ``token_where`` applies to both token tables."""
    T, sub = n_tokens, dim // n_tokens
    scored = _scored_ctes_sql(
        codec, _cent_sql("auto", table="tokens"), n_probe,
        f"WHERE vec_id < {query_docs * T}", table="tokens", **dims,
    )
    ids = f"CAST(vec_id * {T} + m AS BIGINT) AS vec_id"
    return f"""{_tokens_sql("tokens", ids, "embedding", T, sub, token_where)},{scored},
    {_cut_sql("tok_hits", codec, k0)},
    shortlist AS (
        SELECT DISTINCT CAST(query_id // {T} AS BIGINT) AS query_id,
                        CAST(candidate_id // {T} AS BIGINT) AS candidate_id
        FROM tok_hits
        WHERE query_id // {T} <> candidate_id // {T}
    ),
    {_maxsim_sql(k, n_tokens, dim, token_where)}"""


def colbert_token_retrieval_sql(
    k: int = 5,
    k0: int = 10,
    n_tokens: int = 4,
    dim: int = 64,
    n_probe: int = 2,
    query_docs: int = 5,
) -> str:
    """Mirror of `maxsim.maxsim_search_tokens`: the token stage is the
    in-memory float IVF (`ivf_topk`, exact cosine), ranked (cos_sim
    DESC, token id)."""
    return _colbert_sql("float", k, k0, n_tokens, dim, n_probe, query_docs)


def colbert_persisted_retrieval_sql(
    k: int = 5,
    k0: int = 10,
    n_tokens: int = 4,
    dim: int = 64,
    n_probe: int = 2,
    query_docs: int = 5,
    token_where: str = "",
) -> str:
    """Mirror of `maxsim.maxsim_search_tokens_persisted` over an
    IVF-SQ8 token index: the token stage ranks on the quantized dot
    (sq_sim DESC, token id). ``token_where`` drops token rows per
    document (ragged token counts)."""
    return _colbert_sql(
        "sq8", k, k0, n_tokens, dim, n_probe, query_docs, token_where,
        D=dim // n_tokens, bf="",
    )


def colbert_persisted_pq_retrieval_sql(
    k: int = 5,
    k0: int = 10,
    n_tokens: int = 4,
    dim: int = 64,
    n_probe: int = 2,
    n_subspaces: int = 4,
    n_codes: int = 16,
    query_docs: int = 5,
    residual: bool = False,
) -> str:
    """Mirror of `maxsim.maxsim_search_tokens_persisted` over an IVF-PQ
    token index (`build_token_index(kind="ivfpq")`), anchor books: the
    token stage ranks on the ADC distance (adc_dist, token id).
    ``residual`` selects the residual-encoded kind."""
    return _colbert_sql(
        "pq_residual" if residual else "pq", k, k0, n_tokens, dim, n_probe,
        query_docs, M=n_subspaces, SUB=dim // n_tokens // n_subspaces, K=n_codes,
    )
