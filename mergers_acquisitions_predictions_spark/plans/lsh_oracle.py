"""DuckDB SQL generation for sign-LSH bucketing — the trick that makes
the APPROXIMATE similarity queries fully value-checkable.

The hyperplanes behind `operators/similarity.lsh_bucket` are
deterministic (pure-Python LCG, fixed seed), so their float constants
can be emitted INTO the oracle SQL: DuckDB then reproduces the exact
same buckets, the exact same candidate sets, and therefore the exact
same approximate result — turning s03/d07 from rows-only checks into
full value-parity rows. Python float `repr` is shortest-roundtrip, so
the doubles parse back bit-identically; both engines accumulate the
bucket dot products left-to-right in double (the same parity contract
the brute-force oracles already rely on).
"""

from __future__ import annotations

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


def buckets_cte_sql(
    dim: int,
    n_planes: int,
    n_tables: int,
    seed: int = 42,
    source: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """CTE prelude `planes` + `buckets(vec_id, t, bucket)` mirroring
    `lsh_bucket`: one sign bit per plane (dot >= 0 → '1'), bits
    concatenated in plane order into the bucket key."""
    return f"""
    planes(t, i, p) AS (VALUES
        {planes_values_sql(dim, n_planes, n_tables, seed)}
    ),
    buckets AS (
        SELECT e.{id_col} AS vec_id, pl.t,
               string_agg(
                   CASE WHEN list_sum(list_transform(range(1, {dim} + 1),
                            j -> CAST(e.{vec_col}[j] AS DOUBLE) * pl.p[j])) >= 0
                        THEN '1' ELSE '0' END,
                   '' ORDER BY pl.i) AS bucket
        FROM {source} e CROSS JOIN planes pl
        GROUP BY e.{id_col}, pl.t
    )"""


def auto_buckets_cte_sql(
    dim: int,
    k_max: int,
    n_tables: int,
    seed: int = 42,
    target_bucket: int = 125,
    floor: int = 4,
    source: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """CTE prelude for AUTO-SIZED sign-LSH: `planes` carries the full
    ``k_max``-plane chunk per table (matching the engine's
    `lsh_tables(..., k_max=k_max)` allocation), `kk` computes the
    plane count from ``count(*)`` with the `auto_planes` formula
    (greatest(floor, ⌊log2(n/target)⌋) — int() and floor agree for
    the non-negative log2 here), and `buckets` masks each table's bit
    string to the first k planes. One static oracle string is then
    value-exact at EVERY corpus size, because a table's first k
    planes never change as k grows (the prefix property)."""
    return f"""
    planes(t, i, p) AS (VALUES
        {planes_values_sql(dim, k_max, n_tables, seed)}
    ),
    kk AS (
        SELECT greatest({floor}, CAST(floor(log2(greatest(1.0,
                   count(*) / {target_bucket}.0))) AS INTEGER)) AS k
        FROM {source}
    ),
    buckets AS (
        SELECT e.{id_col} AS vec_id, pl.t,
               string_agg(
                   CASE WHEN list_sum(list_transform(range(1, {dim} + 1),
                            j -> CAST(e.{vec_col}[j] AS DOUBLE) * pl.p[j])) >= 0
                        THEN '1' ELSE '0' END,
                   '' ORDER BY pl.i) AS bucket
        FROM {source} e CROSS JOIN planes pl CROSS JOIN kk
        WHERE pl.i < kk.k
        GROUP BY e.{id_col}, pl.t
    )"""


def auto_hamming1_probe_sql(k_max: int, base: str = "qb") -> str:
    """Query-side Hamming-1 multiprobe for AUTO-SIZED buckets: flip
    positions run to the `kk`-computed k, not a literal (generated up
    to ``k_max`` and masked, since DuckDB range() wants a constant
    shape)."""
    return f"""
        SELECT vec_id, t, bucket FROM {base}
        UNION ALL
        SELECT vec_id, t,
               substr(bucket, 1, CAST(r.i AS INTEGER))
               || (CASE WHEN substr(bucket, CAST(r.i AS INTEGER) + 1, 1) = '1'
                        THEN '0' ELSE '1' END)
               || substr(bucket, CAST(r.i AS INTEGER) + 2,
                         kk.k - CAST(r.i AS INTEGER) - 1) AS bucket
        FROM {base} CROSS JOIN kk CROSS JOIN range(0, {k_max}) r(i)
        WHERE r.i < kk.k"""


def hamming1_probe_sql(n_planes: int, base: str = "qb") -> str:
    """Query-side Hamming-1 multiprobe: the base bucket plus each
    1-bit-flipped variant (mirrors `lsh_topk(multiprobe=True)`)."""
    return f"""
        SELECT vec_id, t, bucket FROM {base}
        UNION ALL
        SELECT vec_id, t,
               substr(bucket, 1, CAST(r.i AS INTEGER))
               || (CASE WHEN substr(bucket, CAST(r.i AS INTEGER) + 1, 1) = '1'
                        THEN '0' ELSE '1' END)
               || substr(bucket, CAST(r.i AS INTEGER) + 2,
                         {n_planes} - CAST(r.i AS INTEGER) - 1) AS bucket
        FROM {base} CROSS JOIN range(0, {n_planes}) r(i)"""


def ivf_cent_cte_sql(n_cells: int) -> str:
    """DuckDB mirror of `operators/similarity.ivf_centroids`: the
    ``n_cells`` lowest-id corpus vectors as (cell_id, cvec, cnorm)."""
    return f"""
        SELECT vec_id AS cell_id, embedding AS cvec,
               sqrt({SQL_SQNORM.format(v='embedding')}) AS cnorm
        FROM embeddings ORDER BY vec_id LIMIT {n_cells}"""


def auto_ivf_cent_ctes_sql(
    floor: int = 16, build_filter: str = "", table: str = "embeddings"
) -> str:
    """CTE pair ``ncells`` + ``cent`` for AUTO-SIZED IVF oracles — the
    `auto_buckets_cte_sql` recipe applied to the cell count: ``ncells``
    recomputes `similarity.auto_cells` (greatest(floor, ⌊√n⌋)) from
    ``count(*)``, and ``cent`` rank-filters the lowest-id vectors to
    that count. One static oracle string is then value-exact at every
    corpus size — the mechanism that lets the REGISTERED IVF queries
    run the √n sizing policy a deployment needs (SCALE.md §7i: fixed
    cell counts degenerate at 100×) while staying hash-checked.

    floor(sqrt(n)) vs Python's isqrt: exact for every n here — double
    sqrt is correctly rounded, and below ~2^52 the k²−1 boundary cases
    where floor(sqrt) could round up cannot occur.

    ``build_filter`` (e.g. "WHERE vec_id % 2 = 0") restricts the
    BUILD-time corpus the sizing and centroids are learned from —
    the oracle mirror of building an index on one split and
    appending the rest (s14).

    ``table`` names the corpus relation (default keeps every existing
    oracle string byte-identical); a token-level retrieval oracle
    (s28) points it at its token CTE."""
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
    """DuckDB mirror of `operators/similarity.ivf_assign_literal`:
    argmax-cosine cell assignment over a centroid CTE (rounded to
    6 dp with cell-id tiebreak, the order of its struct-array sort).
    ``cent_cte`` names that CTE — the default ``"cent"`` keeps every
    pre-round-9 oracle string byte-identical; a composite oracle that
    runs TWO independent IVF stages in one statement (s21: SemDeDup's
    8 dedup cells + the index's √n serving cells) renames one side to
    avoid the CTE collision."""
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
    """DuckDB mirror of `operators/pq.ivfpq_topk` — and the proof that
    even a compressed approximate index can be value-checked: the
    oracle REGENERATES the anchor codebooks from the parquet (so one
    static string is exact at every SF), re-encodes every corpus
    vector with the same rounded-argmin/lowest-code tiebreak, and
    replays the ADC scan with the same left-to-right `list_sum`
    folds the engine's `aggregate` uses. Unit-sphere math throughout:
    u = x/√Σx² per element, codebook = subspace slices of the
    ``n_codes`` lowest-id unit vectors, adc = Σ_m ‖u_q[m] −
    cb[m][code_m]‖², rounded to 6 dp with candidate-id tiebreak.
    ``n_cells="auto"`` emits the √n-sizing CTE pair
    (`auto_ivf_cent_ctes_sql`) instead of a pinned centroid LIMIT.

    ``codebook_parquet``: read the codebooks from a materialized
    artifact (rows ``(m, code, vec)``, 1-based m / 0-based code)
    instead of regenerating anchor slices — the s09 value-check:
    LEARNED codebooks are fitted-model parameters a static oracle
    cannot regenerate, but once materialized the entire encode + ADC
    + re-rank plan replays from the artifact. Every other CTE is
    unchanged.

    ``residual=True`` (round 12 — SCALE.md §7s): replays the
    residual-encoded kind — codes and anchor books from
    x_unit − c_unit(cell(x)), the query's ADC table per probed cell
    from the matching query residual. Default keeps every raw-kind
    string byte-identical."""
    return f"""{_ivfpq_scored_ctes_sql(n_subspaces, sub_dim, n_codes,
                                       n_cells, n_probe, query_filter,
                                       codebook_parquet,
                                       residual=residual)}{"" if rerank is None else f''',
    shortlist AS (
        SELECT query_id, candidate_id
        FROM (
            SELECT query_id, candidate_id,
                   row_number() OVER (
                       PARTITION BY query_id ORDER BY adc_dist, candidate_id
                   ) AS adc_rank
            FROM scored
        )
        WHERE adc_rank <= {rerank}
    ),
    rescored AS (
        SELECT s.query_id, s.candidate_id,
               round({SQL_DOT.format(a='qe.embedding', b='ce.embedding')}
                     / (sqrt({SQL_SQNORM.format(v='qe.embedding')})
                        * sqrt({SQL_SQNORM.format(v='ce.embedding')})), 6) AS cos_sim
        FROM shortlist s
        JOIN embeddings qe ON qe.vec_id = s.query_id
        JOIN embeddings ce ON ce.vec_id = s.candidate_id
    )'''}
    {f'''SELECT query_id, candidate_id, cos_sim, rank
    FROM (
        SELECT query_id, candidate_id, cos_sim,
               CAST(row_number() OVER (
                   PARTITION BY query_id ORDER BY cos_sim DESC, candidate_id
               ) AS BIGINT) AS rank
        FROM rescored
    )
    WHERE rank <= {k}''' if rerank is not None else f'''SELECT query_id, candidate_id, adc_dist, rank
    FROM (
        SELECT query_id, candidate_id, adc_dist,
               CAST(row_number() OVER (
                   PARTITION BY query_id ORDER BY adc_dist, candidate_id
               ) AS BIGINT) AS rank
        FROM scored
    )
    WHERE rank <= {k}'''}"""


def _ivfpq_scored_ctes_sql(
    n_subspaces: int,
    sub_dim: int,
    n_codes: int,
    n_cells: int | str,
    n_probe: int,
    query_filter: str,
    codebook_parquet: str | None = None,
    table: str = "embeddings",
    residual: bool = False,
) -> str:
    """The IVF-PQ machinery of `ivfpq_topk_sql` up through the
    ``scored`` CTE (unit vectors, anchor-or-artifact codebooks,
    rounded-argmin encode, cells, probe-join, ADC distances) —
    factored (round 11) so a COMPOSITE oracle can run the persisted
    PQ serve as a STAGE of a larger statement
    (`colbert_persisted_pq_retrieval_sql`: the compressed token-level
    first stage). ``table`` names the corpus relation; the default
    keeps every pre-round-11 oracle string byte-identical (asserted
    across the refactor, the standing discipline).

    ``residual=True`` (round 12 — SCALE.md §7s): the residual-encoded
    kind. The CTE chain reorders (cells and assignment must precede
    the residual frame the books and codes derive from): unit → cent
    → c_assign/q_assign → resid (u − cvec/cnorm of the ASSIGNED
    cell) → anchor books from the lowest-id residuals → codes →
    scored, whose per-(query, cell) ADC table uses the query residual
    to THAT cell. Raw-kind strings stay byte-identical."""
    M, SUB, K = n_subspaces, sub_dim, n_codes
    if n_cells == "auto":
        cent_block = auto_ivf_cent_ctes_sql(table=table)
    else:
        if table != "embeddings":
            raise ValueError("fixed n_cells supports only table='embeddings'")
        cent_block = f"cent AS ({ivf_cent_cte_sql(n_cells)}\n    )"
    if residual:
        DIM = M * SUB
        sq_r = (
            f"(r[(m - 1) * {SUB} + i] - cbs[m][c][i])"
            f" * (r[(m - 1) * {SUB} + i] - cbs[m][c][i])"
        )
        dists_r = f"""list_transform(range(1, {K} + 1), c ->
                       round(list_sum(list_transform(range(1, {SUB} + 1),
                           i -> {sq_r})), 6))"""
        qr = (
            f"(qu.u[(m - 1) * {SUB} + i]"
            f" - ct.cvec[(m - 1) * {SUB} + i] / ct.cnorm)"
        )
        if codebook_parquet is None:
            # anchor books from the lowest-id RESIDUALS (s37)
            cb_block_r = f"""cb_nested AS (
        SELECT list_transform(range(1, {M} + 1), m ->
                   list_transform(anchors, a ->
                       list_transform(range(1, {SUB} + 1),
                                      i -> a[(m - 1) * {SUB} + i]))) AS cbs
        FROM (SELECT list(r ORDER BY vec_id) AS anchors
              FROM (SELECT vec_id, r FROM resid ORDER BY vec_id LIMIT {K}))
    )"""
        else:
            # LEARNED residual books from the materialized artifact
            # (s38 — s29's value-check recipe on the residual kind)
            cb_block_r = f"""cb_nested AS (
        SELECT list(cbm ORDER BY m) AS cbs FROM (
            SELECT m, list(vec ORDER BY code) AS cbm
            FROM read_parquet('{codebook_parquet}/*.parquet')
            GROUP BY m)
    )"""
        return f"""
    unit AS (
        SELECT vec_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)
                   / sqrt({SQL_SQNORM.format(v='embedding')})) AS u
        FROM {table}
    ),
    {cent_block},
    c_assign AS ({ivf_assign_sql("", "candidate_id", 1, table=table)}
    ),
    q_assign AS ({ivf_assign_sql(query_filter, "query_id", n_probe, table=table)}
    ),
    resid AS (
        SELECT c.candidate_id AS vec_id, c.cell_id,
               list_transform(range(1, {DIM} + 1), i ->
                   u.u[i] - ct.cvec[i] / ct.cnorm) AS r
        FROM c_assign c
        JOIN unit u ON u.vec_id = c.candidate_id
        JOIN cent ct USING (cell_id)
    ),
    {cb_block_r},
    codes AS (
        SELECT vec_id,
               list_transform(range(1, {M} + 1), m ->
                   CAST(list_position({dists_r},
                        list_min({dists_r})) - 1 AS INTEGER)) AS pq
        FROM resid CROSS JOIN cb_nested
    ),
    scored AS (
        SELECT q.query_id, c.candidate_id,
               round(list_sum(list_transform(range(1, {M} + 1), m ->
                   list_sum(list_transform(range(1, {SUB} + 1), i ->
                       ({qr} - cbs[m][pq[m] + 1][i])
                     * ({qr} - cbs[m][pq[m] + 1][i]))))), 6)
                   AS adc_dist
        FROM q_assign q
        JOIN cent ct USING (cell_id)
        JOIN c_assign c USING (cell_id)
        JOIN codes cd ON cd.vec_id = c.candidate_id
        JOIN unit qu ON qu.vec_id = q.query_id
        CROSS JOIN cb_nested
        WHERE q.query_id <> c.candidate_id
    )"""
    sq = (
        f"(u[(m - 1) * {SUB} + i] - cbs[m][c][i])"
        f" * (u[(m - 1) * {SUB} + i] - cbs[m][c][i])"
    )
    if codebook_parquet is None:
        cb_block = f"""cb_nested AS (
        SELECT list_transform(range(1, {M} + 1), m ->
                   list_transform(anchors, a ->
                       list_transform(range(1, {SUB} + 1),
                                      i -> a[(m - 1) * {SUB} + i]))) AS cbs
        FROM (SELECT list(u ORDER BY vec_id) AS anchors
              FROM (SELECT vec_id, u FROM unit ORDER BY vec_id LIMIT {K}))
    )"""
    else:
        cb_block = f"""cb_nested AS (
        SELECT list(cbm ORDER BY m) AS cbs FROM (
            SELECT m, list(vec ORDER BY code) AS cbm
            FROM read_parquet('{codebook_parquet}/*.parquet')
            GROUP BY m)
    )"""
    dists_m = f"""list_transform(range(1, {K} + 1), c ->
                       round(list_sum(list_transform(range(1, {SUB} + 1),
                           i -> {sq})), 6))"""
    return f"""
    unit AS (
        SELECT vec_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)
                   / sqrt({SQL_SQNORM.format(v='embedding')})) AS u
        FROM {table}
    ),
    {cb_block},
    codes AS (
        SELECT vec_id,
               list_transform(range(1, {M} + 1), m ->
                   CAST(list_position({dists_m},
                        list_min({dists_m})) - 1 AS INTEGER)) AS pq
        FROM unit CROSS JOIN cb_nested
    ),
    {cent_block},
    c_assign AS ({ivf_assign_sql("", "candidate_id", 1, table=table)}
    ),
    q_assign AS ({ivf_assign_sql(query_filter, "query_id", n_probe, table=table)}
    ),
    scored AS (
        SELECT q.query_id, c.candidate_id,
               round(list_sum(list_transform(range(1, {M} + 1), m ->
                   list_sum(list_transform(range(1, {SUB} + 1), i ->
                       (qu.u[(m - 1) * {SUB} + i] - cbs[m][pq[m] + 1][i])
                     * (qu.u[(m - 1) * {SUB} + i] - cbs[m][pq[m] + 1][i]))))), 6)
                   AS adc_dist
        FROM q_assign q
        JOIN c_assign c USING (cell_id)
        JOIN codes cd ON cd.vec_id = c.candidate_id
        JOIN unit qu ON qu.vec_id = q.query_id
        CROSS JOIN cb_nested
        WHERE q.query_id <> c.candidate_id
    )"""


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
    """DuckDB mirror of the COMPRESSED persisted-token-index
    late-interaction retrieval (round 11 —
    `maxsim.build_token_index(kind="ivfpq")` +
    `maxsim_search_tokens_persisted`): the first stage serves each
    query token's top-``k0`` tokens from the persisted IVF-PQ index
    built ON THE TOKEN FRAME (`_ivfpq_scored_ctes_sql(table=
    "tokens")` replays anchor books, rounded-argmin encode, √(T·n)
    cells and the ADC scan — ranked ASCENDING on the ADC distance,
    exactly where this differs from s30's SQ8 quantized-dot ranking),
    hits map back to parent documents, and the distinct parent pairs
    feed the s24 maxsim tail. Completes the token-index kind ladder:
    s30 certifies the SQ8 route, this the M-bytes/token compressed
    route (token indexes carry T× the corpus rows, so PQ compression
    matters MORE there — §7q's memory story at T×n).

    ``residual=True`` (round 12 — §7s): the token-level fine stage
    encodes residuals to the token-index cells; the residual CTE
    chain is table-parameterized, so it replays over the tokens CTE
    unchanged (s39). Default keeps the s33 string byte-identical."""
    T, sub = n_tokens, dim // n_tokens
    return f"""tokens AS (
        SELECT CAST(vec_id * {T} + m AS BIGINT) AS vec_id,
               list_transform(sl, x ->
                   x / sqrt(list_sum(list_transform(sl, y -> y * y)))) AS embedding
        FROM (
            SELECT e.vec_id, CAST(tm.m AS INTEGER) AS m,
                   list_transform(range(1, {sub} + 1), i ->
                       CAST(e.embedding[CAST(tm.m AS INTEGER) * {sub} + i]
                            AS DOUBLE)) AS sl
            FROM embeddings e CROSS JOIN range(0, {T}) tm(m)
        )
    ),{_ivfpq_scored_ctes_sql(n_subspaces, sub // n_subspaces, n_codes,
                              "auto", n_probe,
                              f"WHERE vec_id < {query_docs * T}",
                              table="tokens", residual=residual)},
    tok_hits AS (
        SELECT query_id, candidate_id FROM (
            SELECT query_id, candidate_id,
                   row_number() OVER (
                       PARTITION BY query_id ORDER BY adc_dist, candidate_id
                   ) AS rnk
            FROM scored
        ) WHERE rnk <= {k0}
    ),
    shortlist AS (
        SELECT DISTINCT CAST(query_id // {T} AS BIGINT) AS query_id,
                        CAST(candidate_id // {T} AS BIGINT) AS candidate_id
        FROM tok_hits
        WHERE query_id // {T} <> candidate_id // {T}
    ),
    {_maxsim_tail_sql(k, n_tokens, dim)}"""


def semdedup_kept_ctes_sql(n_cells: int = 8, threshold: float = 0.4) -> str:
    """CTE prelude ``dcent`` → ``kept`` replaying
    `operators/similarity.semantic_dedup` and reducing it to the
    SURVIVOR id set: d11's recursive-closure oracle with the stage
    names ``d``-prefixed so the block composes with `ivfsq_topk_sql`
    in one statement (whose own ``cent`` must not collide with the
    dedup stage's centroids). Used by s21's oracle (build+candidate
    sides restricted to ``kept``) and by the composed dedup+rerank
    serve pre-certified for round 10
    (tests/test_ann_index.py::test_dedup_rerank_compose_is_oracle_replayable).
    Callers must open the statement with ``WITH RECURSIVE`` (the
    ``dreach`` closure)."""
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
    """DuckDB mirror of `operators/sq.ivfsq_topk` (IVF + 8-bit scalar
    quantization): the oracle regenerates the per-dimension min/range
    stats from the parquet (exact double comparisons — no fold-order
    sensitivity), re-encodes every corpus vector onto the same
    round-half-up 0..255 grid, and replays the asymmetric dequantized
    dot product with the same left-to-right `list_sum` fold the
    engine's `aggregate` uses. One static string, exact at every SF.
    ``n_cells="auto"`` emits the √n-sizing CTE pair
    (`auto_ivf_cent_ctes_sql`) instead of a pinned centroid LIMIT.

    ``build_filter`` (e.g. "WHERE vec_id % 2 = 0") restricts the
    BUILD corpus: quantizer stats, cell sizing, and centroids are
    learned from the filtered split only, while codes/assignment/
    search still cover every vector — the exact semantics of
    `ann_index.build_ivfsq_index` on a split followed by
    `append_index` of the remainder (s14: the persisted
    geometry is frozen; appended shards are encoded with it).

    ``candidate_filter`` (e.g. "AND c.candidate_id IN (SELECT vec_id
    FROM embeddings WHERE label % 2 = 1)") restricts the CANDIDATE
    side of the scored pairs — the pre-filter semantics of
    `ann_index.search_index(allowed=...)`: ranks are dense over
    matching candidates only, and the index geometry (stats, cells,
    codes) is untouched by the predicate.

    ``rerank`` (round 8): mirrors
    `ann_index.search_index(rerank=R, vectors=...)` — the
    top-R SQ8 candidates per query re-scored on the EXACT rounded
    unit-vector dot (the `unit` CTE both engines already share), then
    ranked to k on (cos_sim DESC, candidate_id). The clone-cohort
    remedy of SCALE.md §7o-r8, oracle-replayable because the
    shortlist cut and the exact fold are both deterministic.

    ``maxsim_tokens`` (round 10): with ``rerank=R``, rescore the
    shortlist by LATE-INTERACTION maxsim instead of cosine — mirrors
    `operators/maxsim.maxsim_rerank` over the persisted serve's
    shortlist: each vector is split into ``maxsim_tokens`` equal
    slices, each slice L2-normalized, and score(q, c) = Σ over query
    tokens (m-ascending) of max over candidate tokens of the token
    dot. Replayable for the same reasons as the cosine rescore: slice
    boundaries, per-slice norms, dot folds, max, and the m-ordered
    sum are all deterministic."""
    return f"""{_ivfsq_scored_ctes_sql(dim, n_cells, n_probe, query_filter,
                                       build_filter, candidate_filter)}
    {_ivfsq_final_sql(k, rerank, maxsim_tokens, dim)}"""


def _ivfsq_scored_ctes_sql(
    dim: int,
    n_cells: int | str,
    n_probe: int,
    query_filter: str,
    build_filter: str = "",
    candidate_filter: str = "",
    table: str = "embeddings",
) -> str:
    """The SQ8 machinery of `ivfsq_topk_sql` up through the ``scored``
    CTE (quantizer stats, codes, cells, probe-join, quantized dots) —
    factored (round 11) so a COMPOSITE oracle can run the persisted
    SQ8 serve as a STAGE of a larger statement
    (`colbert_persisted_retrieval_sql`: the token-level first stage).
    ``table`` names the corpus relation; the default keeps every
    pre-round-11 oracle string byte-identical (asserted across the
    refactor, the standing discipline)."""
    D = dim
    if n_cells == "auto":
        cent_block = auto_ivf_cent_ctes_sql(build_filter=build_filter, table=table)
    else:
        if table != "embeddings":
            raise ValueError("fixed n_cells supports only table='embeddings'")
        cent_block = f"cent AS ({ivf_cent_cte_sql(n_cells)}\n    )"
    code = f"""CAST(CASE WHEN rngs[i] = 0 THEN 0
                        ELSE least(greatest(floor(
                            (u[i] - mns[i]) / rngs[i] * 255.0 + 0.5), 0), 255)
                   END AS INTEGER)"""
    return f"""
    unit AS (
        SELECT vec_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)
                   / sqrt({SQL_SQNORM.format(v='embedding')})) AS u
        FROM {table}
    ),
    dimstats AS (
        SELECT CAST(t.i AS INTEGER) AS dim,
               min(u[CAST(t.i AS INTEGER)]) AS mn,
               max(u[CAST(t.i AS INTEGER)]) - min(u[CAST(t.i AS INTEGER)]) AS rng
        FROM (SELECT * FROM unit {build_filter}) bu
        CROSS JOIN range(1, {D} + 1) t(i)
        GROUP BY 1
    ),
    statarr AS (
        SELECT list(mn ORDER BY dim) AS mns, list(rng ORDER BY dim) AS rngs
        FROM dimstats
    ),
    codes AS (
        SELECT vec_id,
               list_transform(range(1, {D} + 1), i -> {code}) AS sq
        FROM unit CROSS JOIN statarr
    ),
    {cent_block},
    c_assign AS ({ivf_assign_sql("", "candidate_id", 1, table=table)}
    ),
    q_assign AS ({ivf_assign_sql(query_filter, "query_id", n_probe, table=table)}
    ),
    scored AS (
        SELECT q.query_id, c.candidate_id,
               round(list_sum(list_transform(range(1, {D} + 1), i ->
                   qu.u[i] * (sa.mns[i]
                              + CAST(cd.sq[i] AS DOUBLE) * sa.rngs[i] / 255.0))),
                     6) AS sq_sim
        FROM q_assign q
        JOIN c_assign c USING (cell_id)
        JOIN codes cd ON cd.vec_id = c.candidate_id
        JOIN unit qu ON qu.vec_id = q.query_id
        CROSS JOIN statarr sa
        WHERE q.query_id <> c.candidate_id
        {candidate_filter}
    )"""


def _ivfsq_final_sql(
    k: int,
    rerank: int | None,
    maxsim_tokens: int | None = None,
    dim: int = 64,
) -> str:
    """The final ranking stage of `ivfsq_topk_sql`: plain SQ8 top-k,
    or — with ``rerank`` — shortlist-then-exact-rescore (cosine, or
    late-interaction maxsim when ``maxsim_tokens`` is set)."""
    if maxsim_tokens is not None:
        assert rerank is not None, "maxsim rescore needs a shortlist cut"
        return _ivfsq_maxsim_final_sql(k, rerank, maxsim_tokens, dim)
    if rerank is None:
        return f"""SELECT query_id, candidate_id, sq_sim, rank
    FROM (
        SELECT query_id, candidate_id, sq_sim,
               CAST(row_number() OVER (
                   PARTITION BY query_id ORDER BY sq_sim DESC, candidate_id
               ) AS BIGINT) AS rank
        FROM scored
    )
    WHERE rank <= {k}"""
    return f""", shortlist AS (
        SELECT query_id, candidate_id
        FROM (
            SELECT query_id, candidate_id,
                   row_number() OVER (
                       PARTITION BY query_id ORDER BY sq_sim DESC, candidate_id
                   ) AS sqrk
            FROM scored
        )
        WHERE sqrk <= {rerank}
    ),
    rescored AS (
        SELECT s.query_id, s.candidate_id,
               round({SQL_DOT.format(a='qu.u', b='cu.u')}, 6) AS cos_sim
        FROM shortlist s
        JOIN unit qu ON qu.vec_id = s.query_id
        JOIN unit cu ON cu.vec_id = s.candidate_id
    )
    SELECT query_id, candidate_id, cos_sim, rank
    FROM (
        SELECT query_id, candidate_id, cos_sim,
               CAST(row_number() OVER (
                   PARTITION BY query_id ORDER BY cos_sim DESC, candidate_id
               ) AS BIGINT) AS rank
        FROM rescored
    )
    WHERE rank <= {k}"""


def _ivfsq_maxsim_final_sql(k: int, rerank: int, n_tokens: int, dim: int) -> str:
    """`_ivfsq_final_sql`'s late-interaction variant: the top-R SQ8
    shortlist re-scored by maxsim over ``n_tokens`` unit-normalized
    slices (see `operators/maxsim`)."""
    return f""", shortlist AS (
        SELECT query_id, candidate_id
        FROM (
            SELECT query_id, candidate_id,
                   row_number() OVER (
                       PARTITION BY query_id ORDER BY sq_sim DESC, candidate_id
                   ) AS sqrk
            FROM scored
        )
        WHERE sqrk <= {rerank}
    ),
    {_maxsim_tail_sql(k, n_tokens, dim)}"""


def maxsim_topk_sql(
    k: int = 5,
    n_tokens: int = 4,
    dim: int = 64,
    query_filter: str = "WHERE q.vec_id < 5",
) -> str:
    """DuckDB mirror of `operators/maxsim.maxsim_topk` — the EXACT
    late-interaction baseline: every query × candidate pair (self
    excluded) scored by maxsim over ``n_tokens`` unit-normalized
    slices, top-``k`` per query. The all-pairs 'shortlist' feeds the
    same scoring tail the s24 rescore oracle uses, mirroring the
    engine side where `maxsim_topk` delegates to `maxsim_rerank` over
    the full cross join."""
    return f"""shortlist AS (
        SELECT q.vec_id AS query_id, c.vec_id AS candidate_id
        FROM embeddings q CROSS JOIN embeddings c
        {query_filter} AND q.vec_id <> c.vec_id
    ),
    {_maxsim_tail_sql(k, n_tokens, dim)}"""


def _maxsim_tail_sql(k: int, n_tokens: int, dim: int, token_where: str = "") -> str:
    """The maxsim scoring stages over a preceding ``shortlist`` CTE
    (pairs to score): tokenize → per-(pair, query-token) max dot →
    m-ascending sum → per-query top-k. The per-(pair, query-token)
    max is an exact double aggregate; the final sum runs m-ascending
    via ``list_sum(list(mx ORDER BY m))`` — the engine's
    left-to-right fold over the ordered token array.

    ``token_where`` (round 12, the ragged-T rows): an optional WHERE
    clause over ``e`` (the document) and ``tm.m`` (the token ordinal)
    that drops token rows per document — replaying a VARIABLE
    per-document token count, the shape a real encoder emits. The
    default keeps every pre-round-12 oracle string byte-identical."""
    sub = dim // n_tokens
    tok_dot = (
        f"list_sum(list_transform(range(1, {sub} + 1), "
        "i -> qt.t[i] * ct.t[i]))"
    )
    return f"""tok AS (
        SELECT vec_id, m,
               list_transform(sl, x ->
                   x / sqrt(list_sum(list_transform(sl, y -> y * y)))) AS t
        FROM (
            SELECT e.vec_id, CAST(tm.m AS INTEGER) AS m,
                   list_transform(range(1, {sub} + 1), i ->
                       CAST(e.embedding[CAST(tm.m AS INTEGER) * {sub} + i]
                            AS DOUBLE)) AS sl
            FROM embeddings e CROSS JOIN range(0, {n_tokens}) tm(m){token_where}
        )
    ),
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
    SELECT query_id, candidate_id, maxsim, rank
    FROM (
        SELECT query_id, candidate_id, maxsim,
               CAST(row_number() OVER (
                   PARTITION BY query_id ORDER BY maxsim DESC, candidate_id
               ) AS BIGINT) AS rank
        FROM rescored
    )
    WHERE rank <= {k}"""


def colbert_token_retrieval_sql(
    k: int = 5,
    k0: int = 10,
    n_tokens: int = 4,
    dim: int = 64,
    n_probe: int = 2,
    query_docs: int = 5,
) -> str:
    """DuckDB mirror of `operators/maxsim.maxsim_search_tokens` — the
    FULL late-interaction retrieval architecture (ColBERT): a
    token-level IVF first stage (every token of every document is an
    index entry under a composite id ``doc*T + m``; a query's tokens
    each retrieve their top-``k0`` tokens) whose hits map back to
    parent documents, then the doc-level maxsim rerank over that
    shortlist. The token table CTE stands in for the corpus relation
    via the generators' ``table=`` hook (`auto_ivf_cent_ctes_sql`,
    `ivf_assign_sql`), so the token-level stage replays the exact
    s04-family IVF semantics — √n auto-sizing ON THE TOKEN COUNT,
    lowest-composite-id centroids, rounded-cosine cell argmax,
    probe-join, 6-dp rank with composite-id tiebreak — and the
    shortlist feeds the same maxsim tail as s24/s27. The query-side
    filter ``vec_id < query_docs·T`` is exact for the composite ids
    of docs ``< query_docs``."""
    T, sub = n_tokens, dim // n_tokens
    return f"""tokens AS (
        SELECT CAST(vec_id * {T} + m AS BIGINT) AS vec_id,
               list_transform(sl, x ->
                   x / sqrt(list_sum(list_transform(sl, y -> y * y)))) AS embedding
        FROM (
            SELECT e.vec_id, CAST(tm.m AS INTEGER) AS m,
                   list_transform(range(1, {sub} + 1), i ->
                       CAST(e.embedding[CAST(tm.m AS INTEGER) * {sub} + i]
                            AS DOUBLE)) AS sl
            FROM embeddings e CROSS JOIN range(0, {T}) tm(m)
        )
    ),
    {auto_ivf_cent_ctes_sql(table="tokens")},
    c_assign AS ({ivf_assign_sql("", "candidate_id", 1, table="tokens")}
    ),
    q_assign AS ({ivf_assign_sql(f"WHERE vec_id < {query_docs * T}", "query_id", n_probe, table="tokens")}
    ),
    tok_scored AS (
        SELECT query_id, candidate_id,
               round({SQL_DOT.format(a='q.vec', b='c.vec')}
                     / (q.nrm * c.nrm), 6) AS cos_sim
        FROM q_assign q JOIN c_assign c USING (cell_id)
        WHERE query_id <> candidate_id
    ),
    tok_hits AS (
        SELECT query_id, candidate_id FROM (
            SELECT query_id, candidate_id,
                   row_number() OVER (
                       PARTITION BY query_id ORDER BY cos_sim DESC, candidate_id
                   ) AS rnk
            FROM tok_scored
        ) WHERE rnk <= {k0}
    ),
    shortlist AS (
        SELECT DISTINCT CAST(query_id // {T} AS BIGINT) AS query_id,
                        CAST(candidate_id // {T} AS BIGINT) AS candidate_id
        FROM tok_hits
        WHERE query_id // {T} <> candidate_id // {T}
    ),
    {_maxsim_tail_sql(k, n_tokens, dim)}"""


def colbert_persisted_retrieval_sql(
    k: int = 5,
    k0: int = 10,
    n_tokens: int = 4,
    dim: int = 64,
    n_probe: int = 2,
    query_docs: int = 5,
    token_where: str = "",
) -> str:
    """DuckDB mirror of the PERSISTED-token-index late-interaction
    retrieval (`operators/maxsim.maxsim_search_tokens_persisted` —
    SCALE.md §7r-b's deployment route): the first stage serves each
    query token's top-``k0`` tokens from the persisted IVF-SQ8 index
    built ON THE TOKEN FRAME (quantized dots over probed cells —
    `_ivfsq_scored_ctes_sql(table="tokens")` replays stats, codes,
    √(T·n) cells, assignment, and the SQ8 scoring exactly as the s13
    family's oracle does for the doc-level index), hits map back to
    parent documents (integer DIV, self-pairs dropped), and the
    distinct parent pairs feed the s24 maxsim tail. Differs from
    `colbert_token_retrieval_sql` (s28, the in-memory `ivf_topk`
    stage) exactly where the engines differ: the first stage ranks on
    the QUANTIZED dot, not the exact cosine.

    ``token_where`` (round 12): `_maxsim_tail_sql`'s ragged-T hook,
    applied BOTH to the index's tokens CTE and to the rerank's tok
    CTE — the whole retrieval replays over a variable per-document
    token count (s36). Default keeps the s30/s35 strings
    byte-identical to the round-11 form."""
    T, sub = n_tokens, dim // n_tokens
    return f"""tokens AS (
        SELECT CAST(vec_id * {T} + m AS BIGINT) AS vec_id,
               list_transform(sl, x ->
                   x / sqrt(list_sum(list_transform(sl, y -> y * y)))) AS embedding
        FROM (
            SELECT e.vec_id, CAST(tm.m AS INTEGER) AS m,
                   list_transform(range(1, {sub} + 1), i ->
                       CAST(e.embedding[CAST(tm.m AS INTEGER) * {sub} + i]
                            AS DOUBLE)) AS sl
            FROM embeddings e CROSS JOIN range(0, {T}) tm(m){token_where}
        )
    ),{_ivfsq_scored_ctes_sql(sub, "auto", n_probe,
                              f"WHERE vec_id < {query_docs * T}",
                              table="tokens")},
    tok_hits AS (
        SELECT query_id, candidate_id FROM (
            SELECT query_id, candidate_id,
                   row_number() OVER (
                       PARTITION BY query_id ORDER BY sq_sim DESC, candidate_id
                   ) AS rnk
            FROM scored
        ) WHERE rnk <= {k0}
    ),
    shortlist AS (
        SELECT DISTINCT CAST(query_id // {T} AS BIGINT) AS query_id,
                        CAST(candidate_id // {T} AS BIGINT) AS candidate_id
        FROM tok_hits
        WHERE query_id // {T} <> candidate_id // {T}
    ),
    {_maxsim_tail_sql(k, n_tokens, dim, token_where=token_where)}"""
