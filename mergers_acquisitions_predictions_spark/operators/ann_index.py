"""Persisted IVF index artifacts — the deployment shape the SCALE.md
§7i measurement argues for: build ONCE (assignment + quantization are
the n·cells cost), persist the coded corpus PARTITIONED BY CELL, and
serve every later query batch as a partition-pruned scan + equi-join.

ONE LIFECYCLE, TWO CODECS. Build, append, serve and compact are each
written once; everything that differs by index kind lives in a small
`_Codec` record:

    SQ8  "ivfsq"   one byte per DIMENSION against per-dimension
                   (min, range) stats; codes column ``sq``; the
                   query side carries its unit vector ``qu``; pairs
                   score as the dequantized dot ``sq_sim`` (desc);
                   exact rerank = unit-dot cosine
    PQ   "ivfpq"   one byte per SUBSPACE against per-subspace
                   codebooks, over the unit vector or (``residual``)
                   its offset from the cell's unit centroid; codes
                   column ``pq``; the query side carries its ADC
                   table ``dtab``; pairs score as the quantized
                   squared L2 ``adc_dist`` (asc); exact rerank = raw
                   dot over the product of norms

Every generation's ``_meta`` records its ``"kind"``, so
`search_index`, `append_index` and `compact_index` take the codec
from the index itself — no caller names the kind after the build. The
two builds keep their own entry points (`build_ivfsq_index`,
`build_ivfpq_index`: their fit arguments differ) and share one
assign → pre-encode → cell shuffle → encode → publish tail;
`index_builder` maps a kind to its build.

Layout on disk (any Hadoop-compatible filesystem):

    <path>/codes/       parquet, partitionBy(cell_id):
                        (candidate_id, <codes column>) — a FRESH
                        build's generation-0 codes directory
    <path>/codes_gN/    later generations, written by compaction and
                        by REBUILDS at a live path
    <gen>/_meta         EVERY generation (``codes`` included) carries
                        its own one-line JSON geometry: kind,
                        quantizer, centroid table, config (the
                        driver-sized artifacts the operators otherwise
                        collect per invocation). The leading underscore
                        hides it from the parquet scan, so a generation
                        name resolves codes AND geometry together — one
                        consistent unit
    <path>/CURRENT      one-line pointer file naming the LIVE codes
                        directory ("codes" or "codes_gN")

POINTER-FILE COMMIT: readers resolve ``CURRENT`` and scan the
directory it names; maintenance writes a complete NEW directory
first — codes AND the ``_meta`` geometry staged together, published
by ONE directory rename — and swaps the pointer LAST
(`sources/fs.fs_replace_file`, a small-file replace that is atomic
on HDFS and, where a filesystem implements it as delete-then-rename
— the local FS — leaves at worst a transient missing-pointer window
that resolution's newest-generation fallback covers, see below). A
reader therefore NEVER sees a missing or partial codes directory,
and because a generation carries its own geometry, a reader that
resolved a PRE-swap name keeps scoring those codes with THEIR stats
— a rebuild can change the quantizer without any stale-codes/
new-geometry mix. The REPLACED generation is retained for one
maintenance cycle (retention = 1, ≤2 generations on disk) by
compaction AND by rebuild, so even a reader that resolved the
pointer just before a swap finishes its scan against intact files;
only a reader idling across TWO maintenance commits can lose its
directory — the standard snapshot-expiry contract. A missing
``CURRENT`` falls back to the newest promoted generation, then
``codes/``.

NO SESSION STATE: serve, append and compact resolve ``CURRENT`` and
read the live generation's ``_meta`` from disk on every call, so a
write by any process is seen by the very next call. The only cache
is `_meta_text`, an LRU of the geometry TEXT keyed by (path,
generation, ``_meta`` length, ``_meta`` mtime) from one
getFileStatus — a rewritten ``_meta`` changes the key, so it needs
no invalidation.

Why partitionBy(cell_id) is the point at 100 TB: a query batch
probes n_probe cells each; the probe cell set is collected from the
(small, by the ANN contract) query side and pushed as an `isin`
PartitionFilter — so the scan reads ONLY the probed cells' files,
never the full index. That turns search cost from O(index) to
O(probed cells), which is the entire reason an IVF index exists.
The pruning is test-asserted from the physical plan
(tests/test_ann_index.py, tests/test_pq_index.py).

ONE SERVE KERNEL: the three in-memory IVF ops — `sq.ivfsq_topk`,
`pq.ivfpq_topk` and the unquantized `similarity.ivf_topk` — are this
module's lifecycle with the codes held in a (memoized) frame instead
of on disk. They fit with the build's `_fit_centroids` (which also
takes a caller centroid table) / `_pq_books`, encode with `_encoded`
(`_corpus_topk`), and serve with the same two steps as
`search_index`: `_probe` (queries → their ``n_probe`` cells → the
codec's query column) and `_rank` (broadcast probe join, rounded
codec score, per-query window top-k, optional exact rerank).
`ivf_topk` runs the third codec, `FLOAT`, which is never persisted:
its codes and query columns are the (vector, norm) pair and it
scores the exact cosine as ``cos_sim``. Only the persisted serve
collects the probe side, prunes the codes scan to the probed cells
and offers ``allowed`` and ``score_blas``; scores and ranks are the
same expressions on both paths, so their results are bit-identical
(asserted).
"""

from __future__ import annotations

import functools
import json
from typing import Callable, NamedTuple

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.vectors import dot, l2_norm
from .pq import (
    adc_sum,
    anchor_slices,
    pq_adc_table,
    pq_anchor_codebooks,
    pq_encode,
)
from .similarity import (
    _blas_topk,
    _half_up_6dp,
    auto_cells,
    brute_force_topk,
    collect_centroid_rows,
    ivf_assign_blas,
    ivf_assign_literal,
    ivf_centroids,
    topk_recall,
)
from .sq import _unit, sq_encode, sq_score, sq_stats
from .topk import grouped_topk
from .util import (
    bounded_collect,
    hof_bind,
    keyed_memo,
    local_rows_df,
    memoized_frame,
    repartition_for_compute,
)

_CURRENT = "CURRENT"
_GEN_PREFIX = "codes_g"
_META_FILE = "_meta"

#: bound on a serve's driver collect of (query, probed cell) rows —
#: queries × n_probe
MAX_PROBE_ROWS = 100_000


def _with_extra_meta(geometry: dict, extra_meta: dict | None) -> dict:
    """Merge caller-owned ``extra_meta`` into the ``_meta`` geometry
    dict, ENFORCING the no-collision contract (ADVICE r12): a caller
    key shadowing frozen geometry ('dim', 'centroids', 'kind',
    'residual', ...) would silently corrupt every later resolution,
    so it is a hard error, not a last-splat-wins overwrite."""
    if not extra_meta:
        return geometry
    clash = sorted(set(extra_meta) & set(geometry))
    if clash:
        raise ValueError(
            f"extra_meta keys collide with frozen index geometry: {clash}"
        )
    return {**geometry, **extra_meta}


def _gen_dirs(spark: SparkSession, path: str) -> list[str]:
    """Promoted generation directory names under ``path``, sorted
    NUMERICALLY by suffix (ADVICE r8: a lexicographic sort puts
    ``codes_g1000000`` before ``codes_g0999999``, so ``gens[-1]``
    would resolve a stale generation and the next-gen computation
    would collide with an existing name, failing every later
    compaction behind `fs_rename`'s strict no-overwrite). Staging
    twins (``codes_gN.staging_<tok>``) never match: only an all-digit
    suffix is a promoted generation."""
    from ..sources.fs import fs_list_dirs

    return sorted(
        (
            d
            for d in fs_list_dirs(spark, path)
            if d.startswith(_GEN_PREFIX) and d[len(_GEN_PREFIX):].isdigit()
        ),
        key=lambda d: int(d[len(_GEN_PREFIX):]),
    )


def _resolve_codes_name(spark: SparkSession, path: str) -> str:
    """Name of the LIVE codes directory under ``path``, read from disk:
    the ``CURRENT`` pointer file, else — while a non-atomic pointer
    swap is in flight — the newest promoted generation, else
    ``codes``. Every candidate this returns is a COMPLETE index
    directory by the commit protocol (generations are staged and
    renamed into place before the pointer moves) and resolves its OWN
    geometry (`_read_meta_text`), so old-vs-new generation is a
    freshness difference, never a correctness one: even across a
    REBUILD that changed the quantizer, a stale resolution scores its
    codes with the stats they were encoded under."""
    from ..sources.fs import fs_read_text

    cur = fs_read_text(spark, f"{path}/{_CURRENT}")
    if cur and cur.strip():
        name = cur.strip()
        # the pointer must name a SIBLING codes directory — a manifest
        # naming anything else (truncated write, foreign scribble, a
        # traversal like "../x") is corruption and must be LOUD, not a
        # scan of an attacker-chosen path
        import re

        if not re.fullmatch(r"codes(_g\d{6,})?", name):
            raise ValueError(
                f"corrupt index manifest {path}/{_CURRENT}: {name!r} is "
                "not a codes generation name — restore it to 'codes' or "
                "'codes_gNNNNNN', or rebuild the index"
            )
        return name
    gens = _gen_dirs(spark, path)
    if gens:
        return gens[-1]
    return "codes"


def _codes_path(spark: SparkSession, path: str) -> str:
    return f"{path}/{_resolve_codes_name(spark, path)}"


def _has_live_index(spark: SparkSession, path: str) -> bool:
    """True iff ``path`` already holds an index a reader could be
    serving from — a ``CURRENT`` pointer, any promoted generation, or
    a generation-0 ``codes/`` directory. Decides whether a build is a FRESH
    write (nothing resolvable, so nothing to protect) or a REBUILD
    that must commit through a staged generation (ADVICE r8: an
    in-place overwrite of the live directory pulls files out from
    under a concurrent reader mid-scan)."""
    from ..sources.fs import fs_exists

    return (
        fs_exists(spark, f"{path}/{_CURRENT}")
        or bool(_gen_dirs(spark, path))
        or fs_exists(spark, f"{path}/codes")
    )


@functools.lru_cache(maxsize=64)
def _meta_text(path: str, name: str, length: int, mtime: int) -> str:
    """The geometry text of generation ``name`` at ``path``, cached on
    the file's (length, mtime): a rewritten ``_meta`` is a new key
    (only a same-length rewrite inside the store's mtime resolution
    could alias, far below the time any index build takes)."""
    from ..sources.fs import fs_read_text

    txt = fs_read_text(SparkSession.active(), f"{path}/{name}/{_META_FILE}")
    if txt is None or not txt.strip():
        raise ValueError(f"empty index geometry at {path}/{name}/{_META_FILE}")
    return txt


def _read_meta_text(spark: SparkSession, path: str, name: str) -> str:
    """Raw one-line JSON geometry for the generation ``name`` at
    ``path``: its co-located ``<name>/_meta``. One getFileStatus per
    call; the text itself is read once per (length, mtime) — a
    driver-side Hadoop read, no Spark job. A generation without
    ``_meta`` is an error naming the fix."""
    from ..sources.fs import fs_file_status

    st = fs_file_status(spark, f"{path}/{name}/{_META_FILE}")
    if st is None:
        raise ValueError(
            f"index at {path} has no geometry for generation {name!r}: "
            f"expected {path}/{name}/{_META_FILE} — rebuild the index"
        )
    return _meta_text(path, name, *st)


class _Codec(NamedTuple):
    """What differs between the index kinds — nothing else does.

    ``geometry`` parses the kind's quantizer from a ``_meta`` dict
    (SQ8: ``(mns, rngs)``; PQ: ``(codebooks, residual)``; None for the
    never-persisted `FLOAT` codec, whose ``g`` is ``()``); the other
    callables take that tuple as ``g``. ``pre_encode(assigned, g,
    cent_rows)`` maps an `ivf_assign_literal`-shaped frame to
    ``(frame, column)``: the vector both the corpus and the query side
    derive from (the unit vector, or the PQ residual to the persisted
    unit centroid, whose broadcast join the frame then carries).
    ``encode`` turns it into the ``codes_col`` array, ``query`` into
    the ``query_col`` the probe join ships; ``score`` is the per-pair
    expression over a joined (codes, query) row, ranked as
    ``score_col`` in ``descending`` order. ``exact(q, queries, id_col,
    vec_col)`` gives the rerank's query frame and its exact cosine
    against the candidate vector ``__cvec`` — each kind keeps the
    spelling its oracle replays (None: no rerank)."""

    kind: str
    geometry: Callable[[dict], tuple] | None
    pre_encode: Callable[[DataFrame, tuple, list], tuple]
    encode: Callable[[Column, tuple], Column]
    codes_col: str
    query: Callable[[Column, tuple], Column]
    query_col: str
    score: Callable[[tuple], Column]
    score_col: str
    descending: bool
    exact: Callable[[DataFrame, DataFrame, str, str], tuple] | None


def _unit_pre(assigned: DataFrame, g: tuple, cent_rows: list) -> tuple:
    return assigned, _unit(F.col("__vec"), F.col("__norm"))


def _pq_pre(assigned: DataFrame, residual: bool, cent_rows: list) -> tuple:
    """The PQ pre-encode: the unit vector, or — ``residual`` (SCALE.md
    §7s; classic IVF-ADC, Jégou et al. 2011 §IV.B) — x_unit −
    c_unit(cell(x)) against the persisted centroids, so the books only
    code the within-cell spread. The unit centroids ``(cell_id,
    __cu)`` are divided in Python IEEE doubles (bit-identical to the
    oracle's ``cvec[i]/cnorm``) and join broadcast on ``cell_id``
    (anchor ids, not dense); on the query side that cell equi-join
    pairs each candidate with its own cell's ADC table. It is also the
    training column of `pq.pq_kmeans_residual_codebooks` and of the
    residual anchor books."""
    unit = _unit(F.col("__vec"), F.col("__norm"))
    if not residual:
        return assigned, unit
    cents = local_rows_df(
        assigned.sparkSession,
        [(int(c), [float(x) / float(n) for x in v]) for c, v, n in cent_rows],
        "cell_id BIGINT, __cu ARRAY<DOUBLE>",
    )
    return (
        assigned.join(F.broadcast(cents), "cell_id"),
        F.zip_with(unit, F.col("__cu"), lambda a, b: a - b),
    )


def _sq_exact(q: DataFrame, queries: DataFrame, id_col: str, vec_col: str) -> tuple:
    # q carries one row per probed cell — the rerank needs one unit
    # vector per query. The candidate norm is hof_bind-bound so it
    # evaluates once per survivor.
    qv = q.select("query_id", "qu").dropDuplicates(["query_id"])
    return qv, hof_bind(
        l2_norm(F.col("__cvec")),
        lambda n: dot(F.col("qu"), _unit(F.col("__cvec"), n)),
    )


def _pq_exact(q: DataFrame, queries: DataFrame, id_col: str, vec_col: str) -> tuple:
    # dot over the norm product on RAW vectors — the rescore the PQ
    # oracle's rescore block replays
    qv = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        l2_norm(F.col(vec_col)).alias("q_norm"),
    )
    return qv, dot(F.col("q_vec"), F.col("__cvec")) / (
        F.col("q_norm") * l2_norm(F.col("__cvec"))
    )


SQ8 = _Codec(
    kind="ivfsq",
    geometry=lambda meta: (json.loads(meta["mns"]), json.loads(meta["rngs"])),
    pre_encode=_unit_pre,
    encode=lambda u, g: sq_encode(u, *g),
    codes_col="sq",
    query=lambda u, g: u,
    query_col="qu",
    score=lambda g: sq_score(F.col("qu"), F.col("sq"), *g),
    score_col="sq_sim",
    descending=True,
    exact=_sq_exact,
)

PQ = _Codec(
    kind="ivfpq",
    geometry=lambda meta: (
        [
            [[float(x) for x in code] for code in book]
            for book in json.loads(meta["codebooks"])
        ],
        bool(meta.get("residual", 0)),
    ),
    pre_encode=lambda assigned, g, cent_rows: _pq_pre(assigned, g[1], cent_rows),
    encode=lambda u, g: pq_encode(u, g[0]),
    codes_col="pq",
    query=lambda u, g: hof_bind(u, lambda v: pq_adc_table(v, g[0])),
    query_col="dtab",
    score=lambda g: adc_sum(len(g[0])),
    score_col="adc_dist",
    descending=False,
    exact=_pq_exact,
)


#: the unquantized codec of `similarity.ivf_topk` — never persisted:
#: both sides carry the (vector, norm) pair and pairs score as the
#: exact rounded cosine
FLOAT = _Codec(
    kind="float",
    geometry=None,
    pre_encode=lambda assigned, g, cent_rows: (
        assigned,
        F.struct(F.col("__vec").alias("v"), F.col("__norm").alias("n")),
    ),
    encode=lambda u, g: u,
    codes_col="cv",
    query=lambda u, g: u,
    query_col="qv",
    score=lambda g: dot(F.col("qv.v"), F.col("cv.v"))
    / (F.col("qv.n") * F.col("cv.n")),
    score_col="cos_sim",
    descending=True,
    exact=None,
)


def _by_kind(table: dict, kind, where: str = ""):
    """``table[kind]``, or a ValueError naming the unknown kind."""
    if kind not in table:
        raise ValueError(
            f"unknown index kind {kind!r}{where} — expected one of "
            f"{sorted(table)}"
        )
    return table[kind]


class _Live(NamedTuple):
    """One resolution of an index: the live generation and the codec,
    geometry, centroid rows and dimension its ``_meta`` records."""

    name: str
    codec: _Codec
    geo: tuple
    cent_rows: list
    dim: int


def _live(spark: SparkSession, path: str) -> _Live:
    """Resolve ``CURRENT`` ONCE and parse that generation's ``_meta``:
    the caller reads codes from ``name`` and scores or encodes with
    the geometry of the same generation, so a pointer flip between two
    reads can never pair one generation's codes with another's
    quantizer, and a STALE name reads its own geometry."""
    name = _resolve_codes_name(spark, path)
    meta = json.loads(_read_meta_text(spark, path, name))
    codec = _by_kind(
        {c.kind: c for c in (SQ8, PQ)}, meta.get("kind"), f" at {path} ({name})"
    )
    cent_rows = [
        (int(c), [float(x) for x in v], float(n))
        for c, v, n in json.loads(meta["centroids"])
    ]
    return _Live(name, codec, codec.geometry(meta), cent_rows, int(meta["dim"]))


def _encoded(codec: _Codec, g: tuple, cent_rows: list, assigned: DataFrame) -> DataFrame:
    """(candidate_id, cell_id, <codes column>) for an assigned frame —
    the one encode of the build, the append and the in-memory ops.

    The pre-encode vector is computed BEFORE the cell shuffle and
    encoded AFTER it, so the shuffle is a materialization barrier:
    higher-order functions run on the interpreted expression path,
    where an encode over an inlined ``_unit(vec, norm)`` would
    re-derive the whole unit transform per code dimension (d² work
    per row, d³ with the norm fold inlined too — SCALE.md §7o-r9).
    Post-shuffle, ``__unit`` is a concrete attribute and encode is d
    array reads per row (M·d for PQ's bound slices). The shuffle also
    clusters by cell: files-per-cell bounded by the repartition width
    (one file per touched cell for an append shard) and contiguous
    row groups for probed-cell reads."""
    frame, pre = codec.pre_encode(assigned, g, cent_rows)
    return (
        frame.select("candidate_id", "cell_id", pre.alias("__unit"))
        .repartition("cell_id")
        .select(
            "candidate_id",
            "cell_id",
            codec.encode(F.col("__unit"), g).alias(codec.codes_col),
        )
    )


def _fit_centroids(
    corpus: DataFrame,
    n_cells: int | None,
    ck: tuple | None,
    id_col: str,
    vec_col: str,
    centroids: DataFrame | None = None,
) -> tuple[int, list]:
    """(n_cells, centroid rows): the caller's ``centroids`` table
    (cell_id, cent_vec, cent_norm), which defines the cell count and is
    never memoized (``ck`` cannot see its provenance), else the
    deterministic lowest-id anchors; ``n_cells=None`` sizes √n
    (`similarity.auto_cells`)."""
    if centroids is not None:
        cent_rows = collect_centroid_rows(centroids)
        return len(cent_rows), cent_rows
    if n_cells is None:
        n_cells = auto_cells(keyed_memo(ck, ("count", ck, id_col), corpus.count))
    return n_cells, keyed_memo(
        ck,
        ("ivf_cent_rows", ck, n_cells, id_col, vec_col),
        lambda: collect_centroid_rows(ivf_centroids(corpus, n_cells, id_col, vec_col)),
    )


def _assigned(
    corpus: DataFrame, cent_rows: list, assign_blas: bool, id_col: str, vec_col: str
) -> DataFrame:
    """The corpus assigned to its cell. ``assign_blas`` routes the
    n×cells assignment — THE dominant build term at deployment scale
    (SCALE.md §7o-r9 addendum) — through one numpy matmul per Arrow
    batch instead of codegen'd folds. Opt-in: codes and scoring stay
    bit-identical (the BLAS path only picks the cell; __vec passes
    through and __norm is re-derived JVM-side), but a boundary-tie
    cell choice is not bit-guaranteed, which the registered oracle
    rows require — see ivf_assign_blas' parity-scope docstring."""
    assign = ivf_assign_blas if assign_blas else ivf_assign_literal
    return assign(
        repartition_for_compute(corpus), cent_rows, "candidate_id", 1, id_col, vec_col
    )


def _pq_books(
    corpus: DataFrame,
    assigned: DataFrame,
    cent_rows: list,
    n_cells: int,
    n_subspaces: int,
    n_codes: int,
    ck: tuple | None,
    codebooks: list[list[list[float]]] | None,
    residual: bool,
    id_col: str,
    vec_col: str,
) -> list[list[list[float]]]:
    """The PQ codebooks of `build_ivfpq_index` and `pq.ivfpq_topk`:
    the caller's ``codebooks``, else the lowest-id anchor books
    (`pq.pq_anchor_codebooks`) or — ``residual`` — `pq.anchor_slices`
    over the codec's residual pre-encode of ``assigned`` (memoized
    under ``ck``). Caller books define the geometry, so a corpus whose
    width is not theirs raises ValueError instead of mis-encoding
    silently through ``F.slice``."""
    if codebooks is not None:
        dim = len(codebooks) * len(codebooks[0][0])
        if corpus.filter(F.size(F.col(vec_col)) != dim).limit(1).count():
            raise ValueError(
                f"corpus vectors must have dim={dim} "
                f"(= n_subspaces × sub_dim of the supplied codebooks)"
            )
        return codebooks
    if residual:
        frame, resid = _pq_pre(assigned, True, cent_rows)
        return keyed_memo(
            ck,
            ("pq_resid_cbs", ck, n_cells, n_subspaces, n_codes, id_col, vec_col),
            lambda: anchor_slices(frame, "candidate_id", resid, n_subspaces, n_codes),
        )
    return keyed_memo(
        ck,
        ("pq_anchor_cbs", ck, n_subspaces, n_codes, id_col, vec_col),
        lambda: pq_anchor_codebooks(corpus, n_subspaces, n_codes, id_col, vec_col),
    )


def _publish_build(
    codec: _Codec,
    g: tuple,
    assigned: DataFrame,
    path: str,
    n_cells: int,
    cent_rows: list,
    fields: dict,
    extra_meta: dict | None,
) -> None:
    """The builds' shared tail: encode the assigned corpus, write the
    geometry JSON (kind, cell count, the kind's ``fields``, centroid
    table, caller ``extra_meta``) and publish (`_publish_codes`)."""
    meta = {
        "kind": codec.kind,
        "n_cells": n_cells,
        **fields,
        "centroids": json.dumps(
            [[int(c), list(map(float, v)), float(n)] for c, v, n in cent_rows]
        ),
    }
    _publish_codes(
        assigned.sparkSession,
        path,
        _encoded(codec, g, cent_rows, assigned),
        json.dumps(_with_extra_meta(meta, extra_meta)),
    )


def build_ivfsq_index(
    corpus: DataFrame,
    path: str,
    n_cells: int | None = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    corpus_cache_key: tuple | None = None,
    centroids: DataFrame | None = None,
    assign_blas: bool = False,
    extra_meta: dict | None = None,
) -> None:
    """Build + persist an IVF-SQ8 index: learn per-dimension stats
    and centroids from the corpus (one pass + driver-sized collects),
    encode every vector (map-side), write codes partitioned by cell.
    At a FRESH path the index lands as generation-0 (``codes/`` with
    its ``_meta``); at a path already serving an index the build is
    a REBUILD and commits like a compaction — a staged generation
    carrying its own geometry, one pointer flip, the previous
    generation retained one cycle (ADVICE r8: never overwrite what a
    concurrent reader may be scanning). Either way the result fully
    replaces the old index for every reader that resolves after the
    commit. This is the amortized-regime artifact — SCALE.md §7i
    measures the 5.7× scan win it buys at 4k queries.

    ``centroids``: optional caller-supplied centroid table
    (cell_id, cent_vec, cent_norm) — e.g. a
    `similarity.kmeans_centroids(fit_sample_per_cell=50)` fit
    (SCALE.md §7o). The table defines the cell count and is
    materialized into the ``_meta`` geometry like the default
    anchors, so search/append/compact need no change. Default None
    keeps the deterministic lowest-id anchors (oracle-replayable; all
    registered queries).

    ``corpus_cache_key``: opt-in session memoization of the learned
    quantizer stats / centroid rows / corpus count (the usual
    index-artifact contract — the key must identify corpus content).

    ``assign_blas``: see `_assigned`.

    ``extra_meta``: optional caller-owned JSON-safe fields merged into
    the ``_meta`` geometry (ADVICE r11: `maxsim.build_token_index`
    records the ``n_tokens`` the composite frame was built with, so a
    serve with a mismatched T fails fast instead of decoding candidate
    ids with the wrong divisor). Keys colliding with the geometry's
    own raise ValueError (enforced — ADVICE r12); ``None`` adds
    nothing."""
    ck = corpus_cache_key
    mns, rngs = keyed_memo(
        ck, ("sq_stats", ck, vec_col), lambda: sq_stats(corpus, vec_col)
    )
    n_cells, cent_rows = _fit_centroids(
        corpus, n_cells, ck, id_col, vec_col, centroids
    )
    _publish_build(
        SQ8,
        (mns, rngs),
        _assigned(corpus, cent_rows, assign_blas, id_col, vec_col),
        path,
        n_cells,
        cent_rows,
        {"dim": len(mns), "mns": json.dumps(mns), "rngs": json.dumps(rngs)},
        extra_meta,
    )


def build_ivfpq_index(
    corpus: DataFrame,
    path: str,
    n_cells: int | None = 16,
    n_subspaces: int = 8,
    n_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    corpus_cache_key: tuple | None = None,
    codebooks: list[list[list[float]]] | None = None,
    assign_blas: bool = False,
    extra_meta: dict | None = None,
    residual: bool = False,
) -> None:
    """Build + persist an IVF-PQ index — the COMPRESSED persisted kind:
    the SQ8 codes are ``dim`` bytes/vector, the PQ codes
    ``n_subspaces`` bytes (8 here vs 64 — at 10⁹ vectors the
    difference is whether the hot index is 64 GB or 8 GB, i.e.
    whether one executor's page cache holds a shard of it). Same
    layout, commit and FRESH-vs-REBUILD decision as the SQ8 build
    (the shared `_publish_build` tail).

    Geometry = IVF centroids + PQ codebooks. ``codebooks=None`` keeps
    the deterministic lowest-id anchor books (`pq_anchor_codebooks` —
    oracle-replayable, the registered-row configuration); a deployment
    passes `pq_kmeans_codebooks`' learned books exactly like the SQ8
    build's ``centroids`` hook. ``assign_blas``, ``corpus_cache_key``
    and ``extra_meta``: `build_ivfsq_index`'s contracts.

    ``residual=True`` (SCALE.md §7s, measured first): the fine stage
    encodes x_unit − c_unit(cell(x)) instead of x_unit — the classic
    IVF-ADC refinement. The flag is RECORDED in the geometry (serving
    a residual index with raw ADC tables would be silently wrong), so
    the serve and appends follow it and compaction carries it
    forward. Opt-in by measurement: +0.16 recall@5 at equal bytes on
    the structured corpus, a LOSS on the unstructured one (§7s —
    decide per corpus, e.g. via a held-out recall probe). Anchor
    books under the flag come from the lowest-id RESIDUALS; caller
    ``codebooks`` must be residual-fitted."""
    ck = corpus_cache_key
    n_cells, cent_rows = _fit_centroids(corpus, n_cells, ck, id_col, vec_col)
    assigned = _assigned(corpus, cent_rows, assign_blas, id_col, vec_col)
    cbs = _pq_books(
        corpus, assigned, cent_rows, n_cells, n_subspaces, n_codes, ck,
        codebooks, residual, id_col, vec_col,
    )
    dim = len(cbs) * len(cbs[0][0])
    _publish_build(
        PQ,
        (cbs, residual),
        assigned,
        path,
        n_cells,
        cent_rows,
        {
            "dim": dim,
            "n_subspaces": len(cbs),
            "n_codes": len(cbs[0]),
            "codebooks": json.dumps(
                [[[float(x) for x in code] for code in book] for book in cbs]
            ),
            **({"residual": 1} if residual else {}),
        },
        extra_meta,
    )


def index_builder(kind: str) -> Callable[..., None]:
    """The build function for index ``kind`` — the one ``{kind:
    build}`` table behind `Engine.build_ann_index`,
    `maxsim.build_token_index` and `rebuild_if_drifted`. Looked up at
    call time, so a wrapped module attribute is honoured."""
    return _by_kind({"ivfsq": build_ivfsq_index, "ivfpq": build_ivfpq_index}, kind)


def _publish_codes(
    spark: SparkSession,
    path: str,
    coded: DataFrame,
    meta_text: str,
) -> None:
    """FRESH-vs-REBUILD publish decision of `_publish_build` (the
    commit protocol is quantizer-agnostic: only the coded column and
    the geometry JSON differ by kind). ``coded`` must already be
    clustered by cell (`_encoded` shuffles upstream of the encode).

    FRESH path: nothing resolvable exists, so no reader can be
    mid-scan — write generation-0 in place, no staging rename; the
    partitioned sink writes contiguous row groups with files-per-cell
    bounded by the shuffle width. The geometry is ONE driver-side
    Hadoop write of ``codes/_meta``, the same co-located form every
    later generation carries, and the pointer is written last.

    REBUILD at a live path (ADVICE r8 — the in-place overwrite raced
    concurrent readers, and reap-everything retention contradicted
    the module contract): commit exactly like a compaction — stage
    codes + co-located _meta geometry as the NEXT generation, publish
    with one directory rename, flip the pointer, retain the
    previously-live generation one cycle, reap everything older. A
    reader that resolved the old name keeps consistent codes+geometry
    until the NEXT maintenance commit; the pointer chain continues
    instead of resetting."""
    if not _has_live_index(spark, path):
        coded.write.mode("overwrite").partitionBy("cell_id").parquet(
            f"{path}/codes"
        )
        spark.catalog.refreshByPath(f"{path}/codes")
        from ..sources.fs import fs_replace_file, fs_write_text

        fs_write_text(spark, f"{path}/codes/{_META_FILE}", meta_text)
        fs_replace_file(spark, f"{path}/{_CURRENT}", "codes")
        return
    _commit_generation(
        spark, path, coded, meta_text, _resolve_codes_name(spark, path)
    )


def _commit_generation(
    spark: SparkSession,
    path: str,
    coded: DataFrame,
    meta_text: str,
    live_name: str,
) -> str:
    """The staged-generation commit shared by REBUILD and COMPACTION:
    write ``coded`` — which the CALLER must already have clustered by
    cell (both callers shuffle upstream; a second repartition here
    would double-shuffle the rebuild path) — into a staging twin,
    co-locate the ``meta_text`` geometry as ``_meta`` inside it,
    publish with ONE directory rename as the next ``codes_gN``,
    atomically flip ``CURRENT``, retain the previously-live
    generation for one cycle, reap everything older. Returns the new
    generation name.

    Failure at ANY step leaves the pre-commit index serving
    untouched: a failed stage write, meta write, or promote reaps the
    staging twin; a failed pointer SWAP leaves the promoted
    generation in place — unreferenced by the pointer, but complete
    and consistent (codes + ``_meta`` staged before the rename), and
    deliberately NOT reaped (ADVICE r9): on stores where the pointer
    replace is delete-then-rename (local FS, S3A) the old pointer may
    already be gone when the swap fails, and a concurrent reader
    resolving in that window falls back to the NEWEST generation —
    exactly the promoted one — so deleting it would pull the
    directory out from under that reader. The NEXT successful
    maintenance commit reaps it as an ordinary old generation (its
    number is counted by the next-gen computation, so no name
    collision). No restore rename exists because nothing is ever
    moved aside."""
    import os
    import uuid

    from ..sources.fs import fs_delete, fs_rename, fs_replace_file, fs_write_text

    gens = _gen_dirs(spark, path)
    next_gen = (int(gens[-1][len(_GEN_PREFIX):]) if gens else 0) + 1
    new_name = f"{_GEN_PREFIX}{next_gen:06d}"
    staging = f"{path}/{new_name}.staging_{os.getpid()}_{uuid.uuid4().hex[:8]}"
    try:
        coded.write.mode("overwrite").partitionBy("cell_id").parquet(staging)
        fs_write_text(spark, f"{staging}/{_META_FILE}", meta_text)
        fs_rename(spark, staging, f"{path}/{new_name}")
    except BaseException:
        fs_delete(spark, staging)  # serving index untouched
        raise
    # A swap failure propagates as-is: the promoted generation stays
    # (see the docstring's failure contract — reaping it here would
    # break a reader that resolved it through the missing-pointer
    # fallback mid-swap); the next successful commit reaps it.
    fs_replace_file(spark, f"{path}/{_CURRENT}", new_name)
    spark.catalog.refreshByPath(f"{path}/{new_name}")
    # Retention = 1: keep the generation just replaced (live_name) for
    # readers that resolved the pointer before the swap; reap anything
    # older (including generation-0 codes/ once a generation
    # supersedes it).
    for d in {*_gen_dirs(spark, path), "codes"} - {new_name, live_name}:
        fs_delete(spark, f"{path}/{d}")
    return new_name


def _ivfsq_scored_blas(
    codes: DataFrame,
    q_rows: list,
    mns: list[float],
    rngs: list[float],
    cut: int,
) -> DataFrame:
    """`search_index`'s SQ8 ``score_blas`` leg: (query_id,
    candidate_id, sq_sim) rows holding, per partition, the top-``cut``
    candidates per query (`similarity._blas_topk`). Per Arrow batch,
    codes reconstruct in one vectorized ``mn + (code·rng)/255`` (the
    JVM expression's per-element order) and score against that cell's
    query matrix with one matmul, rounded by
    `similarity._half_up_6dp`; the partitioned scan makes batches
    effectively single-cell, so the groupby is a cheap passthrough.
    Parity scope = the other ``*_blas`` operators: matmul accumulation
    + float HALF_UP replication; opt-in only."""
    import numpy as np

    spark = codes.sparkSession
    by_cell: dict = {}
    for r in q_rows:
        ids, mat = by_cell.setdefault(int(r["cell_id"]), ([], []))
        ids.append(int(r["query_id"]))
        mat.append([float(x) for x in r["qu"]])
    bc = spark.sparkContext.broadcast(
        {
            c: (np.asarray(ids, dtype=np.int64), np.asarray(mat, dtype=np.float64))
            for c, (ids, mat) in by_cell.items()
        }
    )
    MN = np.asarray([float(x) for x in mns], dtype=np.float64)
    RG = np.asarray([float(x) for x in rngs], dtype=np.float64)

    def score(batches):
        groups = bc.value

        def blocks():
            for pdf in batches:
                for cell, sub in pdf.groupby("cell_id"):
                    g = groups.get(int(cell))
                    if g is None:
                        continue
                    qids, Q = g
                    C = np.asarray(
                        [np.asarray(v, dtype=np.float64) for v in sub["sq"]]
                    )
                    recon = MN[None, :] + (C * RG[None, :]) / 255.0
                    cand = sub["candidate_id"].to_numpy(dtype=np.int64)
                    yield cand, qids, _half_up_6dp(recon @ Q.T)

        yield from _blas_topk(blocks(), cut, "sq_sim")

    return codes.select("candidate_id", "cell_id", "sq").mapInPandas(
        score, schema="query_id long, candidate_id long, sq_sim double"
    )


def _probe(
    codec: _Codec,
    g: tuple,
    cent_rows: list,
    queries: DataFrame,
    n_probe: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """The probe side of both serves: (query_id, cell_id, <query
    column>) — each query assigned to its ``n_probe`` nearest cells
    by the centroid rows, then mapped through the codec's pre-encode
    and query expressions (SQ8: the unit vector; PQ: the ADC table,
    one per query — per probed cell under residual geometry)."""
    frame, pre = codec.pre_encode(
        ivf_assign_literal(queries, cent_rows, "query_id", n_probe, id_col, vec_col),
        g,
        cent_rows,
    )
    return frame.select(
        "query_id", "cell_id", codec.query(pre, g).alias(codec.query_col)
    )


def _rank(
    codec: _Codec,
    g: tuple,
    codes: DataFrame,
    q: DataFrame,
    k: int,
    rerank: int | None,
    vectors: DataFrame | None,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    scored: DataFrame | None = None,
) -> DataFrame:
    """The rank step of both serves. The (candidate_id, cell_id,
    <codes>) frame ``codes`` joins the BROADCAST probe side ``q`` on
    cell_id (self-pairs dropped) and each pair scores as the codec's
    expression rounded to 6 dp — unless ``scored`` already holds
    (query_id, candidate_id, <score>) rows (the ``score_blas`` leg).
    Each query keeps its top ``k`` — top ``rerank`` under a rerank —
    by (score in the codec's order, candidate_id asc). ``rerank``
    joins that shortlist, broadcast, to the raw ``vectors`` (only the
    survivors are normalized) and ranks the top ``k`` on the codec's
    exact cosine, rounded to 6 dp, as ``cos_sim``."""
    score_col = codec.score_col
    if scored is None:
        scored = (
            codes.join(F.broadcast(q), "cell_id")
            .filter(F.col("query_id") != F.col("candidate_id"))
            .select(
                "query_id", "candidate_id", F.round(codec.score(g), 6).alias(score_col)
            )
        )
    order = F.desc(score_col) if codec.descending else F.asc(score_col)
    top = grouped_topk(
        scored, ["query_id"], [order, F.asc("candidate_id")],
        k if rerank is None else rerank, "rank",
    )
    if rerank is None:
        return top.select("query_id", "candidate_id", score_col, "rank")
    qv, cos = codec.exact(q, queries, id_col, vec_col)
    cand = vectors.select(
        F.col(id_col).alias("candidate_id"), F.col(vec_col).alias("__cvec")
    )
    exact = (
        cand.join(F.broadcast(top.select("query_id", "candidate_id")), "candidate_id")
        .join(F.broadcast(qv), "query_id")
        .select("query_id", "candidate_id", F.round(cos, 6).alias("cos_sim"))
    )
    return grouped_topk(
        exact, ["query_id"], [F.desc("cos_sim"), F.asc("candidate_id")], k, "rank"
    ).select("query_id", "candidate_id", "cos_sim", "rank")


def _corpus_topk(
    codec: _Codec,
    g: tuple,
    cent_rows: list,
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    n_probe: int,
    id_col: str,
    vec_col: str,
    codes_key: tuple | None,
    rerank: int | None = None,
) -> DataFrame:
    """The in-memory serve (`sq.ivfsq_topk`, `pq.ivfpq_topk`,
    `similarity.ivf_topk`): the corpus assigned and encoded exactly as
    a build encodes it
    (`_assigned` → `_encoded`), held as a frame — memoized under
    ``codes_key`` (`util.memoized_frame`) when one is given — and
    served by the shared `_probe` (lazy: no collect) and `_rank`,
    with ``corpus`` as the rerank's vectors."""

    def codes() -> DataFrame:
        return _encoded(
            codec, g, cent_rows, _assigned(corpus, cent_rows, False, id_col, vec_col)
        )

    c = codes() if codes_key is None else memoized_frame(codes_key, codes)
    q = _probe(codec, g, cent_rows, queries, n_probe, id_col, vec_col)
    return _rank(codec, g, c, q, k, rerank, corpus, queries, id_col, vec_col)


def search_index(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    allowed: DataFrame | None = None,
    rerank: int | None = None,
    vectors: DataFrame | None = None,
    score_blas: bool = False,
) -> DataFrame:
    """Serve top-k from a persisted index of either kind. The live
    generation is resolved ONCE (codes + geometry as one unit) and
    its ``_meta`` names the codec. The probe side (`_probe`: the
    query batch assigned to its ``n_probe`` cells with the PERSISTED
    centroids, mapped to the codec's query column) is collected ONCE
    in one job (`util.bounded_collect` — at most `MAX_PROBE_ROWS`
    rows, else ValueError) and gives both the probed cell ids, pushed
    into the codes scan as an `isin` partition filter so only those
    cells' files are read, and the broadcast query side, re-entered
    as a JVM-local frame (`util.local_rows_df`). The returned plan
    thus holds no scan of ``queries`` (except a PQ ``rerank``, whose
    exact cosine reads the raw query vectors) and runs no Python
    worker on the fold path. Ranking is the shared `_rank` step that
    the in-memory `sq.ivfsq_topk` / `pq.ivfpq_topk` run too, so
    results are bit-identical to theirs. Returns (query_id,
    candidate_id, sq_sim, rank) from an SQ8 index, (query_id,
    candidate_id, adc_dist, rank) from a PQ index; an unknown
    recorded kind raises ValueError.

    ``allowed``: optional FILTERED search (the vector-DB metadata
    predicate: "top-k among candidates matching WHERE ..."): a frame
    whose ``id_col`` column lists the permitted candidate ids. The
    restriction is applied as a left-semi join on the pruned codes
    scan BEFORE scoring — pre-filter semantics, so the returned ranks
    are dense over matching candidates only (never post-filtered
    holes), and non-matching codes in probed cells are never scored.
    Partition pruning is unchanged: the semi join runs over only the
    probed cells' files, and AQE broadcasts a dim-table-sized allowed
    set; a corpus-sized allowed set shuffles just the probed
    partitions, never the whole index.

    ``rerank`` + ``vectors``: EXACT RE-RANK of an overfetched
    quantized shortlist (SCALE.md §7o-r8 remedy (b)): on
    clone-saturated corpora the quantized score cannot separate
    near-duplicate cohorts (measured: SQ8 id-overlap recall 0.24 at
    1M stacked for ANY centroid set), so the top-``rerank``
    candidates per query join back to ``vectors`` (a frame carrying
    ``id_col``/``vec_col`` — normally the corpus the index was built
    from) and the final top-k ranks on the exact rounded cosine with
    candidate-id tiebreak — each kind's cosine spelled as its
    in-memory path and oracle spell it. Raw vectors join through the
    BROADCAST shortlist and only survivors are normalized (round 10:
    normalizing the whole vectors frame first was corpus-shaped work,
    +20.9 s on a 10.0 s 1M serve), so the cost is one
    shortlist-sized join; partition pruning on the codes scan is
    untouched. The returned schema carries the exact score as
    ``cos_sim`` in place of the quantized one.

    ``score_blas`` (SQ8 only; ValueError on PQ): the probed-pair
    scoring — dequantize + dot per (candidate, query) pair — runs as
    one numpy reconstruct+matmul per Arrow batch with per-partition
    top-k selection instead of one interpreted JVM fold per pair
    (measured: the 1M×200-query serve spends most of its 10 s
    there). It scores against the same collected query units — the
    SAME JVM expressions — so only the candidate-side
    accumulation and the float HALF_UP replication differ: the usual
    opt-in parity scope (boundary roundings not bit-guaranteed;
    registered oracle rows keep the fold path; equality on the test
    corpora is asserted in tests/test_ann_index.py)."""
    if rerank is not None:
        if vectors is None:
            raise ValueError(
                "search_index(rerank=...) needs `vectors` — a frame "
                f"with ({id_col}, {vec_col}) to score the shortlist exactly "
                "(the index stores codes, not vectors)"
            )
        if rerank < k:
            raise ValueError(f"rerank ({rerank}) must be >= k ({k})")
    ix = _live(spark, path)
    codec, g = ix.codec, ix.geo
    if score_blas and codec is not SQ8:
        raise ValueError(
            f"score_blas=True serves SQ8 indexes only; the index at {path} "
            f"is kind={codec.kind!r}"
        )
    q = _probe(codec, g, ix.cent_rows, queries, n_probe, id_col, vec_col)
    # one bounded collect gives the probed cells, the BLAS leg's
    # per-cell query matrices and the fold path's broadcast side
    q_rows = bounded_collect(
        q,
        MAX_PROBE_ROWS,
        f"search_index: the query batch (MAX_PROBE_ROWS={MAX_PROBE_ROWS} "
        "(query, probed cell) rows)",
    )
    q = local_rows_df(spark, q_rows, q.schema)
    probed = sorted({int(r["cell_id"]) for r in q_rows})

    codes = spark.read.parquet(f"{path}/{ix.name}").filter(
        F.col("cell_id").isin(probed)
    )
    if allowed is not None:
        codes = codes.join(
            allowed.select(F.col(id_col).alias("candidate_id")),
            "candidate_id",
            "left_semi",
        )
    scored = (
        _ivfsq_scored_blas(codes, q_rows, *g, cut=max(k, rerank or 0))
        if score_blas
        else None
    )
    return _rank(
        codec, g, codes, q, k, rerank, vectors, queries, id_col, vec_col, scored
    )


#: the SQ8-era name, kept because perfbench/workloads.py imports it
search_ivfsq_index = search_index


def append_index(
    new_vectors: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Append a shard to a persisted index of either kind — the
    nightly-ingest shape: new vectors are assigned and encoded with
    the index's PERSISTED centroids and quantizer (no refit — an
    index's geometry is frozen between rebuilds, and quantizer drift
    is handled by periodic rebuilds, not per-shard refits, so
    existing codes stay valid and comparable; for PQ that includes
    the residual flag). One resolution covers geometry and target
    directory. A shard whose vector width differs from the recorded
    ``dim`` fails before any write (encoding it would write NULL or
    mis-sliced codes into every later serve). The write appends into
    the same cell partitions, one file per touched cell; searches
    immediately see the new vectors."""
    spark = new_vectors.sparkSession
    ix = _live(spark, path)
    bad = new_vectors.filter(F.size(F.col(vec_col)) != ix.dim).limit(1).count()
    if bad:
        raise ValueError(
            f"append_index: shard vectors must have dim={ix.dim} to match "
            f"the persisted {ix.codec.kind} geometry at {path}"
        )
    assigned = ivf_assign_literal(
        new_vectors, ix.cent_rows, "candidate_id", 1, id_col, vec_col
    )
    live = f"{path}/{ix.name}"
    _encoded(ix.codec, ix.geo, ix.cent_rows, assigned).write.mode(
        "append"
    ).partitionBy("cell_id").parquet(live)
    # a session that already searched this path must not serve a
    # cached listing missing the new shard's files
    spark.catalog.refreshByPath(live)


def compact_index(
    spark: SparkSession, path: str, files_before: int | None = None
) -> tuple[int, int]:
    """Compact a persisted index's codes (either kind — compaction
    never interprets geometry, it carries the ``_meta`` text forward)
    — the maintenance pass `append_index` makes necessary:
    every nightly shard adds one file per touched cell partition, and
    after enough appends the probed-cell scan cost is dominated by
    file-open overhead, not bytes (the same accretion economics as
    `sources/writers.compact_parquet`, per partition). Rewrites the
    codes clustered by cell (`repartition("cell_id")` then
    partitionBy — files per cell bounded by the repartition width,
    contiguous row groups per cell).

    POINTER-FILE COMMIT (VERDICT r7 #4 — retires the old two-rename
    swap's no-codes-dir window AND its move-aside/restore machinery;
    shared with rebuild as `_commit_generation` since round 9): the
    compacted codes are staged together with a co-located copy of the
    live generation's ``_meta`` geometry (frozen by the compact
    contract — byte-identical text, carried forward so the new
    generation resolves codes AND stats as one unit), renamed into
    place as the NEXT GENERATION directory (``codes_gN`` — complete
    the instant the name exists), and only then does ``CURRENT``
    atomically flip to name it (`fs_replace_file` — HDFS-atomic; one
    small-object copy+delete on S3A and the local FS, whose transient
    missing-pointer window resolution's newest-generation fallback
    covers). Failure at ANY step leaves the pre-compaction index
    serving untouched (see `_commit_generation`). The REPLACED
    generation is retained until the next maintenance commit (readers
    mid-scan keep their files); older generations are reaped.
    Layout-only by construction: search results are bit-identical
    before/after (asserted in test_ann_index), and the geometry is
    untouched. Returns (files_before, files_after)."""
    from ..sources.fs import fs_list_files

    def _count_files(p: str) -> int:
        return len(fs_list_files(spark, p, ".parquet"))

    live_name = _resolve_codes_name(spark, path)
    live = f"{path}/{live_name}"
    # ``files_before``: a caller that already LISTED the live codes
    # tree (the accretion monitor — `compact_if_accreted` fires off
    # `index_accretion_stats`' listing) passes its count so the
    # compact does not re-walk the same tree (round 14, guide §6:
    # the listing is driver-side NameNode/LIST work, and an accreted
    # tree is exactly the many-files case where it hurts).
    before = files_before if files_before is not None else _count_files(live)
    if before == 0:
        raise ValueError(f"no codes parquet under {live}")
    # KIND-AGNOSTIC: compaction never interprets the geometry — it
    # carries the meta TEXT forward byte-identically.
    meta_text = _read_meta_text(spark, path, live_name)
    # Read through the partitioned layout so cell_id survives as a
    # column, cluster by cell, rewrite partitioned.
    codes = spark.read.parquet(live).repartition("cell_id")
    new_name = _commit_generation(spark, path, codes, meta_text, live_name)
    return before, _count_files(f"{path}/{new_name}")


def search_sharded_indexes(
    spark: SparkSession,
    paths: list[str],
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    allowed: DataFrame | None = None,
) -> DataFrame:
    """FAN-OUT serve over a list of SHARD indexes (round 13): each
    shard is an independent persisted IVF-SQ8 index over its own
    corpus slice (its own stats/cells/centroids — the 100 TB
    deployment shape: one index per ingest window or tenant, built
    and retired independently, never one monolithic fit); a query
    runs the standard pruned serve against EVERY shard and the
    per-shard top-k lists merge to a global top-k on the serve's own
    key (sq_sim DESC, candidate_id ASC).

    Exact w.r.t. the per-shard serves: shards partition the corpus
    (an id lives in exactly one shard), and the global top-k of the
    union is contained in the union of per-shard top-k lists
    (monotone merge — the s13-certified local lists are sufficient),
    so fanning out with the SAME k loses nothing. Cross-shard scores
    are comparable the way any SQ8 scores are: each is that shard's
    quantized approximation of the same rounded unit-dot.

    Scale: each shard's scan stays partition-pruned to its probed
    cells (the s13 plan — nothing about fan-out widens a shard's
    read), the union is k×|shards| rows per query (serving-contract
    sized), and shards are independent jobs — a hot shard bounds
    latency, not total work. ``allowed`` pre-filters candidates
    inside every shard's scan (s17 semantics). Returns
    (query_id, candidate_id, sq_sim, rank) like the single-index
    serve."""
    from functools import reduce

    if not paths:
        raise ValueError("search_sharded_indexes needs at least one shard")
    parts = [
        search_index(
            spark, p, queries, k=k, n_probe=n_probe,
            id_col=id_col, vec_col=vec_col, allowed=allowed,
        ).select("query_id", "candidate_id", "sq_sim")
        for p in paths
    ]
    merged = reduce(DataFrame.unionByName, parts)
    return grouped_topk(
        merged, ["query_id"], [F.desc("sq_sim"), F.asc("candidate_id")], k, "rank"
    ).select("query_id", "candidate_id", "sq_sim", "rank")


def index_cell_stats(spark: SparkSession, path: str) -> DataFrame:
    """Per-cell population of a persisted index — the operational
    cell-balance diagnostic (round 11): rows-per-cell skew is what
    decides whether a probed-cell scan is balanced work or one hot
    partition, and whether ``n_probe``/salting decisions transfer
    from the fit corpus to production traffic. Reads the LIVE codes
    parquet (both kinds — the diagnostic never touches geometry, only
    the ``cell_id`` partition column) and aggregates counts:
    (cell_id, n_rows), one shuffle over a column-pruned scan of the
    partition column alone — metadata-cheap at any index size.

    Hash-checked as s34: the oracle recomputes the assignment
    relationally (the c_assign CTE), so a green row certifies the
    ON-DISK partition layout itself — every vector present exactly
    once, in exactly the cell the geometry assigns (a dropped or
    double-written shard fails the row, which makes this the cheap
    post-append/compact integrity probe at deployment too)."""
    live = _resolve_codes_name(spark, path)
    codes = spark.read.parquet(f"{path}/{live}")
    return codes.groupBy(F.col("cell_id").cast("long").alias("cell_id")).agg(
        F.count("*").alias("n_rows")
    )


def index_accretion_stats(spark: SparkSession, path: str) -> dict:
    """File-accretion profile of the LIVE codes generation — the
    OTHER maintenance monitor (round 13, VERDICT r12 #5), sibling to
    `index_cell_stats` (row balance) and the s16 drift query
    (geometry decay): every append adds one file per touched cell
    partition, so files-per-cell — not bytes — is what degrades the
    probed-cell scan into file-open overhead at scale. One recursive
    listing call (driver-side, NameNode/LIST-page-served — no Spark
    job); cell membership is parsed from the partition directory
    names the codes layout already carries. Returns ``{"n_files",
    "n_cells", "max_files_per_cell"}``."""
    from ..sources.fs import fs_list_files

    per_cell: dict[str, int] = {}
    live = f"{path}/{_resolve_codes_name(spark, path)}"
    for fpath, _sz in fs_list_files(spark, live, ".parquet"):
        cell = next(
            (seg for seg in fpath.split("/") if seg.startswith("cell_id=")),
            "",
        )
        per_cell[cell] = per_cell.get(cell, 0) + 1
    return {
        "n_files": sum(per_cell.values()),
        "n_cells": len(per_cell),
        "max_files_per_cell": max(per_cell.values(), default=0),
    }


def compact_if_accreted(
    spark: SparkSession, path: str, max_files_per_cell: int = 2
) -> tuple[bool, dict]:
    """The ACCRETION-SCHEDULE trigger: compact the index iff any cell
    partition has accreted more than ``max_files_per_cell`` files —
    the decision rule a nightly maintenance job runs after streaming
    ingest (`ingest_vector_stream` / the exactly-once
    `ingest_vector_stream_append_only`) has been appending shards all
    day. Compaction is layout-only
    (`compact_index` — pointer-file commit, geometry carried forward
    byte-identically), so firing it never changes results, only scan
    economics; NOT firing it is the common fast path (one listing
    call, no Spark job, no new generation). Returns
    ``(fired, stats_before)``."""
    stats = index_accretion_stats(spark, path)
    if stats["max_files_per_cell"] > max_files_per_cell:
        # hand the monitor's listing down — the compact would
        # otherwise re-walk the very accreted tree the monitor just
        # counted (round 14; one listing per fired trigger, not two)
        compact_index(spark, path, files_before=stats["n_files"])
        return True, stats
    return False, stats


def index_recall_probe(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    vectors: DataFrame,
    k: int = 5,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Recall@k of the persisted index (either kind) against EXACT
    ground truth on a probe query set — the monitoring metric the
    REBUILD schedule runs on (s16's drift monitor compares two INDEX
    flows and needs both built; this probe needs only the live index
    plus one exact pass over ``vectors`` for the probe queries).
    Returns `operators/similarity.topk_recall`'s
    (query_id, n_hits, recall) frame.

    Scale contract: the exact side is deliberately O(probe_queries ×
    corpus) — that IS what a recall probe costs; keep the probe set
    serving-contract-sized (tens of queries) and/or point ``vectors``
    at a sampled sub-corpus, exactly the s07 rule."""
    served = search_index(
        spark, path, queries, k=k, n_probe=n_probe, id_col=id_col, vec_col=vec_col
    )
    exact = brute_force_topk(queries, vectors, k=k, id_col=id_col, vec_col=vec_col)
    return topk_recall(exact, served, k=k)


def rebuild_if_drifted(
    spark: SparkSession,
    path: str,
    corpus: DataFrame,
    queries: DataFrame,
    threshold: float = 0.9,
    k: int = 5,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    **build_kw,
) -> tuple[bool, float]:
    """The DRIFT-SCHEDULE trigger, completing the maintenance pair:
    `compact_if_accreted` fires on file accretion (layout), this
    fires on recall decay (geometry) — REBUILD the index from
    ``corpus`` when `index_recall_probe`'s mean recall@k over
    ``queries`` falls below ``threshold``. Frozen-geometry appends
    decay recall as the corpus drifts from the fitted quantizer
    (SCALE.md §7i; s16); the rebuild refits and commits through the
    staged-generation protocol, so readers mid-scan are never
    disturbed and a crash leaves the old index serving. The recorded
    kind is preserved; ``build_kw`` flows to its build (n_cells=None
    re-sizes √n by default). Returns (fired, mean_recall_before)."""
    probe = index_recall_probe(
        spark, path, queries, corpus, k=k, n_probe=n_probe,
        id_col=id_col, vec_col=vec_col,
    )
    mean = float(probe.agg(F.avg("recall").alias("r")).first()["r"])
    if mean >= threshold:
        return False, mean
    index_builder(_live(spark, path).codec.kind)(
        corpus, path, n_cells=build_kw.pop("n_cells", None),
        id_col=id_col, vec_col=vec_col, **build_kw,
    )
    return True, mean
