"""Persisted IVF-PQ index (round 10 — the compressed persisted kind):
build/serve equivalence with the in-memory `pq.ivfpq_topk` under
identical geometry, the partition-pruning contract, the rerank and
allowed serve modes, the staged-generation rebuild commit it shares
with the SQ8 kind, and the recorded kind choosing the codec for the
one shared serve."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mergers_acquisitions_predictions_spark.operators.ann_index import (
    build_ivfpq_index,
    build_ivfsq_index,
    search_index,
)
from mergers_acquisitions_predictions_spark.operators.pq import ivfpq_topk
from mergers_acquisitions_predictions_spark.sources.readers import load_table

SF = "/root/testdata/sf0.01"


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_persisted_pq_matches_inmemory_path(spark, tmp_path):
    e = load_table(spark, SF, "embeddings")
    q = e.filter(F.col("vec_id") < 5)
    path = str(tmp_path / "idx")
    build_ivfpq_index(e, path, n_cells=16, n_subspaces=8, n_codes=16)
    got = _rows(search_index(spark, path, q, k=5, n_probe=2))
    want = _rows(
        ivfpq_topk(q, e, k=5, n_cells=16, n_probe=2, n_subspaces=8, n_codes=16)
    )
    assert got == want  # bit-identical: same codebooks/codes/fold orders


def test_persisted_pq_rerank_matches_inmemory(spark, tmp_path):
    e = load_table(spark, SF, "embeddings")
    q = e.filter(F.col("vec_id") < 5)
    path = str(tmp_path / "idx")
    build_ivfpq_index(e, path, n_cells=16)
    got = _rows(
        search_index(spark, path, q, k=5, n_probe=2, rerank=12, vectors=e)
    )
    want = _rows(ivfpq_topk(q, e, k=5, n_cells=16, n_probe=2, rerank=12))
    assert got == want  # the exact-rescore expression is shared verbatim


def test_pq_probe_scan_is_partition_pruned(spark, tmp_path):
    e = load_table(spark, SF, "embeddings")
    q = e.filter(F.col("vec_id") < 2)
    path = str(tmp_path / "idx")
    build_ivfpq_index(e, path, n_cells=16)
    out = search_index(spark, path, q, k=5, n_probe=2)
    plan = out._jdf.queryExecution().executedPlan().toString()
    scan_lines = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert any("cell_id" in ln and "IN" in ln.upper() for ln in scan_lines), plan


def test_pq_allowed_prefilter(spark, tmp_path):
    e = load_table(spark, SF, "embeddings")
    q = e.filter(F.col("vec_id") < 3)
    path = str(tmp_path / "idx")
    build_ivfpq_index(e, path, n_cells=16)
    # allowed = full corpus → identical to the unfiltered serve
    full = _rows(search_index(spark, path, q, k=5, n_probe=2, allowed=e))
    assert full == _rows(search_index(spark, path, q, k=5, n_probe=2))
    # allowed = a metadata predicate → pre-filter semantics: every
    # candidate matches, and ranks are dense 1..k over the matches
    allowed = e.filter(F.col("vec_id") % 2 == 0)
    got = search_index(
        spark, path, q, k=5, n_probe=2, allowed=allowed
    ).collect()
    assert got and all(r["candidate_id"] % 2 == 0 for r in got)
    by_q: dict = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append(r["rank"])
    for ranks in by_q.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))


def test_pq_rebuild_commits_generation(spark, tmp_path):
    """A second build at a live path must commit through a staged
    generation (pointer flip, previous generation retained one cycle)
    — the protocol shared with the SQ8 kind via _publish_codes — and
    the post-rebuild serve must still match the in-memory path."""
    from mergers_acquisitions_predictions_spark.sources.fs import (
        fs_exists,
        fs_read_text,
    )

    e = load_table(spark, SF, "embeddings")
    q = e.filter(F.col("vec_id") < 5)
    path = str(tmp_path / "idx")
    build_ivfpq_index(e, path, n_cells=16)
    assert fs_read_text(spark, f"{path}/CURRENT").strip() == "codes"
    build_ivfpq_index(e, path, n_cells=16)  # REBUILD at the live path
    assert fs_read_text(spark, f"{path}/CURRENT").strip() == "codes_g000001"
    assert fs_exists(spark, f"{path}/codes")  # retained one cycle
    got = _rows(search_index(spark, path, q, k=5, n_probe=2))
    want = _rows(ivfpq_topk(q, e, k=5, n_cells=16, n_probe=2))
    assert got == want


def test_engine_serve_takes_kind_from_meta(spark, tmp_path):
    """`Engine.search_ann_index` names no kind: on a PQ index the
    recorded kind picks the PQ codec, so the rows carry ``adc_dist``
    and equal the in-memory `ivfpq_topk` bit for bit — beside an SQ8
    index served through the same call. ``score_blas`` has no PQ leg
    and says so."""
    from mergers_acquisitions_predictions_spark.engine import Engine

    eng = Engine(spark)
    e = load_table(spark, SF, "embeddings")
    q = e.filter(F.col("vec_id") < 5)
    pq_path, sq_path = str(tmp_path / "pq"), str(tmp_path / "sq")
    build_ivfpq_index(e, pq_path, n_cells=16)
    build_ivfsq_index(e, sq_path, n_cells=16)
    got = eng.search_ann_index(pq_path, q, k=5, n_probe=2)
    assert got.columns == ["query_id", "candidate_id", "adc_dist", "rank"]
    assert _rows(got) == _rows(ivfpq_topk(q, e, k=5, n_cells=16, n_probe=2))
    sq = eng.search_ann_index(sq_path, q, k=5, n_probe=2)
    assert sq.columns == ["query_id", "candidate_id", "sq_sim", "rank"]
    with pytest.raises(ValueError, match="score_blas=True serves SQ8"):
        search_index(spark, pq_path, q, k=5, score_blas=True)


def test_pq_append_then_serve_matches_full_fit(spark, tmp_path):
    """Frozen-geometry append: build on a prefix shard, append the
    rest, serve. Because the PQ geometry is pure lowest-id anchors
    (centroids AND codebooks — no corpus-wide stats like SQ8's
    min/range), the prefix fit equals the full-corpus fit, so the
    post-append serve must equal the in-memory path over the FULL
    corpus exactly."""
    from mergers_acquisitions_predictions_spark.operators.ann_index import (
        append_index,
    )

    e = load_table(spark, SF, "embeddings")
    q = e.filter(F.col("vec_id") < 5)
    path = str(tmp_path / "idx")
    build_ivfpq_index(e.filter(F.col("vec_id") < 400), path, n_cells=16)
    append_index(e.filter(F.col("vec_id") >= 400), path)
    got = _rows(search_index(spark, path, q, k=5, n_probe=2))
    want = _rows(ivfpq_topk(q, e, k=5, n_cells=16, n_probe=2))
    assert got == want


def test_pq_append_dim_mismatch_fails_fast(spark, tmp_path):
    from mergers_acquisitions_predictions_spark.operators.ann_index import (
        append_index,
    )

    e = load_table(spark, SF, "embeddings")
    path = str(tmp_path / "idx")
    build_ivfpq_index(e, path, n_cells=16)
    short = e.select("vec_id", F.slice("embedding", 1, 32).alias("embedding"))
    with pytest.raises(ValueError, match="dim=64"):
        append_index(short, path)


def test_pq_build_codebook_dim_mismatch_fails_fast(spark, tmp_path):
    """ADVICE r10: `build_ivfpq_index(codebooks=...)` must perform the
    same corpus-width fail-fast the append path does — a mismatched
    corpus would otherwise silently mis-encode via out-of-range
    F.slice."""
    from mergers_acquisitions_predictions_spark.operators.pq import (
        pq_anchor_codebooks,
    )

    e = load_table(spark, SF, "embeddings")
    cbs = pq_anchor_codebooks(e, 8, 16)  # dim 64 geometry
    short = e.select("vec_id", F.slice("embedding", 1, 32).alias("embedding"))
    with pytest.raises(ValueError, match="dim=64"):
        build_ivfpq_index(short, str(tmp_path / "idx2"), n_cells=8, codebooks=cbs)


def test_pq_compact_is_layout_only(spark, tmp_path):
    """`compact_index` (the shared kind-agnostic compaction) on a PQ
    index: fewer files, a committed generation, bit-identical serve."""
    from mergers_acquisitions_predictions_spark.operators.ann_index import (
        append_index,
        compact_index,
    )
    from mergers_acquisitions_predictions_spark.sources.fs import fs_read_text

    e = load_table(spark, SF, "embeddings")
    q = e.filter(F.col("vec_id") < 5)
    path = str(tmp_path / "idx")
    build_ivfpq_index(e.filter(F.col("vec_id") < 300), path, n_cells=16)
    append_index(
        e.filter((F.col("vec_id") >= 300) & (F.col("vec_id") < 400)), path
    )
    append_index(e.filter(F.col("vec_id") >= 400), path)
    pre = _rows(search_index(spark, path, q, k=5, n_probe=2))
    before, after = compact_index(spark, path)
    assert after < before
    assert fs_read_text(spark, f"{path}/CURRENT").strip() == "codes_g000001"
    assert _rows(search_index(spark, path, q, k=5, n_probe=2)) == pre


def test_residual_persisted_matches_inmemory(spark, tmp_path):
    """Round 12 (§7s): the residual-encoded persisted serve must be
    bit-identical to the in-memory `ivfpq_topk(residual=True)` under
    the same geometry, and must actually DIFFER from the raw kind
    (same corpus, same bytes — different codes by construction)."""
    e = load_table(spark, SF, "embeddings")
    q = e.filter(F.col("vec_id") < 5)
    path = str(tmp_path / "residx")
    build_ivfpq_index(
        e, path, n_cells=16, n_subspaces=8, n_codes=16, residual=True
    )
    got = _rows(search_index(spark, path, q, k=5, n_probe=2))
    want = _rows(
        ivfpq_topk(
            q, e, k=5, n_cells=16, n_probe=2, n_subspaces=8, n_codes=16,
            residual=True,
        )
    )
    assert got == want
    raw = _rows(
        ivfpq_topk(q, e, k=5, n_cells=16, n_probe=2, n_subspaces=8, n_codes=16)
    )
    assert got != raw  # residual codes rank differently from raw codes


def test_residual_flag_survives_append_and_compact(spark, tmp_path):
    """The residual flag is FROZEN GEOMETRY: an appended shard must
    encode residuals with the persisted centroids/books (a raw-encoded
    shard would silently corrupt the index), and compaction must carry
    the flag forward byte-identically (layout-only contract)."""
    from mergers_acquisitions_predictions_spark.operators.ann_index import (
        append_index,
        compact_index,
    )

    e = load_table(spark, SF, "embeddings")
    even = e.filter(F.col("vec_id") % 2 == 0)
    odd = e.filter(F.col("vec_id") % 2 == 1)
    q = e.filter(F.col("vec_id") < 5)
    split = str(tmp_path / "res_split")
    build_ivfpq_index(
        even, split, n_cells=16, n_subspaces=8, n_codes=16, residual=True
    )
    append_index(odd, split)
    served = _rows(search_index(spark, split, q, k=5, n_probe=2))
    assert served and len({r[0] for r in served}) == 5
    before, after = compact_index(spark, split)
    assert after <= before
    assert _rows(search_index(spark, split, q, k=5, n_probe=2)) == served
