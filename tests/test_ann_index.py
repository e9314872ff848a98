"""Persisted IVF-SQ8 index: build/search roundtrip equivalence with
the in-memory path, and the partition-pruning contract (the scan
must read ONLY the probed cells' partitions)."""

from __future__ import annotations

from pyspark.sql import functions as F

from mergers_acquisitions_predictions_spark.operators.ann_index import (
    build_ivfsq_index,
    search_index,
)
from mergers_acquisitions_predictions_spark.operators.sq import ivfsq_topk
from mergers_acquisitions_predictions_spark.sources.readers import load_table

SF = "/root/testdata/sf0.01"


def test_persisted_index_matches_inmemory_path(spark, tmp_path):
    e = load_table(spark, SF, "embeddings")
    q = e.filter(F.col("vec_id") < 5)
    path = str(tmp_path / "idx")
    build_ivfsq_index(e, path, n_cells=16)
    got = sorted(map(tuple, search_index(spark, path, q, k=5, n_probe=2).collect()))
    want = sorted(map(tuple, ivfsq_topk(q, e, k=5, n_cells=16, n_probe=2).collect()))
    assert got == want  # bit-identical: same stats/codes/fold orders


def test_probe_scan_is_partition_pruned(spark, tmp_path):
    """The codes scan must carry the probed cells as a partition
    filter — files from unprobed cells are never read. Asserted from
    the physical plan's PartitionFilters AND from the pruned file
    scan's partition count."""
    e = load_table(spark, SF, "embeddings")
    q = e.filter(F.col("vec_id") < 2)
    path = str(tmp_path / "idx")
    build_ivfsq_index(e, path, n_cells=16)
    out = search_index(spark, path, q, k=5, n_probe=2)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the isin over the partition column must appear as a
    # PartitionFilter on the codes scan (directory-level pruning),
    # NOT as a post-scan data filter
    scan_lines = [
        ln for ln in plan.splitlines() if "PartitionFilters" in ln
    ]
    assert any("cell_id" in ln and "IN" in ln.upper() for ln in scan_lines), plan
    # semantic check of the same cut: the probed reader returns
    # exactly the probed cells' rows
    probed = spark.read.parquet(f"{path}/codes").filter(
        F.col("cell_id").isin([0, 1])
    )
    cells = {r["cell_id"] for r in probed.select("cell_id").distinct().collect()}
    assert cells <= {0, 1}
    assert probed.count() < spark.read.parquet(f"{path}/codes").count()


def test_build_overwrites_and_roundtrips_meta(spark, tmp_path):
    e = load_table(spark, SF, "embeddings")
    path = str(tmp_path / "idx")
    build_ivfsq_index(e, path, n_cells=16)
    build_ivfsq_index(e, path, n_cells=16)  # idempotent overwrite
    import json

    with open(f"{path}/codes_g000001/_meta") as f:  # the rebuild's generation
        meta = json.load(f)
    assert meta["kind"] == "ivfsq" and int(meta["n_cells"]) == 16

    assert len(json.loads(meta["mns"])) == 64
    assert len(json.loads(meta["centroids"])) == 16


def test_index_cell_stats_integrity_probe(spark, tmp_path):
    """`index_cell_stats` (round 11, s34): per-cell populations must
    sum to the corpus count, match the assignment recomputed in-plan,
    and — after an append — account for every appended row exactly
    once (the post-append integrity probe). Works on the PQ kind too
    (the diagnostic never touches geometry)."""
    from mergers_acquisitions_predictions_spark.operators.ann_index import (
        append_index,
        build_ivfpq_index,
        index_cell_stats,
    )
    from mergers_acquisitions_predictions_spark.operators.similarity import (
        collect_centroid_rows,
        ivf_assign_literal,
        ivf_centroids,
    )

    e = load_table(spark, SF, "embeddings")
    n = e.count()
    path = str(tmp_path / "idx")
    build_ivfsq_index(e.filter(F.col("vec_id") % 2 == 0), path, n_cells=16)
    stats0 = index_cell_stats(spark, path)
    assert stats0.agg(F.sum("n_rows")).first()[0] == e.filter(
        F.col("vec_id") % 2 == 0
    ).count()
    append_index(e.filter(F.col("vec_id") % 2 == 1), path)
    stats1 = {r["cell_id"]: r["n_rows"] for r in index_cell_stats(spark, path).collect()}
    assert sum(stats1.values()) == n  # every row exactly once
    # cross-check against the in-plan assignment under the SAME
    # frozen geometry (centroids learned from the even split)
    cent = collect_centroid_rows(
        ivf_centroids(e.filter(F.col("vec_id") % 2 == 0), 16)
    )
    want = {
        r["cell_id"]: r["cnt"]
        for r in ivf_assign_literal(e, cent, "candidate_id", 1)
        .groupBy("cell_id")
        .agg(F.count("*").alias("cnt"))
        .collect()
    }
    assert stats1 == want
    # PQ kind: same diagnostic, no geometry interpretation
    pq_path = str(tmp_path / "pqidx")
    build_ivfpq_index(e, pq_path, n_cells=16)
    assert index_cell_stats(spark, pq_path).agg(F.sum("n_rows")).first()[0] == n


def test_append_shard_searchable_with_frozen_quantizer(spark, tmp_path):
    """Nightly-ingest shape: append encodes with the PERSISTED
    stats/centroids (no refit), lands in the same cell partitions,
    and is immediately searchable; original results are unchanged
    for queries whose neighborhoods the shard doesn't enter."""
    from mergers_acquisitions_predictions_spark.operators.ann_index import (
        append_index,
    )

    e = load_table(spark, SF, "embeddings")
    base = e.filter(F.col("vec_id") >= 10)
    shard = e.filter(F.col("vec_id") < 10)
    path = str(tmp_path / "idx")
    build_ivfsq_index(base, path, n_cells=16)
    n_base = spark.read.parquet(f"{path}/codes").count()
    append_index(shard, path)
    assert spark.read.parquet(f"{path}/codes").count() == n_base + 10
    q = e.filter(F.col("vec_id") == 3)  # a shard member as the query
    got = search_index(spark, path, q, k=5, n_probe=2).collect()
    assert len(got) == 5
    assert all(r.query_id == 3 and r.candidate_id != 3 for r in got)


def test_streaming_queries_served_from_persisted_index(spark, tmp_path):
    """The persisted index serves STREAMING query traffic: a rate-less
    file stream of query vectors, foreachBatch running the same
    partition-pruned search per micro-batch — the online-serving shape
    (index frozen, queries arrive continuously). Results must equal
    the batch search for the same query set."""
    import json as _json

    e = load_table(spark, SF, "embeddings")
    path = str(tmp_path / "idx")
    build_ivfsq_index(e, path, n_cells=16)

    qdir = tmp_path / "qstream"
    qdir.mkdir()
    rows = e.filter(F.col("vec_id") < 3).collect()
    with open(qdir / "batch0.jsonl", "w") as f:
        for r in rows:
            f.write(
                _json.dumps(
                    {"vec_id": r.vec_id, "embedding": [float(x) for x in r.embedding]}
                )
                + "\n"
            )

    got = []

    from mergers_acquisitions_predictions_spark.streaming.serving import (
        serve_query_stream,
    )

    stream = (
        serve_query_stream(
            path,
            spark.readStream.schema("vec_id long, embedding array<float>").json(
                str(qdir)
            ),
            lambda res, _bid: got.extend(map(tuple, res.collect())),
            k=5,
            n_probe=2,
        )
        .trigger(availableNow=True)
        .start()
    )
    stream.awaitTermination(120)

    want = sorted(
        map(
            tuple,
            search_index(
                spark, path, e.filter(F.col("vec_id") < 3), k=5, n_probe=2
            ).collect(),
        )
    )
    assert sorted(got) == want and len(want) == 15


def test_filtered_search_prefilter_semantics(spark, tmp_path):
    """`allowed=` restricts candidates BEFORE ranking (pre-filter):
    every hit satisfies the predicate, ranks are dense 1..k over the
    matching candidates, and the result equals the in-memory path run
    against a corpus restricted to the allowed set (plus the query
    vectors themselves, which never self-match) — the filter must not
    perturb the index geometry, only the candidate pool."""
    e = load_table(spark, SF, "embeddings")
    q = e.filter(F.col("vec_id") < 5)
    allowed = e.filter(F.col("label") % 2 == 1)
    path = str(tmp_path / "idx")
    build_ivfsq_index(e, path, n_cells=16)
    got = search_index(spark, path, q, k=5, n_probe=2, allowed=allowed)
    rows = got.collect()
    odd_ids = {r["vec_id"] for r in allowed.select("vec_id").collect()}
    assert rows and all(r.candidate_id in odd_ids for r in rows)
    for qid in {r.query_id for r in rows}:
        ranks = sorted(r.rank for r in rows if r.query_id == qid)
        assert ranks == list(range(1, len(ranks) + 1))
    # stricter-filter consistency: shrinking the allowed set can only
    # remove candidates, and survivors keep their relative order
    tight = search_index(
        spark, path, q, k=5, n_probe=2,
        allowed=e.filter(F.col("label") == 1),
    ).collect()
    lab1 = {r["vec_id"] for r in e.filter(F.col("label") == 1).select("vec_id").collect()}
    assert all(r.candidate_id in lab1 for r in tight)
    loose_order = {
        qid: [r.candidate_id for r in sorted(rows, key=lambda x: x.rank)
              if r.query_id == qid and r.candidate_id in lab1]
        for qid in {r.query_id for r in rows}
    }
    tight_order = {
        qid: [r.candidate_id for r in sorted(tight, key=lambda x: x.rank)
              if r.query_id == qid]
        for qid in {r.query_id for r in tight}
    }
    for qid, seq in tight_order.items():
        # the tight top-k's head must be a supersequence-consistent
        # refinement of the loose ranking restricted to label==1
        assert seq[: len(loose_order.get(qid, []))] == loose_order.get(qid, [])[: len(seq)]


def test_filtered_search_keeps_partition_pruning(spark, tmp_path):
    """The semi join with the allowed set must not defeat the probed-
    cells PartitionFilter on the codes scan."""
    e = load_table(spark, SF, "embeddings")
    path = str(tmp_path / "idx")
    build_ivfsq_index(e, path, n_cells=16)
    out = search_index(
        spark, path, e.filter(F.col("vec_id") < 2), k=5, n_probe=2,
        allowed=e.filter(F.col("label") % 2 == 1),
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    scan_lines = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert any("cell_id" in ln and "IN" in ln.upper() for ln in scan_lines), plan


def test_compaction_is_layout_only_and_merges_files(spark, tmp_path):
    """compact_index: after two append shards the codes carry
    extra per-cell files; compaction must reduce the file count,
    keep search results BIT-identical, and keep partition pruning."""
    import os

    from mergers_acquisitions_predictions_spark.operators.ann_index import (
        append_index,
        compact_index,
    )

    e = load_table(spark, SF, "embeddings")
    path = str(tmp_path / "idx")
    build_ivfsq_index(e.filter(F.col("vec_id") % 2 == 0), path, n_cells=8)
    append_index(e.filter(F.col("vec_id") % 4 == 1), path)
    append_index(e.filter(F.col("vec_id") % 4 == 3), path)
    q = e.filter(F.col("vec_id") < 5)
    pre = sorted(map(tuple, search_index(spark, path, q, k=5, n_probe=2).collect()))
    n_codes_pre = spark.read.parquet(f"{path}/codes").count()
    before, after = compact_index(spark, path)
    assert after < before, (before, after)
    # pointer-file commit: CURRENT names the new generation; no
    # staging leftovers; the REPLACED generation (legacy codes/) is
    # retained for in-flight readers (retention = 1)
    from mergers_acquisitions_predictions_spark.operators.ann_index import (
        _codes_path,
        _resolve_codes_name,
    )

    assert _resolve_codes_name(spark, path) == "codes_g000001"
    assert not [d for d in os.listdir(path) if ".staging_" in d]
    assert os.path.isdir(f"{path}/codes")  # retained previous gen
    assert spark.read.parquet(_codes_path(spark, path)).count() == n_codes_pre
    post_df = search_index(spark, path, q, k=5, n_probe=2)
    post = sorted(map(tuple, post_df.collect()))
    assert pre == post  # layout-only: bytes moved, meaning identical
    plan = post_df._jdf.queryExecution().executedPlan().toString()
    scan_lines = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert any("cell_id" in ln and "IN" in ln.upper() for ln in scan_lines), plan


def test_compaction_idempotent_on_fresh_build(spark, tmp_path):
    """Compacting a never-appended index must be safe (layout already
    clustered; results unchanged; second compaction a no-op-shaped
    rewrite)."""
    from mergers_acquisitions_predictions_spark.operators.ann_index import (
        compact_index,
    )

    e = load_table(spark, SF, "embeddings")
    path = str(tmp_path / "idx")
    build_ivfsq_index(e, path, n_cells=8)
    q = e.filter(F.col("vec_id") < 3)
    pre = sorted(map(tuple, search_index(spark, path, q, k=5, n_probe=2).collect()))
    b1, a1 = compact_index(spark, path)
    b2, a2 = compact_index(spark, path)
    assert b2 == a1  # second pass sees the first's layout
    post = sorted(map(tuple, search_index(spark, path, q, k=5, n_probe=2).collect()))
    assert pre == post
    # generation chain: g2 live, g1 retained, g0 (codes) reaped
    import os

    from mergers_acquisitions_predictions_spark.operators.ann_index import (
        _resolve_codes_name,
    )

    assert _resolve_codes_name(spark, path) == "codes_g000002"
    assert os.path.isdir(f"{path}/codes_g000001")
    assert not os.path.isdir(f"{path}/codes")


def test_reader_never_sees_missing_codes_dir_mid_compaction(spark, tmp_path):
    """THE pointer-commit guarantee (VERDICT r7 #4): at every commit
    boundary of a compaction — before/after the generation promote,
    before/after the pointer swap, and after the old-gen reap — a
    concurrent reader that resolves the pointer finds a COMPLETE,
    readable codes directory with the full row count. The old
    two-rename design had a no-codes-dir window between move-aside
    and promote; this probe would have caught it."""
    from mergers_acquisitions_predictions_spark.operators.ann_index import (
        _codes_path,
        append_index,
        compact_index,
    )
    from mergers_acquisitions_predictions_spark.sources import fs as FS

    e = load_table(spark, SF, "embeddings")
    path = str(tmp_path / "idx")
    build_ivfsq_index(e.filter(F.col("vec_id") % 2 == 0), path, n_cells=8)
    append_index(e.filter(F.col("vec_id") % 2 == 1), path)
    n_total = spark.read.parquet(_codes_path(spark, path)).count()

    probes: list[int] = []

    def probe() -> None:
        live = _codes_path(spark, path)
        spark.catalog.refreshByPath(live)
        probes.append(spark.read.parquet(live).count())

    real_rename, real_replace = FS.fs_rename, FS.fs_replace_file

    def probing_rename(spark_, src, dst):
        probe()
        real_rename(spark_, src, dst)
        probe()

    def probing_replace(spark_, p, text):
        probe()
        real_replace(spark_, p, text)
        probe()

    import pytest

    mp = pytest.MonkeyPatch()
    try:
        mp.setattr(FS, "fs_rename", probing_rename)
        mp.setattr(FS, "fs_replace_file", probing_replace)
        compact_index(spark, path)
    finally:
        mp.undo()
    probe()
    assert len(probes) >= 5
    assert all(n == n_total for n in probes), probes


def test_compaction_pointer_swap_failure_leaves_old_index_serving(
    spark, tmp_path, monkeypatch
):
    """A failed pointer swap must leave the pre-compaction index
    serving AND leave the promoted-but-unreferenced generation in
    place (ADVICE r9): on delete-then-rename stores the old pointer
    may already be gone when the swap fails, and a reader resolving
    through the newest-generation fallback in that window is serving
    exactly the promoted directory — reaping it would pull the files
    out from under that reader. The NEXT successful maintenance
    commit reaps the orphan and numbers past it."""
    import os

    import pytest

    from mergers_acquisitions_predictions_spark.operators.ann_index import (
        _resolve_codes_name,
        compact_index,
    )
    from mergers_acquisitions_predictions_spark.sources import fs as FS

    e = load_table(spark, SF, "embeddings")
    path = str(tmp_path / "idx")
    build_ivfsq_index(e, path, n_cells=8)
    q = e.filter(F.col("vec_id") < 3)
    pre = sorted(map(tuple, search_index(spark, path, q, k=5, n_probe=2).collect()))

    def failing_swap(spark_, p, text):
        raise OSError("injected pointer-swap failure")

    monkeypatch.setattr(FS, "fs_replace_file", failing_swap)
    with pytest.raises(OSError, match="injected pointer-swap"):
        compact_index(spark, path)
    monkeypatch.undo()
    # pointer untouched (the injected failure precedes any delete) →
    # the OLD index serves; the promoted orphan is retained, complete
    # (codes + _meta staged before the promote rename)
    assert _resolve_codes_name(spark, path) == "codes"
    orphans = [d for d in os.listdir(path) if d.startswith("codes_g")]
    assert orphans == ["codes_g000001"]
    assert os.path.exists(f"{path}/codes_g000001/_meta")
    post = sorted(map(tuple, search_index(spark, path, q, k=5, n_probe=2).collect()))
    assert pre == post
    # the NEXT successful maintenance commit numbers PAST the orphan
    # (no name collision) and reaps it as an ordinary old generation
    compact_index(spark, path)
    assert _resolve_codes_name(spark, path) == "codes_g000002"
    gens = sorted(d for d in os.listdir(path) if d.startswith("codes_g"))
    assert gens == ["codes_g000002"]  # orphan reaped; "codes" retained
    assert os.path.isdir(f"{path}/codes")
    post2 = sorted(map(tuple, search_index(spark, path, q, k=5, n_probe=2).collect()))
    assert pre == post2


def _foreign_write(path: str, text: str) -> None:
    """Rewrite a small artifact file the way another process would: a
    plain write, then drop Hadoop's checksum twin (LocalFileSystem
    would otherwise fail the next READ on the stale ``.crc``)."""
    import os

    with open(path, "w") as f:
        f.write(text)
    d, name = os.path.split(path)
    try:
        os.remove(os.path.join(d, f".{name}.crc"))
    except FileNotFoundError:
        pass


def test_foreign_rewrite_seen_by_next_serve(spark, tmp_path):
    """Serve, append and compact resolve ``CURRENT`` and read the live
    generation's ``_meta`` from disk on every call, so a rewrite by
    another process — of the pointer or of a generation's geometry —
    is seen by the very next serve, even one issued right after this
    session's own build."""
    import json
    import os

    import pytest

    from mergers_acquisitions_predictions_spark.operators.ann_index import (
        _resolve_codes_name,
    )

    e = load_table(spark, SF, "embeddings")
    q = e.filter(F.col("vec_id") < 3)
    path = str(tmp_path / "idx")

    def serve():
        return sorted(
            map(tuple, search_index(spark, path, q, k=5, n_probe=2).collect())
        )

    build_ivfsq_index(e, path, n_cells=8)
    want8 = serve()
    build_ivfsq_index(e, path, n_cells=4)  # rebuild: live = codes_g000001
    _foreign_write(f"{path}/CURRENT", "codes")  # roll the pointer back
    assert _resolve_codes_name(spark, path) == "codes"
    assert serve() == want8

    meta_path = f"{path}/codes/_meta"
    with open(meta_path) as f:
        original = f.read()
    bad = json.loads(original)
    bad.update(kind="ivfzz", note="foreign")
    _foreign_write(meta_path, json.dumps(bad))
    with pytest.raises(ValueError, match="unknown index kind 'ivfzz'"):
        serve()
    _foreign_write(meta_path, original)
    assert serve() == want8
    os.remove(meta_path)
    with pytest.raises(ValueError, match="no geometry for generation 'codes'"):
        serve()


def test_second_session_reads_each_generation_meta_once(spark, tmp_path, monkeypatch):
    """A session serving an index it did not build reads each live
    generation's ``_meta`` text ONCE across repeated serves (the text
    cache keys on the file's length and mtime, not on the session),
    and its results are bit-identical to the building session's."""
    from mergers_acquisitions_predictions_spark.operators.ann_index import (
        append_index,
        compact_index,
    )
    from mergers_acquisitions_predictions_spark.sources import fs as FS

    path = str(tmp_path / "idx")
    e = load_table(spark, SF, "embeddings")
    build_ivfsq_index(e.filter(F.col("vec_id") % 2 == 0), path, n_cells=8)

    reads: list[str] = []
    real_read = FS.fs_read_text

    def counting_read(spark_, p):
        if p.endswith("/_meta"):
            reads.append(p[len(path) + 1:])
        return real_read(spark_, p)

    monkeypatch.setattr(FS, "fs_read_text", counting_read)
    other = spark.newSession()
    e2 = load_table(other, SF, "embeddings")
    q2 = e2.filter(F.col("vec_id") < 5)

    def serve(session, queries):
        return sorted(
            map(
                tuple,
                search_index(session, path, queries, k=5, n_probe=2).collect(),
            )
        )

    first = [serve(other, q2) for _ in range(3)]
    assert reads == ["codes/_meta"]
    q = e.filter(F.col("vec_id") < 5)
    assert first == [serve(spark, q)] * 3

    append_index(e.filter(F.col("vec_id") % 2 == 1), path)
    compact_index(spark, path)  # live = codes_g000001
    reads.clear()
    again = [serve(other, q2) for _ in range(3)]
    assert reads == ["codes_g000001/_meta"]
    assert again == [serve(spark, q)] * 3


def test_legacy_layout_without_pointer_still_serves(spark, tmp_path):
    """A pre-pointer index (no CURRENT file) resolves to the legacy
    codes/ dir; after a compaction created generations, a lost
    pointer resolves to the NEWEST promoted generation — both
    complete indexes by the commit protocol."""
    import os

    from mergers_acquisitions_predictions_spark.operators.ann_index import (
        _resolve_codes_name,
        compact_index,
    )

    e = load_table(spark, SF, "embeddings")
    path = str(tmp_path / "idx")
    build_ivfsq_index(e, path, n_cells=8)
    q = e.filter(F.col("vec_id") < 3)
    want = sorted(map(tuple, search_index(spark, path, q, k=5, n_probe=2).collect()))

    os.remove(f"{path}/CURRENT")  # simulate the pre-pointer layout
    assert _resolve_codes_name(spark, path) == "codes"
    got = sorted(map(tuple, search_index(spark, path, q, k=5, n_probe=2).collect()))
    assert got == want

    compact_index(spark, path)
    os.remove(f"{path}/CURRENT")
    assert _resolve_codes_name(spark, path) == "codes_g000001"
    got2 = sorted(map(tuple, search_index(spark, path, q, k=5, n_probe=2).collect()))
    assert got2 == want


def test_rebuild_promotes_generation_and_retains_previous(spark, tmp_path):
    """A rebuild at a LIVE path commits like a compaction (ADVICE r8
    — the old in-place overwrite raced concurrent readers, and its
    reap-everything retention contradicted the module contract): the
    pointer chain CONTINUES to the next generation, the
    previously-live generation survives one cycle for readers that
    resolved before the flip, and everything older is reaped."""
    import os

    from mergers_acquisitions_predictions_spark.operators.ann_index import (
        _resolve_codes_name,
        compact_index,
    )

    e = load_table(spark, SF, "embeddings")
    path = str(tmp_path / "idx")
    build_ivfsq_index(e, path, n_cells=8)
    compact_index(spark, path)
    assert _resolve_codes_name(spark, path) == "codes_g000001"
    build_ivfsq_index(e, path, n_cells=8)
    assert _resolve_codes_name(spark, path) == "codes_g000002"
    # previously-live g1 retained; pre-compaction codes/ (already one
    # cycle old at the compact) is reaped now
    assert os.path.isdir(f"{path}/codes_g000001")
    assert not os.path.isdir(f"{path}/codes")
    got = search_index(
        spark, path, e.filter(F.col("vec_id") < 3), k=5, n_probe=2
    )
    assert got.count() == 15


def test_rebuild_keeps_stale_reader_consistent(spark, tmp_path):
    """THE race ADVICE r8 named: a reader that resolved the live
    generation just before a REBUILD's pointer flip must keep scoring
    those codes with THEIR quantizer stats — never the rebuild's new
    geometry. Since round 9 every promoted generation co-locates its
    geometry as `_meta`, so the stale name resolves a consistent
    (codes, stats) pair even after a rebuild that CHANGED the
    quantizer (here: a different cell count)."""
    import json as _json

    from mergers_acquisitions_predictions_spark.operators.ann_index import (
        _read_meta_text,
        _resolve_codes_name,
        compact_index,
    )

    e = load_table(spark, SF, "embeddings")
    path = str(tmp_path / "idx")
    build_ivfsq_index(e, path, n_cells=8)
    compact_index(spark, path)  # live = codes_g000001, has _meta
    stale_name = _resolve_codes_name(spark, path)
    assert stale_name == "codes_g000001"
    build_ivfsq_index(e, path, n_cells=4)  # rebuild with NEW geometry
    # the stale generation still exists and resolves ITS OWN geometry
    old_meta = _json.loads(_read_meta_text(spark, path, stale_name))
    assert int(old_meta["n_cells"]) == 8 and len(_json.loads(old_meta["centroids"])) == 8
    # while a fresh resolution serves the rebuilt 4-cell index
    new_name = _resolve_codes_name(spark, path)
    assert int(_json.loads(_read_meta_text(spark, path, new_name))["n_cells"]) == 4
    got = search_index(
        spark, path, e.filter(F.col("vec_id") < 3), k=5, n_probe=2
    )
    assert got.count() == 15


def test_generation_sort_is_numeric(spark, tmp_path):
    """`_gen_dirs` orders by the INTEGER suffix (ADVICE r8): once a
    7-digit generation exists, a lexicographic sort would put
    codes_g1000000 before codes_g0999999, resolving a stale
    generation and colliding the next-gen name with an existing
    directory (failing every later compaction behind fs_rename's
    strict no-overwrite)."""
    import os

    from mergers_acquisitions_predictions_spark.operators.ann_index import (
        _gen_dirs,
    )

    path = str(tmp_path / "idx")
    for d in ("codes_g1000000", "codes_g0999999", "codes_g000002"):
        os.makedirs(f"{path}/{d}")
    os.makedirs(f"{path}/codes_g000003.staging_1_aa")  # never a gen
    assert _gen_dirs(spark, path) == [
        "codes_g000002",
        "codes_g0999999",
        "codes_g1000000",
    ]


def test_build_with_learned_centroids_roundtrips(spark, tmp_path):
    """Round 8: the persisted index accepts a caller-fitted centroid
    table (the sampled-fit large-corpus default, SCALE.md §7o) — the
    learned cells are materialized into the ``_meta`` geometry, and
    search/append/compact consume the frozen geometry unchanged. The
    persisted serve must be bit-identical to the in-memory ivf+SQ8
    path run over the same learned centroids."""
    from mergers_acquisitions_predictions_spark.operators.ann_index import (
        compact_index,
    )
    from mergers_acquisitions_predictions_spark.operators.similarity import (
        kmeans_centroids,
    )

    e = load_table(spark, SF, "embeddings")
    q = e.filter(F.col("vec_id") < 5)
    cent = kmeans_centroids(
        e, n_cells=8, fit_sample_per_cell=10, fit_floor=0
    ).persist()
    path = str(tmp_path / "idx")
    build_ivfsq_index(e, path, centroids=cent)
    got = search_index(spark, path, q, k=5, n_probe=2)
    rows = got.collect()
    assert len(rows) == 25
    # persisted meta carries the LEARNED cells (count follows table)
    import json as _json

    with open(f"{path}/codes/_meta") as f:
        meta = _json.load(f)
    assert int(meta["n_cells"]) == 8

    persisted = {
        int(c): v for c, v, _n in _json.loads(meta["centroids"])
    }
    fitted = {int(r["cell_id"]): [float(x) for x in r["cent_vec"]] for r in cent.collect()}
    assert persisted == fitted
    # lifecycle on learned geometry: compaction stays layout-only
    pre = sorted(map(tuple, rows))
    compact_index(spark, path)
    post = sorted(map(tuple, search_index(spark, path, q, k=5, n_probe=2).collect()))
    assert pre == post
    cent.unpersist()


def test_sq8_rerank_restores_clone_cohort_recall(spark, tmp_path):
    """SCALE §7o-r8 remedy (b) as a first-class serve option: on a
    clone-saturated corpus the quantized dot cannot separate
    near-duplicate cohorts, so plain SQ8 id-overlap recall collapses;
    an exact re-rank of the overfetched shortlist
    (search_index(rerank=..., vectors=corpus)) restores it.
    Also: rerank without vectors, and rerank < k, fail loudly."""
    import pytest

    from mergers_acquisitions_predictions_spark.operators.similarity import (
        brute_force_topk,
        topk_recall,
    )

    base = load_table(spark, SF, "embeddings").select("vec_id", "embedding")
    # 20 jittered clones per base vector, jitter well below SQ8's
    # per-dim quantum — the 1M-stacked tie structure at test scale
    corpus = (
        base.filter(F.col("vec_id") < 250)
        .crossJoin(spark.range(20).select(F.col("id").alias("copy")))
        .select(
            (F.col("vec_id") + F.col("copy") * 250).alias("vec_id"),
            F.transform(
                "embedding",
                lambda x, i: x
                + 0.0005
                * F.sin(F.col("vec_id") * 131 + F.col("copy") * 17 + i.cast("double")),
            ).alias("embedding"),
        )
        .persist()
    )
    q = corpus.filter(F.col("vec_id") < 3)
    path = str(tmp_path / "idx")
    build_ivfsq_index(corpus, path, n_cells=8)
    exact = brute_force_topk(q, corpus, k=5).select("query_id", "candidate_id")
    plain = search_index(spark, path, q, k=5, n_probe=2)
    rer = search_index(
        spark, path, q, k=5, n_probe=2, rerank=60, vectors=corpus
    )
    assert rer.columns == ["query_id", "candidate_id", "cos_sim", "rank"]
    r_plain = topk_recall(exact, plain.select("query_id", "candidate_id"), k=5)
    r_rer = topk_recall(exact, rer.select("query_id", "candidate_id"), k=5)
    import pyspark.sql.functions as SF_

    avg_plain = r_plain.agg(SF_.avg("recall")).first()[0]
    avg_rer = r_rer.agg(SF_.avg("recall")).first()[0]
    assert avg_rer > avg_plain, (avg_plain, avg_rer)
    assert avg_rer == 1.0, avg_rer
    with pytest.raises(ValueError, match="needs `vectors`"):
        search_index(spark, path, q, k=5, n_probe=2, rerank=60)
    with pytest.raises(ValueError, match="must be >= k"):
        search_index(
            spark, path, q, k=5, n_probe=2, rerank=3, vectors=corpus
        )
    corpus.unpersist()


def test_corrupt_pointer_manifest_is_loud(spark, tmp_path):
    """A CURRENT manifest naming anything but a sibling codes
    generation (truncated write, foreign scribble, path traversal)
    must raise, never scan an attacker-chosen path; an EMPTY manifest
    falls back to generation resolution."""
    import pytest

    from mergers_acquisitions_predictions_spark.operators.ann_index import (
        _resolve_codes_name,
    )

    import os

    e = load_table(spark, SF, "embeddings")
    path = str(tmp_path / "idx")
    build_ivfsq_index(e, path, n_cells=8)

    def scribble(text: str) -> None:
        # a foreign hand-edit: plain write + drop Hadoop's checksum
        # sidecar (LocalFileSystem would otherwise fail the READ on
        # the stale .crc — which is also corruption detection, just
        # the filesystem's own layer of it)
        with open(f"{path}/CURRENT", "w") as f:
            f.write(text)
        try:
            os.remove(f"{path}/.CURRENT.crc")
        except FileNotFoundError:
            pass

    for bad in ("../../etc", "codes_gX", "/abs/path", "codes_g1; rm"):
        scribble(bad)
        with pytest.raises(ValueError, match="corrupt index manifest"):
            _resolve_codes_name(spark, path)
    scribble("")  # truncated-to-empty: fall back, don't die
    assert _resolve_codes_name(spark, path) == "codes"
    scribble("codes\n")  # trailing newline tolerated
    assert _resolve_codes_name(spark, path) == "codes"


def test_rerank_serve_is_oracle_replayable(spark, tmp_path):
    """Pre-certification of the r9 rerank driver row: the exact
    re-rank serve hash-matches the extended DuckDB oracle
    (`ivfsq_topk_sql(rerank=...)` — SQ8 shortlist cut + exact
    unit-dot rescore, both deterministic) at the driver SF. Window
    pressure kept this out of the r8 registry; the oracle machinery
    is proven here so registration is a one-liner."""
    import pandas as pd

    from mergers_acquisitions_predictions_spark.plans.lsh_oracle import (
        ivfsq_topk_sql,
    )

    from .oracle_utils import normalize, run_oracle

    e = load_table(spark, SF, "embeddings")
    q = e.filter(F.col("vec_id") < 5)
    path = str(tmp_path / "idx")
    build_ivfsq_index(e, path, n_cells=None)  # auto cells, oracle-matched
    got = normalize(
        search_index(
            spark, path, q, k=5, n_probe=2, rerank=15, vectors=e
        ).toPandas()
    )
    want = normalize(
        run_oracle(
            "WITH " + ivfsq_topk_sql(n_cells="auto", n_probe=2, k=5, rerank=15),
            SF,
        )
    )
    assert list(got.columns) == list(want.columns)
    pd.testing.assert_frame_equal(got, want, check_dtype=False, check_exact=True)


def test_dedup_rerank_compose_is_oracle_replayable(spark, tmp_path):
    """Pre-certification of a CANDIDATE r10 driver row — the full
    §7o-r9 recommendation (SCALE.md finding 3): SemDeDup the corpus,
    build the index on the survivors, serve with the exact re-rank.
    Measured at 1M: dedup alone recovers 0.92 (cell-purity residuals),
    rerank on top is exact — a deployment runs BOTH. The oracle is
    s21's prelude (`semdedup_kept_ctes_sql`) + `ivfsq_topk_sql` with
    build/candidate restriction AND the rerank stage in one statement
    — proving the three generator features compose before a window
    slot is spent on the row (the r8 rerank-row pattern)."""
    import pandas as pd
    from pyspark.sql import functions as F

    from mergers_acquisitions_predictions_spark.operators.similarity import (
        semantic_dedup,
    )
    from mergers_acquisitions_predictions_spark.plans.lsh_oracle import (
        ivfsq_topk_sql,
        semdedup_kept_ctes_sql,
    )

    from .oracle_utils import normalize, run_oracle

    e = load_table(spark, SF, "embeddings")
    sd = semantic_dedup(e, threshold=0.4, n_cells=8)
    kept = e.join(
        sd.filter(F.col("keep")).select("vec_id"), "vec_id", "left_semi"
    )
    path = str(tmp_path / "idx")
    build_ivfsq_index(kept, path, n_cells=None)
    got = normalize(
        search_index(
            spark,
            path,
            e.filter(F.col("vec_id") < 5),
            k=5,
            n_probe=2,
            rerank=15,
            vectors=kept,
        ).toPandas()
    )
    del sd  # checkpoint owner: everything upstream has materialized
    oracle = (
        f"WITH RECURSIVE {semdedup_kept_ctes_sql(8, 0.4)},\n"
        + ivfsq_topk_sql(
            n_cells="auto",
            n_probe=2,
            k=5,
            rerank=15,
            build_filter="WHERE vec_id IN (SELECT vec_id FROM kept)",
            candidate_filter="AND c.candidate_id IN (SELECT vec_id FROM kept)",
        )
    )
    want = normalize(run_oracle(oracle, SF))
    assert list(got.columns) == list(want.columns)
    pd.testing.assert_frame_equal(got, want, check_dtype=False, check_exact=True)


def test_serve_score_blas_matches_fold(spark, tmp_path):
    """`search_index(score_blas=True)` must return the SAME
    frame as the fold serve across k / n_probe / allowed / rerank
    combinations at two SFs — the parity-scope empirical leg (the
    matmul diverges only at .5 rounding boundaries within float
    error; there must be none on the real corpora). The query units
    are the JVM fold's own values by construction, so the compare is
    exact."""
    import pandas as pd

    e01 = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    e1 = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    for tag, e in (("sf0.001", e01), ("sf0.01", e1)):
        path = str(tmp_path / f"idx_{tag}")
        build_ivfsq_index(e, path, n_cells=16)
        q = e.filter(F.col("vec_id") < 7)
        cases = [
            dict(k=5, n_probe=2),
            dict(k=3, n_probe=1),
            dict(k=10, n_probe=2),
            dict(k=5, n_probe=2, allowed=e.filter(F.col("label") % 2 == 1)),
            dict(k=5, n_probe=2, rerank=15, vectors=e),
        ]
        for kw in cases:
            fold = sorted(
                map(tuple, search_index(spark, path, q, **kw).collect())
            )
            blas = sorted(
                map(
                    tuple,
                    search_index(
                        spark, path, q, score_blas=True, **kw
                    ).collect(),
                )
            )
            assert fold == blas, (tag, kw)


def test_serve_score_blas_over_bound_raises(spark, sf_dir, tmp_path, monkeypatch):
    """The ``score_blas`` serve collects its (query, probed cell) rows
    to the driver: past `MAX_BLAS_PROBE_ROWS` it raises, naming the
    bound, instead of collecting an unbounded batch."""
    import pytest

    from mergers_acquisitions_predictions_spark.operators import ann_index

    e = load_table(spark, sf_dir, "embeddings")
    path = str(tmp_path / "idx")
    build_ivfsq_index(e, path, n_cells=8)
    q = e.filter(F.col("vec_id") < 5)  # 5 queries × 2 probes = 10 rows
    monkeypatch.setattr(ann_index, "MAX_BLAS_PROBE_ROWS", 9)
    with pytest.raises(ValueError, match="MAX_BLAS_PROBE_ROWS=9"):
        search_index(spark, path, q, k=3, n_probe=2, score_blas=True)
    monkeypatch.setattr(ann_index, "MAX_BLAS_PROBE_ROWS", 10)
    assert search_index(spark, path, q, k=3, n_probe=2, score_blas=True).count() == 15


def test_unknown_recorded_kind_raises_naming_it(spark, sf_dir, tmp_path):
    """The kind recorded in ``_meta`` picks the codec; a kind no codec
    serves fails serve, append and rebuild-by-kind loudly, naming the
    kind — never a KeyError deep in a geometry parse."""
    import json

    import pytest

    from mergers_acquisitions_predictions_spark.operators.ann_index import (
        append_index,
        index_builder,
    )

    e = load_table(spark, sf_dir, "embeddings")
    path = str(tmp_path / "idx")
    build_ivfsq_index(e.filter(F.col("vec_id") % 2 == 0), path, n_cells=4)
    meta_path = f"{path}/codes/_meta"
    with open(meta_path) as f:
        meta = json.load(f)
    meta["kind"] = "hnsw"
    _foreign_write(meta_path, json.dumps(meta))
    with pytest.raises(ValueError, match="unknown index kind 'hnsw'"):
        search_index(spark, path, e.filter(F.col("vec_id") < 2), k=3)
    with pytest.raises(ValueError, match="unknown index kind 'hnsw'"):
        append_index(e.filter(F.col("vec_id") % 2 == 1), path)
    with pytest.raises(ValueError, match="unknown index kind 'hnsw'"):
        index_builder("hnsw")


def test_streaming_index_ingest_matches_batch_append(spark, tmp_path):
    """Round 12: the `ingest_vector_stream` foreachBatch sink — a REAL
    availableNow file stream of arriving vectors appended to the
    persisted index under its frozen geometry, in MULTIPLE micro-batch
    files — must leave the index serving bit-identically to the batch
    `append_index` path over the same shard (s14's
    equivalence through the streaming entry point)."""
    import json as _json

    from mergers_acquisitions_predictions_spark.operators.ann_index import (
        append_index,
    )
    from mergers_acquisitions_predictions_spark.streaming.serving import (
        ingest_vector_stream,
    )

    e = load_table(spark, SF, "embeddings")
    even = e.filter(F.col("vec_id") % 2 == 0)
    odd_rows = e.filter(F.col("vec_id") % 2 == 1).collect()
    q = e.filter(F.col("vec_id") < 5)

    stream_path = str(tmp_path / "idx_stream")
    batch_path = str(tmp_path / "idx_batch")
    build_ivfsq_index(even, stream_path, n_cells=16)
    build_ivfsq_index(even, batch_path, n_cells=16)

    vdir = tmp_path / "vstream"
    vdir.mkdir()
    # two files → at least two micro-batches through the sink
    for i, chunk in enumerate((odd_rows[::2], odd_rows[1::2])):
        with open(vdir / f"shard{i}.jsonl", "w") as f:
            for r in chunk:
                f.write(
                    _json.dumps(
                        {
                            "vec_id": r.vec_id,
                            "embedding": [float(x) for x in r.embedding],
                        }
                    )
                    + "\n"
                )
    stream = (
        ingest_vector_stream(
            stream_path,
            spark.readStream.schema("vec_id long, embedding array<float>")
            .option("maxFilesPerTrigger", 1)
            .json(str(vdir)),
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    stream.awaitTermination(180)

    append_index(e.filter(F.col("vec_id") % 2 == 1), batch_path)
    got = sorted(
        map(
            tuple,
            search_index(spark, stream_path, q, k=5, n_probe=2).collect(),
        )
    )
    want = sorted(
        map(
            tuple,
            search_index(spark, batch_path, q, k=5, n_probe=2).collect(),
        )
    )
    assert got == want and len(want) == 25


def test_streaming_ingest_pq_residual_kind(spark, tmp_path):
    """`ingest_batch` dispatches on the index's OWN kind (round 12):
    a stream appending into a RESIDUAL IVF-PQ index must encode the
    arriving shard with the persisted books under the residual flag —
    equal to the batch PQ append — with the dispatch read from the
    live generation's ``_meta``."""
    import json as _json

    from mergers_acquisitions_predictions_spark.operators.ann_index import (
        append_index,
        build_ivfpq_index,
        search_index,
    )
    from mergers_acquisitions_predictions_spark.streaming.serving import (
        ingest_vector_stream,
    )

    e = load_table(spark, SF, "embeddings")
    even = e.filter(F.col("vec_id") % 2 == 0)
    odd = e.filter(F.col("vec_id") % 2 == 1)
    q = e.filter(F.col("vec_id") < 5)
    stream_path = str(tmp_path / "pqres_stream")
    batch_path = str(tmp_path / "pqres_batch")
    for p in (stream_path, batch_path):
        build_ivfpq_index(
            even, p, n_cells=16, n_subspaces=8, n_codes=16, residual=True
        )

    vdir = tmp_path / "vstream"
    vdir.mkdir()
    with open(vdir / "shard0.jsonl", "w") as f:
        for r in odd.collect():
            f.write(
                _json.dumps(
                    {
                        "vec_id": r.vec_id,
                        "embedding": [float(x) for x in r.embedding],
                    }
                )
                + "\n"
            )
    stream = (
        ingest_vector_stream(
            stream_path,
            spark.readStream.schema("vec_id long, embedding array<float>").json(
                str(vdir)
            ),
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    stream.awaitTermination(180)
    append_index(odd, batch_path)
    got = sorted(
        map(
            tuple,
            search_index(spark, stream_path, q, k=5, n_probe=2).collect(),
        )
    )
    want = sorted(
        map(
            tuple,
            search_index(spark, batch_path, q, k=5, n_probe=2).collect(),
        )
    )
    assert got == want and len(want) == 25


def test_extra_meta_geometry_collision_is_loud(spark, tmp_path):
    """ADVICE r12: `extra_meta` is caller-owned sidecar fields — a key
    shadowing frozen geometry ('dim', 'kind', 'centroids', PQ's
    'residual') used to last-splat-win and silently corrupt every
    later resolution. Both builds must refuse it; disjoint keys still
    merge."""
    import pytest

    from mergers_acquisitions_predictions_spark.operators.ann_index import (
        build_ivfpq_index,
        build_ivfsq_index,
    )

    e = load_table(spark, SF, "embeddings").limit(200)
    with pytest.raises(ValueError, match="collide with frozen index geometry"):
        build_ivfsq_index(
            e, str(tmp_path / "clash_sq"), n_cells=4, extra_meta={"dim": 2}
        )
    with pytest.raises(ValueError, match="collide with frozen index geometry"):
        build_ivfpq_index(
            e,
            str(tmp_path / "clash_pq"),
            n_cells=4,
            n_subspaces=8,
            n_codes=16,
            residual=True,
            extra_meta={"residual": 0},
        )
    ok = str(tmp_path / "ok_sq")
    build_ivfsq_index(e, ok, n_cells=4, extra_meta={"n_tokens": 4})
    q = e.limit(2)
    assert search_index(spark, ok, q, k=3, n_probe=2).count() == 6


def test_staged_ingest_exactly_once_through_real_stream(spark, tmp_path):
    """Round 13 (VERDICT r12 #3): the EXACTLY-ONCE staged ingest.
    (1) A real multi-batch availableNow stream through
    `ingest_vector_stream_staged` must leave the index serving
    bit-identically to the plain batch append of the same shard.
    (2) The checkpoint-rollback failure mode — re-delivering an
    already-processed micro-batch through the identical per-batch
    body — must append NOTHING and leave the serve bit-identical,
    where the plain `ingest_batch` path would double-append.
    (3) A reconcile re-run (crash-recovery) is likewise a no-op."""
    import json as _json

    from mergers_acquisitions_predictions_spark.operators.ann_index import (
        append_index,
    )
    from mergers_acquisitions_predictions_spark.streaming.serving import (
        ingest_batch_staged,
        ingest_vector_stream_staged,
        reconcile_index_from_snapshot,
    )

    e = load_table(spark, SF, "embeddings")
    even = e.filter(F.col("vec_id") % 2 == 0)
    odd = e.filter(F.col("vec_id") % 2 == 1)
    q = e.filter(F.col("vec_id") < 5)

    stream_path = str(tmp_path / "idx_staged_stream")
    batch_path = str(tmp_path / "idx_plain_batch")
    build_ivfsq_index(even, stream_path, n_cells=16)
    build_ivfsq_index(even, batch_path, n_cells=16)

    vdir = tmp_path / "vstaged"
    vdir.mkdir()
    odd_rows = odd.collect()
    for i, chunk in enumerate((odd_rows[::2], odd_rows[1::2])):
        with open(vdir / f"shard{i}.jsonl", "w") as f:
            for r in chunk:
                f.write(
                    _json.dumps(
                        {
                            "vec_id": r.vec_id,
                            "embedding": [float(x) for x in r.embedding],
                        }
                    )
                    + "\n"
                )
    staged = str(tmp_path / "staged_table")
    stream = (
        ingest_vector_stream_staged(
            stream_path,
            spark.readStream.schema("vec_id long, embedding array<float>")
            .option("maxFilesPerTrigger", 1)
            .json(str(vdir)),
            staged,
        )
        .option("checkpointLocation", str(tmp_path / "ckpt_staged"))
        .trigger(availableNow=True)
        .start()
    )
    stream.awaitTermination(180)

    append_index(odd, batch_path)
    want = sorted(
        map(
            tuple,
            search_index(spark, batch_path, q, k=5, n_probe=2).collect(),
        )
    )
    got = sorted(
        map(
            tuple,
            search_index(spark, stream_path, q, k=5, n_probe=2).collect(),
        )
    )
    assert got == want and len(want) == 25

    # (2) rollback replay: re-deliver micro-batch 0 through the same
    # per-batch body — must be absorbed end-to-end.
    replay = spark.read.schema("vec_id long, embedding array<float>").json(
        str(vdir / "shard0.jsonl")
    )
    assert (
        ingest_batch_staged(stream_path, staged, replay, batch_id=0) == 0
    )
    # (3) reconcile re-run over the full staged snapshot: no-op.
    assert (
        reconcile_index_from_snapshot(spark, stream_path, staged) == 0
    )
    again = sorted(
        map(
            tuple,
            search_index(spark, stream_path, q, k=5, n_probe=2).collect(),
        )
    )
    assert again == want


def test_sharded_fanout_serve(spark, tmp_path):
    """Round 13: `search_sharded_indexes` must equal the manual
    merge of the per-shard serves (same union, same global rank
    key), return exactly k dense-ranked rows per query, and draw
    each candidate from the shard that owns its id."""
    from pyspark.sql import Window as W

    from mergers_acquisitions_predictions_spark.operators.ann_index import (
        search_sharded_indexes,
    )

    e = load_table(spark, SF, "embeddings")
    q = e.filter(F.col("vec_id") < 5)
    paths = []
    for par in (0, 1, 2):
        p = str(tmp_path / f"shard{par}")
        build_ivfsq_index(e.filter(F.col("vec_id") % 3 == par), p, n_cells=8)
        paths.append(p)

    got = search_sharded_indexes(spark, paths, q, k=5, n_probe=2)
    rows = got.collect()
    assert len(rows) == 25
    for r in rows:
        # ids partition by % 3: the candidate must come from one shard
        assert r.candidate_id != r.query_id
    per_q = {}
    for r in rows:
        per_q.setdefault(r.query_id, []).append(r.rank)
    assert all(sorted(v) == [1, 2, 3, 4, 5] for v in per_q.values())

    # independent re-derivation: union the single-shard serves and
    # re-rank globally with the serve's own key
    parts = [
        search_index(spark, p, q, k=5, n_probe=2).select(
            "query_id", "candidate_id", "sq_sim"
        )
        for p in paths
    ]
    un = parts[0].unionByName(parts[1]).unionByName(parts[2])
    w = W.partitionBy("query_id").orderBy(
        F.desc("sq_sim"), F.asc("candidate_id")
    )
    want = sorted(
        map(
            tuple,
            un.withColumn("rank", F.row_number().over(w).cast("long"))
            .filter(F.col("rank") <= 5)
            .collect(),
        )
    )
    assert sorted(map(tuple, rows)) == want

    import pytest

    with pytest.raises(ValueError, match="at least one shard"):
        search_sharded_indexes(spark, [], q)


def test_append_only_ingest_through_real_stream(spark, tmp_path):
    """Round 13 (the open item `ingest_batch_staged` documents): the
    APPEND-ONLY staged ingest for high-frequency micro-batches.
    (1) A real multi-batch availableNow stream through
    `ingest_vector_stream_append_only(reconcile_every=2)` must leave
    the index serving bit-identically to the plain batch append of
    the same shard — the scheduled reconcile fires on the second
    batch and absorbs both staged batches at once.
    (2) Each batch must land as its OWN parquet subdirectory (the
    O(batch) staging cost — no O(table) rewrite).
    (3) A replayed batch overwrites its own subdirectory and a
    reconcile re-run appends nothing (exactly-once under checkpoint
    rollback)."""
    import json as _json
    import os

    from mergers_acquisitions_predictions_spark.operators.ann_index import (
        append_index,
    )
    from mergers_acquisitions_predictions_spark.streaming.serving import (
        ingest_vector_stream_append_only,
        reconcile_index_from_snapshot,
        stage_batch_append_only,
    )

    e = load_table(spark, SF, "embeddings")
    even = e.filter(F.col("vec_id") % 2 == 0)
    odd = e.filter(F.col("vec_id") % 2 == 1)
    q = e.filter(F.col("vec_id") < 5)

    stream_path = str(tmp_path / "idx_ao_stream")
    batch_path = str(tmp_path / "idx_ao_batch")
    build_ivfsq_index(even, stream_path, n_cells=16)
    build_ivfsq_index(even, batch_path, n_cells=16)

    vdir = tmp_path / "vao"
    vdir.mkdir()
    odd_rows = odd.collect()
    for i, chunk in enumerate((odd_rows[::2], odd_rows[1::2])):
        with open(vdir / f"shard{i}.jsonl", "w") as f:
            for r in chunk:
                f.write(
                    _json.dumps(
                        {
                            "vec_id": r.vec_id,
                            "embedding": [float(x) for x in r.embedding],
                        }
                    )
                    + "\n"
                )
    staged = str(tmp_path / "staged_ao")
    stream = (
        ingest_vector_stream_append_only(
            stream_path,
            spark.readStream.schema("vec_id long, embedding array<float>")
            .option("maxFilesPerTrigger", 1)
            .json(str(vdir)),
            staged,
            reconcile_every=2,
        )
        .option("checkpointLocation", str(tmp_path / "ckpt_ao"))
        .trigger(availableNow=True)
        .start()
    )
    stream.awaitTermination(180)

    # (2) per-batch subdirectories, not a rewritten table
    subdirs = sorted(
        d for d in os.listdir(staged) if d.startswith("batch_id=")
    )
    assert subdirs == ["batch_id=0", "batch_id=1"]

    append_index(odd, batch_path)
    want = sorted(
        map(
            tuple,
            search_index(spark, batch_path, q, k=5, n_probe=2).collect(),
        )
    )
    got = sorted(
        map(
            tuple,
            search_index(spark, stream_path, q, k=5, n_probe=2).collect(),
        )
    )
    assert got == want and len(want) == 25

    # (3) rollback replay: re-stage micro-batch 0 through the same
    # per-batch body — overwrites its own subdir, reconcile no-op.
    replay = spark.read.schema("vec_id long, embedding array<float>").json(
        str(vdir / "shard0.jsonl")
    )
    stage_batch_append_only(staged, replay, batch_id=0)
    assert sorted(
        d for d in os.listdir(staged) if d.startswith("batch_id=")
    ) == ["batch_id=0", "batch_id=1"]
    assert reconcile_index_from_snapshot(spark, stream_path, staged) == 0
    again = sorted(
        map(
            tuple,
            search_index(spark, stream_path, q, k=5, n_probe=2).collect(),
        )
    )
    assert again == want


def test_reconcile_dedupes_cross_batch_duplicate_ids(spark, tmp_path):
    """Append-only staging allows the same id in several staged
    batches (at-least-once delivery across DIFFERENT batch_ids — the
    case the per-batch-id overwrite cannot absorb); the reconcile
    must dedupe the snapshot by id and append each vector exactly
    once."""
    from mergers_acquisitions_predictions_spark.streaming.serving import (
        reconcile_index_from_snapshot,
        stage_batch_append_only,
    )

    e = load_table(spark, SF, "embeddings")
    even = e.filter(F.col("vec_id") % 2 == 0)
    odd = e.filter(F.col("vec_id") % 2 == 1)
    path = str(tmp_path / "idx_dupes")
    build_ivfsq_index(even, path, n_cells=16)

    staged = str(tmp_path / "staged_dupes")
    stage_batch_append_only(staged, odd, batch_id=0)
    # batch 1 re-delivers a third of batch 0's ids under a NEW batch_id
    stage_batch_append_only(staged, odd.filter(F.col("vec_id") % 3 == 0), batch_id=1)
    appended = reconcile_index_from_snapshot(spark, path, staged)
    assert appended == odd.count()
    # every id encoded exactly once → k hits per query, no duplicates
    hits = search_index(
        spark, path, e.filter(F.col("vec_id") < 5), k=5, n_probe=2
    ).collect()
    assert len(hits) == 25
    assert len({(r.query_id, r.candidate_id) for r in hits}) == 25


def test_reconcile_releases_its_persist(spark, tmp_path):
    """Round 13 (optimization): the reconcile persists its membership
    anti-join across the count + append actions (one staged scan +
    one index-membership scan total, not one per action); it must
    RELEASE that handle before returning — on the append path and on
    the nothing-to-append path alike (driver sessions run 100+
    queries; the cache-hygiene gate drives getRDDStorageInfo)."""
    import time

    from mergers_acquisitions_predictions_spark.operators.util import (
        release_memoized_frames,
    )
    from mergers_acquisitions_predictions_spark.streaming.serving import (
        reconcile_index_from_snapshot,
        stage_batch_append_only,
    )

    e = load_table(spark, SF, "embeddings")
    path = str(tmp_path / "idx_persist_release")
    build_ivfsq_index(e.filter(F.col("vec_id") % 2 == 0), path, n_cells=16)
    staged = str(tmp_path / "staged_persist_release")
    stage_batch_append_only(staged, e.filter(F.col("vec_id") % 2 == 1), 0)

    def storage_empty() -> bool:
        release_memoized_frames()  # the deliberate session caches
        sc = spark.sparkContext
        for _ in range(20):  # unpersist(blocking=False) is async
            if not sc._jsc.sc().getRDDStorageInfo():
                return True
            time.sleep(0.25)
        return not sc._jsc.sc().getRDDStorageInfo()

    assert reconcile_index_from_snapshot(spark, path, staged) > 0
    assert storage_empty()  # append path released its handle
    assert reconcile_index_from_snapshot(spark, path, staged) == 0
    assert storage_empty()  # no-op path released its handle


def test_accretion_monitor_and_trigger(spark, tmp_path):
    """Round 13: `index_accretion_stats` must count files-per-cell of
    the LIVE generation, and `compact_if_accreted` must fire only
    above the threshold, be layout-only (bit-identical serve), and
    report the common no-op fast path below it."""
    from mergers_acquisitions_predictions_spark.operators.ann_index import (
        append_index,
        compact_if_accreted,
        index_accretion_stats,
    )

    e = load_table(spark, SF, "embeddings")
    q = e.filter(F.col("vec_id") < 3)
    path = str(tmp_path / "idx_accr")
    build_ivfsq_index(e.filter(F.col("vec_id") % 2 == 0), path, n_cells=16)
    s0 = index_accretion_stats(spark, path)
    assert s0["n_cells"] == 16 and s0["n_files"] >= 16
    append_index(e.filter(F.col("vec_id") % 4 == 1), path)
    append_index(e.filter(F.col("vec_id") % 4 == 3), path)
    s1 = index_accretion_stats(spark, path)
    assert s1["max_files_per_cell"] > s0["max_files_per_cell"]
    before = sorted(
        map(tuple, search_index(spark, path, q, k=5, n_probe=2).collect())
    )
    # below threshold: no-op, no new generation
    fired, _ = compact_if_accreted(
        spark, path, max_files_per_cell=s1["max_files_per_cell"]
    )
    assert not fired
    # above: fires, layout-only
    fired, stats = compact_if_accreted(spark, path, max_files_per_cell=1)
    assert fired and stats == s1
    s2 = index_accretion_stats(spark, path)
    assert s2["max_files_per_cell"] <= s1["max_files_per_cell"]
    assert s2["n_files"] < s1["n_files"]
    after = sorted(
        map(tuple, search_index(spark, path, q, k=5, n_probe=2).collect())
    )
    assert after == before


def test_compact_accepts_monitor_file_count(spark, tmp_path):
    """Round 14: `compact_if_accreted` hands the monitor's listing to
    the compact (`files_before=`) so a fired trigger walks the
    accreted codes tree once, not twice. The passed count must flow
    through to the returned (before, after) tuple exactly as the
    compact's own listing would, and the compacted serve stays
    bit-identical."""
    from mergers_acquisitions_predictions_spark.operators.ann_index import (
        append_index,
        compact_index,
        index_accretion_stats,
    )

    e = load_table(spark, SF, "embeddings")
    q = e.filter(F.col("vec_id") < 3)
    path = str(tmp_path / "idx_fb")
    build_ivfsq_index(e.filter(F.col("vec_id") % 2 == 0), path, n_cells=16)
    append_index(e.filter(F.col("vec_id") % 2 == 1), path)
    stats = index_accretion_stats(spark, path)
    pre = sorted(
        map(tuple, search_index(spark, path, q, k=5, n_probe=2).collect())
    )
    before, after = compact_index(
        spark, path, files_before=stats["n_files"]
    )
    assert before == stats["n_files"]  # the monitor's count, verbatim
    assert after == index_accretion_stats(spark, path)["n_files"]
    post = sorted(
        map(tuple, search_index(spark, path, q, k=5, n_probe=2).collect())
    )
    assert post == pre


def test_run_overlapped_order_and_error_propagation(spark):
    """Round 14 §2.6 helper: results come back in thunk order, and a
    failing thunk's exception propagates only after every sibling has
    finished (no artifact left mid-write by a sibling's failure)."""
    import time as _t

    from mergers_acquisitions_predictions_spark.operators.util import (
        run_overlapped,
    )

    assert run_overlapped(lambda: 1, lambda: 2, lambda: 3) == [1, 2, 3]

    finished = []

    def slow_ok():
        _t.sleep(0.3)
        finished.append("ok")
        return "done"

    def fast_fail():
        raise RuntimeError("boom")

    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="boom"):
        run_overlapped(fast_fail, slow_ok)
    assert finished == ["ok"]  # the sibling ran to completion first


def test_run_overlapped_empty_and_session_tags_propagate(spark, monkeypatch):
    """No thunks is an empty result, not an error; with an active
    session every worker thread inherits the session's job tags (so
    overlapped jobs stay attributable and cancellable by tag) and no
    "Tags will not be inherited" warning is raised per thunk. The tags
    go on a throwaway session: in Spark 4.1 a tagged session can no
    longer be Java-serialized, which breaks later MLlib closures that
    capture it (see test_bm25_build_does_not_poison_mllib_closures)."""
    import warnings

    from pyspark.sql import SparkSession

    from mergers_acquisitions_predictions_spark.operators.util import (
        run_overlapped,
    )

    assert run_overlapped() == []
    tagged = spark.newSession()
    monkeypatch.setattr(SparkSession, "getActiveSession", lambda: tagged)
    tagged.addTag("overlap-tag")
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        tags = run_overlapped(tagged.getTags, tagged.getTags)
    assert all("overlap-tag" in t for t in tags), tags
    assert not [w for w in caught if "Tags will not be inherited" in str(w.message)]


def test_staged_reconcile_is_kind_agnostic_pq_residual(spark, tmp_path):
    """The exactly-once path composes with the PQ residual kind with
    zero caller config: `reconcile_index_from_snapshot` appends via
    the kind-agnostic `append_index`, so staged vectors arriving at a
    RESIDUAL IVF-PQ index are encoded with the persisted books under
    the residual flag — equal to the batch PQ append — and a replay
    still appends nothing."""
    from mergers_acquisitions_predictions_spark.operators.ann_index import (
        append_index,
        build_ivfpq_index,
        search_index,
    )
    from mergers_acquisitions_predictions_spark.streaming.serving import (
        ingest_batch_staged,
    )

    e = load_table(spark, SF, "embeddings")
    even = e.filter(F.col("vec_id") % 2 == 0)
    odd = e.filter(F.col("vec_id") % 2 == 1)
    q = e.filter(F.col("vec_id") < 5)
    staged_path = str(tmp_path / "pqres_staged_idx")
    batch_path = str(tmp_path / "pqres_plain_idx")
    for p in (staged_path, batch_path):
        build_ivfpq_index(
            even, p, n_cells=16, n_subspaces=8, n_codes=16, residual=True
        )
    staged = str(tmp_path / "staged_tbl")
    assert ingest_batch_staged(staged_path, staged, odd, batch_id=0) == odd.count()
    assert ingest_batch_staged(staged_path, staged, odd, batch_id=0) == 0
    append_index(odd, batch_path)
    got = sorted(
        map(
            tuple,
            search_index(spark, staged_path, q, k=5, n_probe=2).collect(),
        )
    )
    want = sorted(
        map(
            tuple,
            search_index(spark, batch_path, q, k=5, n_probe=2).collect(),
        )
    )
    assert got == want and len(want) == 25


def test_rebuild_if_drifted_trigger(spark, tmp_path):
    """Round 13: the drift-schedule REBUILD trigger. Below threshold
    it fires and the refit index serves bit-identically to a fresh
    full build (staged-generation commit — kind preserved); above
    threshold it is a no-op that reports the measured recall; the
    probe itself is kind-agnostic."""
    from mergers_acquisitions_predictions_spark.operators.ann_index import (
        append_index,
        build_ivfpq_index,
        index_recall_probe,
        rebuild_if_drifted,
    )

    e = load_table(spark, SF, "embeddings")
    q = e.filter(F.col("vec_id") < 5)
    path = str(tmp_path / "idx_drift")
    build_ivfsq_index(e.filter(F.col("vec_id") % 2 == 0), path, n_cells=16)
    append_index(e.filter(F.col("vec_id") % 2 == 1), path)
    probe = index_recall_probe(spark, path, q, e, k=5, n_probe=2)
    rows = {r["query_id"]: r["recall"] for r in probe.collect()}
    assert len(rows) == 5 and all(0.0 <= v <= 1.0 for v in rows.values())
    mean = sum(rows.values()) / len(rows)
    # above threshold: no-op, reports the same mean
    fired, got_mean = rebuild_if_drifted(
        spark, path, e, q, threshold=mean - 0.01, n_cells=16
    )
    assert not fired and abs(got_mean - mean) < 1e-9
    # below: fires; the refit index must equal a fresh full build
    fired, _ = rebuild_if_drifted(
        spark, path, e, q, threshold=1.01, n_cells=16
    )
    assert fired
    fresh = str(tmp_path / "idx_fresh")
    build_ivfsq_index(e, fresh, n_cells=16)
    got = sorted(
        map(tuple, search_index(spark, path, q, k=5, n_probe=2).collect())
    )
    want = sorted(
        map(tuple, search_index(spark, fresh, q, k=5, n_probe=2).collect())
    )
    assert got == want and len(want) == 25
    # kind-agnostic probe: PQ index goes through the ADC serve
    pq = str(tmp_path / "idx_pq_probe")
    build_ivfpq_index(e, pq, n_cells=16)
    assert index_recall_probe(spark, pq, q, e, k=5, n_probe=2).count() == 5
