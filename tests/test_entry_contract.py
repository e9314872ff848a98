"""Driver-contract invariants for __spark_entry__.py."""

from __future__ import annotations

import sys

sys.path.insert(0, "/root/repo")

import __spark_entry__ as E


def test_entry_smoke(spark):
    df = E.entry(spark)
    assert df.count() > 0
    assert df.schema == E.entry(spark).schema


def test_registry_shape():
    qs, oracles = E.queries(), E.oracle_sql()
    assert len(qs) >= 40
    assert set(oracles) <= set(qs)
    # every oracle is a non-trivial SQL string
    assert all(isinstance(s, str) and "SELECT" in s.upper() for s in oracles.values())


def test_driver_window_is_the_pinned_manifest():
    """The driver's CORRECTNESS gate verifies only the FIRST 50
    registry entries. The window is pinned as an explicit manifest
    (plans.DRIVER_WINDOW) so a module refactor cannot silently
    reshuffle which queries the driver checks — assert the registry's
    first 50 ARE that manifest, verbatim and in order."""
    from mergers_acquisitions_predictions_spark.plans import DRIVER_WINDOW, QUERIES

    assert len(DRIVER_WINDOW) == 50
    assert len(set(DRIVER_WINDOW)) == 50
    assert list(QUERIES)[:50] == DRIVER_WINDOW
    # Since round 6 every registered query carries an oracle — the
    # window (and in fact the whole registry) must never regress to
    # the weaker rows-only check.
    from mergers_acquisitions_predictions_spark.plans import ORACLES

    assert set(QUERIES) == set(ORACLES)


def test_driver_window_rotation_rule_r4():
    """Rotation rule (adopted round 4, VERDICT r3 ask #2): the window
    must contain (a) every query registered THIS round and (b) every
    query whose implementation or oracle changed since its last
    driver row — a driver row must postdate the code it certifies.
    This round that set is s13 (new) + the auto_cells/shortlist/cap/
    oracle changes; s04 is the r3 carry-over whose row predated its
    ivf_assign_literal rewrite.

    HISTORICAL round: asserted against the round-4 driver record
    (immutable), not the current window — the invariant is "those
    queries GOT their postdating driver rows in round 4", which stays
    true forever; pinning old sets to the live window made the test
    rot as later rounds rotated them out (observed round 6)."""
    import json
    import os

    root = os.path.join(os.path.dirname(__file__), "..")
    r4_rows = set(json.load(open(os.path.join(root, "CORRECTNESS_r04.json"))))

    changed_or_new_in_r4 = {
        "s13_persisted_index_topk",  # new: persisted-index serving
        "s04_ivf_ann_topk",  # stale r3 row + auto_cells rewire
        "s08_ivfpq_topk",  # auto_cells rewire
        "s10_ivfsq_topk",  # auto_cells rewire
        "s11_rrf_fusion",  # composes s04's changed oracle
        "s12_mmr_rerank",  # bucketed shortlist + typed MMR schema
        "d03_jaccard_pairs",  # max_df cap registered + oracle
        "d15_winnow_containment",  # self-join-free capped plan
        "d19_minhash_estimate",  # oracle zero-overlap symmetry
    }
    assert changed_or_new_in_r4 <= r4_rows


def test_driver_window_rotation_rule_r5():
    """Round-5 window under the postdate rule: every query REGISTERED
    this round (s14, s15) and every query whose implementation or
    oracle CHANGED since its last driver row must be in the window —
    the k_max 8→12 raise (d07/s03/s12 + composers s06/s07/s11), the
    ivf_topk memoization restructure (s04/s05), d03's adaptive capped
    plan, s13's artifact-path keying, and the m02/m05
    materialized-output oracles. The seven r1-era stragglers queued by
    the r4 note (plans/__init__ r4 comment) must all have slots.

    HISTORICAL round: asserted against the round-5 driver record —
    see the r4 test's note."""
    import json
    import os

    root = os.path.join(os.path.dirname(__file__), "..")
    r5_rows = set(json.load(open(os.path.join(root, "CORRECTNESS_r05.json"))))

    changed_or_new_in_r5 = {
        "s14_index_append_topk",  # new: frozen-geometry append
        "s15_stream_serve_replay",  # new: foreachBatch body replay
        "s16_index_append_drift",  # new: drift monitoring
        "d03_jaccard_pairs",  # adaptive capped plan
        "d07_lsh_embedding_neardups",  # k_max 12 constants
        "s03_lsh_ann_topk",  # k_max 12 + shared bucket frame
        "s04_ivf_ann_topk",  # ivf_topk memoization restructure
        "s05_ivf_kmeans_topk",  # ivf_topk signature/restructure
        "s06_hard_negatives",  # composes changed lsh_topk
        "s07_ann_recall",  # composes changed s03
        "s08_ivfpq_topk",  # coded-corpus memoization (pq)
        "s10_ivfsq_topk",  # coded-corpus memoization (sq)
        "s11_rrf_fusion",  # composes changed s03+s04
        "s12_mmr_rerank",  # k_max 12 + shared shortlist path
        "s13_persisted_index_topk",  # applicationId-keyed path
        "m02_lr_confusion",  # materialized-predictions oracle
        "m05_kmeans_clusters",  # materialized-assignments oracle
        "m08_pca_whiten",  # materialized-weights oracle
        "s09_ivfpq_kmeans_topk",  # materialized-codebooks oracle
        "d02_minhash_lsh_pairs",  # shared memoized banded frame
        "d06_lsh_verified_neardups",  # shared memoized banded frame
        "d09_dup_clusters",  # shared memoized banded frame
        "d14_cluster_canonicals",  # shared memoized banded frame
        "d17_components_star",  # shared memoized banded frame
        "d19_minhash_estimate",  # shared memoized banded frame
        "t28_unigram_logprob_quality",  # shared memoized unigram LM
        "t32_vocab_coverage",  # shared memoized unigram LM
        "t34_ccnet_buckets",  # shared memoized unigram LM
    }
    stale_r1 = {
        "q44_null_ordering",
        "q45_except_all_multiplicity",
        "t01_token_stats",
        "t02_clean_text",
        "u01_pandas_udf_charge",
        "u02_grouped_minmax_scale",
        "u03_multimodal_features",
    }
    assert (changed_or_new_in_r5 | stale_r1) <= r5_rows


def test_driver_window_rotation_rule_r6():
    """Round-6 window under the postdate rule: the three new queries
    (io01/io02 source-sink roundtrips, m09 AUC), every query changed
    since its last row — m02 (S9 hop), m03 (rows-only →
    value-checked), the atomic-publish/scratch-path handshake family
    (m05/m08/s05/s09), the scratch-reaper family (s13-s16), and every
    consumer of the hardened memoized_frame/memoized_literal (content
    fingerprints + thread lock run inside their plans) — plus the
    sixteen r2-era stale rows queued by the r5 note.

    HISTORICAL round: asserted against the round-6 driver record —
    see the r4 test's note."""
    import json
    import os

    root = os.path.join(os.path.dirname(__file__), "..")
    r6_rows = set(json.load(open(os.path.join(root, "CORRECTNESS_r06.json"))))

    changed_or_new_in_r6 = {
        "io01_csv_roundtrip",  # new: S3/S4/S7/S8 roundtrip
        "io02_corpus_dir_scan",  # new: S1/S2 corpus scan
        "io03_jsonl_roundtrip",  # new: JSONL + corrupt routing
        "m09_auc_rank_sum",  # new: M6 cross-engine
        "s17_filtered_index_topk",  # new: filtered (predicate) ANN
        "s18_index_compact_serve",  # new: append-accretion compaction
        "t36_stratified_split",  # new: exact-quota stratified split
        "t37_epoch_shuffle_shards",  # new: epoch shuffle + shard deal
        "m02_lr_confusion",  # S9 save/load hop + atomic publish
        "m03_lda_topics",  # artifact oracle (rows-only -> value)
        "m05_kmeans_clusters",  # atomic publish + scratch root
        "m08_pca_whiten",  # atomic publish + scratch root
        "s05_ivf_kmeans_topk",  # atomic publish + scratch root
        "s09_ivfpq_kmeans_topk",  # atomic publish + scratch root
        "s13_persisted_index_topk",  # reaper + peek fingerprint
        "s14_index_append_topk",  # reaper + peek fingerprint
        "s15_stream_serve_replay",  # reaper + qbatch mtime
        "s16_index_append_drift",  # composes s13+s14
        # hardened memo (util.py) consumers
        "d02_minhash_lsh_pairs",
        "d05_embedding_neardups",
        "d06_lsh_verified_neardups",
        "d07_lsh_embedding_neardups",
        "d09_dup_clusters",
        "d11_semantic_dedup",
        "d14_cluster_canonicals",
        "d17_components_star",
        "d19_minhash_estimate",
        "s03_lsh_ann_topk",
        "s04_ivf_ann_topk",
        "s06_hard_negatives",
        "s07_ann_recall",
        "s08_ivfpq_topk",
        "s10_ivfsq_topk",
        "s11_rrf_fusion",
        "s12_mmr_rerank",
        "t28_unigram_logprob_quality",
        "t32_vocab_coverage",
        "t34_ccnet_buckets",
        "u03_multimodal_features",  # byte-math oracle added
        "t25_bpe_merges",  # BPE fit re-derived in SQL
    }
    # Six r2-era fills were displaced and queue first for round 7:
    # t27/u04 by the t25/u03 (b)-priority upgrades, t17/t18/t19/t20
    # by the late-round (a) registrations s17/s18/t36/t37 (new
    # registrations outrank stale-row refresh under the postdate
    # rule).
    stale_r2 = {
        "t06_doc_fingerprints",
        "t07_exact_dedup_summary",
        "t08_vocabulary",
        "t09_tfidf_top_terms",
        "t10_language_id",
        "t11_quality_scores",
        "t12_bpe_token_count",
        "t13_training_prep_funnel",
        "t15_pii_redaction",
        "t16_repetition_stats",
    }
    assert (changed_or_new_in_r6 | stale_r2) <= r6_rows


def test_driver_window_rotation_rule_r7():
    """Round-7 window under the postdate rule + the r7 shared-layer
    amendment (plans/__init__.py): (a) io04 (new — layout family
    driver row, VERDICT r6 #5); (b) s12 (artifact-hop skip), the
    handshake-artifact family whose oracle strings moved to the
    per-user scratch root (ADVICE r6), and the persisted-index family
    whose pathing/compaction commit moved to scratch_root()/the
    Hadoop FS API (VERDICT r6 #2); (c) ALL remaining pre-r4 staleness
    — the six r2-era rows and all 26 r3-era rows (VERDICT r6 #1's
    "no row older than r4" done-condition).

    HISTORICAL round: asserted against the round-7 driver record —
    see the r4 test's note (converted from the live-window form once
    CORRECTNESS_r07 landed, per the r7 rotation amendment note)."""
    import json
    import os

    root = os.path.join(os.path.dirname(__file__), "..")
    r7_rows = set(json.load(open(os.path.join(root, "CORRECTNESS_r07.json"))))

    new_in_r7 = {"io04_layout_roundtrip"}
    changed_in_r7 = {
        "s12_mmr_rerank",  # publish skipped when artifact current
        "io01_csv_roundtrip",  # oracle string: scratch root moved
        "io02_corpus_dir_scan",
        "io03_jsonl_roundtrip",
        "m02_lr_confusion",
        "m03_lda_topics",
        "m05_kmeans_clusters",
        "m08_pca_whiten",
        "m09_auc_rank_sum",
        "s05_ivf_kmeans_topk",
        "s09_ivfpq_kmeans_topk",
        "s13_persisted_index_topk",  # _scratch_index_path root
        "s14_index_append_topk",
        "s15_stream_serve_replay",
        "s16_index_append_drift",
        "s17_filtered_index_topk",
        "s18_index_compact_serve",  # Hadoop-FS compaction commit
    }
    stale_pre_r4 = {
        # r2-era (queued first by the r6 note)
        "t17_winnow_fingerprints",
        "t18_sequence_packing",
        "t19_quality_rank_filter",
        "t20_pack_manifest",
        "t27_snapshot_diff",
        "u04_lemmatize_pandas_udf",
        # complete r3-era family
        "d08_prefix_jaccard_pairs",
        "d12_incremental_neardup",
        "d13_simhash_neardups",
        "d16_dup_span_coverage",
        "d18_span_trim",
        "j04_fuzzy_multipass",
        "j05_event_window_range_join",
        "m01_tfidf_features",
        "m07_stratified_sample",
        "q46_unpivot_measures",
        "q47_table_profile",
        "q48_percentile_cont",
        "q49_relative_rank",
        "q50_join_key_skew",
        "t14_token_chunks",
        "t21_source_mixture",
        "t22_funnel_accounting",
        "t23_interleaved_order",
        "t24_shingle_diversity",
        "t26_bpe_encode",
        "t29_bigram_backoff_quality",
        "t30_gopher_rules",
        "t31_importance_sample",
        "t33_token_entropy",
        "t35_source_overlap_matrix",
        "u05_frame_sample_stats",
    }
    want = new_in_r7 | changed_in_r7 | stale_pre_r4
    assert want == r7_rows  # exactly filled the 50 slots


def test_driver_window_rotation_rule_r8():
    """Round-8 window under the postdate rule + the r7 shared-layer
    amendment: (a) s19 (new — the sampled centroid-fit path,
    floor-overridden, artifact-replay oracle; VERDICT r7 #2);
    (b) io04 (write_bucketed's orphan move-aside protocol — ADVICE
    r7), s05 (kmeans_centroids gained the fit_floor gate), and the
    persisted-index family on the new pointer-file commit
    (s13/s14/s15/s17/s18 — VERDICT r7 #4; s16's own code and oracle
    are untouched this round, it composes the two in-window members
    and keeps its r7-fresh row);
    (c) the ENTIRE r4-era cohort — 42 rows, the post-r7 staleness
    frontier (VERDICT r7 #1: after this round no driver row predates
    round 5). Asserted against the immutable CORRECTNESS_r08 record
    (converted from the live-window form once the record landed, the
    standing pattern)."""
    import json
    import os

    new_in_r8 = {"s19_sampled_kmeans_topk"}
    changed_in_r8 = {
        "io04_layout_roundtrip",  # write_bucketed orphan protocol
        "s05_ivf_kmeans_topk",  # kmeans_centroids fit_floor gate
        "s13_persisted_index_topk",  # pointer-file serve resolution
        "s14_index_append_topk",  # append through the live pointer
        "s15_stream_serve_replay",  # serve_batch → pointer resolution
        "s17_filtered_index_topk",  # filtered serve → pointer
        "s18_index_compact_serve",  # pointer-file compaction commit
    }
    # the r4-era cohort = exactly the queries whose LATEST driver row
    # is round 4 — derived from the immutable records, not hardcoded
    root = os.path.join(os.path.dirname(__file__), "..")
    latest: dict[str, int] = {}
    for rnd in range(1, 8):
        for name in json.load(
            open(os.path.join(root, f"CORRECTNESS_r0{rnd}.json"))
        ):
            latest[name] = rnd
    stale_r4 = {name for name, rnd in latest.items() if rnd == 4}
    assert len(stale_r4) == 42
    want = new_in_r8 | changed_in_r8 | stale_r4
    r8_rows = set(
        json.load(open(os.path.join(root, "CORRECTNESS_r08.json")))
    )
    assert want == r8_rows  # exactly filled the 50 slots


def test_driver_window_rotation_rule_r9():
    """Round-9 window under the postdate rule + the r7 shared-layer
    amendment: (a) s20 (exact-rerank serve, VERDICT r8 #2) and s21
    (dedup-before-index composite, VERDICT r8 #5); (b) the
    persisted-index family on the generation-scoped geometry +
    staged-rebuild commit (ADVICE r8: s13/s14/s15/s17/s18), plus
    s05/s19 as the supplied-centroid representatives of
    collect_centroid_rows' content-canonical sort (s16 stays out on
    the r8 precedent — own plan and oracle untouched, composes
    in-window members, r8-fresh row); (c) the ENTIRE r5-era cohort
    (21 rows incl. streaming q17 — VERDICT r8 #1) + the 20
    alphabetically-first of the 33 equal-staleness r6 rows (the
    name-order tie-break makes the fill auditable). Asserted against
    the immutable CORRECTNESS_r09 record (converted from the
    live-window form once the record landed, the standing pattern)."""
    import json
    import os

    new_in_r9 = {"s20_reranked_index_topk", "s21_dedup_index_serve"}
    changed_in_r9 = {
        "s05_ivf_kmeans_topk",  # collect_centroid_rows sort (supplied fit)
        "s13_persisted_index_topk",  # single-resolution serve, file sidecar
        "s14_index_append_topk",  # append resolves name+meta once
        "s15_stream_serve_replay",  # serve_batch → new resolution
        "s17_filtered_index_topk",  # filtered serve → new resolution
        "s18_index_compact_serve",  # _commit_generation compaction
        "s19_sampled_kmeans_topk",  # collect_centroid_rows sort (sampled fit)
    }
    # staleness cohorts derived from the immutable records
    root = os.path.join(os.path.dirname(__file__), "..")
    latest: dict[str, int] = {}
    for rnd in range(1, 9):
        for name in json.load(
            open(os.path.join(root, f"CORRECTNESS_r0{rnd}.json"))
        ):
            latest[name] = rnd
    stale_r5 = {name for name, rnd in latest.items() if rnd == 5}
    assert len(stale_r5) == 21
    r6 = sorted(name for name, rnd in latest.items() if rnd == 6)
    assert len(r6) == 33
    fill_r6 = set(r6[: 50 - len(new_in_r9 | changed_in_r9 | stale_r5)])
    want = new_in_r9 | changed_in_r9 | stale_r5 | fill_r6
    r9_rows = set(
        json.load(open(os.path.join(root, "CORRECTNESS_r09.json")))
    )
    assert want == r9_rows  # exactly filled the 50 slots


def test_driver_window_rotation_rule_r10():
    """Round-10 window under the postdate rule + the r7 shared-layer
    amendment: (a) s22 (the composed dedup+rerank serve — VERDICT r9
    #1, oracle machinery pre-certified in round 9), s23 (the
    persisted IVF-PQ index) and s24 (the late-interaction maxsim
    re-rank serve), all registered round 10; (b) s08/s09/s10
    whose OWN plans changed (the hof_bind encode restructure, SCALE.md
    §7p — bit-identical values, different expression tree) plus
    s13/s14/s18 as representative consumers of the index-infra
    changes (generation-keyed meta memo + swap-failure retention,
    ADVICE r9 — the memo machinery is the amendment's shared-layer
    class; the three cover the build-prime, append-prime, and
    compact-prime/serve-peek sites, while s15/s17/s20 ride identical
    code on r9-fresh rows); (c) the ENTIRE 13-row r6-era cohort
    (VERDICT r9 #2) + the 28 alphabetically-first of the 43-row r7
    cohort (s09 is r7-stale but already (b)-mandatory). Asserted
    against the immutable CORRECTNESS_r10 record (converted from the
    live-window form once the record landed, the standing pattern)."""
    import json
    import os

    new_in_r10 = {
        "s22_dedup_rerank_serve",
        "s23_pq_index_topk",
        "s24_maxsim_rerank_serve",
    }
    changed_in_r10 = {
        "s08_ivfpq_topk",  # hof_bind encode + adc table (own plan)
        "s09_ivfpq_kmeans_topk",  # same via ivfpq_topk (own plan)
        "s10_ivfsq_topk",  # hof_bind encode (own plan)
        "s13_persisted_index_topk",  # build-prime memo key + serve peek
        "s14_index_append_topk",  # append-prime memo key
        "s18_index_compact_serve",  # compact-prime + _commit_generation
    }
    # staleness cohorts derived from the immutable records
    root = os.path.join(os.path.dirname(__file__), "..")
    latest: dict[str, int] = {}
    for rnd in range(1, 10):
        for name in json.load(
            open(os.path.join(root, f"CORRECTNESS_r0{rnd}.json"))
        ):
            latest[name] = rnd
    stale_r6 = {name for name, rnd in latest.items() if rnd == 6}
    assert len(stale_r6) == 13
    r7 = sorted(
        name
        for name, rnd in latest.items()
        if rnd == 7 and name not in changed_in_r10
    )
    assert len(r7) == 42  # 43-row cohort minus the (b)-mandatory s09
    fill_r7 = set(
        r7[: 50 - len(new_in_r10 | changed_in_r10 | stale_r6)]
    )
    want = new_in_r10 | changed_in_r10 | stale_r6 | fill_r7
    r10_rows = set(
        json.load(open(os.path.join(root, "CORRECTNESS_r10.json")))
    )
    assert want == r10_rows  # exactly filled the 50 slots


def test_driver_window_rotation_rule_r11():
    """Round-11 window under the postdate rule + the r7 shared-layer
    amendment: (a) s30 (the persisted-token-index ColBERT serve —
    VERDICT r10 #2), s31 (the materialized token-table serve —
    VERDICT r10 #3) and s32 (the streaming maxsim-rescore replay —
    VERDICT r10 #6) and s33 (s30's route on the compressed IVF-PQ
    token-index kind), all registered round 11; (b) s29 (own plan:
    books now fitted through the sampled path — VERDICT r10 #4), s28
    (own plan: the composite-id injectivity guard rides its token
    scan — ADVICE r10) plus s24 and s15 as representative consumers
    of the maxsim/serving layer changes (the dim-probe and rerank>=k
    guards); (c) the five never-driver-checked late registrations
    (s25/s26/s27 — s28/s29 already (b)) + the ENTIRE 14-row r7-era
    cohort (VERDICT r10 #1) + the 24 alphabetically-first of the
    43-row r8 cohort (name-order tie-break, the standing audit rule).
    Asserted against the immutable CORRECTNESS_r11 record (converted
    from the live-window form once the record landed, the standing
    pattern)."""
    import json
    import os

    new_in_r11 = {
        "s30_colbert_persisted_serve",
        "s31_token_table_serve",
        "s32_stream_rescore_replay",
        "s33_colbert_pq_serve",
        "s34_index_cell_stats",
    }
    changed_in_r11 = {
        "s29_pq_learned_index_topk",  # sampled-fit books (own plan)
        "s28_colbert_token_retrieval",  # composite-id guard (own plan)
        "s24_maxsim_rerank_serve",  # maxsim_rerank layer representative
        "s15_stream_serve_replay",  # serve_batch layer representative
    }
    never_checked = {"s25_pq_rerank_topk", "s26_maxsim_exact_topk",
                     "s27_maxsim_token_table"}
    root = os.path.join(os.path.dirname(__file__), "..")
    latest: dict[str, int] = {}
    for rnd in range(1, 11):
        for name in json.load(
            open(os.path.join(root, f"CORRECTNESS_r{rnd:02d}.json"))
        ):
            latest[name] = rnd
    stale_r7 = {name for name, rnd in latest.items() if rnd == 7}
    assert len(stale_r7) == 14
    r8 = sorted(name for name, rnd in latest.items() if rnd == 8)
    assert len(r8) == 43
    mandatory = new_in_r11 | changed_in_r11 | never_checked | stale_r7
    fill_r8 = set(r8[: 50 - len(mandatory)])
    assert len(fill_r8) == 24
    want = mandatory | fill_r8
    r11_rows = set(
        json.load(open(os.path.join(root, "CORRECTNESS_r11.json")))
    )
    assert want == r11_rows  # exactly filled the 50 slots


def test_driver_window_rotation_rule_r12():
    """Round-12 window under the postdate rule + the r7 shared-layer
    amendment: (a) s35 (the one-call composed persisted ColBERT serve
    — VERDICT r11 #3) and s36 (the ragged-token-count retrieval —
    VERDICT r11 #4), both registered round 12; (b) s30/s33 whose OWN
    serve entry changed (`maxsim_search_tokens_persisted`: the
    recorded-n_tokens cross-check, token_meta sniff, and token-table
    route — ADVICE r11), s29/s09 whose OWN fit path changed
    (`pq_kmeans_codebooks`' lazy sample-sizing count — ADVICE r11),
    plus s13 as representative consumer of the
    `build_ivfsq_index(extra_meta=)` sidecar hook (shared index-build
    layer; the non-default path rides s30/s33/s35/s36); (c) the
    ENTIRE 19-row r8 cohort — the staleness frontier VERDICT r11 #2
    names — + the 20 alphabetically-first of the 44-row r9 cohort
    (name-order tie-break, the standing audit rule; q45/s01/s02/s03
    moved to the r13 frontier as s37/s38/s39/s40's (a)-slots shrank
    the fill). Asserted against the immutable CORRECTNESS_r12 record
    (converted from the live-window form once the record landed, the
    standing pattern)."""
    import json
    import os

    new_in_r12 = {
        "s35_colbert_one_call_serve",
        "s36_colbert_ragged_tokens",
        "s37_pq_residual_topk",
        "s38_pq_residual_learned_topk",
        "s39_colbert_residual_pq_serve",
        "s40_stream_index_ingest",
    }
    changed_in_r12 = {
        "s30_colbert_persisted_serve",  # own serve entry (meta-T check)
        "s33_colbert_pq_serve",  # own serve entry (PQ kind dispatch)
        "s29_pq_learned_index_topk",  # pq_kmeans_codebooks lazy count
        "s09_ivfpq_kmeans_topk",  # same fit path (own plan)
        "s13_persisted_index_topk",  # build extra_meta representative
    }
    root = os.path.join(os.path.dirname(__file__), "..")
    latest: dict[str, int] = {}
    for rnd in range(1, 12):
        for name in json.load(
            open(os.path.join(root, f"CORRECTNESS_r{rnd:02d}.json"))
        ):
            latest[name] = rnd
    stale_r8 = {name for name, rnd in latest.items() if rnd == 8}
    assert len(stale_r8) == 19
    r9 = sorted(name for name, rnd in latest.items() if rnd == 9)
    assert len(r9) == 44
    mandatory = new_in_r12 | changed_in_r12 | stale_r8
    fill_r9 = set(r9[: 50 - len(mandatory)])
    assert len(fill_r9) == 20
    want = mandatory | fill_r9
    r12_rows = set(
        json.load(open(os.path.join(root, "CORRECTNESS_r12.json")))
    )
    assert want == r12_rows  # exactly filled the 50 slots


def test_missing_sf_dir_fails_cleanly(spark):
    """A wrong sf_dir must surface as Spark's AnalysisException (path
    not found) at plan/collect time — never a hang, never a silent
    empty result."""
    import pytest
    from pyspark.errors import AnalysisException

    with pytest.raises(AnalysisException):
        E.queries()["q01_pricing_summary"](spark, "/nonexistent/sf9").count()


def test_driver_window_rotation_rule_r13():
    """Round-13 window under the postdate rule + the r7 shared-layer
    amendment: (a) s41 (exactly-once staged ingest — VERDICT r12 #3)
    and s42 (ingest → accretion monitor → compact → serve — VERDICT
    r12 #5), both registered round 13; (b) the five consumers of the
    OWN serve entry `maxsim_search_tokens_persisted`
    (s30/s33/s35/s36/s39 — the warm-session n_tokens cross-check,
    ADVICE r12), s38 (OWN fit `pq_kmeans_residual_codebooks` gained
    the BLAS assignment option — VERDICT r12 #2), s40 (OWN plan:
    `ingest_batch` signature — ADVICE r12), plus s13/s37 as the two
    kinds' representative consumers of the `_with_extra_meta`
    collision guard (shared build layer); (c) the ENTIRE 24-row
    r9-era cohort — the staleness frontier VERDICT r12 #1 names — +
    the 6 alphabetically-first of the 47-row r10 cohort (name-order
    tie-break, the standing audit rule; m07, m05, m03, m02, m01, j05,
    j04, io03, then io02 moved to the r14 frontier as the round's
    (a)-slots — s43/s44/s45/s46/s47/t38/t39/t40/t41 — shrank the
    fill). LIVE round: asserted
    against the current window; convert to the CORRECTNESS_r13 record
    once it exists."""
    import json
    import os

    from mergers_acquisitions_predictions_spark.plans import DRIVER_WINDOW

    new_in_r13 = {
        "s41_stream_exactly_once_ingest",
        "s42_stream_ingest_compact_serve",
        "s43_index_recall_probe",
        "s44_stream_append_only_ingest",
        "s45_sharded_index_serve",
        "s46_hybrid_bm25_dense",
        "s47_hybrid_persisted_serve",
        "t38_bm25_topk",
        "t39_bm25_persisted_serve",
        "t40_bm25_append_serve",
        "t41_bm25_stream_ingest",
    }
    changed_in_r13 = {
        # maxsim_search_tokens_persisted warm-path fix (own entry)
        "s30_colbert_persisted_serve",
        "s33_colbert_pq_serve",
        "s35_colbert_one_call_serve",
        "s36_colbert_ragged_tokens",
        "s39_colbert_residual_pq_serve",
        "s38_pq_residual_learned_topk",  # residual fit assign_blas
        "s40_stream_index_ingest",  # ingest_batch signature
        "s13_persisted_index_topk",  # extra_meta guard (SQ8 repr.)
        "s37_pq_residual_topk",  # extra_meta guard (PQ repr.)
    }
    root = os.path.join(os.path.dirname(__file__), "..")
    latest: dict[str, int] = {}
    for rnd in range(1, 13):
        for name in json.load(
            open(os.path.join(root, f"CORRECTNESS_r{rnd:02d}.json"))
        ):
            latest[name] = rnd
    stale_r9 = {name for name, rnd in latest.items() if rnd == 9}
    assert len(stale_r9) == 24
    r10 = sorted(name for name, rnd in latest.items() if rnd == 10)
    assert len(r10) == 47
    mandatory = new_in_r13 | changed_in_r13 | stale_r9
    fill_r10 = set(r10[: 50 - len(mandatory)])
    assert len(fill_r10) == 6
    want = mandatory | fill_r10
    assert want == set(DRIVER_WINDOW)  # exactly fills the 50 slots


def test_tooling_imports_resolve():
    """Every package name the benchmark (perfbench/), the scripts and
    bench.py import — or wrap by name through bench.py's `_staged` /
    scripts/stagesplit.py's STAGED table — exists, so a rename in the
    package cannot silently break them. AST walk, no Spark session."""
    import ast
    import importlib
    import pathlib

    pkg = "mergers_acquisitions_predictions_spark"
    root = pathlib.Path(__file__).resolve().parents[1]
    files = [
        *sorted((root / "perfbench").glob("*.py")),
        *sorted((root / "scripts").glob("*.py")),
        root / "bench.py",
    ]

    def resolves(module: str, name: str) -> bool:
        mod = importlib.import_module(module)
        if hasattr(mod, name):
            return True
        try:
            importlib.import_module(f"{module}.{name}")
            return True
        except ModuleNotFoundError:
            return False

    missing = []
    for f in files:
        tree = ast.parse(f.read_text())
        aliases: dict[str, str] = {}  # `import pkg.x as X` → X: pkg.x
        for node in ast.walk(tree):
            if isinstance(node, ast.Import):
                for a in node.names:
                    if a.name.split(".")[0] == pkg:
                        importlib.import_module(a.name)
                        aliases[a.asname or a.name] = a.name
            elif isinstance(node, ast.ImportFrom) and (node.module or "").split(".")[0] == pkg:
                missing += [
                    f"{f.name}: {node.module}.{a.name}"
                    for a in node.names
                    if not resolves(node.module, a.name)
                ]
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and getattr(node.func, "id", None) == "_staged"
                and isinstance(node.args[0], ast.Name)
                and node.args[0].id in aliases
            ):
                module, name = aliases[node.args[0].id], node.args[1].value
                if not resolves(module, name):
                    missing.append(f"{f.name}: _staged {module}.{name}")
            if isinstance(node, ast.Assign) and getattr(node.targets[0], "id", None) == "STAGED":
                for mod_path, name, _label in ast.literal_eval(node.value):
                    if not resolves(f"{pkg}.{mod_path}", name):
                        missing.append(f"{f.name}: STAGED {mod_path}.{name}")
    assert not missing, missing
