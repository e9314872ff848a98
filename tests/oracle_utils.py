"""Local mirror of the driver's DuckDB-oracle correctness check:
run the Spark query and the oracle SQL on the same parquet, then
compare row count + column names + values order-insensitively. The
same frame also passes the schema contract and the plan lint below.

Comparison is EXACT (bit-level for floats): queries are engineered so
both engines produce identical doubles (same rounding, same reduction
order). If this ever needs a tolerance, the query is mis-designed for
the driver's value-hash gate — fix the query, not the test.
"""

from __future__ import annotations

import duckdb
import pandas as pd

from mergers_acquisitions_predictions_spark.sources.readers import TABLES

# PLAN LINT — no silent scale cliffs. The physical plan of every
# registered query must not contain a CartesianProduct or
# BroadcastNestedLoopJoin — the two shapes that are O(n·m) at scale —
# except where the quadratic product IS the declared semantics
# (allowlisted below with the reason). A refactor that breaks an
# equi-key join condition (e.g. drops a band/bucket/cell key) turns a
# hash join into a BNLJ without failing any value test at sf0.001;
# the parity sweep catches it on the frame it already builds.

#: name -> reason. Two legitimate families: (a) the quadratic
#: product IS the declared semantics; (b) a BroadcastNestedLoopJoin
#: against a side that is provably TINY and input-size-independent
#: (a 1-row scalar aggregate or a k-row centroid table) — linear in
#: the corpus, the textbook scalar-subquery/fan-out plan.
ALLOW = {
    # (a) quadratic by declared semantics
    "d05_embedding_neardups": "exact all-pairs cosine: the small-n oracle anchor for d07/d11",
    "q35_cross_join_grid": "deliberate small-dims cross join building a dense grid",
    "s02_cosine_topk": "brute-force baseline: broadcast query set x corpus is O(q*n) by definition",
    "s07_ann_recall": "embeds s02's brute-force EXACT baseline (the referent recall is measured "
    "against, O(q*n) on a query SAMPLE by definition); the recall join itself is equi-keyed",
    "s26_maxsim_exact_topk": "exact late-interaction baseline: broadcast query set x corpus "
    "all-pairs is O(q*n) by definition (s24 is the scale path — SQ8 shortlist + maxsim rescore)",
    "s43_index_recall_probe": "embeds s02's brute-force EXACT baseline as the probe's ground "
    "truth (s07's rule pointed at the persisted lifecycle): O(q*n) on a query SAMPLE is what "
    "a recall probe costs by definition; the served side stays partition-pruned",
    # (b) BNLJ against a bounded broadcast side
    "q23_scalar_subquery": "1-row scalar aggregate broadcast",
    "q37_any_all_semantics": "1-row min/max aggregate broadcast (ANY/ALL rewrite)",
    "t09_tfidf_top_terms": "1-row doc-count broadcast for the IDF term",
    "t38_bm25_topk": "1-row (N, avgdl) corpus-stats broadcast for the BM25 "
    "normalizer (t09's rule); every other join is equi-keyed on term/doc_id",
    "s46_hybrid_bm25_dense": "embeds t38's 1-row corpus-stats broadcast (and "
    "s02's declared-exact dense baseline); the fusion join is equi-keyed",
    "t39_bm25_persisted_serve": "1-row persisted stats-sidecar broadcast "
    "(t38's rule; the workload-derivation embeds t09's 1-row doc-count); the "
    "postings scan is In-pushdown pruned and every join is equi-keyed",
    "t40_bm25_append_serve": "t39's serve shape (1-row stats-sidecar "
    "broadcast + t09 workload derivation) over the exact-merge appended "
    "artifact; every join is equi-keyed",
    "t41_bm25_stream_ingest": "t39's serve shape over the stream-reconciled "
    "artifact (1-row stats-sidecar broadcast + t09 workload derivation); "
    "every join is equi-keyed",
    "s47_hybrid_persisted_serve": "embeds t39's 1-row stats-sidecar "
    "broadcast on the lexical route; the dense route is the pruned s13 "
    "serve and the fusion join is equi-keyed",
    "t19_quality_rank_filter": "1-row total-count broadcast for the decile cut",
}

QUADRATIC = ("CartesianProduct", "BroadcastNestedLoopJoin")


def assert_no_quadratic_joins(name: str, plan: str) -> None:
    found = [b for b in QUADRATIC if b in plan]
    assert name in ALLOW or not found, f"{name}: {found} in physical plan"


def executed_plan(spark, name: str, sf_dir: str, plans: dict) -> str:
    """The executed-plan text of query ``name`` at ``sf_dir``: the one
    the parity sweep recorded in ``plans``, else built now."""
    from mergers_acquisitions_predictions_spark.plans import QUERIES

    if (sf_dir, name) not in plans:
        sdf = QUERIES[name](spark, sf_dir)
        plans[(sf_dir, name)] = sdf._jdf.queryExecution().executedPlan().toString()
    return plans[(sf_dir, name)]


def run_oracle(sql: str, sf_dir: str) -> pd.DataFrame:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    return con.execute(sql).df()


def normalize(pdf: pd.DataFrame) -> pd.DataFrame:
    out = pdf.reindex(sorted(pdf.columns), axis=1)
    if len(out):
        out = out.sort_values(by=list(out.columns), na_position="first")
    return out.reset_index(drop=True)


def assert_query_matches_oracle(
    spark, name: str, sf_dir: str, plans: dict | None = None
) -> None:
    """Schema contract, plan lint and oracle parity of query ``name``
    at ``sf_dir``, all on one built frame; its executed-plan text is
    recorded in ``plans`` under (sf_dir, name) when given."""
    from mergers_acquisitions_predictions_spark.plans import ORACLES, QUERIES

    sdf = QUERIES[name](spark, sf_dir)
    # schema contract of every registered query (`__spark_entry__.
    # queries()` is `dict(QUERIES)`): non-empty, unique column names
    assert sdf.columns, name
    assert len(set(sdf.columns)) == len(sdf.columns), f"{name}: duplicate col names"
    plan = sdf._jdf.queryExecution().executedPlan().toString()
    if plans is not None:
        plans[(sf_dir, name)] = plan
    assert_no_quadratic_joins(name, plan)
    got = normalize(sdf.toPandas())
    want = normalize(run_oracle(ORACLES[name], sf_dir))
    assert list(got.columns) == list(want.columns), (
        f"{name}: column mismatch {list(got.columns)} vs {list(want.columns)}"
    )
    assert len(got) == len(want), f"{name}: row count {len(got)} vs {len(want)}"
    pd.testing.assert_frame_equal(got, want, check_dtype=False, check_exact=True)
