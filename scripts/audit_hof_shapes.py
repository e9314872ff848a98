"""HOF evaluation-count audit (VERDICT r9 #3) — the §7o-r9 lesson
swept across the registered operators that chain higher-order
functions: HOFs evaluate INTERPRETED, and a composed input expression
(spliced in by the caller or inlined by CollapseProject) re-evaluates
on every lambda element that reads it. This script pins the
AUDITED-GOOD structural shapes in the optimized plans (the tree the
interpreter walks), so a future refactor that re-introduces a
fold-inside-lambda composition fails loudly here.

Audited shapes (round 10, full findings in SCALE.md §7p):

- s10/s08 in-memory encode: the corpus-side unit transform must be
  its own ``__unit`` attribute computed BELOW the cell shuffle
  (`ann_index._encoded`, the encode the persisted build uses too), so
  the encode above the shuffle reads it O(1) per code dimension. An
  encode that spliced `_unit(...)` into the per-dimension lambda would
  pay d² unit re-derivations per row (and M·K·d for PQ), invisible at
  64d bench scale, fatal at embedding dims.
- s13 persisted serve / s10 in-memory serve / s02 brute force: the
  scoring fold ABOVE the join must read attributes only — every
  unit-divide in the plan sits BELOW the join on the (broadcast,
  query-batch-sized) side. The Join/BroadcastExchange is the
  operator-level barrier.
- t33/t16: tokenize (regexp_extract_all) is multi-referenced, so
  CollapseProject's non-cheap rule must keep it ONE concrete
  attribute under the entropy/bigram scans.
- d16: tokenize appears once per scan leg (the persisted `wins`
  frame prints its cached plan per reference) — each occurrence is
  once-per-row in its own Project, never inside a gram lambda.

Run:  python scripts/audit_hof_shapes.py   (exits nonzero on FAIL)
"""

import os
import re
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from pyspark.sql import SparkSession  # noqa: E402

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")

#: the unit transform's divide — the expensive producer whose
#: placement this audit polices (l2 folds multiply, never divide)
DIV = r"as double\) / "
#: the hof_bind idiom wrapping a unit transform
BOUND = "element_at(transform(array("  # the hof_bind wrapper (any bound expr)


def optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def main() -> int:
    spark = (
        SparkSession.builder.master("local[4]")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    from mergers_acquisitions_predictions_spark.plans import QUERIES

    failures = []

    def check(name, ok, what):
        print(f"{'PASS' if ok else 'FAIL'} {name} — {what}")
        if not ok:
            failures.append(name)

    def plan_of(qname):
        return optimized(QUERIES[qname](spark, SF))

    def above_first_join(plan: str) -> str:
        m = re.search(r"^\s*[:+ ]*\+- Join ", plan, re.M)
        return plan[: m.start()] if m else plan

    # --- encode stages: the corpus-side unit-divide is the ``__unit``
    # attribute below the cell shuffle; the encode projection above it
    # (the one producing the codes column) holds no unit-divide.
    for qname, codes in [("s10_ivfsq_topk", "sq"), ("s08_ivfpq_topk", "pq")]:
        plan = plan_of(qname)
        lines = plan.split("\n")
        enc = [l for l in lines if f" AS {codes}#" in l]
        unit = [l for l in lines if re.search(DIV, l) and " AS __unit#" in l]
        check(
            f"{qname} encode",
            bool(enc) and bool(unit) and not any(re.search(DIV, l) for l in enc),
            f"{len(unit)} __unit projects below the shuffle, {len(enc)} "
            "encode projects reading it (no unit-divide inside)",
        )
        check(
            f"{qname} scoring",
            not re.search(DIV, above_first_join(plan)),
            "no unit re-derivation above the join (fold reads attrs)",
        )

    # --- serve/scoring stages: nothing expensive above the join.
    for qname in ["s13_persisted_index_topk", "s02_cosine_topk"]:
        plan = plan_of(qname)
        top = above_first_join(plan)
        check(
            f"{qname} scoring",
            not re.search(DIV, top) and "regexp_extract_all" not in top,
            "scoring fold consumes join-output attributes only",
        )

    # --- the rerank serve (the shape the round-10 sweep MISSED on its
    # first pass — caught by timing the 1M×200 serve, +20.9 s): the
    # exact-rescore stage must unit-normalize ONLY joined survivors —
    # every unit-divide in the plan is either hof_bind-bound (the
    # post-join rescore, norm bound so CollapseProject cannot inline
    # the fold into the per-element divide) or sits on the
    # query-batch-sized side below a join.
    plan = plan_of("s20_reranked_index_topk")
    div_lines = [l for l in plan.split("\n") if re.search(DIV, l)]
    unbound_unjoined = [
        l
        for l in div_lines
        if BOUND not in l and "query_id" not in l.split("AS qu")[0][-400:]
    ]
    check(
        "s20_reranked_index_topk rescore",
        all(BOUND in l or "AS qu" in l for l in div_lines),
        f"{len(div_lines)} unit-divide projects: each bound or the "
        f"query-side qu ({len(unbound_unjoined)} neither)",
    )

    # --- tokenize as a concrete attribute under in-row scans.
    for qname, bound in [
        ("t33_token_entropy", 1),
        ("t16_repetition_stats", 1),
        ("d16_dup_span_coverage", 3),  # wins cached plan ×2 refs + sizes
    ]:
        plan = plan_of(qname)
        n = len(re.findall(r"regexp_extract_all", plan))
        check(
            f"{qname} tokenize",
            n <= bound,
            f"{n} tokenize occurrences (bound {bound}), each once-per-row",
        )

    spark.stop()
    print("FAILURES:", failures or "none")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
