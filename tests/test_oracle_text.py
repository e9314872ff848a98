"""The text of every DuckDB oracle is pinned, without Spark.

A refactor of the oracle generators must leave every registered oracle
and every oracle a test composes unchanged. The digest is sha256 over
the sorted ``name\\0sql\\0`` pairs, with the scratch root replaced by
``<scratch>`` (the artifact paths follow $SPARK_GRAFT_SCRATCH) and
whitespace runs collapsed to one blank. A deliberate oracle change
updates the pinned digest in the same change.
"""

from __future__ import annotations

import ast
import hashlib
import pathlib

from mergers_acquisitions_predictions_spark.plans import ORACLES, handshake, lsh_oracle
from mergers_acquisitions_predictions_spark.plans.lsh_oracle import (
    ivfsq_topk_sql,
    semdedup_kept_ctes_sql,
)

ORACLES_DIGEST = "1bf08471ad97637320ecf59edbcec9613b071ae80b12edb80dc8f916f0aa295b"
COMPOSED_DIGEST = "608e84ecf321d18d6c681d88c3bbd5b56b3cc98a7dc1b9c892851b5ccf8ff824"


def _digest(oracles: dict[str, str]) -> str:
    root = handshake.scratch_root()
    h = hashlib.sha256()
    for name in sorted(oracles):
        text = " ".join(oracles[name].replace(root, "<scratch>").split())
        h.update(f"{name}\0{text}\0".encode())
    return h.hexdigest()


def test_registered_oracle_text_is_pinned():
    assert _digest(ORACLES) == ORACLES_DIGEST


def test_composed_oracle_text_is_pinned():
    """The oracles test_ann_index and test_maxsim compose from the
    public generators."""
    kept = "WHERE vec_id IN (SELECT vec_id FROM kept)"
    composed = {
        "rerank": "WITH " + ivfsq_topk_sql(n_cells="auto", n_probe=2, k=5, rerank=15),
        "dedup_rerank": f"WITH RECURSIVE {semdedup_kept_ctes_sql(8, 0.4)},\n"
        + ivfsq_topk_sql(
            n_cells="auto",
            n_probe=2,
            k=5,
            rerank=15,
            build_filter=kept,
            candidate_filter="AND c.candidate_id IN (SELECT vec_id FROM kept)",
        ),
        "maxsim_rescore": "WITH "
        + ivfsq_topk_sql(n_cells="auto", n_probe=2, k=5, rerank=15, maxsim_tokens=4),
    }
    assert _digest(composed) == COMPOSED_DIGEST


def test_lsh_oracle_imports_only_hyperplanes_from_operators():
    """The oracle is written independently of the engine kernel it
    checks: from ``operators`` it takes only the LSH plane constants."""
    tree = ast.parse(pathlib.Path(lsh_oracle.__file__).read_text())
    from_operators = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            assert not any("operators" in a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            names = [a.name for a in node.names]
            if "operators" in (node.module or "") or "operators" in names:
                from_operators += [(node.module, n) for n in names]
    assert from_operators == [("operators.similarity", "_hyperplanes")]
