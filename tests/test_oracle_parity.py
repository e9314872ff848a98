"""Driver-gate mirror: every oracle-declared query must match DuckDB
exactly at the smoke SF (and at sf0.01 when SPARK_GRAFT_SF_DIR says
so). This is the same contract the driver's CORRECTNESS_r{N}.json
enforces (SURVEY §5.2)."""

from __future__ import annotations

import pytest

from mergers_acquisitions_predictions_spark.plans import ORACLES

from .oracle_utils import assert_query_matches_oracle

ORACLE_QUERY_NAMES = sorted(ORACLES)


@pytest.mark.parametrize("name", ORACLE_QUERY_NAMES)
def test_query_matches_oracle(spark, sf_dir, executed_plans, name):
    assert_query_matches_oracle(spark, name, sf_dir, executed_plans)
