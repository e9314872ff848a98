"""Plan lint over EVERY registered query: no silent scale cliffs.

The check and its allowlist live in `oracle_utils`
(`assert_no_quadratic_joins`), and the parity sweep runs them on the
frame each oracle comparison builds. This sweep covers the whole
registry at the smoke SF from the plans that sweep recorded; it
builds a query's frame only when the sweep has not (this file run
alone, or the sweep run at another SF)."""

from __future__ import annotations

import pytest

from mergers_acquisitions_predictions_spark.plans import QUERIES

from .conftest import SF_SMOKE
from .oracle_utils import assert_no_quadratic_joins, executed_plan


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_no_quadratic_join_shapes(spark, executed_plans, name):
    assert_no_quadratic_joins(name, executed_plan(spark, name, SF_SMOKE, executed_plans))
