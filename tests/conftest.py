from __future__ import annotations

import os

import pytest

from mergers_acquisitions_predictions_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECTNESS = "/root/testdata/sf0.01"


def pytest_configure(config):
    config.addinivalue_line(
        "markers", "slow: long-running end-to-end test (deselect with -m 'not slow')"
    )


@pytest.fixture(scope="session")
def spark():
    # Modest parallelism for tiny test frames: 8 threads is faster than
    # 32 at sf0.001 (less task overhead) and still exercises shuffles.
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    s = get_spark(app_name="mergers-acquisitions-spark-tests")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def executed_plans() -> dict:
    """(sf_dir, query name) -> executed-plan text of the frames the
    parity sweep built; the registry-wide plan lint reads it instead
    of building each query again."""
    return {}


@pytest.fixture(scope="session")
def sq8_index(spark, tmp_path_factory) -> str:
    """Path of an IVF-SQ8 index over the SF_CORRECTNESS embeddings with
    16 anchor cells, built once per session. Tests only read it."""
    from mergers_acquisitions_predictions_spark.operators.ann_index import (
        build_ivfsq_index,
    )
    from mergers_acquisitions_predictions_spark.sources.readers import load_table

    path = str(tmp_path_factory.mktemp("sq8_index") / "idx")
    build_ivfsq_index(load_table(spark, SF_CORRECTNESS, "embeddings"), path, n_cells=16)
    return path


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return os.environ.get("SPARK_GRAFT_SF_DIR", SF_SMOKE)
