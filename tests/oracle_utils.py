"""Local mirror of the driver's DuckDB-oracle correctness check:
run the Spark query and the oracle SQL on the same parquet, then
compare row count + column names + values order-insensitively.

Comparison is EXACT (bit-level for floats): queries are engineered so
both engines produce identical doubles (same rounding, same reduction
order). If this ever needs a tolerance, the query is mis-designed for
the driver's value-hash gate — fix the query, not the test.
"""

from __future__ import annotations

import duckdb
import pandas as pd

from mergers_acquisitions_predictions_spark.sources.readers import TABLES


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


def assert_query_matches_oracle(spark, name: str, sf_dir: str) -> None:
    from mergers_acquisitions_predictions_spark.plans import ORACLES, QUERIES

    sdf = QUERIES[name](spark, sf_dir)
    # schema contract of every registered query (`__spark_entry__.
    # queries()` is `dict(QUERIES)`): non-empty, unique column names
    assert sdf.columns, name
    assert len(set(sdf.columns)) == len(sdf.columns), f"{name}: duplicate col names"
    got = normalize(sdf.toPandas())
    want = normalize(run_oracle(ORACLES[name], sf_dir))
    assert list(got.columns) == list(want.columns), (
        f"{name}: column mismatch {list(got.columns)} vs {list(want.columns)}"
    )
    assert len(got) == len(want), f"{name}: row count {len(got)} vs {len(want)}"
    pd.testing.assert_frame_equal(got, want, check_dtype=False, check_exact=True)
