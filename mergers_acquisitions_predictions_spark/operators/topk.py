"""Per-group top-k (SURVEY §2.5 — the `describeTopics(5)` pattern):
window row_number — one shuffle on the group key."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W


def grouped_topk(
    df: DataFrame, keys: list[str], order: list[Column], k: int, rank_col: str = "rn"
) -> DataFrame:
    """Deterministic per-group top-k: callers must include a unique
    tiebreaker in `order` for reproducible results."""
    w = W.partitionBy(*keys).orderBy(*order)
    return (
        df.withColumn(rank_col, F.row_number().over(w).cast("long"))
        .filter(F.col(rank_col) <= k)
    )
