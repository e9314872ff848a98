"""foreachBatch sinks: the escape hatch for sinks Structured Streaming
lacks natively (upserts, multi-table writes, JDBC merges).

`upsert_parquet_sink` maintains a keyed parquet table: each
micro-batch replaces rows whose key re-appears (latest by a version
column wins). Plain parquet has no MERGE, so the upsert is
read → anti-join → union → `publish_parquet_atomic`. On a real
lakehouse the body of `upsert_batch` becomes a Delta/Iceberg MERGE
INTO and the staging dance disappears — the streaming wiring is
identical.

Scale notes: rewrite cost is O(table), so this pattern fits compact
keyed state (feature tables, per-entity aggregates), not event logs —
append sinks or MERGE-capable formats cover those.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F


def upsert_batch(
    batch_df: DataFrame,
    table_dir: str,
    key_cols: list[str],
    version_col: str,
    batch_id: int = 0,
) -> None:
    """ONE micro-batch of the keyed upsert — IDEMPOTENT by
    construction: re-delivering the same batch merges the same rows
    into the same keys and the table is byte-equal. The per-batch
    body of `upsert_parquet_sink`, callable on its own for
    batch-shaped replays. Each batch rewrites the whole table
    (O(table)), so this is the sink for keyed tables; index ingest
    stages append-only instead (`streaming/serving.
    stage_batch_append_only`, O(batch)).

    ``table_dir`` is any Hadoop path (bare, ``file://``, ``hdfs://``):
    existence and the commit go through the path's own FileSystem
    (`publish_parquet_atomic`'s staged write → move-aside → promote,
    which also refreshes the session's file listing of the table).
    ``batch_id`` is the micro-batch id foreachBatch passes; the
    commit does not depend on it."""
    from ..sources.fs import fs_exists
    from ..sources.writers import publish_parquet_atomic

    spark = batch_df.sparkSession

    def latest_per_key(df: DataFrame) -> DataFrame:
        # Deterministic winner even on version ties: the incoming
        # batch beats the existing table (__src desc), and any
        # remaining duplicates order by a full-row hash — never by
        # physical row order.
        w = W.partitionBy(*key_cols).orderBy(
            F.desc(version_col),
            F.desc("__src"),
            F.asc(F.hash(*[c for c in df.columns if c != "__src"])),
        )
        return (
            df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn", "__src")
        )

    fresh = batch_df.withColumn("__src", F.lit(1))
    if fs_exists(spark, table_dir):
        current = spark.read.parquet(table_dir).withColumn("__src", F.lit(0))
        merged = latest_per_key(current.unionByName(fresh))
    else:
        merged = latest_per_key(fresh)
    publish_parquet_atomic(merged, table_dir)


def upsert_parquet_sink(
    stream_df: DataFrame,
    table_dir: str,
    key_cols: list[str],
    version_col: str,
    query_name: str = "upsert_sink",
):
    """Start a streaming query that upserts each micro-batch into
    ``table_dir`` keyed by ``key_cols`` (highest ``version_col``
    wins, within and across batches)."""

    def do_upsert(batch_df: DataFrame, batch_id: int) -> None:
        upsert_batch(batch_df, table_dir, key_cols, version_col, batch_id)

    return (
        stream_df.writeStream.foreachBatch(do_upsert)
        .queryName(query_name)
        .trigger(availableNow=True)
        .start()
    )
