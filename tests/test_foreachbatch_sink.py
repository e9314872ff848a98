"""foreachBatch upsert sink: re-keyed rows across micro-batches must
leave exactly one (latest) row per key."""

from __future__ import annotations

import datetime as dt
import os

from mergers_acquisitions_predictions_spark.streaming.sinks import upsert_parquet_sink


def test_upsert_across_microbatches(spark, tmp_path):
    t0 = dt.datetime(2024, 1, 1)
    b1 = spark.createDataFrame(
        [(1, "a", t0), (2, "b", t0)], ["k", "v", "ts"]
    )
    b2 = spark.createDataFrame(
        [(1, "a2", t0 + dt.timedelta(minutes=1)), (3, "c", t0)], ["k", "v", "ts"]
    )
    src = tmp_path / "src"
    stamped = set()
    for i, df in enumerate([b1, b2]):
        df.coalesce(1).write.parquet(str(src), mode="overwrite" if i == 0 else "append")
        for p in src.glob("part-*.parquet"):
            if p.name not in stamped:
                os.utime(p, (1_700_000_000 + i,) * 2)
                stamped.add(p.name)

    stream = spark.readStream.option("maxFilesPerTrigger", 1).schema(b1.schema).parquet(
        str(src)
    )
    q = upsert_parquet_sink(
        stream, str(tmp_path / "table"), key_cols=["k"], version_col="ts"
    )
    q.awaitTermination()

    final = {r.k: r.v for r in spark.read.parquet(str(tmp_path / "table")).collect()}
    # key 1 upserted to its batch-2 value; 2 and 3 present once
    assert final == {1: "a2", 2: "b", 3: "c"}


def test_upsert_then_snapshot_diff_nightly_flow(spark, tmp_path):
    """The nightly-incremental composition: stream new/edited docs
    through the upsert sink, then snapshot_diff(yesterday's table,
    today's table) tells downstream exactly which ids to reprocess."""
    from pyspark.sql import functions as F

    from mergers_acquisitions_predictions_spark.functions.textstats import (
        fingerprint,
    )
    from mergers_acquisitions_predictions_spark.operators.curation import (
        snapshot_diff,
    )

    t0 = dt.datetime(2024, 1, 1)
    table = tmp_path / "docs_table"
    day1 = spark.createDataFrame(
        [(1, "alpha text", t0), (2, "beta text", t0), (3, "gamma text", t0)],
        ["doc_id", "text", "ts"],
    )
    day1.write.parquet(str(table))
    # the nightly job PERSISTS yesterday's fingerprints (a live-table
    # read would be invalidated by the sink's refreshByPath after the
    # swap — a snapshot must be materialized, not cached)
    fp_dir = tmp_path / "fps_day1"
    spark.read.parquet(str(table)).select(
        "doc_id", fingerprint("text").alias("fp")
    ).write.parquet(str(fp_dir))
    yesterday = spark.read.parquet(str(fp_dir))

    incoming = spark.createDataFrame(
        [(2, "beta EDITED", t0 + dt.timedelta(hours=1)),
         (4, "delta text", t0 + dt.timedelta(hours=1))],
        ["doc_id", "text", "ts"],
    )
    src = tmp_path / "incoming"
    incoming.coalesce(1).write.parquet(str(src))
    stream = spark.readStream.schema(incoming.schema).parquet(str(src))
    q = upsert_parquet_sink(
        stream, str(table), key_cols=["doc_id"], version_col="ts"
    )
    q.awaitTermination()

    today = spark.read.parquet(str(table)).select(
        "doc_id", fingerprint("text").alias("fp")
    )
    got = {r.doc_id: r.status for r in snapshot_diff(yesterday, today).collect()}
    assert got == {1: "unchanged", 2: "changed", 3: "unchanged", 4: "added"}



def test_upsert_batch_commits_to_a_file_uri(spark, tmp_path):
    """The upsert commits through the path's own Hadoop FileSystem, so
    a ``file://`` table takes batches like a bare path: the second
    batch's higher version wins its key, other keys stay."""
    from mergers_acquisitions_predictions_spark.streaming.sinks import upsert_batch

    table = f"file://{tmp_path}/table"
    schema = "k long, v string, ver long"
    upsert_batch(spark.createDataFrame([(1, "a", 1), (2, "b", 1)], schema), table, ["k"], "ver", 0)
    upsert_batch(spark.createDataFrame([(1, "a2", 2), (3, "c", 2)], schema), table, ["k"], "ver", 1)
    final = {r.k: r.v for r in spark.read.parquet(table).collect()}
    assert final == {1: "a2", 2: "b", 3: "c"}
    assert sorted(os.listdir(tmp_path)) == ["table"]
