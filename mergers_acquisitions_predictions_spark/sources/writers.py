"""Sinks (SURVEY §2.1, S6–S8).

The reference's single-file export drops out of Catalyst into the RDD
API (``predictions.scala:39-41``: ``rdd.coalesce(1).map(...).
saveAsTextFile``); ours stays in the DataFrame writer so compression,
schema and stats come for free. ``coalesce(1)`` is only offered for
small final results — at scale, write partitioned.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_parquet(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by=None,
    dynamic_overwrite: bool = False,
) -> None:
    """Parquet sink (S6, `acq_etl_code.scala:104`). `partition_by` for
    partition-pruned downstream scans at scale.

    ``dynamic_overwrite``: with a partitioned table, replace ONLY the
    partitions present in ``df`` and leave the rest untouched — the
    nightly-ingest idiom at 100 TB (re-run one day's shard without
    rewriting, or accidentally truncating, the whole table; Spark's
    default STATIC overwrite deletes every existing partition first).
    Implemented with the session conf
    `spark.sql.sources.partitionOverwriteMode=dynamic`, scoped to this
    write and restored after."""
    conf = df.sparkSession.conf
    key = "spark.sql.sources.partitionOverwriteMode"
    prev = conf.get(key, None)
    if dynamic_overwrite:
        conf.set(key, "dynamic")
    try:
        w = df.write.mode(mode)
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(path)
    finally:
        if dynamic_overwrite:
            if prev is None:
                conf.unset(key)
            else:
                conf.set(key, prev)


def publish_parquet_atomic(df: DataFrame, path: str) -> None:
    """Overwrite a parquet artifact at ``path`` with a NEAR-ATOMIC
    swap: write to a process-unique staging twin, then promote via two
    directory renames. A plain ``mode('overwrite')`` deletes the old
    files before writing new ones, so a concurrent reader can see a
    partially-written directory for the whole write duration; here the
    reader-visible window is the two renames (ADVICE r5 — the
    artifact-handshake oracles re-read the path their query just
    wrote, and a concurrent evaluator at another SF could otherwise
    catch a partial ``read_parquet``). A torn read is still POSSIBLE
    in the rename gap and across interleaved processes — it yields a
    visible mismatch, never a false pass; the handshake contract is
    single-evaluator-sequential (see plans/handshake.py).

    Renames go through the Hadoop FileSystem API (`sources/fs.py`), so
    the same staged-write → promote → reap plan runs on the local FS,
    HDFS, or an object store (where "rename" is the connector's
    copy+delete — fine for these driver-sized artifacts). Failure
    discipline: the previous artifact is deleted ONLY after the
    promote rename succeeds. If the promote fails, whatever it left at
    ``path`` is cleared (on S3A a copy+delete "rename" can fail
    midway, leaving a PARTIAL destination) and the moved-aside
    original is renamed back, so a failed publish leaves the OLD
    artifact at ``path`` — never a torn one, never nothing. If even
    the restore fails, the ORIGINAL error propagates and
    ``.old_<tok>`` keeps the previous artifact for manual
    recovery."""
    import os
    import uuid

    from py4j.protocol import Py4JJavaError

    from .fs import fs_delete, fs_exists, fs_rename

    spark = df.sparkSession
    tok = f"{os.getpid()}_{uuid.uuid4().hex[:8]}"
    base = path.rstrip("/")  # twins are siblings, never children
    staging = f"{base}.staging_{tok}"
    df.write.mode("overwrite").parquet(staging)
    old = f"{base}.old_{tok}"
    moved_aside = promoting = False
    try:
        if fs_exists(spark, path):
            fs_rename(spark, path, old)
            moved_aside = True
        promoting = True
        fs_rename(spark, staging, path)
    except BaseException:
        try:
            if promoting:
                fs_delete(spark, path)  # a torn promote's partial copy
            if moved_aside:
                fs_rename(spark, old, path)  # restore the previous artifact
        except (OSError, Py4JJavaError):
            pass  # leave .old_<tok> for manual recovery
        fs_delete(spark, staging)
        raise
    if moved_aside:
        fs_delete(spark, old)
    spark.catalog.refreshByPath(path)


def write_csv(df: DataFrame, path: str, mode: str = "overwrite", header: bool = True) -> None:
    """CSV sink (S7, `join_acquirers.scala:37`)."""
    df.write.mode(mode).option("header", str(header).lower()).csv(path)


def write_single_csv(df: DataFrame, path: str, mode: str = "overwrite", header: bool = True) -> None:
    """Single-file CSV sink (S8, `predictions.scala:39-41`) — the
    DataFrame-native version of the reference's RDD detour. Only for
    driver-sized results (top-k exports); everything else should use
    :func:`write_csv`."""
    df.coalesce(1).write.mode(mode).option("header", str(header).lower()).csv(path)


def write_jsonl(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """JSON-Lines sink (one JSON object per line, splittable on read).
    Distributed multi-part output like the parquet sink — a single
    consolidated file is an anti-pattern at corpus scale; use
    `write_single_csv`'s coalesce approach only for driver-sized
    finals."""
    df.write.mode(mode).json(path)


def write_token_balanced_shards(
    docs: DataFrame,
    path: str,
    tokens_per_shard: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    mode: str = "overwrite",
) -> None:
    """Materialize a corpus as token-balanced training shards:
    `curation.shard_by_token_budget` assigns shard ids on the NARROW
    (id, token-count) frame (text never rides the ordering shuffles),
    the docs join back by id (one hash join — AQE broadcasts the
    narrow side when it fits), and the write repartitions on `shard`
    so each shard becomes one parquet directory with one writer task:
    `path/shard=N/`. Downstream loaders partition-prune by shard."""
    from ..operators.curation import shard_by_token_budget

    assign = shard_by_token_budget(docs, tokens_per_shard, text_col, id_col)
    (
        docs.join(assign.select(id_col, "shard"), id_col)
        .repartition("shard")
        .write.mode(mode)
        .partitionBy("shard")
        .parquet(path)
    )


def compact_parquet(
    spark,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> tuple[int, int]:
    """Small-file compaction — the table-maintenance pass every
    long-lived 100 TB dataset needs: streaming ingest, dynamic
    partition overwrites, and per-shard re-runs all accrete small
    parquet files, and scan cost at scale is dominated by file-open
    overhead once files shrink below the split target. Rewrites the
    table at ~``target_file_bytes`` per file (matching the session's
    ``maxPartitionBytes`` scan split by default) and commits it with
    `publish_parquet_atomic` — its staged write, move-aside, promote
    and restore-on-failure, under process-unique staging names.

    Returns (n_input_files, n_output_files). File sizing goes through
    the Hadoop FileSystem API (`sources/fs.py`), so the same plan
    (list → read → repartition(n) → publish) runs against HDFS/S3,
    not just the local FS. Compaction is layout-only: content
    equality is asserted by the roundtrip test."""
    import math

    from .fs import fs_list_files

    files = fs_list_files(spark, path, ".parquet")
    if not files:
        raise ValueError(f"no parquet files under {path}")
    n_out = max(1, math.ceil(sum(sz for _, sz in files) / target_file_bytes))
    publish_parquet_atomic(spark.read.parquet(path).repartition(n_out), path)
    return len(files), n_out
