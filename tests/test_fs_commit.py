"""The Hadoop-FileSystem commit path (VERDICT r6 #2) and its failure
discipline (ADVICE r6).

The maintenance ops' staging-swap commits route through
`sources/fs.py`, which resolves each path's OWN FileSystem via the
Hadoop API — on this host that binds the local FS through the same
JVM calls an HDFS/S3 deployment would make, so these tests exercise
the real API path, not an os.rename shortcut."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mergers_acquisitions_predictions_spark.sources import fs as FS
from mergers_acquisitions_predictions_spark.sources import writers as W


def test_fs_helpers_roundtrip_through_hadoop_api(spark, tmp_path):
    d = tmp_path / "art"
    d.mkdir()
    (d / "a.parquet").write_bytes(b"x" * 10)
    (d / "b.txt").write_bytes(b"y")
    p = str(d)
    assert FS.fs_exists(spark, p)
    files = FS.fs_list_files(spark, p, ".parquet")
    assert len(files) == 1 and files[0][1] == 10
    dst = str(tmp_path / "art2")
    FS.fs_rename(spark, p, dst)
    assert not FS.fs_exists(spark, p) and FS.fs_exists(spark, dst)
    # rename onto an existing NON-EMPTY destination reports failure by
    # raising, not by Hadoop's silent `false` (an empty dst dir is
    # legally replaced by POSIX rename(2) on the local FS)
    other = tmp_path / "art3"
    other.mkdir()
    (other / "occupied.txt").write_bytes(b"z")
    with pytest.raises(OSError):
        FS.fs_rename(spark, dst, str(other))
    assert FS.fs_delete(spark, dst)
    assert not FS.fs_exists(spark, dst)
    assert FS.fs_delete(spark, dst) is False  # missing → no-op


def test_publish_parquet_atomic_via_hadoop_fs(spark, tmp_path):
    path = str(tmp_path / "pub")
    df1 = spark.range(5).withColumn("v", F.col("id") * 2)
    W.publish_parquet_atomic(df1, path)
    assert spark.read.parquet(path).count() == 5
    df2 = spark.range(7).withColumn("v", F.col("id") * 3)
    W.publish_parquet_atomic(df2, path)
    got = spark.read.parquet(path)
    assert got.count() == 7
    assert got.agg(F.sum("v")).collect()[0][0] == 63
    # no staging/old residue
    leftovers = [p.name for p in tmp_path.iterdir() if p.name != "pub"]
    assert leftovers == []


def test_publish_atomic_restores_previous_on_promote_failure(
    spark, tmp_path, monkeypatch
):
    """ADVICE r6 (medium): a failed promote must leave the PREVIOUS
    artifact at ``path`` — the old finally-block deleted both the
    backup and the staged data, leaving nothing."""
    path = str(tmp_path / "pub")
    W.publish_parquet_atomic(spark.range(5).withColumn("v", F.lit(1)), path)

    real_rename = FS.fs_rename

    def failing_promote(spark_, src, dst):
        if dst == path and ".staging_" in src:
            raise OSError("injected promote failure")
        return real_rename(spark_, src, dst)

    # fs_rename is imported inside the function body at call time, so
    # patching the fs module intercepts the promote
    monkeypatch.setattr(FS, "fs_rename", failing_promote)
    with pytest.raises(OSError, match="injected"):
        W.publish_parquet_atomic(
            spark.range(9).withColumn("v", F.lit(2)), path
        )
    # the previous artifact survived at path, staging was reaped
    spark.catalog.refreshByPath(path)
    assert spark.read.parquet(path).count() == 5
    leftovers = [
        p.name for p in tmp_path.iterdir() if ".staging_" in p.name
    ]
    assert leftovers == []


def test_compact_parquet_restores_table_on_promote_failure(
    spark, tmp_path, monkeypatch
):
    path = str(tmp_path / "tbl")
    spark.range(100).repartition(8).write.parquet(path)
    total0 = spark.read.parquet(path).agg(F.sum("id")).collect()[0][0]

    real_rename = FS.fs_rename

    def failing_promote(spark_, src, dst):
        if dst == path and ".staging_" in src:
            raise OSError("injected promote failure")
        return real_rename(spark_, src, dst)

    monkeypatch.setattr(FS, "fs_rename", failing_promote)
    with pytest.raises(OSError, match="injected"):
        W.compact_parquet(spark, path, target_file_bytes=1 << 30)
    # the table was restored: complete and readable at path
    spark.catalog.refreshByPath(path)
    assert spark.read.parquet(path).agg(F.sum("id")).collect()[0][0] == total0


def test_compact_parquet_roundtrip_hadoop_listing(spark, tmp_path):
    path = str(tmp_path / "tbl")
    spark.range(1000).repartition(16).write.parquet(path)
    n_in, n_out = W.compact_parquet(spark, path, target_file_bytes=1 << 30)
    assert n_in == 16 and n_out == 1
    assert len(FS.fs_list_files(spark, path, ".parquet")) == 1
    assert spark.read.parquet(path).count() == 1000


def test_fs_list_files_missing_path_yields_empty(spark, tmp_path):
    """ADVICE r7 (low): a missing path lists as [] (the old os.walk
    behavior) so compact_parquet keeps its clean ValueError instead of
    an opaque Py4J FileNotFoundException."""
    missing = str(tmp_path / "never_written")
    assert FS.fs_list_files(spark, missing, ".parquet") == []
    with pytest.raises(ValueError, match="no parquet files under"):
        W.compact_parquet(spark, missing)


def _torn_promote_restores_previous(spark, tmp_path, monkeypatch, commit):
    """On S3A a promote 'rename' is copy+delete, so a mid-copy failure
    can leave a PARTIAL destination. The restore must clear it and put
    the moved-aside table back — and the ORIGINAL error must
    propagate, not the restore rename's 'destination exists'."""
    import os

    path = str(tmp_path / "tbl")
    spark.range(100).repartition(8).write.parquet(path)
    total0 = spark.read.parquet(path).agg(F.sum("id")).collect()[0][0]

    real_rename = FS.fs_rename

    def failing_promote(spark_, src, dst):
        if dst == path and ".staging_" in src:
            # simulate the S3A mid-copy crash: a partial dst exists
            os.makedirs(path, exist_ok=True)
            with open(os.path.join(path, "part-partial.parquet"), "wb") as f:
                f.write(b"torn")
            raise OSError("injected mid-copy failure")
        return real_rename(spark_, src, dst)

    monkeypatch.setattr(FS, "fs_rename", failing_promote)
    with pytest.raises(OSError, match="injected mid-copy"):
        commit(path)
    # the COMPLETE previous table is back at path (not the torn
    # partial, not stranded at .old_<tok>), and no twin is left
    spark.catalog.refreshByPath(path)
    assert spark.read.parquet(path).agg(F.sum("id")).collect()[0][0] == total0
    assert sorted(os.listdir(tmp_path)) == ["tbl"]


def test_compact_parquet_restore_clears_partial_destination(
    spark, tmp_path, monkeypatch
):
    _torn_promote_restores_previous(
        spark, tmp_path, monkeypatch,
        lambda path: W.compact_parquet(spark, path, target_file_bytes=1 << 30),
    )


def test_publish_atomic_restore_clears_partial_destination(
    spark, tmp_path, monkeypatch
):
    _torn_promote_restores_previous(
        spark, tmp_path, monkeypatch,
        lambda path: W.publish_parquet_atomic(spark.range(9), path),
    )
