"""Source/sink tests (SURVEY §2.1): whole-file corpus scan with
path-borne metadata, schema'd CSV, writer round-trips."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from mergers_acquisitions_predictions_spark.sources.readers import (
    load_table,
    read_corpus_dir,
    read_csv,
    register_views,
)
from mergers_acquisitions_predictions_spark.sources.writers import (
    write_csv,
    write_parquet,
    write_single_csv,
)

SF = "/root/testdata/sf0.001"


def test_read_corpus_dir_parses_path_metadata(spark, tmp_path):
    # layout mirrors the reference's EDGAR tree: metadata in the path,
    # date at segment 9 and CIK at 11 when split on / and _
    base = tmp_path / "a" / "b" / "c" / "d"
    base.mkdir(parents=True)
    (base / "2016-03-01_firm_12345.txt").write_text("Annual report text.")
    (base / "2017-06-30_firm_67890.txt").write_text("Quarterly filing text.")
    # segment positions depend on the tmp dir (pytest tmp names contain
    # underscores) — compute them from the URI the scan will produce,
    # mirroring how the reference hard-codes 9/11 for ITS tree
    # (acq_etl_code.scala:12-16)
    import re

    uris = [
        r.f
        for r in spark.read.format("text")
        .load(str(base))
        .select(F.input_file_name().alias("f"))
        .collect()
    ]
    segs = re.split(r"/|_", next(u for u in uris if "2016-03-01" in u))
    date_seg = segs.index("2016-03-01") + 1  # element_at is 1-based
    cik_seg = segs.index("12345.txt") + 1
    df = read_corpus_dir(spark, str(base), date_segment=date_seg, cik_segment=cik_seg)
    rows = {r.cik.replace(".txt", ""): r for r in df.collect()}
    assert set(rows) == {"12345", "67890"}
    assert str(rows["12345"].report_date) == "2016-03-01"
    assert "Annual report" in rows["12345"].text


def test_read_csv_with_schema_and_2digit_years(spark, tmp_path):
    from mergers_acquisitions_predictions_spark.functions.dates import to_date_pivot

    p = tmp_path / "deals.csv"
    p.write_text("name,announced\nAcme Corp,03/15/16\nBeta LLC,11/01/99\n")
    schema = T.StructType(
        [
            T.StructField("name", T.StringType()),
            T.StructField("announced", T.StringType()),
        ]
    )
    df = read_csv(spark, str(p), schema=schema).select(
        "name", to_date_pivot(F.col("announced"), "MM/dd/yy").alias("announced")
    )
    got = {r.name: str(r.announced) for r in df.collect()}
    # reference pivot semantics (join_acquirers.scala:20-21, Spark 2.4
    # SimpleDateFormat): '99' -> 1999, not Spark 3's 2099
    assert got == {"Acme Corp": "2016-03-15", "Beta LLC": "1999-11-01"}


def test_parquet_roundtrip(spark, tmp_path):
    df = load_table(spark, SF, "nation")
    write_parquet(df, str(tmp_path / "nation"))
    back = spark.read.parquet(str(tmp_path / "nation"))
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))


def test_single_csv_writes_one_file(spark, tmp_path):
    df = load_table(spark, SF, "region")
    write_single_csv(df, str(tmp_path / "region"))
    parts = [p for p in (tmp_path / "region").iterdir() if p.name.startswith("part-")]
    assert len(parts) == 1
    back = spark.read.option("header", "true").csv(str(tmp_path / "region"))
    assert back.count() == df.count()


def test_register_views_sql_surface(spark):
    register_views(spark, SF, tables=("region", "nation"))
    n = spark.sql(
        "SELECT count(*) AS n FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey"
    ).first().n
    assert n == 25


def test_jsonl_roundtrip(spark, tmp_path):
    from mergers_acquisitions_predictions_spark.sources.readers import read_jsonl
    from mergers_acquisitions_predictions_spark.sources.writers import write_jsonl

    src = spark.createDataFrame(
        [(1, "alpha", 0.5), (2, "beta", None)], ["id", "text", "score"]
    )
    path = str(tmp_path / "docs_jsonl")
    write_jsonl(src, path)
    back = read_jsonl(spark, path, "id BIGINT, text STRING, score DOUBLE")
    collected = back.collect()
    rows = {r.id: (r.text, r.score) for r in collected}
    assert rows == {1: ("alpha", 0.5), 2: ("beta", None)}
    # Spark forbids queries referencing ONLY the corrupt column —
    # assert over the collected rows instead.
    assert all(r._corrupt_record is None for r in collected)


def test_jsonl_corrupt_routing(spark, tmp_path):
    from mergers_acquisitions_predictions_spark.sources.readers import read_jsonl

    p = tmp_path / "dirty"
    p.mkdir()
    (p / "part-0.jsonl").write_text(
        '{"id": 1, "text": "ok"}\n{not json at all}\n{"id": 2, "text": "fine"}\n'
    )
    df = read_jsonl(spark, str(p), "id BIGINT, text STRING")
    collected = df.collect()
    assert sum(r._corrupt_record is None for r in collected) == 2
    assert sum(r._corrupt_record is not None for r in collected) == 1
    dropped = read_jsonl(
        spark, str(p), "id BIGINT, text STRING", mode="DROPMALFORMED", corrupt_col=None
    )
    assert dropped.count() == 2


def test_token_balanced_shards(spark, tmp_path):
    """Shard writer: docs stay whole, shards fill to the token budget
    in global doc-id order (overshoot bounded by one document), the
    layout is partition-pruned `shard=N/` directories, and the
    roundtrip loses nothing."""
    from pyspark.sql import functions as F

    from mergers_acquisitions_predictions_spark.operators.curation import (
        shard_by_token_budget,
    )
    from mergers_acquisitions_predictions_spark.sources.writers import (
        write_token_balanced_shards,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    budget = 500
    path = str(tmp_path / "shards")
    write_token_balanced_shards(docs, path, budget)

    back = spark.read.parquet(path)
    assert back.count() == docs.count()
    assert sorted(r.doc_id for r in back.select("doc_id").collect()) == sorted(
        r.doc_id for r in docs.select("doc_id").collect()
    )

    assign = sorted(shard_by_token_budget(docs, budget).collect(), key=lambda r: r.doc_id)
    # exact replay of the spec: shard = floor(start_offset / budget)
    # over the doc-id-ordered token stream — every row must match.
    cum = 0
    for r in assign:
        assert r.shard == cum // budget, (r, cum)
        cum += r.n_tokens
    # whole-doc sharding ⇒ shard ids non-decreasing in doc id, and a
    # new shard starts only when the stream crosses its boundary
    shards = [r.shard for r in assign]
    assert shards == sorted(shards)
    assert len(set(shards)) > 1  # non-vacuous: multiple shards exist
    # physical layout is one directory per assigned shard
    import os

    dirs = {d for d in os.listdir(path) if d.startswith("shard=")}
    assert dirs == {f"shard={s}" for s in set(shards)}


def test_orc_roundtrip(spark, sf_dir, tmp_path):
    from mergers_acquisitions_predictions_spark.sources.readers import read_orc
    from mergers_acquisitions_predictions_spark.sources.writers import write_orc

    src = spark.read.parquet(f"{sf_dir}/nation.parquet")
    path = str(tmp_path / "nation_orc")
    write_orc(src, path, partition_by=["n_regionkey"])
    back = read_orc(spark, path)
    assert sorted(back.columns) == sorted(src.columns)
    assert back.count() == src.count()
    # partition pruning: the partition filter must not scan every file
    pruned = back.filter(back.n_regionkey == 0)
    assert pruned.count() == src.filter(src.n_regionkey == 0).count()
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "orc" in plan.lower()


def test_compact_parquet_merges_small_files(spark, tmp_path):
    from mergers_acquisitions_predictions_spark.sources.writers import compact_parquet

    p = str(tmp_path / "frag")
    df = spark.range(0, 1000).withColumn("v", F.col("id") * 2)
    df.repartition(32).write.parquet(p)
    before = {r.id: r.v for r in spark.read.parquet(p).collect()}
    n_in, n_out = compact_parquet(spark, p, target_file_bytes=64 * 1024 * 1024)
    assert n_in == 32 and n_out == 1
    import os

    pq_files = [f for _, _, fs in os.walk(p) for f in fs if f.endswith(".parquet")]
    assert len(pq_files) == n_out
    after = {r.id: r.v for r in spark.read.parquet(p).collect()}
    assert after == before
    # idempotent second pass, and the staging/old twins are gone
    assert not os.path.exists(p + ".old") and not os.path.exists(p + ".compacting")
    n_in2, n_out2 = compact_parquet(spark, p, target_file_bytes=64 * 1024 * 1024)
    assert n_in2 == 1 and n_out2 == 1


def test_read_lines_splittable_scan(spark, tmp_path):
    """S2: one row per line with the source path as a column; line
    counts per file match what was written (no phantom empty line
    from a trailing newline, none invented for empty files)."""
    from mergers_acquisitions_predictions_spark.sources.readers import read_lines

    d = tmp_path / "lines"
    d.mkdir()
    (d / "a.txt").write_text("one\ntwo\nthree")
    (d / "b.txt").write_text("solo")
    rows = read_lines(spark, str(d)).collect()
    assert len(rows) == 4
    per_file = {}
    for r in rows:
        per_file.setdefault(r.path.rsplit("/", 1)[-1], []).append(r.line)
    assert sorted(per_file["a.txt"]) == ["one", "three", "two"]
    assert per_file["b.txt"] == ["solo"]


def test_publish_parquet_atomic_overwrites_and_refreshes(spark, tmp_path):
    """The staged-rename publisher: replaces prior content, leaves no
    staging/old twins behind, and same-session readers see the new
    files immediately (listing cache refreshed)."""
    import os

    from mergers_acquisitions_predictions_spark.sources.writers import (
        publish_parquet_atomic,
    )

    path = str(tmp_path / "artifact")
    publish_parquet_atomic(spark.range(10).withColumn("v", F.lit(1)), path)
    assert spark.read.parquet(path).count() == 10
    publish_parquet_atomic(spark.range(3).withColumn("v", F.lit(2)), path)
    got = spark.read.parquet(path).collect()
    assert len(got) == 3 and all(r.v == 2 for r in got)
    siblings = [n for n in os.listdir(tmp_path) if n != "artifact"]
    assert not [n for n in siblings if n.startswith("artifact.")]
