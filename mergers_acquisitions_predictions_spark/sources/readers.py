"""Sources (SURVEY §2.1, S1–S5).

The reference reads whole files through ``sc.wholeTextFiles`` with the
record key (file path) carrying the metadata, then parses it with RDD
lambdas (``acq_etl_code.scala:12-16,37-47``) — opaque to Catalyst. Here
every source is a DataFrame source, so path metadata is extracted with
column expressions (``input_file_name`` + ``regexp_extract``) inside one
optimizable plan, and CSVs always get explicit schemas instead of the
reference's positional ``_c0…`` access (``acq_etl_code.scala:86-92``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: Tables in the driver test-data star schema (TESTDATA.md).
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def normalize_events_ts(df: DataFrame) -> DataFrame:
    """Normalize the events `ts` column to a session-TZ TIMESTAMP
    regardless of its physical encoding. The driver test-data has
    shipped `ts` as TIMESTAMP(NANOS) (read as long under
    `nanosAsLong`) and as TIMESTAMP(MICROS) without timezone (read as
    TIMESTAMP_NTZ); DuckDB reads both as a naive microsecond
    timestamp, so parity means: truncate nanos with integer `div`
    (ns-since-epoch exceeds double's 2^53 exact range), and cast NTZ
    to TIMESTAMP — wall-clock preserving because the engine session
    runs UTC (session.py)."""
    dt = df.schema["ts"].dataType
    if isinstance(dt, T.LongType):
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif isinstance(dt, T.TimestampNTZType):
        df = df.withColumn("ts", F.col("ts").cast(T.TimestampType()))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Parquet scan (S5). Self-describing schema; Catalyst prunes
    columns and pushes predicates into the vectorized parquet reader.

    `events.ts` needs per-encoding normalization (see
    `normalize_events_ts`). The `nanosAsLong` conf is set at runtime
    so this works under ANY caller's session (the driver harness
    builds its own SparkSession); it is a no-op for micros data."""
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        df = normalize_events_ts(df)
    return df


def register_views(spark: SparkSession, sf_dir: str, tables=TABLES) -> None:
    """Expose every table as a temp view so SQL and DataFrame surfaces
    see the same catalog (reference idiom: ``createOrReplaceTempView``,
    ``acq_etl_code.scala:90-91``)."""
    for t in tables:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)


def read_corpus_dir(
    spark: SparkSession,
    path: str,
    date_segment: int = 9,
    cik_segment: int = 11,
) -> DataFrame:
    """Whole-file text scan with path-borne metadata (S1).

    DataFrame replacement for ``sc.wholeTextFiles(dir).map(parse_path)``
    (``acq_etl_code.scala:37-47``): one row per file, with `report_date`
    and `cik` pulled out of the path at the same ``/``/``_``-delimited
    segments the reference uses (``acq_etl_code.scala:12-16``). Staying
    in the DataFrame API keeps the scan inside Catalyst so the text
    cleanup that follows can be pruned/pushed, unlike the reference's
    RDD closures.

    At 100 TB scale: file listing is driver-side metadata only; split
    sizing comes from ``spark.sql.files.maxPartitionBytes`` rather than
    the reference's hard-coded ``minPartitions=1000``.
    """
    seg = F.split(F.input_file_name(), r"/|_")
    return (
        spark.read.format("text")
        .option("wholetext", "true")
        .load(path)
        .select(
            F.element_at(seg, cik_segment).alias("cik"),
            F.to_date(F.element_at(seg, date_segment)).alias("report_date"),
            F.col("value").alias("text"),
        )
    )


def read_lines(spark: SparkSession, path: str) -> DataFrame:
    """Line text scan (S2): one row per line, with the source file
    path carried as a column — the DataFrame replacement for
    ``sc.textFile`` (the reference's line-oriented RDD scans,
    ``acq_etl_code.scala:33``; ``tgt_etl_code.scala:18`` likewise).
    Unlike the wholetext scan (S1) this
    is SPLITTABLE: a 100 TB directory parallelizes by byte ranges
    within files, so per-line work never serializes on file
    boundaries. ``input_file_name`` stays a column expression, so
    per-file aggregation downstream is one groupBy inside the same
    Catalyst plan."""
    return (
        spark.read.format("text")
        .load(path)
        .select(
            F.input_file_name().alias("path"),
            F.col("value").alias("line"),
        )
    )


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType | str | None = None,
    header: bool = True,
    date_format: str | None = None,
) -> DataFrame:
    """CSV scan (S3/S4) with an explicit schema by default.

    The reference infers headers as all-string (`join_acquirers.scala:15-16`)
    or falls back to `_cN` positional names (`acq_etl_code.scala:86`);
    we require callers to declare columns. ``date_format`` covers the
    reference's 2-digit-year `MM/dd/yy` announce dates
    (`join_acquirers.scala:20-21`).
    """
    reader = spark.read.option("header", str(header).lower())
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", "false")
    if date_format:
        reader = reader.option("dateFormat", date_format)
    return reader.csv(path)


def read_jsonl(
    spark: SparkSession,
    path: str,
    schema: T.StructType | str,
    mode: str = "PERMISSIVE",
    corrupt_col: str | None = "_corrupt_record",
) -> DataFrame:
    """JSON-Lines scan — the interchange format most large text
    corpora arrive in (one JSON document per line; splittable, so a
    100 TB directory parallelizes by line ranges like any text scan).

    Schema is REQUIRED: inference reads the whole input twice and
    silently widens types on dirty data; a 100 TB pipeline declares
    its schema and routes undecodable lines to ``corrupt_col``
    (PERMISSIVE) or drops them (DROPMALFORMED) instead of failing the
    job five hours in."""
    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    if corrupt_col and mode.upper() == "PERMISSIVE":
        if corrupt_col not in schema.fieldNames():
            schema = schema.add(corrupt_col, T.StringType())
        reader = spark.read.schema(schema).option(
            "columnNameOfCorruptRecord", corrupt_col
        )
    else:
        reader = spark.read.schema(schema)
    return reader.option("mode", mode).json(path)
