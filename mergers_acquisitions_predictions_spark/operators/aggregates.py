"""Aggregation operators (SURVEY §2.4 + the general groupBy family).

The reference's only reductions are `count`, `.distinct`, and ML
`fit()`s; the engine exposes the full family. Everything here is a
hash aggregate with map-side partial aggregation — the shuffle carries
one row per (group × partition), independent of input SF.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def grouped_stats(df: DataFrame, keys: list[str], value: str) -> DataFrame:
    """count/sum/avg/min/max/count-distinct/approx-distinct in one
    shuffle. `approx_count_distinct` (HLL) is the scale path for
    distinct counts — constant memory per group."""
    return df.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum(value), 2).alias("sum_value"),
        F.round(F.avg(value), 6).alias("avg_value"),
        F.min(value).alias("min_value"),
        F.max(value).alias("max_value"),
        F.count_distinct(F.col(value)).alias("n_distinct"),
        F.approx_count_distinct(value).alias("n_approx_distinct"),
    )


def confusion_matrix(df: DataFrame, label: str, prediction: str) -> DataFrame:
    """M10: the reference runs FOUR filtered counts (`lr.scala:50-54`);
    one groupBy computes the same matrix in a single shuffle."""
    return df.groupBy(
        F.col(label).cast("int").alias("label"),
        F.col(prediction).cast("int").alias("prediction"),
    ).agg(F.count(F.lit(1)).alias("n"))


def document_frequency(
    tokens_df: DataFrame,
    doc_col: str = "doc_id",
    tokens_col: str = "tokens",
    min_df: int | None = None,
    max_df: int | None = None,
) -> DataFrame:
    """A3 engine-level vocabulary build — the relational spelling of
    `CountVectorizer.setMinDF/setMaxDF` (`acq_etl_code.scala:73`):
    explode → per-term distinct-doc count → frequency band filter.
    `array_distinct` before the explode keeps the shuffle at one row
    per (doc, distinct term)."""
    term_doc = tokens_df.select(
        F.col(doc_col).alias("doc"),
        F.explode(F.array_distinct(F.col(tokens_col))).alias("term"),
    )
    df_counts = term_doc.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    if min_df is not None:
        df_counts = df_counts.filter(F.col("df") >= min_df)
    if max_df is not None:
        df_counts = df_counts.filter(F.col("df") <= max_df)
    return df_counts


def table_profile(
    df: DataFrame, cols: list[str] | None = None, approx: bool = False
) -> DataFrame:
    """One-pass column profile — the data-quality summary a pipeline
    runs before training on a new table drop: one row per column with
    (column, n_rows, n_nonnull, null_frac, ndv, min_str, max_str).

    min/max are computed on the NATIVE type (never lexicographically
    on strings) and stringified only for display, with deterministic
    cross-engine formats: fractional numerics as DECIMAL(18,2),
    timestamps as 'yyyy-MM-dd HH:mm:ss', everything else a plain
    cast.

    Scale shape: a single global aggregate — map-side partials, one
    1-row result, the per-column fan-out happens on that single row.
    Exact distinct counts (the oracle-checkable default) make
    Catalyst Expand the scan ×n_cols before the partial agg; at
    100 TB pass ``approx=True`` and the count-distincts become
    one-pass HyperLogLog sketches (no Expand, same plan otherwise) —
    the documented accuracy trade, decided by the caller, not
    silently."""
    cols = cols or df.columns
    ndv = F.approx_count_distinct if approx else F.countDistinct

    def fmt(expr, typename: str):
        if typename in ("double", "float"):
            return F.round(expr, 2).cast("decimal(18,2)").cast("string")
        if typename == "timestamp":
            return F.date_format(expr, "yyyy-MM-dd HH:mm:ss")
        return expr.cast("string")

    types = {f.name: f.dataType.typeName() for f in df.schema.fields}
    aggs = [F.count(F.lit(1)).alias("__rows")]
    for c in cols:
        aggs += [
            F.count(F.col(c)).alias(f"__nn_{c}"),
            ndv(F.col(c)).alias(f"__nd_{c}"),
            fmt(F.min(F.col(c)), types[c]).alias(f"__mn_{c}"),
            fmt(F.max(F.col(c)), types[c]).alias(f"__mx_{c}"),
        ]
    row = df.agg(*aggs)
    structs = [
        F.struct(
            F.lit(c).alias("column"),
            F.col("__rows").cast("long").alias("n_rows"),
            F.col(f"__nn_{c}").cast("long").alias("n_nonnull"),
            F.round(
                (F.col("__rows") - F.col(f"__nn_{c}"))
                / F.greatest(F.col("__rows"), F.lit(1)),
                6,
            ).alias("null_frac"),
            F.col(f"__nd_{c}").cast("long").alias("ndv"),
            F.col(f"__mn_{c}").alias("min_str"),
            F.col(f"__mx_{c}").alias("max_str"),
        )
        for c in cols
    ]
    return row.select(F.explode(F.array(*structs)).alias("p")).select("p.*")


def key_skew_profile(df: DataFrame, key: str) -> DataFrame:
    """One-row skew diagnostic for a prospective shuffle/join key —
    the measurement you take BEFORE choosing salting / AQE skew-join
    thresholds / a broadcast, instead of discovering the hot key from
    a straggler task at hour three. At 100 TB a single key holding
    1% of rows means one reducer gets 1 TB; this makes that visible
    for the cost of one groupBy.

    Output: n_keys, n_rows, max_count, p50_count, p99_count (count
    distribution over keys; interpolated percentiles — the q48
    parity rule), skew_ratio_ppm = max/mean in parts-per-million
    (uniform keys → 1_000_000), and the hottest key (count desc, key
    asc tiebreak via a lexicographic struct max — deterministic, no
    separate top-1 job).

    Plan: one key-keyed groupBy (map-side partial counts — the
    shuffle is keys, not rows), one single-row aggregate over the
    count frame. The diagnostic never touches row payloads.

    ``key`` must be numeric (the negation tiebreak); for string keys
    md5-hash to a numeric surrogate first or drop the top-key
    column."""
    counts = df.groupBy(key).agg(F.count(F.lit(1)).alias("cnt"))
    agg = counts.agg(
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.sum("cnt").cast("long").alias("n_rows"),
        F.max("cnt").cast("long").alias("max_count"),
        F.round(F.expr("percentile(cnt, 0.5)"), 6).alias("p50_count"),
        F.round(F.expr("percentile(cnt, 0.99)"), 6).alias("p99_count"),
        F.max(
            F.struct(
                F.col("cnt").alias("c"), (-F.col(key)).alias("nk")
            )
        ).alias("__top"),
    )
    return agg.select(
        "n_keys",
        "n_rows",
        "max_count",
        "p50_count",
        "p99_count",
        F.floor(
            F.col("max_count").cast("double")
            * F.col("n_keys")
            / F.col("n_rows")
            * F.lit(1e6)
            + F.lit(0.5)
        )
        .cast("long")
        .alias("skew_ratio_ppm"),
        (-F.col("__top.nk")).cast("long").alias("top_key"),
        F.col("__top.c").cast("long").alias("top_key_count"),
    )
