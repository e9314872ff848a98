"""UDF-surface queries (SURVEY §2.7): the engine's three Python escape
hatches — scalar Arrow pandas_udf, grouped-map applyInPandas, and
mapInPandas — each exercised through the driver gate, and ALL
oracle-checked: every Python computation here is numerically
reproducible in SQL (the multimodal featurizer's byte math included,
since round 6 — see U03_ORACLE).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.readers import load_table
from .registry import query


#: u01's oracle — the query registers LATE (plans/extra_queries.py):
#: the scalar-pandas_udf mechanism already has in-window driver
#: evidence via u04's lemmatizer, so u01's slot went to t21.
U01_ORACLE = """
    SELECT l_orderkey, l_linenumber,
           l_extendedprice * (1 - l_discount) * (1 + l_tax) AS charge
    FROM lineitem
    WHERE l_quantity > 45
    """


def u01_pandas_udf_charge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar Arrow-vectorized pandas_udf (U4's mechanism — the slot
    the reference fills with its lemmatizer UDF). Double arithmetic
    elementwise in numpy matches the SQL expression bit-for-bit, so
    this one IS oracle-checkable. The builtin-expression form is
    preferred in production (q01); this query exists to keep the UDF
    path tested end-to-end."""

    @F.pandas_udf("double")
    def charge(
        price: pd.Series, discount: pd.Series, tax: pd.Series
    ) -> pd.Series:
        return price * (1 - discount) * (1 + tax)

    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 45)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        charge("l_extendedprice", "l_discount", "l_tax").alias("charge"),
    )


# Registered late (plans/extra_queries.py): rotated out of the driver
# window in round 2 to admit t27_snapshot_diff — u02 was driver-green
# in round 1 and the Python-UDF surface keeps in-window evidence via
# u04 (scalar pandas_udf) and u05 (mapInPandas); still value-checked
# by the local parity sweep.
U02_ORACLE = """
    SELECT c_nationkey, c_custkey,
           round(CASE WHEN mx = mn THEN 0.5
                      ELSE (c_acctbal - mn) / (mx - mn) END, 6) AS balance_scaled
    FROM (
        SELECT c_nationkey, c_custkey, c_acctbal,
               min(c_acctbal) OVER (PARTITION BY c_nationkey) AS mn,
               max(c_acctbal) OVER (PARTITION BY c_nationkey) AS mx
        FROM customer
    )
    """


def u02_grouped_minmax_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map applyInPandas (the UDTF-shaped surface, SURVEY
    §2.7): per-nation min-max scaling. Min/max are order-insensitive
    (unlike mean/std), so the pandas computation is exactly
    reproducible by the SQL window formulation — oracle-checked.

    Scale: one shuffle on the group key; each group becomes ONE pandas
    frame in one python worker — groups must fit in memory, which is
    the documented contract of grouped-map (use window functions
    when they don't)."""

    def scale(pdf: pd.DataFrame) -> pd.DataFrame:
        mn, mx = pdf["c_acctbal"].min(), pdf["c_acctbal"].max()
        scaled = (
            pd.Series(0.5, index=pdf.index)
            if mx == mn
            else (pdf["c_acctbal"] - mn) / (mx - mn)
        )
        return pd.DataFrame(
            {
                "c_nationkey": pdf["c_nationkey"],
                "c_custkey": pdf["c_custkey"],
                "balance_scaled": scaled.round(6),
            }
        )

    c = load_table(spark, sf_dir, "customer")
    return c.groupBy("c_nationkey").applyInPandas(
        scale, schema="c_nationkey int, c_custkey long, balance_scaled double"
    )


#: Deterministic suffix-stripping lemma rules (shared by the Python
#: UDF and the SQL oracle; a spaCy model would replace both, see
#: ml/tfidf.py's import-try gate).
def _lemma(tok: str) -> str:
    if len(tok) > 4 and tok.endswith("ies"):
        return tok[:-3] + "y"
    if len(tok) > 5 and tok.endswith("sses"):
        return tok[:-2]
    if len(tok) > 5 and tok.endswith("ing"):
        return tok[:-3]
    if len(tok) > 4 and tok.endswith("ed"):
        return tok[:-2]
    if (
        len(tok) > 3
        and tok.endswith("s")
        and not tok.endswith(("ss", "us", "is"))
    ):
        return tok[:-1]
    return tok


_LEMMA_SQL = """
    CASE WHEN length(t) > 4 AND t LIKE '%ies'  THEN substr(t, 1, length(t) - 3) || 'y'
         WHEN length(t) > 5 AND t LIKE '%sses' THEN substr(t, 1, length(t) - 2)
         WHEN length(t) > 5 AND t LIKE '%ing'  THEN substr(t, 1, length(t) - 3)
         WHEN length(t) > 4 AND t LIKE '%ed'   THEN substr(t, 1, length(t) - 2)
         WHEN length(t) > 3 AND t LIKE '%s'
              AND t NOT LIKE '%ss' AND t NOT LIKE '%us' AND t NOT LIKE '%is'
         THEN substr(t, 1, length(t) - 1)
         ELSE t END
"""


@query(
    "u04_lemmatize_pandas_udf",
    oracle=f"""
    SELECT doc_id,
           CAST(len(lemmas) AS BIGINT) AS n_tokens,
           CAST(len(list_distinct(lemmas)) AS BIGINT) AS n_distinct_lemmas,
           array_to_string(list_slice(lemmas, 1, 5), ' ') AS head_lemmas
    FROM (
        SELECT doc_id,
               list_transform(regexp_extract_all(lower(text), '[a-z0-9]+'),
                              t -> {_LEMMA_SQL}) AS lemmas
        FROM documents
    )
    """,
)
def u04_lemmatize_pandas_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U4 — the one genuinely UDF-shaped reference op (`lemma`,
    `acq_etl_code.scala:54`) — as an Arrow-vectorized pandas_udf
    applying deterministic suffix rules (spaCy drops into the same
    slot when available). Deterministic ⇒ even this Python-UDF path
    is oracle-checked, with the rules mirrored in SQL."""
    import pandas as pd

    # local copy of the rules: a reference to module-level _lemma would
    # pickle by module path and break workers that can't import this
    # package (cloudpickle serializes closures by value)
    def lemma(tok: str) -> str:
        if len(tok) > 4 and tok.endswith("ies"):
            return tok[:-3] + "y"
        if len(tok) > 5 and tok.endswith("sses"):
            return tok[:-2]
        if len(tok) > 5 and tok.endswith("ing"):
            return tok[:-3]
        if len(tok) > 4 and tok.endswith("ed"):
            return tok[:-2]
        if (
            len(tok) > 3
            and tok.endswith("s")
            and not tok.endswith(("ss", "us", "is"))
        ):
            return tok[:-1]
        return tok

    @F.pandas_udf("array<string>")
    def lemmatize(tokens: pd.Series) -> pd.Series:
        return tokens.map(lambda toks: [lemma(t) for t in toks])

    from ..functions.text import tokenize
    from ..operators.util import repartition_for_compute

    d = repartition_for_compute(load_table(spark, sf_dir, "documents"))
    lem = d.select("doc_id", lemmatize(tokenize(F.col("text"))).alias("lemmas"))
    return lem.select(
        "doc_id",
        F.size("lemmas").cast("long").alias("n_tokens"),
        F.size(F.array_distinct("lemmas")).cast("long").alias("n_distinct_lemmas"),
        F.array_join(F.slice("lemmas", 1, 5), " ").alias("head_lemmas"),
    )


@query(
    "u05_frame_sample_stats",
    oracle="""
    SELECT doc_id,
           CAST(len(range(0, (octet_length(encode(text)) + 255) // 256, 2))
                AS BIGINT) AS n_frames,
           CAST(list_sum(list_transform(
                    range(0, (octet_length(encode(text)) + 255) // 256, 2),
                    i -> least(256, octet_length(encode(text)) - i * 256)))
                AS BIGINT) AS sampled_bytes
    FROM documents
    """,
)
def u05_frame_sample_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling (multimodal/binary.sample_frames): every 2nd
    256-byte window of each payload becomes its own row inside the
    Arrow batch (the UDTF-shaped fan-out), then per-doc frame counts
    and byte totals. VALUE-checkable despite binary payloads: the
    fake payload is the UTF-8 text, so the oracle reproduces the
    frame geometry arithmetically from octet_length."""
    from ..multimodal.binary import attach_fake_payload, sample_frames

    docs = load_table(spark, sf_dir, "documents")
    frames = sample_frames(attach_fake_payload(docs), frame_size=256, every_n=2)
    return frames.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_frames"),
        F.sum(F.octet_length("frame")).cast("long").alias("sampled_bytes"),
    )


#: u03's oracle (attached at its late registration site in
#: plans/extra_queries.py): the Arrow featurizer's byte math is
#: replayed OVER THE RAW BYTES in DuckDB — hex-decode the UTF-8
#: payload and fold the byte values — so the mapInPandas path
#: (attach payload → Arrow batches → per-payload reduction) is
#: value-checked end to end, with no reliance on the text being
#: ASCII. byte_mean stays unrounded: both engines divide the exact
#: integer byte sum by the exact length, one IEEE division each —
#: bit-identical by construction (no aggregation-order exposure).
U03_ORACLE = """
    WITH b AS (
        SELECT doc_id, hex(encode(text)) AS h,
               octet_length(encode(text)) AS n
        FROM documents
    )
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(n AS BIGINT) AS n_bytes,
           CASE WHEN n = 0 THEN 0.0
                ELSE CAST(list_sum(list_transform(range(1, n + 1),
                     i -> CAST('0x' || substr(h, 2*i - 1, 2) AS INTEGER)))
                     AS DOUBLE) / n
           END AS byte_mean
    FROM b
"""


# Registered LATE (plans/extra_queries.py) with U03_ORACLE attached.
def u03_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInPandas over binary payloads (multimodal/binary.py): the
    Arrow-batched per-partition iterator surface.

    VALUE-CHECKED since round 6: the returned per-payload reductions
    (n_bytes, byte_mean) are deterministic byte math, and the oracle
    replays them over the same bytes in DuckDB (hex-decode + fold) —
    so the binary column's Arrow round-trip and the mapInPandas
    batching are hash-certified, not just row-counted. The dropped
    `feature` histogram column stays covered by byte-level invariants
    in tests/test_multimodal.py (a 2-decimal projection of it would
    add no coverage the mean does not)."""
    from ..multimodal.binary import attach_fake_payload, extract_features

    docs = load_table(spark, sf_dir, "documents")
    return extract_features(attach_fake_payload(docs)).drop("feature")
