"""Unit tests for the column-expression libraries (SURVEY §2.6/§2.7)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from mergers_acquisitions_predictions_spark.functions.text import (
    clean_text,
    remove_stopwords,
    tokenize,
    word_ngrams,
)
from mergers_acquisitions_predictions_spark.functions.textstats import (
    fingerprint,
    language_id,
    quality_score,
)
from mergers_acquisitions_predictions_spark.functions.vectors import cosine, dot, l2_norm
from mergers_acquisitions_predictions_spark.operators.dedup import simhash


def one(spark, col, **data):
    """Evaluate a column expression over a single-row frame."""
    df = spark.createDataFrame([data])
    return df.select(col.alias("out")).first().out


def test_tokenize_drops_empties_and_case(spark):
    assert one(spark, tokenize(F.col("t")), t="Hello,  WORLD-42!") == [
        "hello",
        "world",
        "42",
    ]
    assert one(spark, tokenize(F.col("t")), t="!!! ...") == []


def test_clean_text_normalizes(spark):
    assert one(spark, clean_text(F.col("t")), t="  AbC!! 12 d  ") == "abc  d".replace(
        "  ", " "
    )


def test_word_ngrams_edges(spark):
    df = spark.createDataFrame([(["a", "b", "c"],), (["a"],), ([],)], ["t"])
    got = [r.g for r in df.select(word_ngrams(F.col("t"), 2).alias("g")).collect()]
    assert got == [["a b", "b c"], [], []]


def test_remove_stopwords_keeps_duplicates(spark):
    got = one(
        spark,
        remove_stopwords(F.col("t")),
        t=["the", "cat", "and", "the", "cat"],
    )
    assert got == ["cat", "cat"]  # multiplicity preserved (unlike array_except)


def test_fingerprint_invariant_to_whitespace_and_case(spark):
    a = one(spark, fingerprint(F.col("t")), t="Hello   World")
    b = one(spark, fingerprint(F.col("t")), t="hello world")
    c = one(spark, fingerprint(F.col("t")), t="hello mars")
    assert a == b != c


def test_language_id_priority_and_und(spark):
    assert one(spark, language_id(F.col("t")), t=["the", "and", "cat"]) == "en"
    assert one(spark, language_id(F.col("t")), t=["der", "und", "nicht"]) == "de"
    assert one(spark, language_id(F.col("t")), t=["zzz", "qqq"]) == "und"
    # tie between en and de resolves to en (fixed priority)
    assert one(spark, language_id(F.col("t")), t=["the", "der"]) == "en"


def test_quality_score_bounds(spark):
    long_doc = ["tokens"] * 200
    assert 0.0 <= one(spark, quality_score(F.col("t")), t=long_doc) <= 1.0
    empty = spark.createDataFrame([([],)], "t: array<string>")
    assert empty.select(quality_score(F.col("t")).alias("q")).first().q == 0.0


def test_vector_math(spark):
    a, b = [3.0, 4.0], [4.0, 3.0]
    assert one(spark, dot(F.col("a"), F.col("b")), a=a, b=b) == 24.0
    assert one(spark, l2_norm(F.col("a")), a=a) == 5.0
    assert one(spark, cosine(F.col("a"), F.col("b")), a=a, b=b) == pytest.approx(
        24.0 / 25.0
    )
    assert one(spark, cosine(F.col("a"), F.col("b")), a=[0.0, 0.0], b=b) is None


def test_simhash_properties(spark):
    h1 = one(spark, simhash(F.col("t")), t=["alpha", "beta", "gamma"] * 10)
    h2 = one(spark, simhash(F.col("t")), t=["alpha", "beta", "gamma"] * 10)
    h3 = one(spark, simhash(F.col("t")), t=["alpha", "beta", "delta"] * 10)
    assert h1 == h2  # deterministic
    assert 0 <= h1 < 2**60
    # similar multisets -> small hamming distance; disjoint -> larger
    h4 = one(spark, simhash(F.col("t")), t=["x%d" % i for i in range(30)])
    ham_close = bin(h1 ^ h3).count("1")
    ham_far = bin(h1 ^ h4).count("1")
    assert ham_close < ham_far


def test_redact_pii_categories_and_counts(spark):
    from mergers_acquisitions_predictions_spark.functions.textstats import (
        pii_hits,
        redact_pii,
    )

    df = spark.createDataFrame(
        [
            ("mail me at jo.doe+x@corp.example.com today", 1),
            ("call +1-555-123-4567 or +44-201-555-0199", 2),
            ("ssn 123456789 embedded", 3),
            ("no pii here", 4),
        ],
        ["text", "i"],
    )
    out = {
        r.i: (r.red, r.n)
        for r in df.select(
            "i", redact_pii("text").alias("red"), pii_hits("text").alias("n")
        ).collect()
    }
    assert out[1] == ("mail me at <EMAIL> today", 1)
    assert out[2] == ("call <PHONE> or <PHONE>", 2)
    assert out[3] == ("ssn <IDNUM> embedded", 1)
    assert out[4] == ("no pii here", 0)


def test_winnow_fingerprints_shared_substring_guarantee(spark):
    from pyspark.sql import functions as F

    from mergers_acquisitions_predictions_spark.functions.textstats import (
        winnow_fingerprints,
    )

    shared = "the quick brown fox jumps over the lazy dog"
    df = spark.createDataFrame(
        [
            (1, f"prefix words here {shared} and a suffix"),
            (2, f"completely other opening {shared} different closing"),
            (3, "no overlap with anything else in this row at all"),
        ],
        ["doc_id", "text"],
    )
    fps = df.select(
        "doc_id", F.explode(winnow_fingerprints(F.col("text"), k=8, w=4)).alias("fp")
    )
    a = fps.filter("doc_id = 1").select("fp")
    b = fps.filter("doc_id = 2").select("fp")
    c = fps.filter("doc_id = 3").select("fp")
    # winnowing guarantee: a shared substring >= k+w-1 chars forces a
    # shared fingerprint; unrelated docs share none here
    assert a.intersect(b).count() > 0
    assert a.intersect(c).count() == 0


def test_mean_token_len_and_alpha_frac_edges(spark):
    from mergers_acquisitions_predictions_spark.functions.textstats import (
        alpha_token_frac,
        mean_token_len,
    )

    assert one(spark, mean_token_len(F.col("t")), t=["ab", "abcd"]) == 3.0
    assert one(spark, alpha_token_frac(F.col("t")), t=["ab", "42", "a1"]) == pytest.approx(
        2.0 / 3.0
    )
    empty = spark.createDataFrame([([],)], "t array<string>")
    row = empty.select(
        mean_token_len(F.col("t")).alias("m"), alpha_token_frac(F.col("t")).alias("a")
    ).first()
    assert row.m == 0.0 and row.a == 0.0
