"""Text column-expression library (SURVEY §2.6 F1–F4, §2.8 M1–M2, §2.7 U1).

The reference does its text ETL in RDD lambdas and ML transformers
(lowercase → `\\W` split → stop-word removal → 2/3-grams → distinct
union, `acq_etl_code.scala:38-69`). Every step here is a pure column
expression — JVM-side, codegen'd, no Python in the hot path, and no
per-stage materialization. All builders take/return `Column` so they
compose inside a single `select`.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Default stop-word list (tiny, deterministic — the engine accepts any
#: list; the reference loads one from text, `acq_etl_code.scala:33`).
STOPWORDS_EN = ("the", "a", "an", "and", "or", "of", "to", "in", "is", "it")


def tokenize(col: Column | str) -> Column:
    """Lowercase + alnum-run tokenization (F1+F2: the reference's
    ``lower`` then ``split("\\W")`` then drop-empties, done in one
    expression with no empty-token artifacts)."""
    return F.regexp_extract_all(F.lower(col), F.lit("[a-z0-9]+"), 0)


def clean_text(col: Column | str) -> Column:
    """Normalize: lowercase, strip non-alpha-space, squeeze whitespace
    (F1/F3/F4 — `acq_etl_code.scala:38-44` without the RDD detour)."""
    c = F.lower(col)
    c = F.regexp_replace(c, "[^a-z ]", "")
    c = F.regexp_replace(c, " +", " ")
    return F.trim(c)


def remove_stopwords(tokens: Column, stopwords=STOPWORDS_EN) -> Column:
    """Order/multiplicity-preserving stop-word removal (J6). The
    reference collects + broadcasts the stop-word set into a filter
    closure (`acq_etl_code.scala:33-41`); as a column expression the
    set is a literal array folded into codegen. NOTE: not
    `array_except`, which would also dedup (U1 is the dedup op)."""
    stop = F.array(*[F.lit(s) for s in stopwords])
    return F.filter(tokens, lambda t: ~F.array_contains(stop, t))


def word_ngrams(tokens: Column, n: int, sep: str = " ") -> Column:
    """Word-level n-grams (M2, `pyspark.ml.feature.NGram` semantics:
    ordered, overlapping, joined by spaces) as a pure expression:
    slice windows over the token array. Empty array when len < n
    (guard needed because `sequence(1, 0)` counts DOWN in Spark).

    The ngram body references the token array 3× (length guard, window
    count, slice); binding it as a HOF lambda variable — wrap in a
    1-element array, `transform`, `element_at` — makes Spark evaluate
    `tokens` ONCE per row even when Catalyst collapses projections or
    the caller passes an expensive expression (a raw reference would
    re-run e.g. tokenize's regexp 3× per row; measured 9.1 s → ~3 s
    for the shingle stage of d03 at sf0.1)."""

    def body(t: Column) -> Column:
        count = F.size(t) - (n - 1)
        grams = F.transform(
            F.sequence(F.lit(1), count),
            lambda i: F.array_join(F.slice(t, i, n), sep),
        )
        return F.when(count >= 1, grams).otherwise(F.array().cast("array<string>"))

    return F.element_at(F.transform(F.array(tokens), body), 1)


def shingles(tokens: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingle set — the dedup/similarity unit
    (MinHash/Jaccard operate on this)."""
    return F.array_distinct(word_ngrams(tokens, n))
