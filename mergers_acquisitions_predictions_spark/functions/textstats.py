"""Text-analysis expressions: language ID, quality scoring, token
counting, document fingerprinting (north-star training-data-pipeline
ops; no reference analogue — SURVEY §7 Phase 4).

All pure column expressions — at 100 TB these run inside the scan
stage with zero shuffles.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Tiny per-language stop-word marker lists for the n-gram/stop-word
#: language-ID heuristic. Deterministic and oracle-reproducible.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "is"),
    "de": ("der", "die", "und", "ist", "nicht"),
    "fr": ("le", "la", "et", "est", "les"),
    "es": ("el", "la", "que", "es", "los"),
}


def fingerprint(text: Column | str) -> Column:
    """Deterministic document fingerprint: md5 of the case/whitespace/
    punctuation-normalized text, DIGITS PRESERVED. Exact-dup dedup
    groups on this — a constant-width key, so the dedup shuffle
    carries 32 bytes per doc instead of the document body.

    Deliberately NOT the reference's `[^a-z]` cleaner (text.clean_text,
    F3): stripping digits would collapse 'Q1 revenue 100' with
    'Q2 revenue 900' — fine for its TF-IDF features, wrong for
    dedup identity."""
    c = F.lower(text)
    c = F.regexp_replace(c, "[^a-z0-9 ]", "")
    c = F.regexp_replace(c, " +", " ")
    return F.md5(F.trim(c))


def marker_hits(tokens: Column, lang: str) -> Column:
    """How many tokens are marker stop-words of ``lang``."""
    markers = F.array(*[F.lit(m) for m in LANG_MARKERS[lang]])
    return F.size(F.filter(tokens, lambda t: F.array_contains(markers, t))).cast("long")


def language_id(tokens: Column) -> Column:
    """Heuristic language ID: argmax of marker-stop-word hits with a
    fixed priority order (en > de > fr > es) on ties; 'und' when no
    marker hits at all. Deterministic ⇒ DuckDB-oracle expressible."""
    hits = {lang: marker_hits(tokens, lang) for lang in LANG_MARKERS}
    best = F.greatest(*hits.values())
    expr = F.lit("und")
    # Build the CASE from lowest to highest priority so the highest
    # priority language wins ties.
    for lang in reversed(list(LANG_MARKERS)):
        expr = F.when((hits[lang] > 0) & (hits[lang] == best), F.lit(lang)).otherwise(expr)
    return expr


def mean_token_len(tokens: Column) -> Column:
    """Mean token length in characters, 0.0 for an empty token list.
    One of the Gopher document-quality signals (Rae et al. 2021,
    §A1.1): templated/garbage text drifts out of the 3–10 char band
    natural language sits in."""
    total = F.aggregate(
        tokens, F.lit(0.0), lambda acc, t: acc + F.length(t).cast("double")
    )
    return F.when(F.size(tokens) == 0, F.lit(0.0)).otherwise(
        total / F.size(tokens).cast("double")
    )


def alpha_token_frac(tokens: Column) -> Column:
    """Fraction of tokens containing at least one alphabetic char
    (Gopher: ≥80% of words must contain an alphabetic character —
    filters number/symbol dumps). 0.0 for an empty list."""
    n_alpha = F.size(F.filter(tokens, lambda t: t.rlike("[a-z]")))
    return F.when(F.size(tokens) == 0, F.lit(0.0)).otherwise(
        n_alpha.cast("double") / F.size(tokens).cast("double")
    )


def winnow_fingerprints(text: Column | str, k: int = 8, w: int = 4) -> Column:
    """Winnowing document fingerprints (the rolling-hash scheme of
    MOSS): hash every ``k``-char gram of the normalized text, slide a
    ``w``-hash window, keep each window's minimum, dedup. Guarantees:
    any shared substring of length ≥ k+w−1 between two documents
    yields at least one SHARED fingerprint — the local-overlap
    detector that whole-doc fingerprints (``fingerprint``) cannot be.

    Pure array expressions (chars → k-grams → 60-bit md5 hashes →
    window minima → distinct): computed inside the scan stage, no
    shuffle; the fingerprint SET (≈ n_chars/w longs) is what joins
    downstream for overlap/containment detection."""
    c = F.lower(text)
    c = F.regexp_replace(c, "[^a-z0-9 ]", "")
    c = F.regexp_replace(c, " +", " ")
    norm = F.trim(c)
    from .text import word_ngrams

    chars = F.split(norm, "")
    grams = word_ngrams(chars, k, "")
    hashes = F.transform(
        grams, lambda g: F.conv(F.substring(F.md5(g), 1, 15), 16, 10).cast("long")
    )

    def mins(hs: Column) -> Column:
        count = F.size(hs) - (w - 1)
        sel = F.transform(
            F.sequence(F.lit(1), count), lambda j: F.array_min(F.slice(hs, j, w))
        )
        return F.when(count >= 1, sel).otherwise(F.array().cast("array<long>"))

    return F.array_distinct(F.element_at(F.transform(F.array(hashes), mins), 1))


#: PII categories for redaction scrubbing. Patterns restricted to the
#: regex subset where Java regex (Spark) and RE2 (DuckDB) agree —
#: no backreferences, no lookaround.
PII_PATTERNS: tuple[tuple[str, str], ...] = (
    ("email", r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"),
    ("phone", r"\+[0-9]{1,2}-[0-9]{3}-[0-9]{3}-[0-9]{4}"),
    ("idnum", r"\b[0-9]{9}\b"),
)


def redact_pii(text: Column | str) -> Column:
    """Replace each PII category with its `<CATEGORY>` placeholder —
    the corpus-scrubbing pass of a training-data pipeline. Pure
    regexp_replace chain: map-side, codegen'd, no shuffle at any
    scale. Patterns apply in declaration order (emails before bare
    id-number runs, so an address is consumed as ONE entity)."""
    c = F.col(text) if isinstance(text, str) else text
    for name, pat in PII_PATTERNS:
        c = F.regexp_replace(c, pat, f"<{name.upper()}>")
    return c


def pii_hits(text: Column | str) -> Column:
    """Total count of PII matches across all categories (counted on
    the ORIGINAL text, per category independently)."""
    c = F.col(text) if isinstance(text, str) else text
    total = F.lit(0)
    for _, pat in PII_PATTERNS:
        total = total + F.size(F.regexp_extract_all(c, F.lit(pat), 0))
    return total.cast("long")


def quality_score(tokens: Column) -> Column:
    """Deterministic [0,1] quality heuristic from length and token
    shape: penalize very short docs and degenerate mean token length.
    score = min(n_tokens/100, 1) * (1 - |mean_len - 5| / 10), floored
    at 0 — a toy but fully reproducible formula."""
    n = F.size(tokens).cast("double")
    mean_len = F.when(
        n > 0,
        F.aggregate(
            tokens, F.lit(0.0), lambda acc, t: acc + F.length(t).cast("double")
        )
        / n,
    ).otherwise(F.lit(0.0))
    length_factor = F.least(n / F.lit(100.0), F.lit(1.0))
    shape_factor = F.greatest(
        F.lit(0.0), F.lit(1.0) - F.abs(mean_len - F.lit(5.0)) / F.lit(10.0)
    )
    return length_factor * shape_factor
