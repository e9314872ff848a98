"""TF-IDF feature pipeline (SURVEY §2.8 M1–M4, §2.6 F9).

The reference's NLP ETL (`acq_etl_code.scala:49-81` / `tgt_etl_code.
scala:35-67`): lowercase → stop-word removal → (lemmatize | tokenize)
→ 2/3-grams → distinct-union of token arrays → CountVectorizer → IDF.
Re-expressed as a single `pyspark.ml.Pipeline` so fit/save/load (S9,
`acq_etl_code.scala:125-126`) come from `PipelineModel`.

Lemmatization (U4) is the one genuinely UDF-shaped op; the container
has no NLP model libs, so we ship the reference's OWN fallback — plain
tokenization, which `tgt_etl_code.scala:37-38` uses.
"""

from __future__ import annotations

from pyspark.ml import Pipeline
from pyspark.ml.feature import (
    IDF,
    CountVectorizer,
    NGram,
    RegexTokenizer,
    SQLTransformer,
    StopWordsRemover,
)


def build_tfidf_pipeline(
    text_col: str = "text",
    min_df: float = 2.0,
    max_df: float = 1 << 60,
    vocab_size: int = 1 << 18,
    stopwords: list[str] | None = None,
) -> Pipeline:
    """The reference's feature dataflow as one Pipeline:

    RegexTokenizer (M1; lowercase+`\\W` split = F1+F2)
    → StopWordsRemover (J6, declarative vs. the hand-broadcast set)
    → NGram n=2 and n=3 (M2)
    → distinct-union of token+2gram+3gram arrays (U1 `mergeArrays`
      UDF → builtin `array_union`, via SQLTransformer)
    → CountVectorizer with DF band (M3, minDF/maxDF as
      `acq_etl_code.scala:73`)
    → IDF (M4).

    Defaults: reference uses minDF=100/maxDF=20000 at corpus scale
    (`acq_etl_code.scala:73`); tests pass smaller bands.

    ``stopwords`` overrides StopWordsRemover's default English list —
    pass an explicit list when the downstream check must replay the
    exact configuration (the DuckDB oracle embeds the list as SQL
    constants, so it cannot depend on MLlib's resource file).
    """
    remover = StopWordsRemover(inputCol="tokens", outputCol="content_tokens")
    if stopwords is not None:
        remover.setStopWords(list(stopwords))
    return Pipeline(
        stages=[
            RegexTokenizer(
                inputCol=text_col, outputCol="tokens", pattern="\\W+", toLowercase=True
            ),
            remover,
            NGram(n=2, inputCol="content_tokens", outputCol="ngrams2"),
            NGram(n=3, inputCol="content_tokens", outputCol="ngrams3"),
            SQLTransformer(
                statement=(
                    "SELECT *, array_union(content_tokens,"
                    " array_union(ngrams2, ngrams3)) AS all_grams FROM __THIS__"
                )
            ),
            CountVectorizer(
                inputCol="all_grams",
                outputCol="tf",
                minDF=min_df,
                maxDF=max_df,
                vocabSize=vocab_size,
            ),
            IDF(inputCol="tf", outputCol="tfidf"),
        ]
    )
