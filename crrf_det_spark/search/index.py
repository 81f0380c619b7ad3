"""Inverted index + TFIDF as stock DataFrame aggregations.

Re-expresses the reference's search-index build
(/root/reference/src/search/index.js:24-57: page segments -> number
normalization -> 1/2/3-gram postings) and TFIDF scoring (index.js:118-121)
with Catalyst hash aggregations (partial+final map-side combine for free).

Index document identity mirrors the reference: one doc per segment,
``_id = (conv_id, turn_idx, cindex)`` with field 'text' or 'table'
(index.js:37-48; tables are flattened rows joined by newline, index.js:44-47).

TFIDF formula (documented, used identically in the DuckDB oracles; scored
at query time by ``search.query.search_many``, the one query executor,
with df taken per case-folded term over the matched postings):
    tf(d, t)  = occurrences of t in d
    idf(t)    = ln(N / df(t)),  N = total docs, df = docs containing t
    score     = tf * idf
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .normalize import ngrams_col, normalize_numbers_col, tokens_col


def build_index(segments: DataFrame, lengths: tuple[int, ...] = (1, 2, 3)) -> DataFrame:
    """segments (conv_id, turn_idx, cindex, type, content) -> postings
    (conv_id, turn_idx, cindex, field, term, tf).

    At 100TB scale this is one explode + one hash agg; Catalyst does
    map-side partial counts, so the shuffle carries (term, doc) partials,
    not raw tokens.
    """
    normalized = segments.select(
        "conv_id",
        "turn_idx",
        "cindex",
        F.col("type").alias("field"),
        normalize_numbers_col(
            F.regexp_replace(F.col("content"), r"[\t\n]", " ")
        ).alias("norm"),
    )
    return (
        normalized.select(
            "conv_id",
            "turn_idx",
            "cindex",
            "field",
            F.explode(ngrams_col(tokens_col(F.col("norm")), lengths)).alias("term"),
        )
        .groupBy("conv_id", "turn_idx", "cindex", "field", "term")
        .agg(F.count("*").alias("tf"))
    )
