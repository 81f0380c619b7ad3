"""PII detection/redaction columns and a benchmark-contamination probe.

Rounds out the LLM-training-data family (SURVEY.md §2 extension; round-4
VERDICT next-round #6).  Not in the reference (its unit is one PDF's
layout); the patterns mirror the standard pre-training scrub classes.

Scale shape:

* detection/redaction are pure Catalyst ``regexp_extract_all`` /
  ``regexp_replace`` expression trees — they run inside the same
  whole-stage-codegen projection as any other column, no extra pass, no
  Python, nothing shuffles.
* the contamination probe broadcasts the benchmark digest set (test
  sets are small — 10^5-10^6 sha256 digests is tens of MB) and
  semi-joins the corpus against it map-side: one corpus scan, zero
  shuffle of corpus data, hit rows only on the wire.

The pattern set is deliberately cross-engine-portable (no lookbehind,
no backreferences): the same patterns run under Java regex (Spark) and
RE2 (DuckDB contract oracle) with identical non-overlapping-match
semantics.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .curate import normalized_digest

# ordered: redaction applies top to bottom (email first so an address is
# never half-eaten by the digit classes; hex last so redaction tokens
# themselves are never re-scanned into a narrower class)
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ipv4": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
    "phone": r"(?:\+\d{1,3}[- ])?\(?\d{3}\)?[- ]\d{3}[- ]\d{4}",
    "hex_secret": r"\b[0-9a-f]{32,}\b",
}


def pii_counts(text: Column) -> dict[str, Column]:
    """Per-class non-overlapping match counts, one entry per
    ``PII_PATTERNS`` class."""
    return {
        name: F.size(F.regexp_extract_all(text, F.lit(pat), F.lit(0)))
        for name, pat in PII_PATTERNS.items()
    }


def redact_pii(text: Column) -> Column:
    """Text with every PII match replaced by ``<PII:CLASS>``, classes
    applied in ``PII_PATTERNS`` order."""
    out = text
    for name, pat in PII_PATTERNS.items():
        out = F.regexp_replace(out, pat, f"<PII:{name.upper()}>")
    return out


def pii_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """One projection with per-class counts, a total, and the redacted
    text — the standard scrub-and-count pass."""
    t = F.col(text_col)
    counts = pii_counts(t)
    total = None
    for c in counts.values():
        total = c if total is None else total + c
    return docs.select(
        "*",
        *[counts[name].alias(f"n_{name}") for name in PII_PATTERNS],
        total.alias("n_pii_total"),
        redact_pii(t).alias("text_redacted"),
    )


def contamination_probe(
    docs: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    digest_col: str = "digest",
) -> DataFrame:
    """Benchmark-contamination hit report: (doc_id, digest) for every
    corpus document whose whitespace-normalized sha256 digest appears in
    ``benchmark[digest_col]``.

    The benchmark side is broadcast (left-semi build side), so the probe
    is one map-side corpus scan and reports each matching document once,
    however often its digest repeats on the benchmark side; exact-match
    contamination at the
    document granularity — pair with ``dedup_shingles`` for
    passage-level leakage."""
    dig = docs.select(
        F.col(id_col).alias("doc_id"),
        normalized_digest(F.col(text_col)).alias("digest"),
    )
    bench = F.broadcast(benchmark.select(F.col(digest_col).alias("digest")))
    return dig.join(bench, "digest", "left_semi").select("doc_id", "digest")
