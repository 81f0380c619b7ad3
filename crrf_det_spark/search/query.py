"""Boolean query parsing + execution over the inverted index.

Re-expresses the reference's query path:

* shlex term split, '-term' -> exclusion
  (/root/reference/src/task/search.py:18-19)
* 'table:'/'text:' field prefixes, AND of includes, OR of excludes,
  NOT={INCLUDE, EXCLUDE} shape (/root/reference/src/search/index.js:76-117)
* forced NUMERICVALUE include term (index.js:102) -- the reference only
  surfaces segments containing at least one normalized number
* TFIDF score sum + per-turn grouping with collected cindex list, sorted
  by score desc (index.js:118-141)

One executor: ``search_many`` runs a batch of filters in one pass over
the postings; ``search`` is ``search_many`` over one filter and
``search_adhoc`` is ``search`` over a prefiltered index.
"""

from __future__ import annotations

import shlex
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..caching import register, registered
from .index import build_index


@dataclass
class Query:
    includes: list[tuple[str | None, str]] = field(default_factory=list)
    excludes: list[tuple[str | None, str]] = field(default_factory=list)


def parse_query(terms: str) -> Query:
    """'alpha "net revenue" -beta table:gamma' -> Query.

    Quoted phrases stay one term (they match 2/3-gram index entries);
    leading '-' marks exclusion; 'table:'/'text:' prefix pins the field.
    """
    q = Query()
    for raw in shlex.split(terms):
        if not raw.strip():
            continue
        fieldname = None
        t = raw
        neg = t.startswith("-")
        if neg:
            t = t[1:]
        if t.startswith("table:"):
            fieldname, t = "table", t[6:]
        elif t.startswith("text:"):
            fieldname, t = "text", t[5:]
        if not t:
            continue
        (q.excludes if neg else q.includes).append((fieldname, t.lower()))
    return q


def search(
    postings: DataFrame,
    terms: str,
    force_numeric: bool = True,
    n_docs: int | None = None,
) -> DataFrame:
    """Run one boolean query -> per-turn results (conv_id, turn_idx,
    cindex list, score) ordered by (score desc, conv_id, turn_idx).

    ``search_many`` over a single filter: the same executor, so one query
    and a batch of filters can never score differently.  The persisted
    postings subset stays registered on the result (release it with
    caching.materialize/release).  ``n_docs`` (corpus size for idf)
    should be passed when known cheaply; otherwise it is derived with a
    distinct-count over the postings.
    """
    hits = search_many(
        postings, [{"filter_name": "", "query": terms}], force_numeric, n_docs
    )
    return register(
        hits.select("conv_id", "turn_idx", "cindex", "score").orderBy(
            F.desc("score"), "conv_id", "turn_idx"
        ),
        *registered(hits),
    )


def search_adhoc(
    segments: DataFrame,
    terms: str,
    force_numeric: bool = True,
    n_docs: int | None = None,
    lengths: tuple[int, ...] = (1, 2),
) -> DataFrame:
    """One-shot search over raw segments with no prebuilt postings table
    (the reference's ``s-pdf`` shape, /root/reference/src/s-pdf:1-75).

    Composing ``search(build_index(segments), ...)`` inline explodes and
    aggregates EVERY document's ngrams: the query's term IN-list cannot
    push below the generate, so the whole corpus pays index-build cost
    for a handful of terms.  Here a cheap substring prefilter runs first:
    keep only segments whose raw lowercased content contains the longest
    token of at least one include term (digit-bearing tokens widen to an
    any-digit clause — see the inline note).  That set is a superset of
    every include/exclude term's true posting set, so

    * per-term document frequencies are unchanged (df counts exact term
      postings, all of which survive the prefilter), and
    * the exclude anti-join is unchanged (it only removes documents that
      matched every include term, which survive by construction);

    idf uses the FULL corpus ``n_docs``, counted here before filtering
    when not supplied.  Result is identical to the unfiltered composition
    (tests/test_search.py::test_search_adhoc_equals_composition).
    """
    q = parse_query(terms)
    if not q.includes:
        return search(build_index(segments.limit(0), lengths), terms)
    if n_docs is None:
        n_docs = segments.count()
    includes = list(q.includes)
    if force_numeric:
        includes.append((None, "numericvalue"))
    # prefilter on RAW lowercased content — plain byte-search Contains,
    # no number normalization (running the normalize transform corpus-wide
    # just to filter would cost as much as the index build it avoids).
    # Normalization only rewrites digit-bearing tokens (to NUMERICVALUE or
    # verbatim keeps), so a word token's presence in normalized text
    # implies the same raw substring, and any normalization-affected term
    # ('numericvalue' itself, or a kept numeric token like a year) is
    # covered by the conservative any-digit clause.
    raw_l = F.lower(F.col("content"))
    cond = None
    for _fieldname, term in includes:
        tok = max(term.split(), key=len)
        if tok == "numericvalue" or any(ch.isdigit() for ch in tok):
            c = raw_l.rlike("[0-9]")
        else:
            c = F.contains(raw_l, F.lit(tok))
        cond = c if cond is None else (cond | c)
    postings = build_index(segments.filter(cond), lengths)
    return search(postings, terms, force_numeric=force_numeric, n_docs=n_docs)


def _empty_hits(postings: DataFrame) -> DataFrame:
    """Zero-row ``search_many`` result whose conv_id/turn_idx/cindex types
    are DERIVED from the postings table (a hardcoded schema would
    mismatch callers whose ids are longs, breaking later unions)."""
    return (
        postings.limit(0)
        .groupBy("conv_id", "turn_idx")
        .agg(
            F.sort_array(F.collect_list("cindex")).alias("cindex"),
            F.sum(F.lit(0.0)).alias("score"),
        )
        .withColumn("filter_name", F.lit(None).cast("string"))
        .withColumn("labels", F.lit(None).cast("array<string>"))
    )


def _normalize_includes(
    includes: list[tuple[str | None, str]],
) -> list[tuple[str | None, str]]:
    """Collapse duplicate include entries per query: exact duplicates
    merge, and a term that appears both field-pinned and unpinned (or
    pinned to two different fields) becomes one unpinned entry -- the OR
    of its match conditions admits the same rows, and n_matched counts
    distinct TERMS.  Without it, one postings row would match (and score)
    once per entry of its term (double-counting, e.g. a query already
    containing 'numericvalue' plus the forced include)."""
    norm: dict[str, str | None] = {}
    for fieldname, term in includes:
        if term in norm:
            if norm[term] != fieldname:
                norm[term] = None
        else:
            norm[term] = fieldname
    return [(f, t) for t, f in norm.items()]


def _sql_literal(v) -> str:
    """A SQL literal for a str/bool/int/list[str] value; strings go in as
    hex binary literals, so no text needs escaping."""
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, list):
        return f"CAST(array({', '.join(map(_sql_literal, v))}) AS ARRAY<STRING>)"
    return f"CAST(X'{v.encode().hex()}' AS STRING)"


def _literal_rows(spark, names: list[str], rows: list[tuple]) -> DataFrame:
    """A small relation from Python rows as a VALUES literal, which
    Catalyst resolves to a local relation: no Python pass at plan time
    (``createDataFrame`` serializes the rows through one), no Spark job
    to broadcast it (an ``inline`` of a literal array runs one), and
    hash lookups when joined (a literal map scans its keys one by one
    per lookup: 2x slower ``run_filters`` at 500 filters)."""
    values = ", ".join(
        f"({', '.join(map(_sql_literal, r))})" for r in rows
    )
    cols = ", ".join(f"`{n}`" for n in names)
    return spark.sql(f"SELECT * FROM VALUES {values} AS t({cols})")


def search_many(
    postings: DataFrame,
    filters: list[dict],
    force_numeric: bool = True,
    n_docs: int | None = None,
) -> DataFrame:
    """Run MANY boolean queries in ONE pass over the postings -- the batch
    shape behind ``project.run_filters`` (the reference loops files x
    filters; a driver-side loop of single queries would scan the corpus
    once per filter).

    filters: [{filter_name, query, labels}].  tf and df come from the
    matched postings subset, a field-pinned term uses the per-(term,
    field) df, every include must match, any exclude kills the doc.
    Returns (conv_id, turn_idx, cindex: array<int>, score, filter_name,
    labels).

    Shape: ONE term-IN filter over the postings (union of every filter's
    terms), then a broadcast hash join with the (term, filter, pin,
    exclude, n_terms) entries and the field-pin test; the matched rows
    are persisted (three branches read them) and registered on the
    result for caching.materialize/release.  df is ONE aggregation of
    the matched include rows keyed by (term, pin): an unpinned entry
    matches every field of its term and a pinned entry only its own
    field, so this is the global df for unpinned terms and the
    per-field df for pinned ones.  Labels join the per-filter result
    rows as a broadcast.  Both join sides are VALUES literals
    (``_literal_rows``), so no Python pass runs at plan time and every
    lookup is a hash probe whatever the number of filters.
    """
    parsed = []
    for f in filters:
        q = parse_query(f["query"])
        if not q.includes:
            continue
        if force_numeric:
            q.includes.append((None, "numericvalue"))
        q.includes = _normalize_includes(q.includes)
        q.excludes = sorted(set(q.excludes))
        parsed.append((f["filter_name"], q, f.get("labels", [])))

    if not parsed:
        return _empty_hits(postings)

    if n_docs is None:
        n_docs = (
            postings.select("conv_id", "turn_idx", "cindex").distinct().count()
        )

    # "" pins no field (an equi-join key, unlike null)
    entry_rows = [
        (term, name, fieldname or "", exclude, len(q.includes))
        for name, q, _labels in parsed
        for exclude, terms in ((False, q.includes), (True, q.excludes))
        for fieldname, term in terms
    ]
    spark = postings.sparkSession
    entries = _literal_rows(
        spark, ["term_l", "filter_name", "pin", "exclude", "n_terms"],
        entry_rows,
    )
    labels = _literal_rows(
        spark, ["filter_name", "labels"],
        [(name, list(lb)) for name, _q, lb in parsed],
    )

    doc = ["conv_id", "turn_idx", "cindex"]
    matched = (
        postings.withColumn("term_l", F.lower(F.col("term")))
        .filter(F.col("term_l").isin(sorted({r[0] for r in entry_rows})))
        .join(F.broadcast(entries), "term_l")
        .filter((F.col("pin") == "") | (F.col("pin") == F.col("field")))
        .select(*doc, "term_l", "tf", "filter_name", "pin", "exclude", "n_terms")
        .persist()
    )

    inc = matched.filter(~F.col("exclude"))
    df = inc.groupBy("term_l", "pin").agg(F.count_distinct(*doc).alias("df"))
    doc_hits = (
        inc.join(F.broadcast(df), ["term_l", "pin"])
        .withColumn("tfidf", F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")))
        .groupBy("filter_name", "n_terms", *doc)
        .agg(
            F.count_distinct("term_l").alias("n_matched"),
            F.sum("tfidf").alias("score"),
        )
        .filter(F.col("n_matched") == F.col("n_terms"))
    )
    exc = matched.filter(F.col("exclude")).select("filter_name", *doc).distinct()
    doc_hits = doc_hits.join(exc, ["filter_name", *doc], "left_anti")

    out = (
        doc_hits.groupBy("filter_name", "conv_id", "turn_idx")
        .agg(
            F.sort_array(F.collect_list("cindex")).alias("cindex"),
            F.sum("score").alias("score"),
        )
        .join(F.broadcast(labels), "filter_name")
        .select("conv_id", "turn_idx", "cindex", "score", "filter_name", "labels")
    )
    return register(out, matched)
