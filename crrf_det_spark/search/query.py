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
"""

from __future__ import annotations

import shlex
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

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
    """Run a boolean query -> per-turn results (conv_id, turn_idx, cindex
    list, score) ordered by score desc.

    Execution shape (scale-first): the query's term IN-list is pushed into
    the postings scan FIRST, so tf/df/idf are computed only for the handful
    of query terms -- never a corpus-wide TFIDF table.  The
    all-terms-present check is one hash agg counting distinct matched
    terms; excludes are a left_anti join.  No driver-side loops.

    ``n_docs`` (corpus size for idf) should be passed when known cheaply;
    otherwise derived with a distinct-count over the postings.
    """
    q = parse_query(terms)
    if not q.includes:
        return _empty_hits(postings)
    if force_numeric:
        q.includes.append((None, "numericvalue"))

    if n_docs is None:
        n_docs = (
            postings.select("conv_id", "turn_idx", "cindex").distinct().count()
        )

    def match(includes):
        conds = None
        for fieldname, term in includes:
            c = F.col("term_l") == term
            if fieldname:
                c = c & (F.col("field") == fieldname)
            conds = c if conds is None else (conds | c)
        return conds

    # One term-IN filter over the postings, evaluated ONCE and persisted:
    # the plan references the matched subset three times (tf/df agg, idf
    # join, exclude anti-join); without the persist each branch would
    # re-run the upstream index build.  The subset is tiny by construction
    # (<= query_terms x docs rows), so this is safe at any corpus size --
    # against a materialized postings table the IN-list additionally pushes
    # into the scan.
    all_terms = sorted(
        {t for _f, t in q.includes} | {t for _f, t in q.excludes}
    )
    from ..caching import register

    pl = (
        postings.withColumn("term_l", F.lower(F.col("term")))
        .filter(F.col("term_l").isin(all_terms))
        .persist()
    )
    # df per case-folded term over the matched subset, as search_many
    # takes it: a pinned term's subset holds only its field's postings
    inc = pl.filter(match(q.includes))
    df_by_term = inc.groupBy("term_l").agg(
        F.count_distinct("conv_id", "turn_idx", "cindex").alias("df")
    )
    sc = inc.join(F.broadcast(df_by_term), "term_l").withColumn(
        "tfidf", F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df"))
    )
    n_terms = len({t for _f, t in q.includes})
    doc_hits = (
        sc.groupBy("conv_id", "turn_idx", "cindex")
        .agg(
            F.count_distinct("term_l").alias("n_matched"),
            F.sum("tfidf").alias("score"),
        )
        .filter(F.col("n_matched") == n_terms)
    )
    if q.excludes:
        exc = pl.filter(match(q.excludes)).select(
            "conv_id", "turn_idx", "cindex"
        ).distinct()
        doc_hits = doc_hits.join(
            exc, ["conv_id", "turn_idx", "cindex"], "left_anti"
        )
    # group hits per turn: cindex list + summed score (index.js:124-141).
    # (tail shared with search_many's per-filter grouping)
    # pl stays persisted while the returned plan is live (three branches
    # reference it); callers release it with caching.materialize/release.
    return register(
        doc_hits.groupBy("conv_id", "turn_idx")
        .agg(
            F.sort_array(F.collect_list("cindex")).alias("cindex"),
            F.sum("score").alias("score"),
        )
        .orderBy(F.desc("score"), "conv_id", "turn_idx"),
        pl,
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
        return _empty_hits(build_index(segments.limit(0), lengths))
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


def _empty_hits(postings: DataFrame, with_filter_cols: bool = False) -> DataFrame:
    """Zero-row hits frame whose conv_id/turn_idx/cindex types are DERIVED
    from the postings table (a hardcoded schema would mismatch callers
    whose ids are longs, breaking later unions)."""
    out = (
        postings.limit(0)
        .groupBy("conv_id", "turn_idx")
        .agg(
            F.sort_array(F.collect_list("cindex")).alias("cindex"),
            F.sum(F.lit(0.0)).alias("score"),
        )
    )
    if with_filter_cols:
        out = out.withColumn("filter_name", F.lit(None).cast("string")).withColumn(
            "labels", F.lit(None).cast("array<string>")
        )
    return out


def _normalize_includes(
    includes: list[tuple[str | None, str]],
) -> list[tuple[str | None, str]]:
    """Collapse duplicate include entries per query the way ``search()``'s
    row-level OR filter implicitly does: exact duplicates merge, and a
    term that appears both field-pinned and unpinned (or pinned to two
    different fields) becomes one unpinned entry — the OR of its match
    conditions admits the same rows, n_matched counts distinct TERMS, and
    df is taken over the matched subset, so this is exactly search()'s
    behavior.  Without it, a joined term map would score one postings row
    once per matching map entry (double-counting, e.g. a query already
    containing 'numericvalue' plus the forced include)."""
    norm: dict[str, str | None] = {}
    for fieldname, term in includes:
        if term in norm:
            if norm[term] != fieldname:
                norm[term] = None
        else:
            norm[term] = fieldname
    return [(f, t) for t, f in norm.items()]


def search_many(
    postings: DataFrame,
    filters: list[dict],
    force_numeric: bool = True,
    n_docs: int | None = None,
) -> DataFrame:
    """Run MANY boolean queries in ONE pass over the postings — the batch
    shape behind ``project.run_filters`` (the reference loops files x
    filters; a driver-side loop of ``search()`` calls here would scan the
    corpus once per filter).

    filters: [{filter_name, query, labels}].  Per-filter results are
    identical to ``search()`` (asserted in tests/test_search.py): tf and
    df come from the same postings subset, field-pinned terms use the
    per-(term, field) df, every include must match, any exclude kills the
    doc.  Returns (conv_id, turn_idx, cindex: array<int>, score,
    filter_name, labels).

    Shape: ONE term-IN filter over the postings (union of every filter's
    terms) evaluated once and persisted; a tiny broadcast (filter, term,
    field, exclude) map joins against it; per-(filter, doc) hash aggs do
    the AND/score logic.  The persisted subset is registered on the
    result for caching.materialize/release.
    """
    from ..caching import register

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

    spark = postings.sparkSession
    if not parsed:
        return _empty_hits(postings, with_filter_cols=True)

    if n_docs is None:
        n_docs = (
            postings.select("conv_id", "turn_idx", "cindex").distinct().count()
        )

    map_rows = []
    for name, q, _labels in parsed:
        for fieldname, term in q.includes:
            map_rows.append((name, fieldname, term, False))
        for fieldname, term in q.excludes:
            map_rows.append((name, fieldname, term, True))
    term_map = spark.createDataFrame(
        map_rows, "filter_name string, fieldname string, term_l string,"
        " exclude boolean"
    )
    n_terms = spark.createDataFrame(
        [(name, len({t for _f, t in q.includes})) for name, q, _l in parsed],
        "filter_name string, n_terms int",
    )
    labels_tbl = spark.createDataFrame(
        [(name, list(labels)) for name, _q, labels in parsed],
        "filter_name string, labels array<string>",
    )

    all_terms = sorted({r[2] for r in map_rows})
    pl = (
        postings.withColumn("term_l", F.lower(F.col("term")))
        .filter(F.col("term_l").isin(all_terms))
        .persist()
    )

    # per-term df exactly as search() computes it: over the matched subset,
    # globally for unpinned terms, per-field for pinned terms
    doc = ["conv_id", "turn_idx", "cindex"]
    df_any = pl.groupBy("term_l").agg(F.count_distinct(*doc).alias("df_any"))
    df_fld = pl.groupBy("term_l", "field").agg(
        F.count_distinct(*doc).alias("df_fld")
    )

    matched = pl.join(
        F.broadcast(term_map),
        (pl["term_l"] == term_map["term_l"])
        & (
            term_map["fieldname"].isNull()
            | (term_map["fieldname"] == pl["field"])
        ),
    ).select(
        "filter_name",
        "fieldname",
        "exclude",
        pl["term_l"].alias("term_l"),
        "field",
        "tf",
        *doc,
    )

    inc = (
        matched.filter(~F.col("exclude"))
        .join(F.broadcast(df_any), "term_l")
        .join(F.broadcast(df_fld), ["term_l", "field"])
        .withColumn(
            "df",
            F.when(F.col("fieldname").isNull(), F.col("df_any")).otherwise(
                F.col("df_fld")
            ),
        )
        .withColumn("tfidf", F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")))
    )
    doc_hits = (
        inc.groupBy("filter_name", *doc)
        .agg(
            F.count_distinct("term_l").alias("n_matched"),
            F.sum("tfidf").alias("score"),
        )
        .join(F.broadcast(n_terms), "filter_name")
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
        .join(F.broadcast(labels_tbl), "filter_name")
        .select("conv_id", "turn_idx", "cindex", "score", "filter_name", "labels")
    )
    return register(out, pl)
