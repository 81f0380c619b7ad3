"""Batch project runs: persisted filters x corpus.

Re-expresses the reference's project task
(/root/reference/src/task/project.py:19-104): every user filter (a persisted
query string + labels, /root/reference/src/service/filters.py:29-53) is run
over the whole corpus; hits carry the union of matching filters' labels;
a master index records per-file (here per-conversation) segment counts.

Spark-first: the reference's nested file x filter loop becomes ONE pass --
the filters' (term, filter, pin, exclude) entries are a small literal
relation broadcast-joined to the postings by term; per-filter hits are
grouped.  At 100TB the corpus is scanned once per run (not once per
filter) because every filter's terms are matched over the same scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .caching import materialize
from .search.query import search_many


def run_filters(
    postings: DataFrame,
    filters: list[dict],
    force_numeric: bool = True,
) -> DataFrame:
    """filters: [{filter_name, query, labels}] -> hit segments with labels.

    Returns (conv_id, turn_idx, cindex: array<int>, score, filter_name,
    labels).  Label accumulation for multi-filter hits mirrors
    project.py:82-89 (a segment hit by several filters gets all label
    sets).

    Genuinely ONE pass: ``search_many`` pushes the union of every
    filter's terms into a single postings scan and resolves all filters
    with broadcast hash joins against literal relations (the entries,
    the per-(term, pin) df table, the labels) + hash aggs (the reference
    re-runs its index per file per filter).  The result is materialized eagerly — hit
    lists are small by construction, and the reference also materializes
    them (to per-file segs JSON) — which lets the internal postings
    subset cache be dropped immediately.  Call ``caching.release`` on
    the returned DataFrame when done with it; after that no cached RDDs
    remain (asserted in tests/test_search.py).
    """
    # postings cached for the duration of the call: the n_docs count and
    # search_many's term-subset scan otherwise each re-run the whole
    # upstream index build
    postings = postings.persist()
    n_docs = postings.select("conv_id", "turn_idx", "cindex").distinct().count()
    out = search_many(
        postings, filters, force_numeric=force_numeric, n_docs=n_docs
    )
    out = materialize(out)
    postings.unpersist()
    return out


def segment_labels(filter_hits: DataFrame) -> DataFrame:
    """Per-segment accumulated distinct labels (project.py:82-89 analogue).

    Explodes each filter's per-turn cindex hit list and unions labels per
    (conv_id, turn_idx, cindex).
    """
    return (
        filter_hits.select(
            "conv_id",
            "turn_idx",
            F.explode("cindex").alias("cindex"),
            F.explode_outer("labels").alias("label"),
        )
        .groupBy("conv_id", "turn_idx", "cindex")
        .agg(F.array_distinct(F.sort_array(F.collect_list("label"))).alias("labels"))
    )


def master_index(filter_hits: DataFrame) -> DataFrame:
    """Per-conversation hit-segment counts + max hit turn, the analogue
    of .master_index.json {files: {f: count}, segments_collected}
    (project.py:43-46,94-103); max_turn_idx is the A11 max-page
    aggregation (the reference tracks the highest page seen per file)."""
    per_conv = (
        filter_hits.select("conv_id", "turn_idx", F.explode("cindex").alias("cindex"))
        .distinct()
        .groupBy("conv_id")
        .agg(
            F.count("*").alias("n_segments"),
            F.max("turn_idx").alias("max_turn_idx"),
        )
    )
    return per_conv.orderBy("conv_id")
