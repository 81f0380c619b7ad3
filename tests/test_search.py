"""Search layer tests: number normalization (index.js:9-21 parity cases),
ngrams, inverted index, TFIDF boolean queries with exclusions and field
prefixes, regex search, and batch project runs."""

import math

import pytest
from pyspark.sql import functions as F

from crrf_det_spark.search import (
    build_index,
    ngrams_col,
    normalize_numbers_col,
    parse_query,
    regex_search,
    search,
    tokens_col,
)
from crrf_det_spark.project import master_index, run_filters, segment_labels

SEGMENTS = [
    # conv, turn, cindex, type, content
    ("c1", 0, 0, "text", "net revenue increased 12.5 percent in 2021"),
    ("c1", 0, 1, "table", "steel\t1,240\ncopper\t988"),
    ("c1", 1, 0, "text", "climate targets for 2030 remain 3 priorities"),
    ("c2", 0, 0, "text", "revenue guidance unchanged at $5,000"),
    ("c2", 1, 0, "table", "wheat\t77.5\nurea\t88.1"),
]


@pytest.fixture(scope="module")
def segments_df(spark):
    return spark.createDataFrame(
        SEGMENTS, "conv_id string, turn_idx int, cindex int, type string, content string"
    ).cache()


class TestNormalize:
    @pytest.mark.parametrize(
        "raw,expected",
        [
            ("12.5", "NUMERICVALUE"),          # plain float -> replaced
            ("2021", "2021"),                   # year kept
            ("1899", "NUMERICVALUE"),           # outside year range
            ("3", "3"),                         # small int kept
            ("4.0", "4"),                       # parseFloat(4.0)=4 int small -- kept
            ("-1", "NUMERICVALUE"),             # negative not in [0,5)
            ("5", "NUMERICVALUE"),              # 5 not < 5
            ("$5,000", "NUMERICVALUE"),         # currency stripped then numeric
            ("abc", "abc"),                     # NaN kept
            ("1,240", "NUMERICVALUE"),
            ("€3.2", "NUMERICVALUE"),
            ("2021.5", "NUMERICVALUE"),         # year range requires int
        ],
    )
    def test_process_numbers(self, spark, raw, expected):
        out = spark.range(1).select(
            normalize_numbers_col(F.lit(raw)).alias("t")
        ).first()["t"]
        # parseFloat('4.0') == 4 -> int -> kept as original token per ref
        if raw == "4.0":
            assert out == "4.0"
        else:
            assert out == expected

    def test_sentence(self, spark):
        out = spark.range(1).select(
            normalize_numbers_col(F.lit("paid $1,234 in 2021 for 3 items")).alias("t")
        ).first()["t"]
        assert out == "paid NUMERICVALUE in 2021 for 3 items"

    def test_ngrams(self, spark):
        out = spark.range(1).select(
            ngrams_col(tokens_col(F.lit("a b c"))).alias("g")
        ).first()["g"]
        assert out == ["a", "b", "c", "a b", "b c", "a b c"]


class TestIndexAndQuery:
    def test_postings(self, segments_df):
        idx = build_index(segments_df)
        row = idx.filter(
            (F.col("term") == "revenue") & (F.col("conv_id") == "c1")
        ).first()
        assert row is not None and row.tf == 1

    def test_and_semantics(self, segments_df):
        idx = build_index(segments_df)
        hits = search(idx, "net revenue").collect()
        assert [(h.conv_id, h.turn_idx) for h in hits] == [("c1", 0)]

    def test_forced_numeric(self, segments_df):
        idx = build_index(segments_df)
        # 'climate' appears in a segment with no numeric value except '2030'
        # (year, kept) and '3' (small int, kept) -> no NUMERICVALUE -> no hit
        assert search(idx, "climate").count() == 0
        assert search(idx, "climate", force_numeric=False).count() == 1

    def test_exclusion(self, segments_df):
        idx = build_index(segments_df)
        with_ex = search(idx, "revenue -guidance").collect()
        assert [(h.conv_id, h.turn_idx) for h in with_ex] == [("c1", 0)]

    def test_field_prefix(self, segments_df):
        idx = build_index(segments_df)
        hits = search(idx, "table:steel", force_numeric=False).collect()
        assert [(h.conv_id, h.turn_idx, list(h.cindex)) for h in hits] == [
            ("c1", 0, [1])
        ]
        assert search(idx, "text:steel", force_numeric=False).count() == 0

    def test_phrase(self, segments_df):
        idx = build_index(segments_df)
        hits = search(idx, '"net revenue"', force_numeric=False).collect()
        assert [(h.conv_id, h.turn_idx) for h in hits] == [("c1", 0)]
        assert search(idx, '"revenue net"', force_numeric=False).count() == 0

    def test_parse_query(self):
        q = parse_query('alpha "net revenue" -beta table:gamma -text:delta')
        assert q.includes == [(None, "alpha"), (None, "net revenue"), ("table", "gamma")]
        assert q.excludes == [(None, "beta"), ("text", "delta")]

    @pytest.mark.parametrize(
        "terms,force_numeric",
        [
            ("net revenue", True),
            ("revenue -guidance", True),
            ('"net revenue"', False),
            ("table:steel", False),
            ("climate", True),
            ("climate", False),
            ("revenue 1240", True),
        ],
    )
    def test_search_adhoc_equals_composition(
        self, spark, segments_df, terms, force_numeric
    ):
        # the prefiltered one-shot path must be value-identical to the
        # build-everything-then-search composition, incl. idf (full-corpus
        # n_docs) and exclude semantics
        from crrf_det_spark.search import search_adhoc

        base = search(
            build_index(segments_df, lengths=(1, 2)),
            terms,
            force_numeric=force_numeric,
        ).collect()
        fast = search_adhoc(
            segments_df, terms, force_numeric=force_numeric, lengths=(1, 2)
        ).collect()
        canon = lambda rows: sorted(
            (r.conv_id, r.turn_idx, tuple(r.cindex), round(r.score, 9))
            for r in rows
        )
        assert canon(fast) == canon(base)


class TestRegexSearch:
    def test_basic(self, segments_df):
        hits = regex_search(segments_df, [r"revenue"]).collect()
        assert sorted((h.conv_id, h.turn_idx, h.cindex) for h in hits) == [
            ("c1", 0, 0),
            ("c2", 0, 0),
        ]

    def test_field_and_count(self, segments_df):
        hits = regex_search(segments_df, [r"table:steel", r"copper"]).collect()
        assert [(h.conv_id, h.n_matches) for h in hits] == [("c1", 2)]

    def test_tab_flattening(self, segments_df):
        # table content is tab/newline flattened, so row-regex works
        assert regex_search(segments_df, [r"steel\t1,240"]).count() == 1


class TestProject:
    FILTERS = [
        {"filter_name": "rev", "query": "revenue", "labels": ["finance"]},
        {"filter_name": "metals", "query": "table:steel", "labels": ["commodity", "metal"]},
    ]

    def test_run_filters(self, segments_df):
        idx = build_index(segments_df)
        hits = run_filters(idx, self.FILTERS, force_numeric=False)
        got = {
            (h.filter_name, h.conv_id, h.turn_idx): list(h.cindex)
            for h in hits.collect()
        }
        assert got[("rev", "c1", 0)] == [0]
        assert got[("rev", "c2", 0)] == [0]
        assert got[("metals", "c1", 0)] == [1]

    def test_segment_labels(self, segments_df):
        idx = build_index(segments_df)
        hits = run_filters(idx, self.FILTERS, force_numeric=False)
        labels = {
            (r.conv_id, r.turn_idx, r.cindex): list(r.labels)
            for r in segment_labels(hits).collect()
        }
        assert labels[("c1", 0, 1)] == ["commodity", "metal"]
        assert labels[("c1", 0, 0)] == ["finance"]

    def test_master_index(self, segments_df):
        idx = build_index(segments_df)
        hits = run_filters(idx, self.FILTERS, force_numeric=False)
        mi = {r.conv_id: r.n_segments for r in master_index(hits).collect()}
        assert mi == {"c1": 2, "c2": 1}

    def test_master_index_max_turn(self, segments_df):
        # A11: the max-page aggregation — a filter hitting c2's turn-1
        # table must raise c2's max_turn_idx to 1
        idx = build_index(segments_df)
        hits = run_filters(
            idx,
            self.FILTERS
            + [{"filter_name": "grain", "query": "table:wheat", "labels": []}],
            force_numeric=False,
        )
        mx = {r.conv_id: r.max_turn_idx for r in master_index(hits).collect()}
        assert mx == {"c1": 0, "c2": 1}

    def test_search_many_equals_per_filter_search(self, segments_df):
        # one-pass multi-filter resolution must agree with N independent
        # search() calls, including field-pinned terms and excludes, and
        # with TFIDF worked by hand over the 5 SEGMENTS: 'revenue' is in
        # 2 docs (tf 1), 'steel' in 1 table; the exclude does not touch
        # df
        from crrf_det_spark.search.query import search_many

        filters = self.FILTERS + [
            {"filter_name": "rg", "query": "revenue -guidance", "labels": ["x"]},
        ]
        idx = build_index(segments_df)
        many = {
            (h.filter_name, h.conv_id, h.turn_idx): (list(h.cindex), round(h.score, 9))
            for h in search_many(idx, filters, force_numeric=False).collect()
        }
        solo = {}
        for f in filters:
            for h in search(idx, f["query"], force_numeric=False).collect():
                solo[(f["filter_name"], h.conv_id, h.turn_idx)] = (
                    list(h.cindex),
                    round(h.score, 9),
                )
        rev = round(math.log(5 / 2), 9)
        want = {
            ("rev", "c1", 0): ([0], rev),
            ("rev", "c2", 0): ([0], rev),
            ("metals", "c1", 0): ([1], round(math.log(5), 9)),
            ("rg", "c1", 0): ([0], rev),
        }
        assert many == solo == want

    def test_search_many_duplicate_and_pinned_terms(self, segments_df):
        # 'numericvalue' listed AND forced, and 'revenue' both pinned and
        # unpinned: each collapses to one unpinned term, so each hit row
        # scores once -- revenue ln(5/2) (2 docs) + numericvalue ln(5/4)
        # (4 docs), never twice
        from crrf_det_spark.search.query import search_many

        filters = [
            {"filter_name": "dup", "query": "revenue numericvalue", "labels": []},
            {"filter_name": "pin", "query": "text:revenue revenue", "labels": []},
        ]
        idx = build_index(segments_df)
        many = {
            (h.filter_name, h.conv_id, h.turn_idx): (list(h.cindex), round(h.score, 9))
            for h in search_many(idx, filters, force_numeric=True).collect()
        }
        solo = {}
        for f in filters:
            for h in search(idx, f["query"], force_numeric=True).collect():
                solo[(f["filter_name"], h.conv_id, h.turn_idx)] = (
                    list(h.cindex),
                    round(h.score, 9),
                )
        score = round(math.log(5 / 2) + math.log(5 / 4), 9)
        want = {(n, c, 0): ([0], score)
                for n in ("dup", "pin") for c in ("c1", "c2")}
        assert many == solo == want

    def test_search_many_pinned_term_uses_field_df(self, segments_df):
        # numericvalue is in 4 docs: 2 tables (tf 2 each) and 2 texts
        # (tf 1 each); pinned, a term takes its per-field df, unpinned
        # the global one; an exclude removes only the doc it matches
        from crrf_det_spark.search.query import search_many

        filters = [
            {"filter_name": "tab", "query": "table:numericvalue"},
            {"filter_name": "txt", "query": "text:numericvalue"},
            {"filter_name": "any", "query": "numericvalue -text:revenue"},
        ]
        idx = build_index(segments_df)
        got = {
            (h.filter_name, h.conv_id, h.turn_idx): (list(h.cindex), round(h.score, 9))
            for h in search_many(idx, filters, force_numeric=False).collect()
        }
        tab, txt = round(2 * math.log(5 / 2), 9), round(math.log(5 / 2), 9)
        anyf = round(2 * math.log(5 / 4), 9)
        assert got == {
            ("tab", "c1", 0): ([1], tab),
            ("tab", "c2", 1): ([0], tab),
            ("txt", "c1", 0): ([0], txt),
            ("txt", "c2", 0): ([0], txt),
            ("any", "c1", 0): ([1], anyf),
            ("any", "c2", 1): ([0], anyf),
        }

    def test_search_case_folds_df_like_search_many(self, spark):
        # "Revenue" and "revenue" are one term for df: 2 of 3 segments,
        # so each hit scores ln(3/2) in search(), search_many() and the
        # DuckDB oracle alike
        from crrf_det_spark.search.query import search_many

        segs = spark.createDataFrame(
            [("c1", 0, 0, "text", "Revenue grew"),
             ("c1", 1, 0, "text", "revenue fell"),
             ("c1", 2, 0, "text", "costs rose")],
            "conv_id string, turn_idx int, cindex int, type string,"
            " content string",
        )
        idx = build_index(segs)
        want = {("c1", 0): round(math.log(1.5), 6),
                ("c1", 1): round(math.log(1.5), 6)}
        solo = {(h.conv_id, h.turn_idx): round(h.score, 6)
                for h in search(idx, "revenue", force_numeric=False).collect()}
        many = {(h.conv_id, h.turn_idx): round(h.score, 6)
                for h in search_many(
                    idx, [{"filter_name": "r", "query": "revenue"}],
                    force_numeric=False,
                ).collect()}
        assert solo == many == want

    def test_search_many_empty_filters_schema_follows_postings(self, spark):
        # zero-parseable-filters path must derive id types from the
        # postings (long conv_ids here), not a hardcoded string schema
        from crrf_det_spark.search.query import search_many

        postings = spark.createDataFrame(
            [(7, 0, 0, "text", "alpha", 1)],
            "conv_id long, turn_idx int, cindex int, field string,"
            " term string, tf long",
        )
        out = search_many(postings, [{"filter_name": "x", "query": "", "labels": []}])
        assert out.count() == 0
        assert dict(out.dtypes)["conv_id"] == "bigint"

    def test_search_many_builds_no_python_side_tables(
        self, spark, segments_df, monkeypatch
    ):
        # the query entries (with n_terms) and the labels are VALUES
        # literals that Catalyst resolves: no DataFrame is built from
        # Python lists (each would be a Python pass at plan time)
        from pyspark.sql import SparkSession

        from crrf_det_spark.search.query import search_many

        idx = build_index(segments_df)

        def refuse(*_a, **_k):
            raise AssertionError("search_many called createDataFrame")

        monkeypatch.setattr(SparkSession, "createDataFrame", refuse)
        out = search_many(
            idx, self.FILTERS, force_numeric=False, n_docs=len(SEGMENTS)
        )
        monkeypatch.undo()
        got = {(h.filter_name, h.conv_id, h.turn_idx): list(h.labels)
               for h in out.collect()}
        assert got == {
            ("rev", "c1", 0): ["finance"],
            ("rev", "c2", 0): ["finance"],
            ("metals", "c1", 0): ["commodity", "metal"],
        }

    def test_search_many_embeds_any_text(self, spark):
        # filter names, labels and terms enter the plan as SQL literals:
        # quotes, backslashes and non-ASCII text must come back unchanged
        from crrf_det_spark.search.query import search_many

        segs = spark.createDataFrame(
            [("c1", 0, 0, "text", "naïve café o'brien 東京"),
             ("c2", 0, 0, "text", "naïve other 東京")],
            "conv_id string, turn_idx int, cindex int, type string,"
            " content string",
        )
        filters = [
            {"filter_name": "f'1\\", "query": "naïve \"o'brien\"",
             "labels": ["a'b", "ü"]},
            {"filter_name": "東", "query": "東京 -café", "labels": []},
        ]
        got = {
            (h.filter_name, h.conv_id): (list(h.cindex), round(h.score, 9),
                                         list(h.labels))
            for h in search_many(
                build_index(segs), filters, force_numeric=False
            ).collect()
        }
        assert got == {
            ("f'1\\", "c1"): ([0], round(math.log(2), 9), ["a'b", "ü"]),
            ("東", "c2"): ([0], 0.0, []),
        }

    def test_run_filters_releases_all_caches(self, spark):
        from crrf_det_spark.caching import registered, release

        # own inputs, cached and computed before counting: a shared
        # fixture would be first cached inside the window, and a plan
        # identical to an earlier test's would share (and on release
        # drop) that test's cache entry
        segs = spark.createDataFrame(
            SEGMENTS,
            "conv_id string, turn_idx int, cindex int, type string, content string",
        ).cache()
        segs.count()
        jsc = spark.sparkContext._jsc
        before = jsc.getPersistentRDDs().size()
        idx = build_index(segs)
        hits = run_filters(idx, self.FILTERS, force_numeric=False)
        hits.collect()
        # run_filters materialized the (small) hit table and already
        # dropped every intermediate registered on it: only the hit
        # table itself is cached
        assert registered(hits) == []
        assert jsc.getPersistentRDDs().size() == before + 1
        # release drops the hit table -> net-zero cached RDDs from the
        # whole call
        release(hits)
        assert not hits.is_cached
        assert jsc.getPersistentRDDs().size() == before
        segs.unpersist()
