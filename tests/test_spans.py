"""Span-level dedup (ops/spans.py): repeated-footer corpora.

The scenario doc-level dedup misses: documents with DISTINCT bodies that
share boilerplate footer paragraphs.  dedup_spans must cluster the
footer occurrences (exact AND near-dup variants) without touching the
unique bodies; strip_repeated_spans must keep exactly one occurrence.
"""

import pytest
from pyspark.sql import functions as F

from crrf_det_spark.ops.spans import (
    dedup_shingles,
    dedup_spans,
    line_shingles,
    paragraph_spans,
    span_duplicate_edges,
    span_uid,
    strip_repeated_spans,
)

FOOTER_A = (
    "all rights reserved contact the legal department for licensing terms"
    " and conditions"
)
# near-dup of A: one word of 12 distinct changed -> jaccard 11/13 = 0.846
FOOTER_A2 = (
    "all rights reserved contact the legal division for licensing terms"
    " and conditions"
)
FOOTER_B = "subscribe to our newsletter for weekly product updates"


def _corpus(spark):
    # bodies are pairwise-distinct word soup (jaccard far below 0.8)
    rows = [
        (0, f"alpha body zero unique words {FOOTER_A}"),
        (1, f"beta body one different tokens entirely\n\n{FOOTER_A}"),
        (2, f"gamma body two other phrasing again\n\n{FOOTER_A}"),
        (3, f"delta body three more wording here\n\n{FOOTER_A2}"),
        (4, f"epsilon body four something else\n\n{FOOTER_B}"),
        (5, f"zeta body five final variant\n\n{FOOTER_B}"),
        (6, "eta body six no footer at all"),
    ]
    # doc 0's footer is INSIDE the first paragraph (no blank line), so
    # its text is a unique single span -- must not join the footer
    # cluster (span granularity is the paragraph, not substring match)
    return spark.createDataFrame(rows, ["doc_id", "text"])


class TestParagraphSpans:
    def test_split_and_stable_indices(self, spark):
        d = spark.createDataFrame(
            [(1, "a\n\n\n\nb\n\nc"), (2, "solo")], ["doc_id", "text"]
        )
        got = {
            (r.doc_id, r.span_idx): r.span_text
            for r in paragraph_spans(d).collect()
        }
        # \n\n+ collapses the double blank line: spans a,b,c at 0,1,2
        assert got == {(1, 0): "a", (1, 1): "b", (1, 2): "c", (2, 0): "solo"}

    def test_min_chars_keeps_original_indices(self, spark):
        d = spark.createDataFrame([(1, "long paragraph\n\nxx\n\nanother")],
                                  ["doc_id", "text"])
        idx = sorted(
            r.span_idx
            for r in paragraph_spans(d, min_chars=3).collect()
        )
        assert idx == [0, 2]  # filtered span keeps its slot


class TestSpanUid:
    def test_roundtrip(self, spark):
        d = spark.createDataFrame([(7, 5)], ["d", "i"])
        row = d.select(
            span_uid(F.col("d"), F.col("i")).alias("uid")
        ).collect()[0]
        assert row.uid == 7 * (1 << 20) + 5

    def test_cap_raises(self, spark):
        d = spark.createDataFrame([(1, 4)], ["d", "i"])
        with pytest.raises(Exception, match="span_uid"):
            d.select(
                span_uid(F.col("d"), F.col("i"), span_bits=2).alias("uid")
            ).collect()


class TestDedupSpans:
    def test_footer_clusters(self, spark):
        out = dedup_spans(_corpus(spark)).collect()
        comp = {(r.doc_id, r.span_idx): (r.rep_doc_id, r.rep_span_idx)
                for r in out}
        # footer-A cluster: docs 1,2 exact + doc 3 near-dup (jaccard 0.8);
        # representative = doc 1 span 1 (min uid)
        assert comp[(1, 1)] == (1, 1)
        assert comp[(2, 1)] == (1, 1)
        assert comp[(3, 1)] == (1, 1)
        # footer-B cluster, rep = doc 4 span 1
        assert comp[(4, 1)] == (4, 1)
        assert comp[(5, 1)] == (4, 1)
        # bodies and the footer-substring doc are unique -> absent
        assert set(comp) == {(1, 1), (2, 1), (3, 1), (4, 1), (5, 1)}

    def test_no_duplicates_empty(self, spark):
        d = spark.createDataFrame(
            [(1, "one unique\n\ntwo unique"), (2, "three unique")],
            ["doc_id", "text"],
        )
        assert dedup_spans(d).count() == 0

    def test_whitespace_spans_never_duplicates(self, spark):
        # spans with an empty token set (whitespace-only, e.g. ' ') are
        # excluded before digest grouping: exact dedup must agree with
        # near dedup (Jaccard over empty sets is undefined / no posting
        # rows in the contract oracle), so identical whitespace spans are
        # treated as unique content — reported by neither dedup_spans nor
        # stripped by strip_repeated_spans.
        d = spark.createDataFrame(
            [(1, "body one\n\n \n\ntail x"), (2, "body two\n\n \n\ntail y")],
            ["doc_id", "text"],
        )
        assert dedup_spans(d).count() == 0
        out = {r.doc_id: r.text for r in strip_repeated_spans(d).collect()}
        assert out == {
            1: "body one\n\n \n\ntail x",
            2: "body two\n\n \n\ntail y",
        }

    def test_edge_stage_caches_released(self, spark):
        # repo invariant: operators register persisted intermediates on
        # their result and release() leaves nothing cached.  (The
        # components stage's localCheckpoint RDDs are excluded: they ARE
        # the result's storage, reclaimed by the ContextCleaner when the
        # result is dropped, so counting them here would be flaky.)
        from crrf_det_spark.caching import release, registered

        before = spark.sparkContext._jsc.getPersistentRDDs().size()
        edges = span_duplicate_edges(paragraph_spans(_corpus(spark)))
        assert len(registered(edges)) == 3  # digests, groups, token sets
        edges.count()
        release(edges)
        after = spark.sparkContext._jsc.getPersistentRDDs().size()
        # <= not ==: earlier tests' checkpoint RDDs may be reclaimed by
        # the async ContextCleaner between the two reads
        assert after <= before


class TestStripRepeatedSpans:
    def test_keep_one_occurrence(self, spark):
        out = {r.doc_id: r.text
               for r in strip_repeated_spans(_corpus(spark)).collect()}
        # every doc still present
        assert set(out) == set(range(7))
        # footer A survives only in doc 1 (its rep slot); near-dup
        # variant in doc 3 is stripped too
        assert sum(FOOTER_A in t for t in out.values()) == 2  # doc0 inline + doc1
        assert FOOTER_A in out[0]  # inline substring span untouched
        assert out[1].endswith(FOOTER_A)
        assert FOOTER_A not in out[2]
        assert FOOTER_A2 not in out[3]
        # footer B survives only in doc 4
        assert out[4].endswith(FOOTER_B)
        assert FOOTER_B not in out[5]
        # bodies untouched, order preserved
        assert out[2].startswith("gamma body two")
        assert out[6] == "eta body six no footer at all"

    def test_fully_stripped_doc_is_empty_not_missing(self, spark):
        d = spark.createDataFrame(
            [(1, "same footer text here"), (2, "same footer text here")],
            ["doc_id", "text"],
        )
        out = {r.doc_id: r.text for r in strip_repeated_spans(d).collect()}
        assert out == {1: "same footer text here", 2: ""}


class TestLineShingles:
    def test_windows_and_start_indices(self, spark):
        d = spark.createDataFrame(
            [(1, "a\nb\nc\nd"), (2, "x\ny"), (3, "p\nq\nr")],
            ["doc_id", "text"],
        )
        got = {
            (r.doc_id, r.span_idx): r.span_text
            for r in line_shingles(d, k=3).collect()
        }
        # doc 2 has fewer than k lines -> no shingles (doc-level dedup's
        # case, not this operator's)
        assert got == {
            (1, 0): "a\nb\nc",
            (1, 1): "b\nc\nd",
            (3, 0): "p\nq\nr",
        }


class TestDedupShingles:
    def test_inline_footer_not_blank_line_delimited(self, spark):
        # the gap this operator exists for: a 3-line boilerplate block
        # spliced into flowed text with SINGLE newlines — dedup_spans
        # (blank-line paragraphs) sees one big unique span per doc and
        # finds nothing; dedup_shingles links the block occurrences.
        footer = (
            "legal notice governs this content\n"
            "reproduction requires written permission\n"
            "trademarks belong to their owners"
        )
        rows = [
            (0, f"body zero opening words\n{footer}\nbody zero closing"),
            (1, f"different body one entirely\n{footer}\nanother tail here"),
            (2, "totally other words\nno shared boilerplate\nunique tail"),
        ]
        df = spark.createDataFrame(rows, ["doc_id", "text"])
        assert dedup_spans(df).count() == 0
        comp = {
            (r.doc_id, r.span_idx): (r.rep_doc_id, r.rep_span_idx)
            for r in dedup_shingles(df, k=3).collect()
        }
        # the fully-inside-footer window starts at line 1 in both docs;
        # windows overlapping body lines are doc-unique
        assert comp == {(0, 1): (0, 1), (1, 1): (0, 1)}


class TestStripRepeatedShingles:
    def test_strip_inline_block_keeps_one_occurrence(self, spark):
        from crrf_det_spark.ops.spans import strip_repeated_shingles

        footer = (
            "legal notice governs this content\n"
            "reproduction requires written permission\n"
            "trademarks belong to their owners"
        )
        rows = [
            (0, f"body zero opening words\n{footer}\nbody zero closing"),
            (1, f"different body one entirely\n{footer}\nanother tail here"),
            (2, "totally other words\nno shared boilerplate\nunique tail"),
        ]
        df = spark.createDataFrame(rows, ["doc_id", "text"])
        out = {
            r.doc_id: r.text
            for r in strip_repeated_shingles(df, k=3).collect()
        }
        assert out[0] == rows[0][1]  # representative occurrence intact
        assert out[1] == "different body one entirely\nanother tail here"
        assert out[2] == rows[2][1]  # untouched

    def test_fully_stripped_doc_is_empty_not_missing(self, spark):
        from crrf_det_spark.ops.spans import strip_repeated_shingles

        block = "alpha line\nbeta line\ngamma line"
        df = spark.createDataFrame(
            [(1, block), (2, block)], ["doc_id", "text"]
        )
        out = {
            r.doc_id: r.text
            for r in strip_repeated_shingles(df, k=3).collect()
        }
        assert out == {1: block, 2: ""}


class TestShinglesRandomizedOracle:
    """Seeded random line corpora vs a pure-Python exact oracle (same
    style as TestSpansRandomizedOracle): all-pairs distinct-word Jaccard
    over 3-line windows + union-find with min-key representatives."""

    def _oracle(self, docs, k=3, threshold=0.8):
        spans = {}
        for d, text in docs:
            lines = text.split("\n")
            for i in range(len(lines) - k + 1):
                toks = set("\n".join(lines[i:i + k]).split())
                if toks:
                    spans[(d, i)] = toks
        keys = sorted(spans)
        parent = {key: key for key in keys}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for ai in range(len(keys)):
            for bi in range(ai + 1, len(keys)):
                a, b = keys[ai], keys[bi]
                sa, sb = spans[a], spans[b]
                inter = len(sa & sb)
                if inter / (len(sa) + len(sb) - inter) >= threshold:
                    ra, rb = find(a), find(b)
                    if ra != rb:
                        parent[max(ra, rb)] = min(ra, rb)
        comp = {key: find(key) for key in keys}
        sizes = {}
        for r in comp.values():
            sizes[r] = sizes.get(r, 0) + 1
        return {key: r for key, r in comp.items() if sizes[r] >= 2}

    @pytest.mark.parametrize("seed", [11, 29])
    def test_components_match_unionfind_oracle(self, spark, seed):
        import random

        rng = random.Random(seed)
        vocab = [f"w{i}" for i in range(10)]
        docs = []
        for d in range(12):
            lines = [
                " ".join(rng.choice(vocab) for _ in range(rng.randint(2, 5)))
                for _ in range(rng.randint(1, 6))
            ]
            docs.append((d, "\n".join(lines)))
        df = spark.createDataFrame(docs, ["doc_id", "text"])
        got = {
            (r.doc_id, r.span_idx): (r.rep_doc_id, r.rep_span_idx)
            for r in dedup_shingles(df, k=3, threshold=0.8).collect()
        }
        assert got == self._oracle(docs)


class TestSpansRandomizedOracle:
    """Seeded random corpora vs a pure-Python exact oracle: all-pairs
    distinct-word Jaccard >= threshold + union-find with min-key
    representatives — the same cross-check style dedup_components gets
    (tests/test_ops.py), now over span keys."""

    def _oracle(self, docs, threshold=0.8):
        spans = {}
        for d, text in docs:
            for i, s in enumerate(text.split("\n\n")):
                if len(s) >= 1:
                    spans[(d, i)] = set(s.split())
        keys = sorted(spans)
        parent = {k: k for k in keys}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for ai in range(len(keys)):
            for bi in range(ai + 1, len(keys)):
                a, b = keys[ai], keys[bi]
                sa, sb = spans[a], spans[b]
                if not sa or not sb:
                    continue
                inter = len(sa & sb)
                if inter / (len(sa) + len(sb) - inter) >= threshold:
                    ra, rb = find(a), find(b)
                    if ra != rb:
                        parent[max(ra, rb)] = min(ra, rb)
        comp = {k: find(k) for k in keys}
        sizes = {}
        for r in comp.values():
            sizes[r] = sizes.get(r, 0) + 1
        return {k: r for k, r in comp.items() if sizes[r] >= 2}

    @pytest.mark.parametrize("seed", [7, 23])
    def test_components_match_unionfind_oracle(self, spark, seed):
        import random

        rng = random.Random(seed)
        vocab = [f"w{i}" for i in range(12)]
        docs = []
        for d in range(14):
            paras = [
                " ".join(rng.choice(vocab) for _ in range(rng.randint(3, 8)))
                for _ in range(rng.randint(1, 4))
            ]
            docs.append((d, "\n\n".join(paras)))
        df = spark.createDataFrame(docs, ["doc_id", "text"])
        got = {
            (r.doc_id, r.span_idx): (r.rep_doc_id, r.rep_span_idx)
            for r in dedup_spans(df, threshold=0.8).collect()
        }
        assert got == self._oracle(docs)
