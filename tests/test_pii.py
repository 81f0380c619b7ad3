"""PII scrub columns + benchmark-contamination probe (ops/pii.py)."""

import contextlib
import io

from pyspark.sql import functions as F

from crrf_det_spark.ops.curate import normalized_digest
from crrf_det_spark.ops.pii import (
    PII_PATTERNS,
    contamination_probe,
    pii_stats,
)


def _explain(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain()
    return buf.getvalue()


class TestPiiDetection:
    def test_counts_and_redaction_all_classes(self, spark):
        text = (
            "reach me at alice.smith+dev@example.co.uk or call "
            "+44 020-555-1234 from 192.168.0.1; backup key "
            "deadbeefdeadbeefdeadbeefdeadbeef1234 stays secret"
        )
        df = spark.createDataFrame([(1, text)], ["doc_id", "text"])
        row = pii_stats(df).collect()[0]
        assert row.n_email == 1
        assert row.n_ipv4 == 1
        assert row.n_phone == 1
        assert row.n_hex_secret == 1
        assert row.n_pii_total == 4
        red = row.text_redacted
        for name in PII_PATTERNS:
            assert f"<PII:{name.upper()}>" in red
        for leaked in ("alice", "192.168", "deadbeef", "555-1234"):
            assert leaked not in red

    def test_multiple_matches_counted(self, spark):
        df = spark.createDataFrame(
            [(1, "a@b.co then c@d.org and 10.0.0.1 via 10.0.0.2")],
            ["doc_id", "text"],
        )
        row = pii_stats(df).collect()[0]
        assert row.n_email == 2
        assert row.n_ipv4 == 2
        assert row.n_pii_total == 4

    def test_clean_text_untouched(self, spark):
        df = spark.createDataFrame(
            [(1, "nothing sensitive here at all")], ["doc_id", "text"]
        )
        row = pii_stats(df).collect()[0]
        assert row.n_pii_total == 0
        assert row.text_redacted == "nothing sensitive here at all"

    def test_short_hex_and_plain_numbers_not_flagged(self, spark):
        # 31 hex chars is below the secret floor; bare integers and
        # dotted version strings must not trip phone/ipv4
        df = spark.createDataFrame(
            [(1, "commit deadbeefdeadbeefdeadbeefdeadbee version 1.2.3 "
                 "build 20240101")],
            ["doc_id", "text"],
        )
        row = pii_stats(df).collect()[0]
        assert row.n_pii_total == 0


class TestContaminationProbe:
    def test_hits_are_whitespace_normalized(self, spark):
        docs = spark.createDataFrame(
            [
                (1, "the quick   brown fox"),
                (2, "other content entirely"),
                (3, "The quick brown fox \n"),
            ],
            ["doc_id", "text"],
        )
        bench = spark.createDataFrame(
            [("the quick brown fox",), ("never in this corpus",)],
            ["text"],
        ).select(normalized_digest(F.col("text")).alias("digest"))
        out = contamination_probe(docs, bench)
        assert sorted(r.doc_id for r in out.collect()) == [1, 3]

    def test_each_doc_reported_once(self, spark):
        # duplicate digests on the benchmark side, and two corpus docs
        # sharing one digest: every matching doc comes back exactly once
        docs = spark.createDataFrame(
            [(1, "leaked answer"), (2, "leaked  answer"), (3, "clean")],
            ["doc_id", "text"],
        )
        bench = spark.createDataFrame(
            [("leaked answer",), ("leaked answer",), ("Leaked Answer",)],
            ["text"],
        ).select(normalized_digest(F.col("text")).alias("digest"))
        out = contamination_probe(docs, bench).collect()
        assert sorted(r.doc_id for r in out) == [1, 2]
        assert len({r.digest for r in out}) == 1

    def test_probe_is_broadcast_semi_join(self, spark):
        docs = spark.createDataFrame([(1, "x")], ["doc_id", "text"])
        bench = spark.createDataFrame([("x",)], ["text"]).select(
            normalized_digest(F.col("text")).alias("digest")
        )
        plan = _explain(contamination_probe(docs, bench))
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan
