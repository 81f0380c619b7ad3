"""Tests of the event-log reducer on small recorded logs (testdata/, made
by testdata/record.py: seed 7, two timed passes; the transcripts log also
holds the traced run's span-dedup passes over 12 documents).

    python3 -m pytest perfbench/test_eventlog.py -q
"""

from __future__ import annotations

import gzip
import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import eventlog  # noqa: E402
import layers  # noqa: E402
import workloads  # noqa: E402

DATA = os.path.join(HERE, "testdata")


def reduce(workload: str) -> dict:
    path = os.path.join(DATA, f"{workload}_eventlog.jsonl.gz")
    with gzip.open(path, "rt") as f:
        return eventlog.reduce_log(eventlog.Log(f), 4)


def test_transcripts_pipeline_layers():
    r = reduce("transcripts")
    assert r["timed_passes"] == 2
    for name in ("pipeline.python_run_s", "pipeline.arrow_bytes_to_python",
                 "pipeline.arrow_bytes_from_python", "pipeline.exchange_bytes",
                 "pipeline.write_s", "pipeline.python_init_s"):
        assert r[name] > 0, name
    # the extraction stage returns more bytes than it receives: segments
    # and boxes on top of the text
    assert r["pipeline.arrow_bytes_from_python"] > r["pipeline.arrow_bytes_to_python"]
    assert r["pipeline.task_skew"] >= 1.0
    assert 0 < r["pipeline.slot_busy_share"] <= 1.0


def test_payload_run_writes_nothing_and_has_no_dedup_pass():
    r = reduce("pdf_payloads")
    assert r["timed_passes"] == 2
    assert r["pipeline.python_run_s"] > 0
    assert r["pipeline.write_s"] == 0
    assert all(r[k] == 0 for k in r if k.startswith("ops."))


def test_span_dedup_counts_match_the_reference():
    r = reduce("transcripts")
    docs, _ = workloads.dedup_corpus(7, n_docs=12)
    spans = [p for d in docs for p in d["text"].split("\n\n")]
    _, edges, _ = workloads.reference_strip(docs)
    assert r["ops.spans.spans_total"] == len(spans)
    assert r["ops.spans.distinct_spans"] == len(set(spans))
    # every exact edge collapses by digest; only near pairs between
    # distinct spans reach the verify join
    distinct = sorted(set(spans))
    near = sum(
        1 for i, a in enumerate(distinct) for b in distinct[i + 1:]
        if _jaccard(a, b) >= workloads.JACCARD
    )
    assert r["ops.dedup.verified_pairs"] == near
    assert near <= len(edges)
    n = len(distinct)
    assert near <= r["ops.dedup.candidate_pairs"] <= n * (n - 1) // 2
    assert r["ops.dedup.verify_yield"] == pytest.approx(
        near / r["ops.dedup.candidate_pairs"])
    assert r["ops.components.rounds"] >= 1
    assert r["ops.components.round_s"] > 0
    assert r["ops.dedup.signature_s"] > 0


def _jaccard(a: str, b: str) -> float:
    sa, sb = set(a.split()), set(b.split())
    return len(sa & sb) / len(sa | sb)


def test_per_layer_names_match_benchmark_json():
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [m["name"] for m in bench["per_layer"]] == list(layers.PER_LAYER)
    assert [m["unit"] for m in bench["per_layer"]] == list(layers.PER_LAYER.values())
