"""Seeded inputs, passes and ground-truth checks for the three workloads.

Every workload is a closed loop of whole passes: one client submits one
job, waits for it, checks its output, and submits the next.  A workload
object owns its generated inputs (written under the run directory) and
its ground truth; the program under test only ever sees the inputs.

* ``transcripts``  -- ``pipeline.run_resumable_extraction`` over
  ``synth.generate`` turns into a fresh directory per pass.
* ``pdf_payloads`` -- ``pipeline.extract_payload_turns`` over the same
  kind of turns rendered as FlateDecode PDFs (HTML turns as utf-8 bytes),
  into the ``noop`` sink.
``SpanDedup`` (``ops.spans.strip_repeated_spans`` over a Zipf corpus
with planted exact and one-token-edited duplicate paragraphs) is not a
timed workload: its pass time spread too widely between runs (NOTES.md).
The traced transcripts run uses it to measure the span-dedup layers.
"""

from __future__ import annotations

import bisect
import collections
import itertools
import os
import random
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

# Corpus sizes: a pass takes about 2-5 s at local[4] (NOTES.md).
TRANSCRIPT_CONVS = 200
PAYLOAD_CONVS = 200
SKEW_CONVS = 2
SKEW_FACTOR = 50
DEDUP_DOCS = 50
DEDUP_VOCAB = 6000
JACCARD = 0.8
SPAN_BITS = 20  # ops.spans.SPAN_BITS: uid = doc_id * 2^20 + span_idx
N_BUCKETS = 16

# Fixed single-core kernel sample for the traced run (first N units).
KERNEL_SAMPLE = 1200

HTML_PREFIX = "<!DOCTYPE html>"


class Check:
    """Per-pass tally of units checked against ground truth."""

    def __init__(self) -> None:
        self.attempted = 0
        self.missing = 0
        self.duplicated = 0
        self.unequal = 0
        self.failed = 0  # units of passes whose job raised

    def compare(self, expected: dict, got: list[tuple]) -> None:
        """``got``: (key, value) pairs the job produced."""
        self.attempted += len(expected)
        seen: dict = {}
        for key, value in got:
            if key in seen:
                self.duplicated += 1
                continue
            seen[key] = value
        for key, want in expected.items():
            if key not in seen:
                self.missing += 1
            elif seen[key] != want:
                self.unequal += 1

    def fail_pass(self, n_units: int) -> None:
        self.attempted += n_units
        self.failed += n_units

    def as_dict(self) -> dict:
        return {
            "attempted": self.attempted,
            "missing": self.missing,
            "duplicated": self.duplicated,
            "unequal": self.unequal,
            "failed": self.failed,
        }


def _golden_texts(goldens: list[dict]) -> dict:
    by_turn = collections.defaultdict(list)
    for g in goldens:
        by_turn[(g["conv_id"], g["turn_idx"])].append(g)
    return {
        key: "\n".join(g["content"] for g in sorted(gs, key=lambda g: g["cindex"]))
        for key, gs in by_turn.items()
    }


def _synth_turns(n_convs: int, seed: int):
    from crrf_det_spark import synth

    rows, goldens = synth.generate(
        n_convs=n_convs, seed=seed, skew_convs=SKEW_CONVS,
        skew_factor=SKEW_FACTOR,
    )
    gold = _golden_texts(goldens)
    expected = {
        (r["conv_id"], r["turn_idx"]): gold.get((r["conv_id"], r["turn_idx"]), "")
        for r in rows
    }
    return rows, expected


class Transcripts:
    name = "transcripts"
    unit = "turn"

    def __init__(self, seed: int, run_dir: str) -> None:
        from crrf_det_spark.schema import TRANSCRIPT_SCHEMA

        self.run_dir = run_dir
        rows, self.expected = _synth_turns(TRANSCRIPT_CONVS, seed)
        table = pa.Table.from_pylist(rows).select(
            [f.name for f in TRANSCRIPT_SCHEMA.fields]
        ).cast(pa.schema([
            ("conv_id", pa.string()), ("turn_idx", pa.int32()),
            ("role", pa.string()), ("text", pa.string()),
            ("tool", pa.string()), ("ts", pa.timestamp("us", tz="UTC")),
        ]))
        self.input_path = os.path.join(run_dir, "transcripts.parquet")
        pq.write_table(table, self.input_path)
        self.units = len(rows)
        self.input_bytes = sum(len(r["text"].encode()) for r in rows)
        self.sample = [r["text"] for r in rows[:KERNEL_SAMPLE]]
        self._passes = 0

    def load(self, spark) -> None:
        self.src = spark.read.parquet(self.input_path)

    def run_pass(self, spark) -> None:
        from crrf_det_spark.pipeline import run_resumable_extraction

        self._passes += 1
        self.out_path = os.path.join(self.run_dir, f"out-{self._passes}")
        run_resumable_extraction(spark, self.src, self.out_path, n_buckets=N_BUCKETS)

    def check_pass(self, check: Check) -> None:
        """Read the pass's parquet output back (outside the timed pass)."""
        table = pq.read_table(
            self.out_path, columns=["conv_id", "turn_idx", "extracted_text"]
        )
        got = zip(
            zip(table.column("conv_id").to_pylist(),
                table.column("turn_idx").to_pylist()),
            table.column("extracted_text").to_pylist(),
        )
        check.compare(self.expected, list(got))
        shutil.rmtree(self.out_path, ignore_errors=True)


class PdfPayloads:
    name = "pdf_payloads"
    unit = "payload"

    def __init__(self, seed: int, run_dir: str) -> None:
        from crrf_det_spark import pdfmini

        rows, self.expected = _synth_turns(PAYLOAD_CONVS, seed)
        payloads = []
        for r in rows:
            text = r["text"]
            if text.startswith(HTML_PREFIX):
                payloads.append(text.encode("utf-8"))
            else:
                payloads.append(pdfmini.make_pdf(text.split("\n")))
        table = pa.table({
            "conv_id": pa.array([r["conv_id"] for r in rows], pa.string()),
            "turn_idx": pa.array([r["turn_idx"] for r in rows], pa.int32()),
            "payload": pa.array(payloads, pa.binary()),
        })
        self.input_path = os.path.join(run_dir, "payloads.parquet")
        pq.write_table(table, self.input_path)
        self.units = len(rows)
        self.input_bytes = sum(len(p) for p in payloads)
        self.sample = payloads[:KERNEL_SAMPLE]

    def load(self, spark) -> None:
        self.src = spark.read.parquet(self.input_path)

    def _job(self):
        from crrf_det_spark.pipeline import extract_payload_turns

        return extract_payload_turns(self.src)

    def run_pass(self, spark) -> None:
        self._job().write.format("noop").mode("overwrite").save()

    def verify(self, check: Check) -> None:
        """One extra untimed pass that collects the output: the timed
        passes write to the noop sink and leave nothing to read back."""
        rows = self._job().select(
            "conv_id", "turn_idx", "extracted_text"
        ).collect()
        check.compare(
            self.expected,
            [((r.conv_id, r.turn_idx), r.extracted_text) for r in rows],
        )


def _zipf_vocab(rng: random.Random, n: int) -> list[str]:
    syllables = ["ka", "lo", "mi", "ne", "ru", "ta", "vo", "shi", "an",
                 "el", "or", "ub", "ix", "pe", "da", "gu"]
    words, seen = [], set()
    while len(words) < n:
        w = "".join(rng.choice(syllables) for _ in range(rng.randint(1, 4)))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


def dedup_corpus(seed: int, n_docs: int | None = None):
    """(docs, planted): documents of blank-line separated paragraphs with
    Zipf (s=1) word frequencies; ``planted`` lists (uid_a, uid_b) pairs
    where paragraph b is an exact or one-token-edited copy of a.

    The corpus shape is the same for every seed -- 4 or 5 paragraphs per
    document, one pool paragraph per 12 spans, pool paragraph k planted
    2 + k % 3 more times, copies alternating exact / edited -- so seeds
    vary words and placement, not how many spans and duplicate groups a
    pass must resolve."""
    n_docs = n_docs or DEDUP_DOCS
    rng = random.Random(seed)
    vocab = _zipf_vocab(rng, DEDUP_VOCAB)
    cum = list(itertools.accumulate(1.0 / (i + 1) for i in range(len(vocab))))

    def paragraph() -> list[str]:
        n = rng.randint(25, 60)
        return [vocab[bisect.bisect(cum, rng.random() * cum[-1])] for _ in range(n)]

    slots = [(d << SPAN_BITS) + i for d in range(n_docs) for i in range(4 + (d % 3 == 0))]
    pool = [paragraph() for _ in range(len(slots) // 12)]
    copies = [2 + k % 3 for k in range(len(pool))]
    chosen = iter(rng.sample(slots, sum(1 + c for c in copies)))
    text: dict[int, str] = {}
    planted = []
    for k, toks in enumerate(pool):
        uids = sorted(next(chosen) for _ in range(1 + copies[k]))
        text[uids[0]] = " ".join(toks)  # first occurrence is exact
        for j, uid in enumerate(uids[1:]):
            copy = list(toks)
            if j % 2:
                copy[rng.randrange(len(copy))] = f"edit{rng.randrange(10**6)}"
            text[uid] = " ".join(copy)
            planted.append((uids[0], uid))
    docs = []
    for d in range(n_docs):
        paras = [text.get((d << SPAN_BITS) + i) or " ".join(paragraph())
                 for i in range(4 + (d % 3 == 0))]
        docs.append({"doc_id": d, "text": "\n\n".join(paras)})
    return docs, planted


def reference_strip(docs: list[dict], threshold: float = JACCARD):
    """Exact reference for ``strip_repeated_spans``: all span pairs with
    unigram Jaccard >= threshold (brute force), union-find components,
    each component keeps its min-uid span.  Returns (expected texts,
    edge set, per-doc span count)."""
    spans = []
    for d in docs:
        for i, s in enumerate(d["text"].split("\n\n")):
            toks = frozenset(s.split())
            if toks:
                spans.append(((d["doc_id"] << SPAN_BITS) + i, toks))
    parent = {uid: uid for uid, _ in spans}

    def find(u: int) -> int:
        while parent[u] != u:
            parent[u] = parent[parent[u]]
            u = parent[u]
        return u

    edges = set()
    for (ua, ta), (ub, tb) in itertools.combinations(spans, 2):
        common = len(ta & tb)
        if common and common >= threshold * (len(ta) + len(tb) - common):
            edges.add((ua, ub))
            ra, rb = find(ua), find(ub)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
    drop = {uid for uid, _ in spans if find(uid) != uid}
    expected = {}
    for d in docs:
        paras = d["text"].split("\n\n")
        keep = [
            p for i, p in enumerate(paras)
            if (d["doc_id"] << SPAN_BITS) + i not in drop
        ]
        expected[d["doc_id"]] = "\n\n".join(keep)
    return expected, edges, len(spans)


class SpanDedup:
    name = "span_dedup"
    unit = "document"

    def __init__(self, seed: int, run_dir: str) -> None:
        docs, planted = dedup_corpus(seed)
        self.expected, edges, self.n_spans = reference_strip(docs)
        missing = [p for p in planted if p not in edges]
        if missing:
            raise RuntimeError(
                f"generator: {len(missing)} planted duplicates fall below "
                f"Jaccard {JACCARD}"
            )
        self.n_planted = len(planted)
        self.n_reference_edges = len(edges)
        table = pa.table({
            "doc_id": pa.array([d["doc_id"] for d in docs], pa.int64()),
            "text": pa.array([d["text"] for d in docs], pa.string()),
        })
        self.input_path = os.path.join(run_dir, "docs.parquet")
        pq.write_table(table, self.input_path)
        self.units = len(docs)
        self.input_bytes = sum(len(d["text"].encode()) for d in docs)

    def load(self, spark) -> None:
        self.src = spark.read.parquet(self.input_path)

    def run_pass(self, spark) -> None:
        from crrf_det_spark.ops.spans import strip_repeated_spans

        self.rows = strip_repeated_spans(self.src, threshold=JACCARD).collect()

    def check_pass(self, check: Check) -> None:
        check.compare(self.expected, [(r.doc_id, r.text) for r in self.rows])
        self.rows = None


WORKLOADS = {w.name: w for w in (Transcripts, PdfPayloads)}
