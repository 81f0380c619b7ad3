"""Spark pipeline tests: mapInPandas extraction, balancing, lineage, and the
checkpoint/resume driver."""

import os

import pytest

from crrf_det_spark import synth
from crrf_det_spark.pipeline import (
    extract_transcripts,
    lineage,
    run_resumable_extraction,
    segments_view,
)
from crrf_det_spark.schema import TRANSCRIPT_SCHEMA


@pytest.fixture(scope="module")
def transcripts_df(spark):
    rows, _ = synth.generate(n_convs=12, seed=42, skew_convs=1, skew_factor=10)
    return spark.createDataFrame(rows, schema=TRANSCRIPT_SCHEMA).cache()


def test_driver_memory_fits_the_machine(spark):
    """The session's driver heap is sized from the machine: it never
    asks for more than the physical memory there is."""
    value = spark.sparkContext.getConf().get("spark.driver.memory")
    units = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}
    asked = int(value[:-1]) * units[value[-1].lower()]
    assert 0 < asked <= os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")


def test_extraction_matches_golden(spark, transcripts_df):
    rows, goldens = synth.generate(n_convs=12, seed=42, skew_convs=1, skew_factor=10)
    out = extract_transcripts(transcripts_df).collect()
    assert len(out) == len(rows)
    # stable ordering
    keys = [(r.conv_id, r.turn_idx) for r in out]
    assert keys == sorted(keys)
    # spot-check segment equality against golden
    gold = {}
    for g in goldens:
        gold.setdefault((g["conv_id"], g["turn_idx"]), []).append(g)
    for r in out[:200]:
        want = sorted(gold[(r.conv_id, r.turn_idx)], key=lambda g: g["cindex"])
        got = [(s.type, s.content) for s in r.segments]
        assert got == [(g["type"], g["content"]) for g in want]
        assert r.extracted_text == "\n".join(g["content"] for g in want)


def test_extraction_global_order_from_shuffled_input(spark):
    # the range exchange ahead of the kernel plus the per-partition sort
    # give the global (conv_id, turn_idx) order from shuffled input rows,
    # with exactly one range exchange in the executed plan (an orderBy
    # on top would add a second one, whose bound sampling reruns the
    # Python kernel)
    rows, df = _shuffled_skewed_corpus(spark)
    out = extract_transcripts(df)
    keys = [(r.conv_id, r.turn_idx) for r in out.collect()]
    assert keys == sorted((r["conv_id"], r["turn_idx"]) for r in rows)
    plan = out._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert "isFinalPlan=true" in final, plan
    assert final.count("Exchange rangepartitioning") == 1, plan


def test_lineage_totals(spark, transcripts_df):
    ext = extract_transcripts(transcripts_df)
    lin = lineage(ext).collect()
    assert sum(r.n_rows for r in lin) == transcripts_df.count()
    assert all(r.stage == "extract" for r in lin)


def test_segments_view(spark, transcripts_df):
    ext = extract_transcripts(transcripts_df)
    seg = segments_view(ext)
    assert seg.columns == ["conv_id", "turn_idx", "cindex", "type", "content"]
    assert seg.count() > 0


def test_resume_skips_done_buckets(spark, transcripts_df, tmp_path):
    out = str(tmp_path / "extraction")
    first = run_resumable_extraction(spark, transcripts_df, out, n_buckets=8)
    assert sorted(first) == list(range(8))
    n_rows = spark.read.parquet(out).count()
    assert n_rows == transcripts_df.count()
    # second run: everything already done
    second = run_resumable_extraction(spark, transcripts_df, out, n_buckets=8)
    assert second == []
    # simulate a crash that lost one bucket (dir gone, manifest stale)
    import json
    import shutil

    victim = [d for d in os.listdir(out) if d.startswith("bucket=")][0]
    victim_id = int(victim.split("=")[1])
    shutil.rmtree(os.path.join(out, victim))
    manifest = os.path.join(out, "_crrf_done.json")
    done = [b for b in json.load(open(manifest)) if b != victim_id]
    json.dump(done, open(manifest, "w"))
    third = run_resumable_extraction(spark, transcripts_df, out, n_buckets=8)
    assert third == [victim_id]
    assert spark.read.parquet(out).count() == n_rows


def test_salting_bounds_partition_size(spark):
    # one giant conversation must not land in a single partition slice
    rows, _ = synth.generate(n_convs=1, seed=5, skew_convs=1, skew_factor=200)
    assert len(rows) > 1000
    df = spark.createDataFrame(rows, schema=TRANSCRIPT_SCHEMA)
    from crrf_det_spark.pipeline import balanced

    import pyspark.sql.functions as F

    sizes = (
        balanced(df, "conv_id", "turn_idx")
        .withColumn("pid", F.spark_partition_id())
        .groupBy("pid")
        .count()
        .collect()
    )
    # one task per slot, each holding a slice of the conversation
    assert len(sizes) == spark.sparkContext.defaultParallelism, sizes
    assert max(r["count"] for r in sizes) < len(rows)


def _shuffled_skewed_corpus(spark):
    import random

    rows, _ = synth.generate(40, seed=3, skew_convs=1, skew_factor=20)
    random.Random(3).shuffle(rows)
    return rows, spark.createDataFrame(rows, schema=TRANSCRIPT_SCHEMA)


def _written_files(out):
    return [
        os.path.join(out, d, f)
        for d in os.listdir(out) if d.startswith("bucket=")
        for f in os.listdir(os.path.join(out, d)) if f.endswith(".parquet")
    ]


def test_resumable_write_files_sorted(spark, tmp_path):
    """Every written file is sorted by (conv_id, turn_idx), also when the
    input rows arrive shuffled: the planned partitioned write must not
    replace the requested local sort with its own Sort [bucket]."""
    import pyarrow.parquet as pq

    _, df = _shuffled_skewed_corpus(spark)
    out = str(tmp_path / "extraction")
    run_resumable_extraction(spark, df, out, n_buckets=8)
    files = _written_files(out)
    assert files
    for path in files:
        t = pq.read_table(path, columns=["conv_id", "turn_idx"])
        keys = list(zip(t.column("conv_id").to_pylist(),
                        t.column("turn_idx").to_pylist()))
        assert keys == sorted(keys), path


def test_resumable_write_balanced_and_file_count(spark, tmp_path):
    """One skewed conversation holds a third of the corpus; the write tasks
    still get equal row counts, and each task covers one contiguous
    bucket range, so files <= tasks + buckets - 1."""
    import collections
    import re

    import pyarrow.parquet as pq

    rows, df = _shuffled_skewed_corpus(spark)
    n_buckets = 8
    out = str(tmp_path / "extraction")
    run_resumable_extraction(spark, df, out, n_buckets=n_buckets)
    files = _written_files(out)
    per_task = collections.Counter()
    for path in files:
        task = int(re.match(r"part-(\d+)-", os.path.basename(path)).group(1))
        per_task[task] += pq.read_metadata(path).num_rows
    assert sum(per_task.values()) == len(rows)
    # one task per slot; tasks that wrote nothing still count in the mean
    n_parts = spark.sparkContext.defaultParallelism
    counts = [per_task.get(t, 0) for t in range(max(n_parts, max(per_task) + 1))]
    assert max(counts) / (len(rows) / len(counts)) < 1.5, counts
    assert len(files) <= n_parts + n_buckets - 1, len(files)


def test_payload_turns_pdf_and_html(spark):
    from crrf_det_spark.pdfmini import make_pdf
    from crrf_det_spark.pipeline import extract_payload_turns

    pdf = make_pdf([
        "Account      Q1      Q2",
        "Revenue      100     200",
        "",
        "Totals are preliminary and unaudited, pending further review.",
    ])
    html = (b"<!DOCTYPE html><html><body><nav><a href='/'>x</a></nav>"
            b"<article><p>real content paragraph</p></article>"
            b"<footer>f</footer></body></html>")
    rows = [("c1", 0, bytearray(pdf)), ("c1", 1, bytearray(html)),
            ("c2", 0, bytearray(b"plain text payload")),
            ("c2", 1, bytearray(b"\xff\xfe\x00broken")), ("c2", 2, None)]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, payload binary"
    )
    out = {
        (r.conv_id, r.turn_idx): r
        for r in extract_payload_turns(df).collect()
    }
    assert out[("c1", 0)].n_tables == 1
    assert "Revenue" in out[("c1", 0)].extracted_text
    assert out[("c1", 1)].extracted_text == "real content paragraph"
    assert out[("c2", 0)].extracted_text == "plain text payload"
    assert out[("c2", 1)].n_segments == 0
    assert out[("c2", 2)].n_segments == 0


def test_payload_turns_cid_cmap_xref_stream_pdf(spark):
    """Round-4 VERDICT #6 'done' criterion: a fixture PDF with a CMap'd
    Type0 font, object-stream-packed dicts, and a PNG-predictor xref
    stream roundtrips through extract_payload_turns with golden spans —
    the table rows come out exactly, which is only possible if the
    ToUnicode decode ran (codes are offset from their characters)."""
    from crrf_det_spark.pdfmini import make_pdf_cid
    from crrf_det_spark.pipeline import extract_payload_turns

    pdf = make_pdf_cid([
        "Account      Q1      Q2",
        "Revenue      100     200",
        "Cost         40      90",
        "",
        "Totals are preliminary and unaudited, pending further review.",
    ])
    df = spark.createDataFrame(
        [("c1", 0, bytearray(pdf))],
        "conv_id string, turn_idx int, payload binary",
    )
    row = extract_payload_turns(df).collect()[0]
    tables = [s for s in row.segments if s.type == "table"]
    assert len(tables) == 1
    assert tables[0].rows[0] == ["Account", "Q1", "Q2"]
    assert tables[0].rows[1] == ["Revenue", "100", "200"]
    assert "unaudited" in row.extracted_text


def test_payload_turns_differences_lzw_pdf(spark):
    """Round-5 VERDICT #4 'done' criterion: a fixture PDF with an
    LZWDecode content stream and a /Differences-encoded simple font
    roundtrips through extract_payload_turns with golden spans — digits
    ride control codes 0x01-0x0A on the wire, so the exact table values
    prove both decoders ran."""
    from crrf_det_spark.pdfmini import make_pdf_diff
    from crrf_det_spark.pipeline import extract_payload_turns

    pdf = make_pdf_diff([
        "Account      Q1      Q2",
        "Revenue      100     200",
        "Cost         40      90",
        "",
        "Totals are preliminary and unaudited, pending further review.",
    ])
    df = spark.createDataFrame(
        [("c1", 0, bytearray(pdf))],
        "conv_id string, turn_idx int, payload binary",
    )
    row = extract_payload_turns(df).collect()[0]
    tables = [s for s in row.segments if s.type == "table"]
    assert len(tables) == 1
    assert tables[0].rows[0] == ["Account", "Q1", "Q2"]
    assert tables[0].rows[1] == ["Revenue", "100", "200"]
    assert "unaudited" in row.extracted_text
    # parity pin: the Differences/LZW route must land byte-identical to
    # the same page through the CID/Flate route (same kernel inputs)
    from crrf_det_spark.pdfmini import (
        make_pdf_cid, make_pdf_diff, pdf_text_lines_geometry,
    )

    src = [
        "Account      Q1      Q2",
        "Revenue      100     200",
        "Cost         40      90",
        "",
        "Totals are preliminary and unaudited, pending further review.",
    ]
    assert (pdf_text_lines_geometry(make_pdf_diff(src))
            == pdf_text_lines_geometry(make_pdf_cid(src)))


def test_single_conversation_skew_is_salted_across_partitions(spark):
    """Worst-case conversation skew: ONE conv with 20k turns must spread
    across all partitions via the range bounds (north rule: explicit
    skew handling; AQE cannot rebalance inside mapInPandas groups)."""
    from pyspark.sql import functions as F

    from crrf_det_spark.pipeline import extract_transcripts, lineage

    df = spark.range(20_000).select(
        F.lit("mega-conv").alias("conv_id"),
        F.col("id").cast("int").alias("turn_idx"),
        F.concat(
            F.lit("turn body text number "), F.col("id").cast("string")
        ).alias("text"),
    )
    lin = lineage(extract_transcripts(df)).collect()
    rows = [r.n_rows for r in lin if r.n_rows]
    # every partition (one per slot) got work
    assert len(rows) == spark.sparkContext.defaultParallelism
    assert max(rows) / (sum(rows) / len(rows)) < 3.0


def test_payload_turns_spread_one_giant_conversation(spark):
    """The payload path shares the transcript path's balancing: ONE conv
    with 20k payloads lands on every partition in near-equal shares."""
    from pyspark.sql import functions as F

    from crrf_det_spark.pipeline import extract_payload_turns, lineage

    df = spark.range(20_000).select(
        F.lit("mega-conv").alias("conv_id"),
        F.col("id").cast("int").alias("turn_idx"),
        F.concat(
            F.lit("payload body text number "), F.col("id").cast("string")
        ).cast("binary").alias("payload"),
    )
    lin = lineage(extract_payload_turns(df)).collect()
    rows = [r.n_rows for r in lin if r.n_rows]
    # every partition (one per slot) got work
    assert len(rows) == spark.sparkContext.defaultParallelism
    assert sum(rows) == 20_000
    assert max(rows) / (sum(rows) / len(rows)) < 1.5


def test_observed_extraction_metrics(spark):
    from crrf_det_spark.pipeline import observed_extraction

    df = spark.createDataFrame(
        [("c1", 0, "hello world line"), ("c1", 1, "another turn body"),
         ("c2", 0, "third body of text")],
        "conv_id string, turn_idx int, text string",
    )
    out, obs = observed_extraction(df)
    rows = out.collect()
    got = obs.get
    assert got["n_rows"] == 3
    assert got["n_segments"] == sum(r.n_segments for r in rows)
    assert got["n_chars_out"] == sum(r.n_chars_out for r in rows)
    assert got["n_chars_in"] == sum(len(t) for _c, _i, t in [
        ("c1", 0, "hello world line"), ("c1", 1, "another turn body"),
        ("c2", 0, "third body of text")])


def test_ingest_stats_columns(spark):
    from crrf_det_spark.pipeline import ingest_transcripts

    df = spark.createDataFrame(
        [
            ("c1", 0, "alpha beta\ngamma delta epsilon\nzz"),
            ("c2", 0, "x" * 900),
            ("c3", 0, "one\ntwo\nthree\nfour\nfive\nsix\nseven"),
            ("c4", 0, ""),
        ],
        "conv_id string, turn_idx int, text string",
    )
    got = {r.conv_id: r for r in ingest_transcripts(df).collect()}
    # preview truncation at 750 chars (the 750px preview analogue)
    assert got["c2"].preview == "x" * 750
    # thumbs capped at 5 (pages 1-5 analogue)
    assert got["c3"].n_thumbs == 5 and got["c3"].page_h == 7
    # page dims: widest line x line count
    assert (got["c1"].page_w, got["c1"].page_h) == (19, 3)
    # empty text: one empty line
    assert (got["c4"].page_w, got["c4"].page_h, got["c4"].n_thumbs) == (0, 1, 1)
    # document_stats columns present and sane
    assert got["c1"].n_tokens_ws == 6
    assert set(
        ["lang_id", "quality", "n_tokens_ws", "n_tokens_bpe", "fingerprint"]
    ) <= set(got["c1"].asDict())
    # ingest columns flow through extraction unchanged (same scan: the
    # derived columns don't block downstream extraction)
    from crrf_det_spark.pipeline import extract_transcripts

    assert extract_transcripts(ingest_transcripts(df)).count() == 4


# ---------------------------------------------------------------------------
# one row path: every entry point runs pipeline.extract_row
# ---------------------------------------------------------------------------

_COLS = ["conv_id", "turn_idx", "segments", "extracted_text", "n_segments",
         "n_tables", "n_chars_in", "n_chars_out"]


def _rows(df):
    return sorted(
        (tuple(r) for r in df.select(*_COLS).collect()), key=lambda r: r[:2]
    )


def test_one_row_path_turns(spark, tmp_path):
    """Batch, resumable sink and stream give identical rows for the same
    turns: they share one kernel."""
    from crrf_det_spark.streaming import start_extraction_stream

    rows, _ = synth.generate(n_convs=10, seed=11, skew_convs=1, skew_factor=5)
    in_path = str(tmp_path / "in")
    spark.createDataFrame(rows, schema=TRANSCRIPT_SCHEMA).write.parquet(in_path)
    src = spark.read.parquet(in_path)

    batch = _rows(extract_transcripts(src))
    assert len(batch) == len(rows)

    sink = str(tmp_path / "sink")
    run_resumable_extraction(spark, src, sink, n_buckets=4)
    assert _rows(spark.read.parquet(sink)) == batch

    stream_out = str(tmp_path / "stream")
    q = start_extraction_stream(
        spark, in_path, stream_out, str(tmp_path / "ckpt")
    )
    q.processAllAvailable()
    q.stop()
    assert _rows(spark.read.parquet(stream_out)) == batch


def test_one_row_path_payloads_match_t_extract(spark, tmp_path):
    """``extract_payload_turns`` and the local mode of scripts/t_extract.py
    give the same segments for the same bytes -- including a PDF whose
    true 26pt lead keeps its lines in one group (only the geometry-aware
    decode sees that) and a latin-1 file, which is not UTF-8 and so gives
    zero segments on both."""
    import importlib.util
    import json

    from crrf_det_spark.pdfmini import make_pdf
    from crrf_det_spark.pipeline import extract_payload_turns

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "t_extract", os.path.join(repo, "scripts", "t_extract.py")
    )
    t_extract = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(t_extract)

    payloads = [
        make_pdf(["alpha beta gamma", "delta epsilon", "zeta eta theta"],
                 leadings={2: 26}),
        make_pdf(["Account      Q1      Q2", "Revenue      100     200", "",
                  "Totals are preliminary and unaudited."]),
        "Caf\xe9 au lait\nsecond line".encode("latin-1"),
        b"<html><body><article><p>real content paragraph</p></article>"
        b"</body></html>",
        "plain caf\xe9 text\nover two lines".encode("utf-8"),
    ]
    df = spark.createDataFrame(
        [("c", i, bytearray(p)) for i, p in enumerate(payloads)],
        "conv_id string, turn_idx int, payload binary",
    )
    got = {r.turn_idx: r for r in extract_payload_turns(df).collect()}
    assert got[0].n_segments == 1            # the reference's grouping
    assert got[2].n_segments == 0            # not UTF-8: empty text
    for i, payload in enumerate(payloads):
        path = tmp_path / f"doc{i}"
        path.write_bytes(payload)
        assert t_extract.main(["-i", str(path), "-o", str(tmp_path / f"o{i}")]) == 0
        doc = json.loads((tmp_path / f"o{i}" / "doc.json").read_text("utf-8"))
        row = got[i]
        assert doc["content"] == [s.asDict(recursive=True) for s in row.segments]
        assert doc["extracted_text"] == row.extracted_text
        assert doc["meta"] == {"chars": row.n_chars_in,
                               "segments": row.n_segments}


def test_payload_rows_independent_of_arrow_batch_size(spark):
    """The kernel runs a whole Arrow batch at once; a batch of one row
    and a batch of every row of a task give the same rows."""
    from crrf_det_spark.pdfmini import make_pdf
    from crrf_det_spark.pipeline import extract_payload_turns

    rows, _ = synth.generate(n_convs=6, seed=13, skew_convs=1, skew_factor=5)
    payloads = [
        r["text"].encode("utf-8") if r["text"].startswith("<")
        else make_pdf(r["text"].split("\n"))
        for r in rows
    ] + [None, b"", b"\xff\xfe not utf-8"]
    df = spark.createDataFrame(
        [("c", i, None if p is None else bytearray(p))
         for i, p in enumerate(payloads)],
        "conv_id string, turn_idx int, payload binary",
    )
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    got = {}
    try:
        for n in (1, 2048):
            spark.conf.set(key, str(n))
            got[n] = _rows(extract_payload_turns(df))
    finally:
        spark.conf.set(key, old)
    assert len(got[1]) == len(payloads)
    assert got[1] == got[2048]
