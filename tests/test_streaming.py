"""Streaming extra + JSON interop + recursive corpus read tests."""

import os

from crrf_det_spark import synth
from crrf_det_spark.pipeline import (
    extract_transcripts,
    read_corpus,
    read_segments_json,
    write_segments_json,
)
from crrf_det_spark.schema import TRANSCRIPT_SCHEMA
from crrf_det_spark.streaming import start_extraction_stream


def _write_corpus(spark, path, n_convs=6, seed=5):
    rows, _ = synth.generate(n_convs=n_convs, seed=seed)
    spark.createDataFrame(rows, schema=TRANSCRIPT_SCHEMA).write.mode(
        "overwrite"
    ).parquet(path)
    return len(rows)


def test_streaming_extraction(spark, tmp_path):
    in_path = str(tmp_path / "in")
    out_path = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    n = _write_corpus(spark, in_path)
    q = start_extraction_stream(spark, in_path, out_path, ckpt)
    q.processAllAvailable()
    q.stop()
    out = spark.read.parquet(out_path)
    assert out.count() == n
    # restart with no new data: exactly-once, no duplicates
    q2 = start_extraction_stream(spark, in_path, out_path, ckpt)
    q2.processAllAvailable()
    q2.stop()
    assert spark.read.parquet(out_path).count() == n


def test_json_interop(spark, tmp_path):
    in_path = str(tmp_path / "in")
    json_path = str(tmp_path / "segments_json")
    n = _write_corpus(spark, in_path)
    ext = extract_transcripts(spark.read.parquet(in_path))
    write_segments_json(ext, json_path)
    back = read_segments_json(spark, json_path)
    assert back.count() == n
    a = {(r.conv_id, r.turn_idx): r.extracted_text
         for r in ext.select("conv_id", "turn_idx", "extracted_text").collect()}
    b = {(r.conv_id, r.turn_idx): r.extracted_text
         for r in back.select("conv_id", "turn_idx", "extracted_text").collect()}
    assert a == b


def test_recursive_read(spark, tmp_path):
    # nested folder tree, one parquet dir per "user folder"
    rows, _ = synth.generate(n_convs=4, seed=9)
    df = spark.createDataFrame(rows, schema=TRANSCRIPT_SCHEMA)
    for sub in ("u1/a", "u1/b/c", "u2"):
        df.write.mode("overwrite").parquet(str(tmp_path / "corpus" / sub))
    all_rows = read_corpus(spark, str(tmp_path / "corpus"))
    assert all_rows.count() == 3 * len(rows)
    assert os.path.isdir(str(tmp_path / "corpus" / "u1/b/c"))


def test_windowed_turn_metrics_stream(spark, tmp_path):
    from pyspark.sql import functions as F

    from crrf_det_spark.streaming import (
        read_transcript_stream,
        windowed_turn_metrics,
    )

    in_path = str(tmp_path / "in_w")
    n = _write_corpus(spark, in_path)
    m = windowed_turn_metrics(read_transcript_stream(spark, in_path))
    q = (
        m.writeStream.format("memory")
        .queryName("win_metrics")
        .outputMode("complete")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = spark.sql("select * from win_metrics")
    # every turn lands in exactly one window
    assert got.agg(F.sum("n_turns")).first()[0] == n
    batch_chars = (
        spark.read.parquet(in_path)
        .agg(F.sum(F.length("text")))
        .first()[0]
    )
    assert got.agg(F.sum("n_chars")).first()[0] == batch_chars


def test_conversation_progress_stateful_stream(spark, tmp_path):
    from crrf_det_spark import synth
    from crrf_det_spark.schema import TRANSCRIPT_SCHEMA
    from crrf_det_spark.streaming import (
        conversation_progress_stream,
        read_transcript_stream,
    )

    in_path = str(tmp_path / "in_s")
    rows, _ = synth.generate(n_convs=4, seed=11)
    df = spark.createDataFrame(rows, schema=TRANSCRIPT_SCHEMA)
    df.write.mode("overwrite").parquet(in_path)

    prog = conversation_progress_stream(read_transcript_stream(spark, in_path))
    q = (
        prog.writeStream.format("memory")
        .queryName("conv_progress")
        .outputMode("update")
        .start()
    )
    q.processAllAvailable()
    # second micro-batch: one more turn appended to an existing conv --
    # the state store must carry the earlier totals across batches
    first = {
        r.conv_id: (r.n_turns, r.n_chars)
        for r in spark.sql("select * from conv_progress").collect()
    }
    some_conv = sorted(first)[0]
    extra = [r for r in rows if r["conv_id"] == some_conv][:1]
    extra = [dict(extra[0], turn_idx=9999, text="tail turn")]
    spark.createDataFrame(extra, schema=TRANSCRIPT_SCHEMA).write.mode(
        "append"
    ).parquet(in_path)
    q.processAllAvailable()
    q.stop()

    latest = {}
    for r in spark.sql("select * from conv_progress").collect():
        prev = latest.get(r.conv_id)
        if prev is None or r.n_turns > prev[0]:
            latest[r.conv_id] = (r.n_turns, r.n_chars, r.max_turn_idx)
    assert latest[some_conv][0] == first[some_conv][0] + 1
    assert latest[some_conv][1] == first[some_conv][1] + len("tail turn")
    assert latest[some_conv][2] == 9999


def test_first_seen_stream_dedups_across_batches(spark, tmp_path):
    from crrf_det_spark.streaming import first_seen_stream

    in_path = str(tmp_path / "docs_s")
    batch1 = [
        (3, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick  brown FOX jumps over the lazy dog \n"),  # ws/case dup of 3
        (4, "a completely different document about climate data"),
    ]
    spark.createDataFrame(batch1, "doc_id long, text string").write.mode(
        "overwrite"
    ).parquet(in_path)

    stream = spark.readStream.schema("doc_id long, text string").option(
        "maxFilesPerTrigger", 64
    ).parquet(in_path)
    q = (
        first_seen_stream(stream)
        .writeStream.format("memory")
        .queryName("first_seen")
        .outputMode("append")
        .start()
    )
    q.processAllAvailable()
    got = {r.doc_id for r in spark.sql("select * from first_seen").collect()}
    # min-id rep within the batch: doc 1 wins the duplicate group
    assert got == {1, 4}

    # batch 2: another dup of the seen digest (dropped) + one new doc
    batch2 = [
        (9, "THE QUICK BROWN FOX JUMPS OVER THE LAZY DOG"),
        (7, "a brand new never seen document body"),
    ]
    spark.createDataFrame(batch2, "doc_id long, text string").write.mode(
        "append"
    ).parquet(in_path)
    q.processAllAvailable()
    q.stop()
    got = {r.doc_id for r in spark.sql("select * from first_seen").collect()}
    assert got == {1, 4, 7}
