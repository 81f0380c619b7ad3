"""Spark extraction pipeline (SURVEY.md section 3.1 re-expression).

The reference's per-document driver (/root/reference/src/t-pdf:86-145) runs
one process per PDF; here the whole corpus is one DataFrame pass:

    read -> range repartition -> mapInPandas(extract_batch) -> sink

Scale design (for a 1000-executor cluster over ~10^12 turns):

* the extraction kernel is a pure function of one row, so parallelism is
  unconstrained -- every entry point range-partitions on its natural key
  (``balanced``): ``(conv_id, turn_idx)``, or ``(bucket, conv_id,
  turn_idx)`` ahead of the resumable sink.  Range bounds split a skewed
  conversation (heavy-tail skew, FIXTURES.md section 5) at any turn and
  give every task the same row count, so a stage of one task per slot
  runs in one wave; each task still holds one contiguous key range,
  which keeps conversation locality for the partitioned sink.  This is
  the explicit skew handling the north rule requires (AQE cannot
  rebalance inside mapInPandas groups).  The bounds cost one sampling
  job that re-reads the exchange's child once (25-65 ms per pass on the
  2.3k-turn benchmark corpus at local[4]).
* zero per-row Python at the DataFrame level: the kernel runs on Arrow
  batches (spark.sql.execution.arrow.maxRecordsPerBatch bounds memory).
* resumability: the sink is partitioned by ``bucket`` (hash of conv_id);
  completed buckets are skipped on restart (replaces the reference's
  Redis-TTL progress keys, /root/reference/src/task/project.py:36-40).
* lineage: one metrics row per (stage, partition) written alongside the
  output (replaces master_index counters,
  /root/reference/src/task/project.py:43-46,94-103).
"""

from __future__ import annotations

import os
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .extract import extract_turn_auto, extracted_text
from .schema import EXTRACTION_SCHEMA


def build_session(
    app: str = "crrf_det_spark",
    master: str = "local[*]",
    shuffle_partitions: int = 32,
    cores: int | None = None,
) -> SparkSession:
    # GC thread sizing needs the task-slot count; parse it from an
    # explicit local[N] master when the caller didn't pass it.
    if cores is None and master.startswith("local["):
        inner = master[len("local["):-1]
        cores = int(inner) if inner.isdigit() else None
    if cores is None:
        cores = os.cpu_count() or 8
    # cap GC worker threads: the JVM sizes them from the machine's
    # core count, but in this engine the cores belong to the Python
    # kernel workers (one per task slot) — default-sized GC pools
    # fight them for CPU and cost ~18% extraction throughput at
    # local[32] (measured: 61-63s -> 50-53s on the 1M-turn bench
    # corpus).  The cap scales DOWN with the session's task slots
    # (a local[4] leg must not run 8 GC threads against 4 kernel
    # workers); on a real cluster executors have few cores per JVM,
    # where this is at or above the default — a no-op.
    gc_threads = max(2, min(8, cores))
    conc_gc = max(1, gc_threads // 4)
    gc_opts = (
        f"-XX:ParallelGCThreads={gc_threads} -XX:ConcGCThreads={conc_gc}"
    )
    builder = (
        SparkSession.builder.master(master)
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "24g")
        # Python kernel workers are forked once and reused across tasks
        # (Spark's default, pinned here because the scaling instrument
        # depends on it: a fresh fork per task would charge interpreter
        # startup to every task instead of once per slot).
        .config("spark.python.worker.reuse", "true")
        .config("spark.driver.extraJavaOptions", gc_opts)
        .config("spark.executor.extraJavaOptions", gc_opts)
    )
    if master.startswith("local"):
        # Local-mode shuffle never crosses a network: blocks go through
        # the loopback filesystem (page cache), so LZ4 on the shuffle
        # path only burns the CPU the Python kernel workers need.
        # Measured on the 1M-turn extraction corpus at local[32],
        # interleaved A/B x3: 53.6-106.1s compressed vs 42.4-52.7s
        # uncompressed (~1.3-2x).  On a real cluster master this stays at
        # Spark's default (compression on — network shuffle wants it).
        builder = builder.config("spark.shuffle.compress", "false").config(
            "spark.shuffle.spill.compress", "false"
        )
    return builder.getOrCreate()


def _extract_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel: one input row -> one output row with nested
    segments.  All heavy work is numpy inside the batch (SURVEY.md
    section 2.9)."""
    cols = [f.name for f in EXTRACTION_SCHEMA.fields]
    for pdf in batches:
        segments_c, etext_c, nseg_c, ntab_c, nin_c, nout_c = (
            [], [], [], [], [], [],
        )
        # optional worker-local true-geometry column (payload path)
        geoms = (
            pdf["_line_px"].values
            if "_line_px" in pdf.columns
            else [None] * len(pdf)
        )
        for text, line_px in zip(pdf["text"].values, geoms):
            segs = extract_turn_auto(
                text if isinstance(text, str) else "", line_px=line_px
            )
            segments_c.append(
                [
                    {
                        "cindex": i,
                        "type": s["type"],
                        "content": s["content"],
                        "rows": s["rows"],
                        "box": s["box"],
                    }
                    for i, s in enumerate(segs)
                ]
            )
            etext = extracted_text(segs)
            etext_c.append(etext)
            nseg_c.append(len(segs))
            ntab_c.append(sum(1 for s in segs if s["type"] == "table"))
            nin_c.append(len(text) if isinstance(text, str) else 0)
            nout_c.append(len(etext))
        yield pd.DataFrame(
            {
                "conv_id": pdf["conv_id"].values,
                "turn_idx": pdf["turn_idx"].astype("int32").values,
                "segments": segments_c,
                "extracted_text": etext_c,
                "n_segments": nseg_c,
                "n_tables": ntab_c,
                "n_chars_in": nin_c,
                "n_chars_out": nout_c,
            },
            columns=cols,
        )


def balanced(
    df: DataFrame, *keys: str | Column, num_partitions: int | None = None
) -> DataFrame:
    """Range-partition on ``keys`` into tasks of equal row count: the one
    shuffle ahead of every extraction stage.  Default: one task per slot
    (the scheduler's parallelism), so the Python stage runs in one wave.

    Range bounds come from a sample of the keys -- one extra job that
    re-reads this exchange's child once -- and split a skewed conversation
    at any turn; each task covers one contiguous key range.

    The partition count is ALWAYS explicit: a column-only repartition is an
    AQE-coalescible shuffle, and AQE's size-based coalescing sees only the
    small input bytes -- not the Python kernel cost per row -- so it would
    collapse the extraction stage to a handful of partitions and serialize
    the mapInPandas work.
    """
    if not num_partitions:
        num_partitions = df.sparkSession.sparkContext.defaultParallelism
    return df.repartitionByRange(num_partitions, *keys)


def extract_transcripts(
    df: DataFrame, num_partitions: int | None = None
) -> DataFrame:
    """transcripts DataFrame -> extraction DataFrame, globally ordered by
    (conv_id, turn_idx).

    The input is range-partitioned on (conv_id, turn_idx) before the
    kernel (``balanced``) and the kernel keeps each partition's rows, so
    sorting within partitions gives the global order.  An ``orderBy``
    would add a second range exchange whose bound-sampling job runs the
    Python kernel a second time.
    """
    return balanced(
        df.select("conv_id", "turn_idx", "text"), "conv_id", "turn_idx",
        num_partitions=num_partitions,
    ).mapInPandas(_extract_batches, schema=EXTRACTION_SCHEMA).sortWithinPartitions(
        "conv_id", "turn_idx"
    )


def extract_payload_turns(
    df: DataFrame, payload_col: str = "payload",
    num_partitions: int | None = None,
) -> DataFrame:
    """Binary-payload variant of ``extract_transcripts`` for tool-emitted
    attachments: PDF payloads go through the pure-stdlib text extractor
    (pdfmini) then the SAME grid kernel; utf-8 payloads dispatch through
    the HTML/text auto path.  Undecodable payloads yield zero segments
    (n_chars_in still recorded).

    PDF payloads carry TRUE line geometry (pdfmini tracks the text
    matrix; pdf_text_lines_geometry converts baselines to the reference's
    raster scale), so the grid kernel's group sweep runs the reference's
    own pixel thresholds for them — sub-char leading decisions (split
    vs same-paragraph) match what the reference sees in its rasterized
    pixels instead of the quantized text analogue.  The geometry rides a
    worker-local object column; it never crosses Arrow."""
    from .pdfmini import looks_like_pdf, pdf_text_lines_geometry

    def batches(it):
        for pdf_batch in it:
            texts = []
            geoms = []
            for payload in pdf_batch[payload_col].values:
                if payload is None:
                    texts.append("")
                    geoms.append(None)
                    continue
                b = bytes(payload)
                if looks_like_pdf(b):
                    lines, geom = pdf_text_lines_geometry(b)
                    texts.append("\n".join(lines))
                    geoms.append(geom)
                else:
                    geoms.append(None)
                    try:
                        texts.append(b.decode("utf-8"))
                    except UnicodeDecodeError:
                        texts.append("")
            inner = pd.DataFrame(
                {
                    "conv_id": pdf_batch["conv_id"].values,
                    "turn_idx": pdf_batch["turn_idx"].values,
                    "text": texts,
                }
            )
            inner["_line_px"] = geoms
            yield from _extract_batches(iter([inner]))

    return (
        balanced(
            df.select("conv_id", "turn_idx", payload_col), "conv_id", "turn_idx",
            num_partitions=num_partitions,
        )
        .mapInPandas(batches, schema=EXTRACTION_SCHEMA)
        .sortWithinPartitions("conv_id", "turn_idx")
    )


def ingest_transcripts(
    df: DataFrame, text_col: str = "text", stats: bool = True
) -> DataFrame:
    """Ingest-time derived columns — the ``initialize_pdf`` analogue
    (/root/reference/src/task/file.py:15-68), which renders a 750px
    preview, up-to-5 page thumbnails, and records page dimensions before
    translation ever runs.  In text space:

    * ``preview``   — first 750 chars (the 750px preview render)
    * ``n_thumbs``  — min(5, line count)  (thumbnails for pages 1-5)
    * ``page_w``/``page_h`` — max line width / line count (the page-
      dimension meta.json entries)
    * plus the ``document_stats`` projection (lang_id, quality, token
      counts, fingerprint) when ``stats=True``.

    Everything is a pure-Catalyst projection evaluated in the SAME scan
    as whatever reads the table next — at 100 TB these are free derived
    columns, not an extra pass (the reference pays three subprocess
    renders per file for the same metadata)."""
    from .ops.textstats import document_stats

    lines = F.split(F.col(text_col), "\n")
    out = df.select(
        "*",
        F.substring(F.col(text_col), 1, 750).alias("preview"),
        F.least(F.lit(5), F.size(lines)).alias("n_thumbs"),
        F.array_max(F.transform(lines, lambda ln: F.length(ln))).alias(
            "page_w"
        ),
        F.size(lines).alias("page_h"),
    )
    if stats:
        out = document_stats(out, text_col=text_col)
    return out


# ---------------------------------------------------------------------------
# checkpointed, resumable stage driver
# ---------------------------------------------------------------------------

N_BUCKETS = 64


def run_resumable_extraction(
    spark: SparkSession,
    transcripts: DataFrame,
    out_path: str,
    n_buckets: int = N_BUCKETS,
) -> list[int]:
    """Write extraction output partitioned by ``bucket`` = hash(conv_id) %
    n_buckets; on restart, buckets already on disk are skipped.

    Idempotent per bucket (dynamic partition overwrite); returns the list of
    buckets processed in this invocation.  At cluster scale n_buckets is
    sized so one bucket ~ one executor-hour of work.
    """
    import json
    import os

    manifest = os.path.join(out_path, "_crrf_done.json")
    done: set[int] = set()
    if os.path.isdir(out_path):
        # a bucket is done if the manifest says so (covers empty buckets)
        # or its partition directory holds parquet files
        if os.path.isfile(manifest):
            done.update(json.load(open(manifest)))
        for name in os.listdir(out_path):
            if name.startswith("bucket="):
                bucket_dir = os.path.join(out_path, name)
                if any(f.endswith(".parquet") for f in os.listdir(bucket_dir)):
                    done.add(int(name.split("=", 1)[1]))

    todo = [b for b in range(n_buckets) if b not in done]
    if not todo:
        return []

    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    bucket = F.pmod(F.hash("conv_id"), F.lit(n_buckets))
    src = transcripts.select("conv_id", "turn_idx", "text")
    if done:
        src = src.filter(~bucket.isin(sorted(done)))
    # range shuffle on (bucket, conv_id, turn_idx): equal write tasks, each
    # covering one contiguous bucket range, so the sink writes at most
    # tasks + n_buckets - 1 files.  The local sort leads with bucket so it
    # satisfies the planned write's required ordering; a sort that does
    # not is replaced by the write's own Sort [bucket] and the files lose
    # their (conv_id, turn_idx) order
    (
        balanced(src, bucket, "conv_id", "turn_idx")
        .mapInPandas(_extract_batches, schema=EXTRACTION_SCHEMA)
        .withColumn("bucket", bucket)
        .sortWithinPartitions("bucket", "conv_id", "turn_idx")
        .write.mode("overwrite").partitionBy("bucket").parquet(out_path)
    )
    with open(manifest, "w") as f:
        json.dump(sorted(done | set(todo)), f)
    return todo


def observed_extraction(
    df: DataFrame, num_partitions: int | None = None
):
    """``extract_transcripts`` with free in-flight metrics: returns
    (DataFrame, Observation).  After any action on the DataFrame,
    ``observation.get`` yields {n_rows, n_segments, n_chars_in,
    n_chars_out} with zero extra passes -- the runtime analogue of the
    reference's Redis progress counters
    (/root/reference/src/task/project.py:36-40), computed by the engine
    instead of hand-maintained keys."""
    from pyspark.sql import Observation

    obs = Observation("extract_metrics")
    out = extract_transcripts(df, num_partitions=num_partitions).observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("n_segments").alias("n_segments"),
        F.sum("n_chars_in").alias("n_chars_in"),
        F.sum("n_chars_out").alias("n_chars_out"),
    )
    return out, obs


def lineage(extraction: DataFrame, stage: str = "extract") -> DataFrame:
    """Per-partition lineage/metrics table (north rule): row counts, segment
    counts, byte counts grouped by physical partition."""
    with_pid = extraction.withColumn("partition_id", F.spark_partition_id())
    return with_pid.groupBy("partition_id").agg(
        F.lit(stage).alias("stage"),
        F.count("*").alias("n_rows"),
        F.sum("n_segments").alias("n_segments"),
        F.sum("n_chars_in").alias("n_bytes_in"),
        F.sum("n_chars_out").alias("n_bytes_out"),
    ).select("stage", "partition_id", "n_rows", "n_segments", "n_bytes_in", "n_bytes_out")


def write_segments_json(extraction: DataFrame, path: str) -> None:
    """JSON-lines sink for interop (analogue of the page.N.json output,
    /root/reference/src/t-pdf:113-117): one JSON object per turn with the
    nested segments array."""
    extraction.select(
        "conv_id", "turn_idx", "segments", "extracted_text"
    ).write.mode("overwrite").json(path)


def read_segments_json(spark: SparkSession, path: str) -> DataFrame:
    """Read the JSON sink back with the canonical nested schema."""
    schema = T.StructType(
        [f for f in EXTRACTION_SCHEMA.fields
         if f.name in ("conv_id", "turn_idx", "segments", "extracted_text")]
    )
    return spark.read.schema(schema).json(path)


def read_corpus(spark: SparkSession, root: str, fmt: str = "parquet") -> DataFrame:
    """Recursive corpus listing (analogue of enumerate_user_files,
    /root/reference/src/data/file.py:255-270): one scan over an arbitrarily
    nested directory tree."""
    return (
        spark.read.option("recursiveFileLookup", "true").format(fmt).load(root)
    )


def segments_view(extraction: DataFrame) -> DataFrame:
    """Explode nested segments to one row per segment (the search layer's
    input; analogue of /root/reference/src/search/index.js:37-48)."""
    return extraction.select(
        "conv_id",
        "turn_idx",
        F.explode("segments").alias("seg"),
    ).select(
        "conv_id",
        "turn_idx",
        F.col("seg.cindex").alias("cindex"),
        F.col("seg.type").alias("type"),
        F.col("seg.content").alias("content"),
    )
