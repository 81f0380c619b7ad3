"""Spark extraction pipeline (SURVEY.md section 3.1 re-expression).

The reference's per-document driver (/root/reference/src/t-pdf:86-145) runs
one process per PDF: decode, segment, emit JSON.  Here the whole corpus is
one DataFrame pass:

    read -> range repartition -> mapInPandas(_extract_batches) -> sink

and the per-document work is one batch function, ``extract_rows``: each
turn's text or payload bytes in, its ``EXTRACTION_SCHEMA`` columns out,
with the grid kernel run once over the batch.  Every entry point -- text
turns (``extract_transcripts``), PDF/HTML payloads
(``extract_payload_turns``), the resumable sink, the stream
(``streaming.extract_stream``) and the local mode of
``scripts/t_extract.py`` (``extract_row``, a batch of one) -- runs that
one function, so a turn extracts the same way whichever batch carries it.

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
* zero per-row Python at the DataFrame level: the kernel runs a whole
  Arrow batch at a time (spark.sql.execution.arrow.maxRecordsPerBatch
  bounds memory), so its numpy call overhead is paid per batch.
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

from .extract import extract_turns_auto, extracted_text
from .pdfmini import looks_like_pdf, pdf_text_lines_geometries
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
        .config("spark.driver.memory", _driver_memory())
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


def _driver_memory() -> str:
    """Half the machine's physical memory, at most 24g: the other half
    is left to the Python kernel workers (a fixed 24g let the JVM heap
    outgrow a 16 GB machine)."""
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(total // 2, 24 << 30) >> 20}m"


def _decode(values) -> tuple[list[str], list]:
    """A batch of input values -> (texts, true line geometries): text as
    is; PDF payloads through one pdfmini batch; other bytes as strict
    UTF-8; None and undecodable bytes as empty text."""
    texts: list[str] = []
    pdfs: dict[int, bytes] = {}  # position -> PDF payload
    for value in values:
        payload = value if value is None or isinstance(value, str) else bytes(value)
        if isinstance(payload, bytes) and looks_like_pdf(payload):
            pdfs[len(texts)] = payload
            payload = ""
        elif isinstance(payload, bytes):
            try:
                payload = payload.decode("utf-8")
            except UnicodeDecodeError:
                payload = ""
        texts.append(payload or "")
    geoms = [None] * len(texts)
    if pdfs:
        decoded = pdf_text_lines_geometries(list(pdfs.values()))
        for i, (lines, geom) in zip(pdfs, decoded):
            texts[i] = "\n".join(lines)
            geoms[i] = geom
    return texts, geoms


def extract_rows(values) -> list[tuple]:
    """A batch of turns' input values -> for each, its
    ``EXTRACTION_SCHEMA`` columns after the keys: (segments,
    extracted_text, n_segments, n_tables, n_chars_in, n_chars_out).

    Text is used as is.  Payload bytes are decoded: PDFs through one
    pdfmini batch, keeping their TRUE line geometry (baselines on the
    reference's raster scale, so the grid kernel's group sweep runs the
    reference's own pixel thresholds -- sub-char leading decisions match
    what the reference sees in its rasterized pixels); anything else as
    strict UTF-8, which the auto dispatch routes to the HTML or text-grid
    path.  ``None`` and undecodable bytes become empty text: zero
    segments, ``n_chars_in`` 0.  The geometry stays inside this call; it
    never crosses Arrow.  The grid kernel runs once over the batch
    (``extract.extract_turns_auto``)."""
    texts, geoms = _decode(values)
    rows = []
    for text, segs in zip(texts, extract_turns_auto(texts, geoms)):
        etext = extracted_text(segs)
        rows.append((
            [{"cindex": i, "type": s["type"], "content": s["content"],
              "rows": s["rows"], "box": s["box"]} for i, s in enumerate(segs)],
            etext,
            len(segs),
            sum(1 for s in segs if s["type"] == "table"),
            len(text),
            len(etext),
        ))
    return rows


def extract_row(value: str | bytes | None) -> tuple:
    """One turn's input value -> its ``EXTRACTION_SCHEMA`` columns after
    the keys: ``extract_rows`` on a batch of one."""
    return extract_rows([value])[0]


_COLS = [f.name for f in EXTRACTION_SCHEMA.fields]


def _extract_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel over ``(conv_id, turn_idx, text | payload)``:
    ``extract_rows`` on the third column of each Arrow batch as a whole
    (Spark hands over up to ``maxRecordsPerBatch`` rows), one output row
    per input row.  The grid kernel's per-call numpy overhead is paid
    once per batch, not once per turn (SURVEY.md section 2.9)."""
    for pdf in batches:
        out = zip(*extract_rows(pdf.iloc[:, 2].values))
        yield pd.DataFrame(
            {
                "conv_id": pdf["conv_id"].values,
                "turn_idx": pdf["turn_idx"].astype("int32").values,
                **{name: list(col) for name, col in zip(_COLS[2:], out)},
            },
            columns=_COLS,
        )


def balanced(df: DataFrame, *keys: str | Column) -> DataFrame:
    """Range-partition on ``keys`` into tasks of equal row count: the one
    shuffle ahead of every extraction stage.  One task per slot (the
    scheduler's parallelism), so the Python stage runs in one wave.  More,
    smaller tasks lose even with a Python task's start-up down to ~70 ms
    per extra wave (see ``crrf_det_spark._keep_spark_archives``): on the
    perfbench workloads at local[4], 2x the slots ran at 0.87x
    (transcripts) and 0.99x (pdf_payloads) of 1x's throughput, 4x at
    0.75x and 0.83x.

    Range bounds come from a sample of the keys -- one extra job that
    re-reads this exchange's child once -- and split a skewed conversation
    at any turn; each task covers one contiguous key range.

    The partition count is ALWAYS explicit: a column-only repartition is an
    AQE-coalescible shuffle, and AQE's size-based coalescing sees only the
    small input bytes -- not the Python kernel cost per row -- so it would
    collapse the extraction stage to a handful of partitions and serialize
    the mapInPandas work.
    """
    return df.repartitionByRange(
        df.sparkSession.sparkContext.defaultParallelism, *keys
    )


def _extract(df: DataFrame, value_col: str) -> DataFrame:
    """Range-partition on (conv_id, turn_idx), run the kernel, and sort
    within partitions.  The kernel keeps each partition's rows, so the
    per-partition sort gives the global order; an ``orderBy`` would add a
    second range exchange whose bound-sampling job runs the Python kernel
    a second time."""
    return (
        balanced(df.select("conv_id", "turn_idx", value_col), "conv_id", "turn_idx")
        .mapInPandas(_extract_batches, schema=EXTRACTION_SCHEMA)
        .sortWithinPartitions("conv_id", "turn_idx")
    )


def extract_transcripts(df: DataFrame) -> DataFrame:
    """transcripts DataFrame -> extraction DataFrame, globally ordered by
    (conv_id, turn_idx)."""
    return _extract(df, "text")


def extract_payload_turns(df: DataFrame) -> DataFrame:
    """Binary-payload variant of ``extract_transcripts`` for tool-emitted
    attachments in a ``payload`` column: PDFs through pdfmini with their
    true line geometry, everything else as strict UTF-8 through the
    HTML/text auto path (``extract_rows``)."""
    return _extract(df, "payload")


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


def observed_extraction(df: DataFrame):
    """``extract_transcripts`` with free in-flight metrics: returns
    (DataFrame, Observation).  After any action on the DataFrame,
    ``observation.get`` yields {n_rows, n_segments, n_chars_in,
    n_chars_out} with zero extra passes -- the runtime analogue of the
    reference's Redis progress counters
    (/root/reference/src/task/project.py:36-40), computed by the engine
    instead of hand-maintained keys."""
    from pyspark.sql import Observation

    obs = Observation("extract_metrics")
    out = extract_transcripts(df).observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("n_segments").alias("n_segments"),
        F.sum("n_chars_in").alias("n_chars_in"),
        F.sum("n_chars_out").alias("n_chars_out"),
    )
    return out, obs


def lineage(extraction: DataFrame) -> DataFrame:
    """Per-partition lineage/metrics table (north rule): row counts, segment
    counts, byte counts grouped by physical partition."""
    with_pid = extraction.withColumn("partition_id", F.spark_partition_id())
    return with_pid.groupBy("partition_id").agg(
        F.lit("extract").alias("stage"),
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
