"""The reference's full user story, end to end on Spark:

    ingest -> extraction -> segment index -> saved filters run ->
    label accumulation -> master index -> deterministic sample ->
    tagging crops -> batch sink -> archive

mirroring the reference flow initialize_pdf -> translate -> project run
(run_project) -> generate_tagging -> pack_tagging
(/root/reference/src/task/file.py, /root/reference/src/task/project.py).
Every stage consumes the previous stage's real output; nothing is
synthesized mid-chain.
"""

import zipfile

from pyspark.sql import functions as F

from crrf_det_spark import synth
from crrf_det_spark.caching import release
from crrf_det_spark.pipeline import (
    extract_transcripts,
    ingest_transcripts,
    segments_view,
)
from crrf_det_spark.project import master_index, run_filters, segment_labels
from crrf_det_spark.schema import TRANSCRIPT_SCHEMA
from crrf_det_spark.search import build_index
from crrf_det_spark.tagging import (
    pack_tagging_archive,
    tagging_entries,
    write_tagging_batches,
)

FILTERS = [
    {"filter_name": "alpha", "query": "alpha", "labels": ["topic-a"]},
    {"filter_name": "beta", "query": "beta", "labels": ["topic-b", "b2"]},
]


def test_full_project_run(spark, tmp_path):
    # 1. ingest with derived columns (initialize_pdf analogue)
    rows, goldens = synth.generate(n_convs=12, seed=33)
    src = ingest_transcripts(
        spark.createDataFrame(rows, schema=TRANSCRIPT_SCHEMA)
    )
    assert {"preview", "n_thumbs", "page_w", "page_h", "lang_id"} <= set(
        src.columns
    )

    # 2. extraction (translate analogue), per-turn text equality
    extracted = extract_transcripts(src)
    n_turns = extracted.count()
    assert n_turns == len(rows)

    # 3. segment view + inverted index
    segs = segments_view(extracted)
    idx = build_index(segs, lengths=(1, 2))
    n_docs = segs.count()
    assert n_docs > 0

    # 4. saved-filters project run (single pass), labels, master index
    hits = run_filters(idx, FILTERS, force_numeric=False)
    labeled = segment_labels(hits)
    mi = master_index(hits).collect()
    hit_convs = {r.conv_id for r in mi}
    assert hit_convs  # the synth corpus always contains 'alpha'/'beta'
    lab = {
        (r.conv_id, r.turn_idx, r.cindex): list(r.labels)
        for r in labeled.collect()
    }
    assert any("topic-a" in v for v in lab.values())

    # 5. deterministic sample of hit segments -> tagging entries
    sample = (
        hits.select(
            "conv_id", "turn_idx", F.explode("cindex").alias("cindex")
        )
        .distinct()
        .filter(F.pmod(F.xxhash64("conv_id", "turn_idx", "cindex"), F.lit(2)) == 0)
    )
    seg_content = segs.select(
        "conv_id", "turn_idx", "cindex",
        F.col("content").alias("snippet"),
    )
    tag_src = (
        sample.join(seg_content, ["conv_id", "turn_idx", "cindex"])
        .withColumn("box_y0", F.lit(8))
        .withColumn("box_x0", F.lit(16))
        .withColumn(
            "box_y1", (F.lit(8) + F.length("snippet") % 60 + 20).cast("int")
        )
        .withColumn(
            "box_x1", (F.lit(16) + F.length("snippet") * 7 + 100).cast("int")
        )
    )
    entries = tagging_entries(tag_src, batch_size=8, n_partitions=4)
    got = entries.orderBy("entry_id").collect()
    assert [r.entry_id for r in got] == list(range(1, len(got) + 1))
    assert all(r.batch_index == (r.entry_id // 8) * 8 for r in got)
    assert all(r.crop_sizes for r in got)

    # 6. batch sink + archive (generate_tagging / pack_tagging analogues)
    out_dir = str(tmp_path / "tagging")
    write_tagging_batches(entries, out_dir)
    archive = str(tmp_path / "project.zip")
    n_files = pack_tagging_archive(out_dir, archive)
    assert n_files >= 1
    with zipfile.ZipFile(archive) as z:
        assert all(n.startswith("batch_index=") for n in z.namelist())

    # 7. cache hygiene across the whole chain
    release(entries)
    release(hits)
