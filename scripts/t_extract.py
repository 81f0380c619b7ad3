#!/usr/bin/env python
"""t-extract: per-document extraction CLI (analogue of the reference's
t-pdf driver, /root/reference/src/t-pdf:86-156).

    # single text document -> structured JSON per turn
    python scripts/t_extract.py -i doc.txt -o outdir

    # transcripts parquet -> JSON-lines segments (page.N.json analogue)
    python scripts/t_extract.py -i transcripts_parquet_dir -o outdir --spark

The plain-file mode runs the pipeline's batch function on a batch of one
(``crrf_det_spark.pipeline.extract_row``) locally, without a Spark session
-- handy for inspecting one document.  It reads the file as a payload, the
way ``extract_payload_turns`` does: a PDF through pdfmini with its true
line geometry, anything else as strict UTF-8 (undecodable bytes give zero
segments), so one file gives the segments that pipeline gives for it.
The --spark mode runs the full pipeline.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main(argv: list[str]) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("-i", "--input", required=True)
    p.add_argument("-o", "--output", required=True)
    p.add_argument("--spark", action="store_true",
                   help="treat input as a transcripts parquet dir")
    p.add_argument("--master", default="local[8]")
    args = p.parse_args(argv)

    os.makedirs(args.output, exist_ok=True)
    if not args.spark:
        from crrf_det_spark.pipeline import extract_row

        with open(args.input, "rb") as f:
            segments, etext, n_segments, _, n_chars, _ = extract_row(f.read())
        doc = {
            "meta": {"chars": n_chars, "segments": n_segments},
            "content": segments,
            "extracted_text": etext,
        }
        out = os.path.join(args.output, "doc.json")
        with open(out, "w", encoding="utf-8") as f:
            json.dump(doc, f, ensure_ascii=False, indent=1)
        print(f"{n_segments} segments -> {out}")
        return 0

    from crrf_det_spark.pipeline import (
        build_session,
        extract_transcripts,
        write_segments_json,
    )

    spark = build_session(app="t_extract", master=args.master)
    spark.sparkContext.setLogLevel("ERROR")
    df = spark.read.parquet(args.input)
    write_segments_json(extract_transcripts(df), args.output)
    print(f"segments json -> {args.output}")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
