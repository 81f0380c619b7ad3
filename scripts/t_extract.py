#!/usr/bin/env python
"""t-extract: per-document extraction CLI (analogue of the reference's
t-pdf driver, /root/reference/src/t-pdf:86-156).

    # single text document -> structured JSON per turn
    python scripts/t_extract.py -i doc.txt -o outdir

    # transcripts parquet -> JSON-lines segments (page.N.json analogue)
    python scripts/t_extract.py -i transcripts_parquet_dir -o outdir --spark

The plain-file mode runs the kernel locally (no Spark session) -- handy for
inspecting one document; the --spark mode runs the full pipeline.
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
        from crrf_det_spark.extract import extract_turn_auto, extracted_text
        from crrf_det_spark.pdfmini import looks_like_pdf, pdf_text

        with open(args.input, "rb") as f:
            payload = f.read()
        if looks_like_pdf(payload):
            text = pdf_text(payload)  # real t-pdf parity: PDF in, JSON out
        else:
            text = payload.decode("utf-8", errors="replace")
        segments = extract_turn_auto(text)
        doc = {
            "meta": {"chars": len(text), "segments": len(segments)},
            "content": [
                {"cindex": i, **{k: s[k] for k in ("type", "content", "rows", "box")}}
                for i, s in enumerate(segments)
            ],
            "extracted_text": extracted_text(segments),
        }
        out = os.path.join(args.output, "doc.json")
        with open(out, "w", encoding="utf-8") as f:
            json.dump(doc, f, ensure_ascii=False, indent=1)
        print(f"{len(segments)} segments -> {out}")
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
