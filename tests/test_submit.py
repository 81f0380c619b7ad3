"""End-to-end test of the north rule's deployment path: the REAL
``spark-submit --py-files crrf_det_spark.zip scripts/submit_extract.py``
command, run in local mode against a transcripts parquet written without
any Spark session in this process.

The subprocess gets NO PYTHONPATH pointing at the repo — the package
import inside the job must be satisfied by the ``--py-files`` zip alone,
which is exactly what a cluster submission exercises.  A second identical
submission proves bucket-level resumability survives a driver restart
(run_resumable_extraction skips completed buckets via the sink manifest).
"""

from __future__ import annotations

import os
import subprocess
import sys
import zipfile

import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq
import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _spark_submit() -> str:
    import pyspark

    cand = os.path.join(os.path.dirname(pyspark.__file__), "bin", "spark-submit")
    if os.path.exists(cand):
        return cand
    from shutil import which

    found = which("spark-submit")
    if not found:
        pytest.skip("no spark-submit binary available")
    return found


def _write_transcripts(path: str) -> int:
    sys.path.insert(0, REPO)
    from crrf_det_spark import synth

    rows, _ = synth.generate(n_convs=12, seed=31, skew_convs=1, skew_factor=10)
    schema = pa.schema(
        [
            pa.field("conv_id", pa.string(), nullable=False),
            pa.field("turn_idx", pa.int32(), nullable=False),
            pa.field("role", pa.string()),
            pa.field("text", pa.string()),
            pa.field("tool", pa.string()),
            pa.field("ts", pa.timestamp("us", tz="UTC")),
        ]
    )
    table = pa.Table.from_pylist(rows, schema=schema)
    pq.write_table(table, path)
    return table.num_rows


def _zip_package(zip_path: str) -> None:
    pkg = os.path.join(REPO, "crrf_det_spark")
    with zipfile.ZipFile(zip_path, "w", zipfile.ZIP_DEFLATED) as zf:
        for root, _dirs, files in os.walk(pkg):
            if "__pycache__" in root:
                continue
            for f in files:
                if not f.endswith(".py"):
                    continue
                full = os.path.join(root, f)
                zf.write(full, os.path.relpath(full, REPO))


def _submit(args: list[str]) -> subprocess.CompletedProcess:
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    return subprocess.run(
        args, capture_output=True, text=True, env=env, timeout=600
    )


def _parquet_rows(path: str) -> list[tuple]:
    t = ds.dataset(path, format="parquet", partitioning="hive").to_table(
        columns=["conv_id", "turn_idx", "extracted_text"]
    )
    return sorted(zip(*(t.column(c).to_pylist() for c in t.column_names)))


def _json_rows(path: str) -> list[tuple]:
    import json

    rows = []
    for name in os.listdir(path):
        if name.startswith("part-"):
            with open(os.path.join(path, name), encoding="utf-8") as f:
                for line in f:
                    r = json.loads(line)
                    rows.append((r["conv_id"], r["turn_idx"], r["extracted_text"]))
    return sorted(rows)


def test_spark_submit_py_files_end_to_end(tmp_path):
    transcripts = str(tmp_path / "transcripts.parquet")
    n_turns = _write_transcripts(transcripts)
    zip_path = str(tmp_path / "crrf_det_spark.zip")
    _zip_package(zip_path)
    out = str(tmp_path / "extract_out")
    json_sink = str(tmp_path / "segments_json")

    cmd = [
        _spark_submit(),
        "--master", "local[2]",
        "--conf", "spark.sql.shuffle.partitions=4",
        "--conf", "spark.ui.enabled=false",
        "--py-files", zip_path,
        os.path.join(REPO, "scripts", "submit_extract.py"),
        "--input", transcripts,
        "--output", out,
        "--buckets", "4",
        "--json-sink", json_sink,
    ]
    r1 = _submit(cmd)
    assert r1.returncode == 0, r1.stderr[-4000:]
    assert "extraction rows:" in r1.stdout

    rows1 = ds.dataset(out, format="parquet").count_rows()
    assert rows1 > 0
    # every input turn produced exactly one output row (per-turn equality
    # granularity; nested segments live inside the row)
    assert rows1 == n_turns
    # lineage table written beside the sink
    lineage_dir = out.rstrip("/") + "_lineage"
    assert ds.dataset(lineage_dir, format="parquet").count_rows() > 0
    # the JSON sink carries exactly the parquet sink's rows
    assert _json_rows(json_sink) == _parquet_rows(out)

    # resumability: a second identical submission must succeed and leave
    # the sink unchanged (all buckets already recorded in the manifest)
    r2 = _submit(cmd)
    assert r2.returncode == 0, r2.stderr[-4000:]
    rows2 = ds.dataset(out, format="parquet").count_rows()
    assert rows2 == rows1
