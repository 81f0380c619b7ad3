"""Catalyst physical-plan audits (PLANS.md, executable form).

These tests pin the plan properties that matter at 100TB: predicate
pushdown into the parquet scan, column pruning, broadcast join strategy
for small dims, top-k without a full sort shuffle, the extraction
pipeline's single explicit-count exchange, and the absence of cartesian
products in any driver-contract query.
"""

import contextlib
import io
import sys

import pytest

sys.path.insert(0, "/root/repo")

SF = "/root/testdata/sf0.001"


def plan_of(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


@pytest.fixture(scope="module")
def queries():
    import __spark_entry__ as entry

    return entry.queries()


def test_a1_filter_pushed_and_columns_pruned(spark, queries):
    plan = plan_of(queries["a1_pricing_summary"](spark, SF))
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan
    # lineitem has 16 columns; the scan must read only the 7 used
    read_schema = next(
        ln for ln in plan.splitlines() if "ReadSchema" in ln
    )
    n_cols = read_schema.count(":")
    assert n_cols <= 8, read_schema


def test_a9_broadcasts_dims(spark, queries):
    plan = plan_of(queries["a9_revenue_by_nation"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_j4_broadcast_lookup(spark, queries):
    plan = plan_of(queries["j4_broadcast_lookup"](spark, SF))
    assert "BroadcastHashJoin" in plan


def test_u3_anti_join_is_broadcast(spark, queries):
    plan = plan_of(queries["u3_anti_join"](spark, SF))
    assert "LeftAnti" in plan


def test_o5_topk_avoids_full_sort_shuffle(spark, queries):
    plan = plan_of(queries["o5_topk"](spark, SF))
    assert "TakeOrderedAndProject" in plan


def test_aggregations_are_partial_final(spark, queries):
    # map-side combine: every groupBy agg shows partial_* then final
    plan = plan_of(queries["a1_pricing_summary"](spark, SF))
    assert "partial_sum" in plan or "partial_count" in plan


def _assert_one_range_exchange(plan: str) -> None:
    # exactly one shuffle of any kind, and it is the range exchange with
    # the explicit (non-AQE-coalescible) count
    assert plan.count("Exchange ") == 1, plan
    assert plan.count("Exchange rangepartitioning") == 1, plan
    assert "REPARTITION_BY_NUM" in plan
    assert "MapInPandas" in plan


def test_extraction_single_explicit_exchange(spark):

    from crrf_det_spark.pipeline import extract_transcripts

    df = spark.createDataFrame(
        [("c1", 0, "hello world")], "conv_id string, turn_idx int, text string"
    )
    plan = plan_of(extract_transcripts(df), mode="simple")
    _assert_one_range_exchange(plan)


def test_payload_extraction_single_explicit_exchange(spark):
    from crrf_det_spark.pipeline import extract_payload_turns

    df = spark.createDataFrame(
        [("c1", 0, bytearray(b"hello world"))],
        "conv_id string, turn_idx int, payload binary",
    )
    plan = plan_of(extract_payload_turns(df), mode="simple")
    _assert_one_range_exchange(plan)


def test_resumable_write_single_range_exchange(spark, tmp_path):
    # the write runs inside run_resumable_extraction, so its executed
    # plan is read back from the session's SQL status store (kept with
    # the UI off).  One range exchange on (bucket, conv_id, turn_idx),
    # and the only Sort is the requested (bucket, conv_id, turn_idx)
    # one: the planned write found its required ordering satisfied
    import re

    from crrf_det_spark.pipeline import run_resumable_extraction

    df = spark.createDataFrame(
        [("c1", 0, "hello world"), ("c2", 3, "another turn")],
        "conv_id string, turn_idx int, text string",
    )
    run_resumable_extraction(spark, df, str(tmp_path / "out"), n_buckets=4)
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    plan = execs.apply(execs.size() - 1).physicalPlanDescription()
    assert "InsertIntoHadoopFsRelationCommand" in plan
    tree = plan.split("== Initial Plan ==")[0]
    assert len(re.findall(r"Exchange \(\d+\)", tree)) == 1, plan
    assert len(re.findall(r"Sort \(\d+\)", tree)) == 1, plan
    assert "hashpartitioning" not in plan
    assert re.search(
        r"rangepartitioning\(pmod\(hash\(conv_id#\d+, 42\), 4\) ASC NULLS FIRST, "
        r"conv_id#\d+ ASC NULLS FIRST, turn_idx#\d+ ASC NULLS FIRST, \d+\), "
        r"REPARTITION_BY_NUM",
        plan,
    ), plan
    assert re.search(
        r"Arguments: \[bucket#\d+ ASC NULLS FIRST, conv_id#\d+ ASC NULLS FIRST, "
        r"turn_idx#\d+ ASC NULLS FIRST\]",
        plan,
    ), plan


def test_no_cartesian_products_in_contract_queries(spark, queries):
    # j1 is a theta join (BroadcastNestedLoopJoin over a 5-row side) --
    # broadcast-nested-loop is the right physical strategy there, but a
    # CartesianProduct (both sides shuffled) must never appear anywhere.
    for name, fn in queries.items():
        plan = plan_of(fn(spark, SF), mode="simple")
        assert "CartesianProduct" not in plan, name


def test_tagging_no_single_partition_window(spark):
    # the global entry sequence must come from the offsets pattern, not a
    # row_number() over an empty-partition window (which funnels ALL rows
    # through one task -- the classic global-index scale killer)
    from crrf_det_spark.tagging import tagging_entries

    df = spark.createDataFrame(
        [(f"c{i}", 0, 0, 1, 1, 10, 900) for i in range(50)],
        "conv_id string, turn_idx int, cindex int, "
        "box_y0 int, box_x0 int, box_y1 int, box_x1 int",
    )
    plan = plan_of(tagging_entries(df, n_partitions=8), mode="simple")
    assert "Window" not in plan
    assert "SinglePartition" not in plan
    assert "MapInPandas" in plan


def test_search_many_broadcasts_filter_map(spark):
    # the (term, filter, pin, exclude) entries, the per-(term, pin) df
    # table and the labels must join as broadcasts -- a shuffle join
    # keyed on term would move the matched postings again
    from crrf_det_spark.search import build_index
    from crrf_det_spark.search.query import search_many

    segs = spark.createDataFrame(
        [("c1", 0, 0, "text", "alpha beta 42")],
        "conv_id string, turn_idx int, cindex int, type string, content string",
    )
    idx = build_index(segs)
    out = search_many(
        idx,
        [{"filter_name": "f", "query": "alpha", "labels": ["x"]}],
        force_numeric=False,
        n_docs=1,
    )
    plan = plan_of(out, mode="simple")
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_ingest_stats_single_scan_projection(spark):
    # ingest derivations must stay a projection over one scan: no
    # Exchange, no extra jobs
    from crrf_det_spark.pipeline import ingest_transcripts

    df = spark.read.parquet(f"{SF}/documents.parquet").selectExpr(
        "cast(doc_id as string) conv_id", "0 as turn_idx", "text"
    )
    plan = plan_of(ingest_transcripts(df), mode="simple")
    assert "Exchange" not in plan
    assert "Scan parquet" in plan


def test_signature_kernels_are_spread(spark):
    # the signature kernels must show an explicit repartition ahead of
    # MapInPandas: a single-file parquet source otherwise serializes the
    # whole Python stage into one worker (measured 3.3s -> 0.4s on the
    # 5000-doc corpus when this was fixed)
    from crrf_det_spark.ops import simhash_signatures

    d = spark.read.parquet(f"{SF}/documents.parquet")
    plan = plan_of(simhash_signatures(d), mode="simple")
    assert "REPARTITION_BY_NUM" in plan
    assert "MapInPandas" in plan


def test_span_dedup_runs_no_python_stage(spark):
    # span and shingle near-edges come from the exact Jaccard join, which
    # is all Catalyst: no Python stage in the edge plan of dedup_spans
    # (its components stage checkpoints eagerly, so the edge stage is
    # where the plan can be read)
    from crrf_det_spark.ops import paragraph_spans, span_duplicate_edges

    d = spark.read.parquet(f"{SF}/documents.parquet")
    plan = plan_of(span_duplicate_edges(paragraph_spans(d)), mode="simple")
    assert "MapInPandas" not in plan


def test_similarity_and_multimodal_kernels_are_spread(spark):
    # same invariant as the signature kernels: every mapInPandas input
    # carries an explicit repartition so a single-file parquet source
    # can't serialize the Python stage into one worker
    from crrf_det_spark.ops import ivf_assign, lsh_assign, lsh_topk
    from crrf_det_spark.ops.multimodal import extract_features

    import numpy as np

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    dim = len(emb.select("embedding").first()[0])
    q = [1.0] * dim
    cent = np.zeros((2, dim))
    media = spark.createDataFrame(
        [(1, "image", None, None, None)],
        "media_id long, kind string, mime string, payload binary, "
        "meta struct<width:int,height:int,duration_ms:int>",
    )
    for name, df in (
        ("ivf_assign", ivf_assign(emb, cent)),
        ("lsh_topk", lsh_topk(lsh_assign(emb, num_planes=4), q, k=2, num_planes=4)),
        ("extract_features", extract_features(media)),
    ):
        plan = plan_of(df, mode="simple")
        assert "REPARTITION_BY_NUM" in plan, name
        assert "MapInPandas" in plan, name


def test_ivf_indexed_query_prunes_partitions(spark, tmp_path):
    # the materialized IVF index is partitioned by centroid; the indexed
    # query's probe filter must reach the scan as a PARTITION filter
    # (directory pruning before IO, no per-query kernel pass) — the
    # 100TB contract of ops/similarity.py's ingest path
    import numpy as np

    from crrf_det_spark.ops import (
        ivf_assign,
        ivf_topk,
        ivf_train,
        ivf_write_index,
    )

    rng = np.random.RandomState(7)
    rows = [
        (i, rng.normal(size=8).astype("float32").tolist()) for i in range(100)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cent = ivf_train(df, n_centroids=4, sample_fraction=1.0)
    path = str(tmp_path / "ivf_index")
    ivf_write_index(ivf_assign(df, cent), path)
    q = ivf_topk(spark.read.parquet(path), cent, rows[0][1], k=3, n_probe=2)
    plan = plan_of(q)
    scan_chunk = plan[plan.index("Scan parquet"):]
    part_line = next(
        ln for ln in scan_chunk.splitlines() if "PartitionFilters" in ln
    )
    assert "centroid" in part_line and "IN" in part_line, part_line
    # no assignment kernel in the query plan
    assert "MapInPandas" not in plan


def test_lsh_indexed_query_prunes_partitions(spark, tmp_path):
    # same ingest-time contract as the IVF index, for the hyperplane-LSH
    # family: the materialized index is partitioned by bucket; the probe
    # filter must prune directories before IO with no per-query
    # assignment kernel, and the indexed result must equal the one-shot
    # lsh_topk over lsh_assign on the same corpus/query
    import numpy as np

    from crrf_det_spark.ops import lsh_assign, lsh_topk, lsh_write_index

    rng = np.random.RandomState(11)
    rows = [
        (i, rng.normal(size=8).astype("float32").tolist()) for i in range(100)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    path = str(tmp_path / "lsh_index")
    lsh_write_index(lsh_assign(df, num_planes=4), path)
    q = lsh_topk(spark.read.parquet(path), rows[0][1], k=5, num_planes=4)
    plan = plan_of(q)
    scan_chunk = plan[plan.index("Scan parquet"):]
    part_line = next(
        ln for ln in scan_chunk.splitlines() if "PartitionFilters" in ln
    )
    assert "bucket" in part_line and "IN" in part_line, part_line
    assert "MapInPandas" not in plan
    one_shot = lsh_topk(
        lsh_assign(df, num_planes=4), rows[0][1], k=5, num_planes=4
    ).collect()
    assert q.collect() == one_shot


def test_no_driver_side_probes_outside_whitelist():
    # repo invariant (CLAUDE.md): no driver-side .first()/.collect() size
    # probes inside operators — each one costs a whole extra job.  The
    # only sanctioned driver collects are bounded, documented sites:
    #   - components._checksum: O(1)-row loop-control aggregate
    #   - similarity.ivf_train: the max_train-capped k-means sample
    #   - tagging.global_entry_ids: O(partitions) offset rows
    import pathlib

    allowed = {
        ("ops/components.py", 1),
        ("ops/similarity.py", 1),
        ("tagging.py", 1),
    }
    pkg = pathlib.Path("/root/repo/crrf_det_spark")
    found = {}
    for py in pkg.rglob("*.py"):
        n = 0
        for ln in py.read_text().splitlines():
            code = ln.split("#", 1)[0]
            if ".first()" in code or ".collect()" in code:
                n += 1
        if n:
            found[str(py.relative_to(pkg))] = n
    assert {(f, n) for f, n in found.items()} == allowed, found


def test_search_adhoc_prefilter_below_generate(spark, queries):
    # the ad-hoc search's substring prefilter must run BEFORE the ngram
    # explode (that placement is its whole point: the term IN-list cannot
    # push below the Generate, so without the prefilter every document
    # pays index-build cost).  In the formatted physical plan the
    # Contains filter must sit deeper in the tree (later lines) than the
    # Generate node it feeds.
    # formatted explain numbers nodes bottom-up (scan = 1), so "below the
    # Generate" means the Contains-filter's node id is SMALLER than the
    # Generate's id.
    import re

    plan = plan_of(queries["search_tfidf_query"](spark, SF))
    lines = plan.splitlines()
    gen_ids = [
        int(m.group(1))
        for ln in lines
        if (m := re.match(r"\((\d+)\) Generate", ln.strip()))
    ]
    contains_filter_id = None
    current = None
    for ln in lines:
        m = re.match(r"\((\d+)\) (\w+)", ln.strip())
        if m:
            current = (int(m.group(1)), m.group(2))
        if "Contains(" in ln and current and current[1] == "Filter":
            contains_filter_id = current[0]
            break
    assert gen_ids and contains_filter_id is not None, plan
    assert contains_filter_id < min(gen_ids), (contains_filter_id, gen_ids)
