"""Similarity search over an embedding column (array<float>).

PRODUCTION (100 TB) SHAPE — build the index once at ingest, prune at
query time; this is the path a repeated-query deployment should reach
first:

* LSH index: lsh_assign (one vectorized hyperplane-sign bucketing pass)
  + lsh_write_index (materialize PARTITIONED BY bucket at ingest) +
  lsh_topk (multi-probe over the bucketed rows; on the written index the
  probe filter prunes partitions, so only the probed buckets are read and
  no per-query kernel pass runs).  Recall < 1.0 by construction;
  num_planes/probe radius trade recall for cost.  ``hyperplanes`` is the
  one seeded plane set; ``lsh_assign`` is also the bucketing kernel of
  ``dedup.embedding_near_duplicates``.
* IVF index: ivf_train (bounded driver-side k-means) + ivf_assign (one
  vectorized nearest-centroid pass) + ivf_write_index (materialize the
  assignment PARTITIONED BY centroid at ingest) + ivf_topk (probe over
  the assigned rows; on the written index it reads n_probe/n_centroids
  of the data, no per-query kernel pass).

``ivf_topk`` and ``lsh_topk`` take any assigned frame: the
``ivf_assign``/``lsh_assign`` output (an ad-hoc query: the whole corpus
passes through the assignment kernel per call) or
``spark.read.parquet(index_path)`` of a written index.

brute_force_topk is the exact cosine top-k -- the correctness baseline.
The dot product is a pure Catalyst expression (zip_with + aggregate), so
the scan stays JVM-side and whole-stage-codegen'd.

All three top-k entry points end in the same tail (``_topk``): cosine
projection, then orderBy+limit, which Spark executes as a per-partition
TakeOrdered (no full sort shuffle).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ._kernel import spread


def cosine_col(vec: Column, query: list[float]) -> Column:
    """Cosine similarity of an array<float> column against a literal query
    vector, as a pure Catalyst expression."""
    q = F.array(*[F.lit(float(x)) for x in query])
    dot = F.aggregate(
        F.zip_with(vec, q, lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    norm_v = F.sqrt(
        F.aggregate(vec, F.lit(0.0), lambda acc, x: acc + x * x)
    )
    qn = float(np.sqrt(np.sum(np.asarray(query, dtype="float64") ** 2)))
    return F.when(norm_v == 0, F.lit(0.0)).otherwise(dot / (norm_v * F.lit(qn)))


def _topk(
    df: DataFrame, query: list[float], k: int, vec_col: str, id_col: str
) -> DataFrame:
    """The shared top-k tail: (id, cosine) ordered desc with a
    deterministic tie-break on id; Spark runs orderBy+limit as a
    per-partition TakeOrdered (no full sort shuffle)."""
    return (
        df.select(F.col(id_col), cosine_col(F.col(vec_col), query).alias("cosine"))
        .orderBy(F.desc("cosine"), F.col(id_col))
        .limit(k)
    )


def brute_force_topk(
    embeddings: DataFrame,
    query: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact cosine top-k: (id, cosine) ordered desc, deterministic
    tie-break on id."""
    return _topk(embeddings, query, k, vec_col, id_col)


def ivf_train(
    embeddings: DataFrame,
    vec_col: str = "embedding",
    n_centroids: int = 16,
    sample_fraction: float = 0.2,
    seed: int = 11,
    iters: int = 8,
    max_train: int = 100_000,
) -> np.ndarray:
    """Train IVF centroids: k-means on a driver-side sample.

    Centroids are tiny (n_centroids x dim floats) and the sample is
    hard-capped at ``max_train`` rows, so the driver collect stays
    bounded no matter the table size.  This is the ONLY sanctioned
    driver-side collect in the similarity module.
    """
    sample = np.vstack(
        [
            r[0]
            for r in embeddings.select(vec_col)
            .sample(fraction=sample_fraction, seed=seed)
            .limit(max_train)
            .collect()
        ]
    ).astype("float64")
    rng = np.random.RandomState(seed)
    cent = sample[rng.choice(len(sample), size=min(n_centroids, len(sample)), replace=False)]
    s_sq = (sample ** 2).sum(axis=1)[:, None]
    for _ in range(iters):
        # squared-distance expansion via matmul: no (n x k x dim) temp
        d = s_sq + (cent ** 2).sum(axis=1)[None, :] - 2.0 * (sample @ cent.T)
        assign = d.argmin(axis=1)
        for c in range(len(cent)):
            m = assign == c
            if m.any():
                cent[c] = sample[m].mean(axis=0)
    return cent


def ivf_assign(
    embeddings: DataFrame,
    centroids: np.ndarray,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """One vectorized pass bucketing every row to its nearest centroid:
    (id, vec, centroid).  Centroids ride in broadcast (tiny)."""
    cent_b = embeddings.sparkSession.sparkContext.broadcast(
        np.asarray(centroids, dtype="float64")
    )

    def assign_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        C = cent_b.value
        c_sq = (C ** 2).sum(axis=1)[None, :]
        for pdf in it:
            if not len(pdf):
                continue
            V = np.vstack(pdf[vec_col].values).astype("float64")
            d = (V ** 2).sum(axis=1)[:, None] + c_sq - 2.0 * (V @ C.T)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    vec_col: pdf[vec_col],
                    "centroid": d.argmin(axis=1).astype("int64"),
                }
            )

    return spread(embeddings.select(id_col, vec_col)).mapInPandas(
        assign_batches,
        schema=f"{id_col} long, {vec_col} array<float>, centroid long",
    )


def probe_centroids(
    centroids: np.ndarray, query: list[float], n_probe: int
) -> list[int]:
    """The ``n_probe`` centroid ids nearest (L2) to the query."""
    q = np.asarray(query, dtype="float64")
    cent = np.asarray(centroids, dtype="float64")
    return sorted(
        int(x) for x in np.argsort(((cent - q) ** 2).sum(axis=1))[:n_probe]
    )


def ivf_write_index(
    assigned: DataFrame, path: str, id_col: str = "vec_id"
) -> None:
    """Materialize the ingest-time IVF index: the assigned table written
    partitioned BY CENTROID, so an indexed query's centroid filter prunes
    whole partitions at the file listing — a query then reads
    n_probe/n_centroids of the data instead of kerneling the full corpus.
    (On a production cluster this is an Iceberg ``partitioned_by(centroid)``
    table via sources.write_table; plain partitioned parquet carries the
    identical pruning semantics here.)

    Rows are repartitioned on the centroid column first so each partition
    directory gets O(shuffle partitions / n_centroids) files, not one
    file per (input partition x centroid).
    """
    assigned.repartition("centroid").write.mode("overwrite").partitionBy(
        "centroid"
    ).parquet(path)


def ivf_topk(
    assigned: DataFrame,
    centroids: np.ndarray,
    query: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_probe: int = 3,
) -> DataFrame:
    """Approximate top-k over IVF-assigned rows (``ivf_assign`` output or
    an ``ivf_write_index`` index read back): only rows of the ``n_probe``
    centroids nearest the query are scored.

    On a written index the centroid IN-filter is a partition-column
    predicate: Catalyst prunes the non-probed centroid directories before
    any IO (asserted in tests/test_plans.py), so the scan touches only
    the probed fraction of the corpus and there is NO per-query
    assignment kernel pass.
    """
    probes = probe_centroids(centroids, query, n_probe)
    return _topk(
        assigned.filter(F.col("centroid").isin(probes)),
        query, k, vec_col, id_col,
    )


def hyperplanes(num_planes: int, dim: int, seed: int = 3) -> np.ndarray:
    """The seeded Gaussian hyperplane set behind every sign-bucket key
    (``lsh_assign``, ``lsh_probe_keys``, ``embedding_near_duplicates``) —
    exposed so a value oracle can inline the identical plane constants
    (e.g. as SQL list literals) and reproduce the bucket assignment
    bit-for-bit."""
    rng = np.random.RandomState(seed)
    return rng.normal(size=(num_planes, dim)).astype("float32")


def lsh_assign(
    embeddings: DataFrame,
    num_planes: int = 8,
    seed: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """One vectorized pass bucketing every row to its hyperplane-sign key:
    (id, vec, bucket).  Planes are regenerated inside each kernel worker
    from (seed, num_planes, dim of its own first batch) — deterministic,
    so every worker and the driver-side ``lsh_probe_keys`` computation
    agree without shipping state or probing the dim from the driver."""
    def bucketize(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        P = None
        for pdf in it:
            if not len(pdf):
                continue
            V = np.vstack(pdf[vec_col].values).astype("float64")
            if P is None:
                P = hyperplanes(num_planes, V.shape[1], seed=seed).astype(
                    "float64"
                )
            keys = ((V @ P.T) > 0).dot(1 << np.arange(num_planes))
            yield pd.DataFrame(
                {id_col: pdf[id_col], vec_col: pdf[vec_col],
                 "bucket": keys.astype("int64")}
            )

    return spread(embeddings.select(id_col, vec_col)).mapInPandas(
        bucketize, schema=f"{id_col} long, {vec_col} array<float>, bucket long"
    )


def lsh_probe_keys(
    query: list[float],
    num_planes: int = 8,
    probe_bits: int = 1,
    seed: int = 3,
) -> list[int]:
    """The bucket keys a query probes: its own hyperplane-sign key plus
    every key within ``probe_bits`` bit flips (multi-probe)."""
    planes = hyperplanes(num_planes, len(query), seed=seed).astype("float64")
    qkey = int(((planes @ np.asarray(query, dtype="float64")) > 0).dot(
        1 << np.arange(num_planes)
    ))
    probes = {qkey}
    if probe_bits >= 1:
        for i in range(num_planes):
            probes.add(qkey ^ (1 << i))
    return sorted(probes)


def lsh_write_index(
    bucketed: DataFrame, path: str, id_col: str = "vec_id"
) -> None:
    """Materialize the ingest-time LSH index: the ``lsh_assign`` output
    written partitioned BY BUCKET, so an indexed query's probe filter
    prunes whole partitions at the file listing — the same ingest-time
    shape as ``ivf_write_index``.  Rows are repartitioned on the bucket
    column first so each partition directory gets O(shuffle partitions /
    n_buckets) files, not one file per (input partition x bucket)."""
    bucketed.repartition("bucket").write.mode("overwrite").partitionBy(
        "bucket"
    ).parquet(path)


def lsh_topk(
    bucketed: DataFrame,
    query: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    num_planes: int = 8,
    probe_bits: int = 1,
    seed: int = 3,
) -> DataFrame:
    """Approximate top-k over LSH-bucketed rows (``lsh_assign`` output or
    a ``lsh_write_index`` index read back): score only rows whose
    hyperplane-sign bucket is within ``probe_bits`` bit flips of the
    query's bucket.  ``num_planes``/``seed`` must match the
    ``lsh_assign`` call that bucketed the rows.

    Planes come from the shared seeded generator ``hyperplanes`` (float32
    constants, promoted to float64 in the kernel), so a value oracle can
    inline the identical constants as SQL list literals and reproduce the
    bucket assignment, the query's own bucket, and the bit-flip probe
    test bit-for-bit (see __spark_entry__ ``ann_lsh``).

    On a written index the bucket IN-filter is a partition-column
    predicate: Catalyst prunes the non-probed bucket directories before
    any IO (asserted in tests/test_plans.py), so the scan touches only
    the probed fraction of the corpus and there is NO per-query
    assignment kernel pass."""
    probes = lsh_probe_keys(
        query, num_planes=num_planes, probe_bits=probe_bits, seed=seed
    )
    return _topk(
        bucketed.filter(F.col("bucket").isin(probes)),
        query, k, vec_col, id_col,
    )
