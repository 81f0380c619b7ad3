"""Deduplication operators over a documents table (doc_id, text).

Every near-dup operator runs on one set of shared internals:

* exact:     one hash agg; map-side partial, no raw-text shuffle (only the
             64-char digest moves).
* jaccard:   the one EXACT set-similarity join (``ngram_jaccard_pairs``),
             all Catalyst: distinct word-ngram sets, a rarest-first global
             token order, PPJoin prefix + length filters for candidates,
             then an exact ``array_intersect`` verify -- never a cross
             join.  Span and shingle dedup (ops/spans.py) and every
             exact-Jaccard contract query run on it.
* simhash:   64-bit signature per doc from token-hash bit votes; near-dup =
             small hamming distance within LSH bands of the signature.
* embedding: hyperplane-sign buckets from ``similarity.lsh_assign``, exact
             cosine within bucket.
"""

from __future__ import annotations

import hashlib
import re
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..caching import register
# explicit repartition ahead of every Python kernel (repo invariant);
# shared with similarity/multimodal via ops/_kernel.py
from ._kernel import spread as _spread
from .similarity import lsh_assign

# slack on ngram_jaccard_pairs' prefix and length bounds: t*|x| in doubles
# may land just above the integer the exact bound needs
_FILTER_EPS = 1e-6

# Java regex \s == [ \t\n\x0B\f\r] (ASCII).  Python str.split() splits on
# UNICODE whitespace (\xa0,  , ...), which would make the Python-side
# signature kernels disagree with the Spark/DuckDB \s+ verify stages and
# oracles on documents containing non-ASCII whitespace.  All kernel
# tokenization goes through this to keep the token sets identical.
_WS_RE = re.compile(r"[ \t\n\x0b\f\r]+")


def _ws_tokens(text) -> list[str]:
    if not isinstance(text, str) or not text:
        return []
    return [t for t in _WS_RE.split(text) if t]


def exact_duplicates(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Groups of byte-identical docs: (digest, n_docs, doc_ids).
    Returns only groups with n_docs >= 2, doc_ids sorted."""
    return (
        docs.select("doc_id", F.sha2(F.col(text_col), 256).alias("digest"))
        .groupBy("digest")
        .agg(
            F.count("*").alias("n_docs"),
            F.sort_array(F.collect_list("doc_id")).alias("doc_ids"),
        )
        .filter(F.col("n_docs") >= 2)
    )


def _md5_low64(token: str) -> int:
    """md5 low 64 bits little-endian: DuckDB ``md5_number_lower``."""
    return int.from_bytes(hashlib.md5(token.encode("utf-8")).digest()[8:], "little")


def simhash_signatures(
    docs: DataFrame, text_col: str = "text", salt: str = ""
) -> DataFrame:
    """64-bit simhash per doc (token-hash bit votes), via mapInPandas.

    The per-token hash is the LOW 64 bits of md5(token+salt) taken
    little-endian — exactly DuckDB's ``md5_number_lower``, so the whole
    signature (and therefore the near-pair set) is reproducible in ANSI-ish
    SQL for value-level oracle checks.  md5 here is a stable mixing
    function, not cryptography; it is also process-salt-free (builtin
    ``hash()`` varies per executor and must never be used in signatures).
    """

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        chunk = 1 << 16  # bounds the (tokens x 64) bit temp to ~32MB
        for pdf in it:
            out = []
            for text in pdf[text_col].values:
                toks = _ws_tokens(text)
                if not toks:
                    out.append(0)
                    continue
                hashes = np.array(
                    [_md5_low64(t + salt) for t in toks], dtype=np.uint64
                )
                votes = np.zeros(64, dtype=np.int64)
                for c0 in range(0, len(hashes), chunk):
                    hc = hashes[c0: c0 + chunk]
                    bits = (
                        hc[:, None] >> np.arange(64, dtype=np.uint64)
                    ) & np.uint64(1)
                    votes += (bits.astype(np.int64) * 2 - 1).sum(axis=0)
                sig = np.uint64(0)
                for i in np.where(votes > 0)[0]:
                    sig |= np.uint64(1) << np.uint64(i)
                out.append(int(np.int64(sig)))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "simhash": out})

    return _spread(docs.select("doc_id", text_col)).mapInPandas(
        batches, schema="doc_id long, simhash long"
    )


def simhash_near_pairs(signatures: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs from 64-bit simhashes: band the signature into four
    16-bit chunks (pigeonhole: any pair within hamming distance 3 shares
    at least one exact chunk), join per chunk, verify exact hamming.

    Returns (doc_a, doc_b, hamming) with doc_a < doc_b and
    hamming <= max_hamming: the full edge list, the value-oracle
    contract shape.  Exact for max_hamming <= 3 with 4 bands; for larger
    radii increase the band count accordingly.  The band join carries
    the signatures through to the hamming verify.
    """
    signatures = signatures.persist()
    banded = signatures.select(
        "doc_id",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftright("simhash", 16 * i).bitwiseAND(F.lit(0xFFFF))
                    for i in range(4)
                ]
            )
        ).alias("band", "chunk"),
    )
    cand = (
        banded.alias("l")
        .join(
            banded.alias("r"),
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.chunk") == F.col("r.chunk"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(
            F.col("l.doc_id").alias("doc_a"),
            F.col("l.simhash").alias("sig_a"),
            F.col("r.doc_id").alias("doc_b"),
            F.col("r.simhash").alias("sig_b"),
        )
        .distinct()
    )
    return register(
        cand.withColumn(
            "hamming", F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming"),
        signatures,
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact word-ngram Jaccard: (doc_a, doc_b, jaccard) for every pair
    with doc_a < doc_b whose distinct n-gram sets have Jaccard >=
    ``threshold``.  Docs with no n-gram are in no pair.

    Candidates come from a PPJoin prefix filter (Xiao et al., WWW 2008):
    under one global order, rarest token first (document frequency, then
    the token), two sets with Jaccard >= t share a token among the first
    |x| - ceil(t*|x|) + 1 of each; the length filter t*|x| <= |y| <=
    |x|/t holds for them too.  The candidates are then verified exactly
    (|A n B| / (|A| + |B| - |A n B|) in doubles).  The prefix and length
    bounds are widened by ``_FILTER_EPS`` so they never reject a pair the
    double verify accepts; a longer prefix only adds candidates.

    All Catalyst: each set's order is an ``array_sort`` of its (df,
    token) structs against a broadcast df table -- no window, no Python.
    The token sets are persisted (read by the df count, the prefix and
    both sides of the verify) and registered on the result."""
    sets = (
        docs.select(
            "doc_id",
            F.array_distinct(ngrams_of(F.col(text_col), n)).alias("s"),
        )
        .withColumn("ns", F.size("s"))
        .filter(F.col("ns") > 0)
        .persist()
    )
    posting = sets.select("doc_id", "ns", F.explode("s").alias("tok"))
    dfreq = posting.groupBy("tok").agg(F.count("*").alias("df"))
    t = F.lit(threshold)
    eps = F.lit(_FILTER_EPS)
    prefix_len = F.col("ns") - F.ceil(t * F.col("ns") - eps) + 1
    prefix = (
        posting.join(F.broadcast(dfreq), "tok")
        .groupBy("doc_id", "ns")
        .agg(F.array_sort(F.collect_list(F.struct("df", "tok"))).alias("order"))
        .select(
            "doc_id",
            "ns",
            F.explode(F.slice("order", 1, prefix_len.cast("int"))).alias("p"),
        )
        .select("doc_id", "ns", F.col("p.tok").alias("tok"))
    )
    cand = (
        prefix.alias("l")
        .join(
            prefix.alias("r"),
            (F.col("l.tok") == F.col("r.tok"))
            & (F.col("l.doc_id") < F.col("r.doc_id"))
            & (F.col("r.ns") >= t * F.col("l.ns") - eps)
            & (F.col("l.ns") >= t * F.col("r.ns") - eps),
        )
        .select(
            F.col("l.doc_id").alias("doc_a"), F.col("r.doc_id").alias("doc_b")
        )
        .distinct()
    )
    # |A n B| bound once inside a lambda: written out twice, the filter
    # pushed into the join condition would intersect each pair twice more
    jaccard = F.element_at(
        F.transform(
            F.array(F.size(F.array_intersect("sa", "sb"))),
            lambda c: c / (F.col("na") + F.col("nb") - c),
        ),
        1,
    )
    verified = (
        cand.join(sets.toDF("doc_a", "sa", "na"), "doc_a")
        .join(sets.toDF("doc_b", "sb", "nb"), "doc_b")
        .select("doc_a", "doc_b", jaccard.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )
    return register(verified, sets)


def ngrams_of(text, n: int):
    """Word n-grams of a text column as an array column (shared helper).

    Chained zip_with over shifted copies (see search/normalize.py
    ngrams_col) -- cheaper than rebuilding an n-slice per position."""
    toks = F.filter(F.split(text, r"\s+"), lambda t: t != "")
    if n == 1:
        return toks
    g = toks
    for k in range(1, n):
        shifted = F.slice(toks, k + 1, F.size(toks) - F.lit(k))
        g = F.zip_with(g, shifted, lambda a, b: F.concat(a, F.lit(" "), b))
    return F.when(
        F.size(toks) >= n, F.filter(g, lambda x: x.isNotNull())
    ).otherwise(F.array().cast("array<string>"))


def embedding_near_duplicates(
    embeddings: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    num_planes: int = 12,
    seed: int = 3,
    max_bucket: int = 10_000,
) -> DataFrame:
    """Cosine near-duplicate pairs via random-hyperplane LSH buckets +
    exact within-bucket cosine.

    The bucket key is the sign pattern of `num_planes` random projections,
    assigned by ``similarity.lsh_assign``; exact cosine runs only within
    buckets (vectorized numpy per bucket via applyInPandas).  Projections
    and cosines are computed in float64 so the results match an oracle
    that evaluates the same formulas in SQL-double precision (the planes
    themselves are float32 values, identical on both sides via
    ``similarity.hyperplanes``).

    Hot-bucket defense: a bucket larger than ``max_bucket`` (a degenerate
    corpus where many vectors share one sign pattern) is SALTED into
    s = ceil(n/max_bucket) id-hash blocks and the bucket's all-pairs work
    becomes one task per unordered BLOCK PAIR (i <= j) — block i x
    block j cross-cosine — so no single task exceeds ~max_bucket^2 work
    and the quadratic total spreads across the cluster instead of one
    straggler.  Each vector replicates s times (once per task it
    participates in); s == 1 for normal buckets, so the common case pays
    only the size-probe aggregation.  Results are identical to the
    unsalted join (asserted in tests/test_ops.py).
    """
    # persisted: the size aggregate and the join below are two plan
    # branches over this Python-kernel output — without the persist the
    # bucketing kernel (and its shuffle) runs twice
    bucketed = lsh_assign(
        embeddings, num_planes=num_planes, seed=seed, vec_col=vec_col,
        id_col=id_col,
    ).persist()

    # block-pair salting: s blocks per bucket (1 unless the bucket is hot);
    # a vector in block b joins every task (min(b,j), max(b,j)), j < s
    sizes = bucketed.groupBy("bucket").agg(F.count("*").alias("_bn"))
    n_blocks = F.greatest(
        F.lit(1), F.ceil(F.col("_bn") / F.lit(max_bucket))
    ).cast("int")
    blk = F.pmod(F.xxhash64(F.col(id_col)), n_blocks).cast("int")
    expanded = (
        bucketed.join(sizes, "bucket")
        .withColumn("_blk", blk)
        .withColumn(
            "_j", F.explode(F.sequence(F.lit(0), n_blocks - F.lit(1)))
        )
        .select(
            id_col,
            vec_col,
            "bucket",
            "_blk",
            F.least("_blk", "_j").alias("_bi"),
            F.greatest("_blk", "_j").alias("_bj"),
        )
    )

    def pairs(key, pdf: pd.DataFrame) -> pd.DataFrame:
        _bucket, bi, bj = key
        V = np.vstack(pdf[vec_col].values).astype("float64")
        norms = np.linalg.norm(V, axis=1)
        norms[norms == 0] = 1.0
        Vn = V / norms[:, None]
        ids = pdf[id_col].values
        chunk = 4096
        out_a, out_b, out_c = [], [], []
        if bi == bj:
            # within-block pairs, upper triangle; chunked so a hot block
            # never materializes a B x B matrix at once
            for r0 in range(0, len(Vn), chunk):
                sim = Vn[r0: r0 + chunk] @ Vn.T
                ia, ib = np.where(sim >= threshold)
                keep = r0 + ia < ib  # strict upper triangle, global indices
                ia, ib = r0 + ia[keep], ib[keep]
                out_a.append(np.minimum(ids[ia], ids[ib]))
                out_b.append(np.maximum(ids[ia], ids[ib]))
                out_c.append(sim[ia - r0, ib].astype("float64"))
        else:
            # cross pairs between the two blocks only (each unordered pair
            # of blocks is exactly one task, so no double counting)
            mask = pdf["_blk"].values == bi
            X, xid = Vn[mask], ids[mask]
            Y, yid = Vn[~mask], ids[~mask]
            for r0 in range(0, len(X), chunk):
                sim = X[r0: r0 + chunk] @ Y.T
                ia, ib = np.where(sim >= threshold)
                out_a.append(np.minimum(xid[r0 + ia], yid[ib]))
                out_b.append(np.maximum(xid[r0 + ia], yid[ib]))
                out_c.append(sim[ia, ib].astype("float64"))
        return pd.DataFrame(
            {
                "doc_a": np.concatenate(out_a) if out_a else [],
                "doc_b": np.concatenate(out_b) if out_b else [],
                "cosine": np.concatenate(out_c) if out_c else [],
            }
        )

    return register(
        expanded.groupBy("bucket", "_bi", "_bj")
        .applyInPandas(pairs, schema="doc_a long, doc_b long, cosine double")
        .distinct(),
        bucketed,
    )
