"""Deduplication operators over a documents table (doc_id, text).

Every near-dup operator runs on one set of shared internals:

* exact:     one hash agg; map-side partial, no raw-text shuffle (only the
             64-char digest moves).
* minhash:   one kernel (``_minhash_signatures``) for both unit kinds --
             char-5 shingles (``minhash_signatures``) and the distinct
             word set (``minhash_word_signatures``): k permutations
             vectorized as (a*h+b) mod p over the unit-hash vector in one
             numpy pass per doc.  Banding goes through one self-join on
             (band, bucket) (``_band_pairs``), which turns all-pairs
             O(n^2) into a per-bucket join.  ``minhash_lsh_pairs``
             (multi-row bands, identical signatures collapsed first) is
             the scale path; ``minhash_near_pairs_verified`` (one-row
             bands, exact Jaccard verify) is the value-checked path.
* simhash:   64-bit signature per doc from token-hash bit votes; near-dup =
             small hamming distance within LSH bands of the signature.
* jaccard:   candidate pairs from shared shingles (inverted index join),
             verified exactly -- never a cross join.
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

_MERSENNE = (1 << 61) - 1
SHINGLE_K = 5  # char-shingle width of minhash_signatures

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


def _shingle_hashes(text) -> np.ndarray:
    """Char-5 shingles -> uint64 hash vector (vectorized rolling hash)."""
    if text is None:
        return np.empty(0, dtype=np.uint64)
    b = np.frombuffer(text.encode("utf-8"), dtype=np.uint8)
    if len(b) < SHINGLE_K:
        return np.empty(0, dtype=np.uint64)
    # polynomial hash over a sliding window, vectorized in bounded chunks
    # (the window view itself is zero-copy; only the uint64 upcast of each
    # chunk materializes, so a 10MB doc never allocates a GB-scale temp)
    base = np.uint64(1099511628211)
    powers = base ** np.arange(SHINGLE_K, dtype=np.uint64)
    view = np.lib.stride_tricks.sliding_window_view(b, SHINGLE_K)
    n = view.shape[0]
    out = np.empty(n, dtype=np.uint64)
    chunk = 1 << 18
    for c0 in range(0, n, chunk):
        w = view[c0: c0 + chunk].astype(np.uint64)
        out[c0: c0 + chunk] = (w * powers).sum(axis=1)
    return out


def _md5_low64(token: str) -> int:
    """md5 low 64 bits little-endian: DuckDB ``md5_number_lower``."""
    return int.from_bytes(hashlib.md5(token.encode("utf-8")).digest()[8:], "little")


def _word_hashes(text) -> np.ndarray:
    """Distinct whitespace tokens -> uint64 md5 hash vector."""
    return np.array(
        [_md5_low64(t) for t in set(_ws_tokens(text))], dtype=np.uint64
    )


def _minhash_signatures(
    docs: DataFrame, text_col: str, num_hashes: int, seed: int, unit_hashes
) -> DataFrame:
    """The one minhash kernel: ``unit_hashes(text)`` -> uint64 vector h,
    then per permutation i min((a_i*h + b_i) mod p) over h mod p, in one
    numpy pass per doc.  The products wrap at 2^64 before the mod p
    (uint64 arithmetic); signatures depend on that, so it stays.  Docs
    with no units get an all-p signature (never matches anything)."""
    rng = np.random.RandomState(seed)
    a = rng.randint(1, _MERSENNE, size=num_hashes, dtype=np.int64).astype(np.uint64)
    b = rng.randint(0, _MERSENNE, size=num_hashes, dtype=np.int64).astype(np.uint64)
    p = np.uint64(_MERSENNE)
    chunk = 1 << 16  # bounds the (num_hashes x units) temp to ~32MB

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            sigs = []
            for text in pdf[text_col].values:
                h = unit_hashes(text) % p
                m_min = np.full(num_hashes, _MERSENNE, dtype=np.uint64)
                for c0 in range(0, len(h), chunk):
                    m = (a[:, None] * h[None, c0: c0 + chunk] + b[:, None]) % p
                    np.minimum(m_min, m.min(axis=1), out=m_min)
                sigs.append(m_min.astype(np.int64).tolist())
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "signature": sigs})

    return _spread(docs.select("doc_id", text_col)).mapInPandas(
        batches, schema="doc_id long, signature array<long>"
    )


def minhash_signatures(
    docs: DataFrame, text_col: str = "text", num_hashes: int = 64, seed: int = 42
) -> DataFrame:
    """(doc_id, signature: array<bigint>): minhash over char-5 shingles
    (rolling polynomial hash)."""
    return _minhash_signatures(docs, text_col, num_hashes, seed, _shingle_hashes)


def minhash_word_signatures(
    docs: DataFrame, text_col: str = "text", num_hashes: int = 32, seed: int = 42
) -> DataFrame:
    """(doc_id, signature) minhash over the DISTINCT WORD set (not char
    shingles): estimates the same unigram Jaccard that
    ``ngram_jaccard_pairs(n=1)`` computes exactly, which makes an
    LSH-candidates -> exact-verify pipeline value-checkable against a
    plain SQL Jaccard oracle.  Token hash = md5 low 64 bits (DuckDB
    ``md5_number_lower`` parity, same as simhash_signatures)."""
    return _minhash_signatures(docs, text_col, num_hashes, seed, _word_hashes)


def _band_pairs(banded: DataFrame) -> DataFrame:
    """Candidate pairs from a (doc_id, band, bucket) table: the self-join
    on (band, bucket), then distinct (doc_a, doc_b) with doc_a < doc_b.
    perfbench/eventlog.py finds the band join by the ``band``/``bucket``
    column names and counts candidates at the distinct's aggregate, so
    both stay."""
    return (
        banded.alias("l")
        .join(
            banded.alias("r"),
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bucket") == F.col("r.bucket"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(
            F.col("l.doc_id").alias("doc_a"), F.col("r.doc_id").alias("doc_b")
        )
        .distinct()
    )


def minhash_lsh_pairs(
    signatures: DataFrame,
    num_bands: int = 16,
    threshold: float = 0.7,
) -> DataFrame:
    """LSH banding -> candidate pairs -> signature-jaccard verify.

    Returns (doc_a, doc_b, sig_jaccard) with doc_a < doc_b and
    sig_jaccard >= threshold.

    Identical signatures are COLLAPSED before banding: one representative
    (min doc_id) per distinct signature joins in the bands, and members
    of a signature group are emitted as star edges (rep, member, 1.0),
    the transitive-closure-equivalent linear representation of the
    intra-group clique.  The output is a dedup GRAPH whose connected
    components equal the naive all-pairs graph's (feed it to
    ``duplicate_components``), not the full clique edge list.  This is
    the hot-bucket defense: an all-identical corpus costs one hash agg +
    a broadcast join + n-1 output rows instead of a single-task O(n^2)
    band join (stress-tested in tests/test_ops.py).  Buckets that are
    hot WITHOUT signature equality keep their O(B^2) cost — at that
    point the docs genuinely collide in a band and the work is the
    answer — but B is bounded by the distinct-signature count per
    bucket, which real corpora keep small.

    The collapse is one aggregation with no per-group array
    materialization: groups carry only (signature, rep_id, n_members),
    and star edges come from joining the signature table against the
    n_members >= 2 groups — empty on an all-unique corpus (AQE folds the
    join to a broadcast of zero rows, so unique corpora pay almost
    nothing for the defense), one broadcast row on an all-identical one
    (each partition emits its star edges map-side; a skewed non-broadcast
    case degrades to an AQE skew-split shuffle join on the signature
    hash).

    The signature table is persisted here: the plan references it several
    times (group agg, star join, band join, verify join), and without
    the persist each branch would re-run the upstream signature
    mapInPandas job.  Signatures are ~num_hashes longs per doc -- orders
    of magnitude smaller than the corpus text -- so this holds at any
    scale (a production pipeline would materialize them to a table).
    """
    signatures = signatures.persist()
    # band width from the row's own signature length: no driver-side
    # size-probe job (a .first() here costs a whole extra kernel stage)
    rows_per_band = (F.size("signature") / num_bands).cast("int")

    groups = (
        signatures.groupBy("signature")
        .agg(
            F.min("doc_id").alias("rep_id"),
            F.count("*").alias("n_members"),
        )
        .persist()
    )
    # star edges: members of duplicated-signature groups point at the
    # group rep.  The join key is the 64-bit signature hash (cheap
    # shuffle/broadcast key); the array-equality residual keeps the
    # join exact under hash collisions.
    dup = groups.filter(F.col("n_members") >= 2).select(
        F.xxhash64("signature").alias("_sh"),
        F.col("signature").alias("_sig"),
        "rep_id",
    )
    intra = (
        signatures.withColumn("_sh", F.xxhash64("signature"))
        .join(dup, "_sh")
        .filter(
            (F.col("signature") == F.col("_sig"))
            & (F.col("doc_id") != F.col("rep_id"))
        )
        .select(
            F.col("rep_id").alias("doc_a"),
            F.col("doc_id").alias("doc_b"),
            F.lit(1.0).alias("sig_jaccard"),
        )
    )
    reps = groups.select(F.col("rep_id").alias("doc_id"), "signature")
    cand = _band_pairs(
        reps.select(
            "doc_id",
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(0), F.lit(num_bands - 1)),
                    lambda i: F.xxhash64(
                        F.slice(
                            F.col("signature"), i * rows_per_band + 1,
                            rows_per_band,
                        ),
                        i,
                    ),
                )
            ).alias("band", "bucket"),
        )
    )
    sigs = reps.select(F.col("doc_id"), F.col("signature").alias("sig"))
    verified = cand.join(
        sigs.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("sig", "sig_a"),
        "doc_a",
    ).join(
        sigs.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("sig", "sig_b"),
        "doc_b",
    )
    # fraction of equal signature positions estimates jaccard
    eq = F.filter(
        F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int")),
        lambda v: v == 1,
    )
    cross = (
        verified.withColumn("sig_jaccard", F.size(eq) / F.size("sig_a"))
        .select("doc_a", "doc_b", "sig_jaccard")
        .filter(F.col("sig_jaccard") >= threshold)
    )
    return register(intra.unionByName(cross), signatures, groups)


def minhash_near_pairs_verified(
    docs: DataFrame,
    text_col: str = "text",
    num_hashes: int = 32,
    threshold: float = 0.8,
    seed: int = 42,
) -> DataFrame:
    """Production minhash-dedup shape: LSH candidate pairs -> EXACT
    unigram-Jaccard verification.  Returns (doc_a, doc_b, jaccard) with
    jaccard >= threshold over the distinct word sets.

    Banding uses one row per band (num_bands = num_hashes), so a pair
    with true Jaccard j is missed only with probability (1-j)^num_hashes
    — at j=0.8, k=32 that is 2^-74: recall is 1.0 for any practical
    corpus, and every candidate is verified exactly, so the result equals
    the exact-join ``ngram_jaccard_pairs(n=1)`` while touching only pairs
    that collide in a band.  On corpora with low cross-doc similarity the
    candidate set is tiny; on dense corpora it degrades toward all-pairs
    and multi-row bands (minhash_lsh_pairs) are the scale path.
    """
    sigs = minhash_word_signatures(
        docs, text_col=text_col, num_hashes=num_hashes, seed=seed
    ).persist()
    # empty/whitespace-only docs carry the all-_MERSENNE sentinel
    # signature; they would collide with EACH OTHER in every band,
    # producing C(n_empty, 2) candidate pairs that the null-jaccard
    # verify then discards — a quadratic hot-bucket for free.  Their
    # jaccard is undefined (empty word sets), so drop them pre-banding;
    # signature values are < _MERSENNE for any non-empty token set, so
    # checking one element identifies the sentinel.
    cand = _band_pairs(
        sigs.filter(F.element_at("signature", 1) != F.lit(_MERSENNE)).select(
            "doc_id", F.posexplode("signature").alias("band", "bucket")
        )
    )
    words = docs.select(
        "doc_id",
        F.array_distinct(
            F.filter(F.split(F.col(text_col), r"\s+"), lambda t: t != "")
        ).alias("ws"),
    ).withColumn("nw", F.size("ws"))
    verified = (
        cand.join(
            words.select(
                F.col("doc_id").alias("doc_a"),
                F.col("ws").alias("wa"),
                F.col("nw").alias("na"),
            ),
            "doc_a",
        )
        .join(
            words.select(
                F.col("doc_id").alias("doc_b"),
                F.col("ws").alias("wb"),
                F.col("nw").alias("nb"),
            ),
            "doc_b",
        )
        .withColumn("n_common", F.size(F.array_intersect("wa", "wb")))
        .withColumn(
            "jaccard",
            F.col("n_common") / (F.col("na") + F.col("nb") - F.col("n_common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )
    return register(verified, sigs)


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
    the signatures through, so it does not share ``_band_pairs``.
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
    """Exact word-ngram Jaccard over candidate pairs that share >=1 shingle.

    All-SQL shape: shingle explode -> inverted-index self-join ->
    intersection counts -> |A u B| = |A| + |B| - |A n B|.
    """
    shingled = docs.select(
        "doc_id",
        F.array_distinct(
            ngrams_of(F.col(text_col), n)
        ).alias("shingles"),
    ).withColumn("n_shingles", F.size("shingles"))
    posting = shingled.select(
        "doc_id", "n_shingles", F.explode("shingles").alias("shingle")
    )
    inter = (
        posting.alias("l")
        .join(
            posting.alias("r"),
            (F.col("l.shingle") == F.col("r.shingle"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .groupBy(
            F.col("l.doc_id").alias("doc_a"),
            F.col("r.doc_id").alias("doc_b"),
            F.col("l.n_shingles").alias("na"),
            F.col("r.n_shingles").alias("nb"),
        )
        .agg(F.count("*").alias("n_common"))
    )
    return (
        inter.withColumn(
            "jaccard",
            F.col("n_common") / (F.col("na") + F.col("nb") - F.col("n_common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


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
