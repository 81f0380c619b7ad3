"""Training-data ops tests: dedup family, similarity search, text stats,
multimodal plumbing."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from crrf_det_spark.ops import (
    brute_force_topk,
    embedding_near_duplicates,
    exact_duplicates,
    fingerprint,
    language_id,
    ivf_assign,
    ivf_topk,
    ivf_train,
    lsh_assign,
    lsh_topk,
    ngram_jaccard_pairs,
    simhash_signatures,
)
from crrf_det_spark.ops.textstats import document_stats

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog and runs away fast"),
    (2, "the quick brown fox jumps over the lazy dog and runs away fast"),  # exact dup of 1
    (3, "the quick brown fox jumps over the lazy dog and walks away fast"),  # near dup
    (4, "completely different content about climate targets and emissions"),
    (5, "der schnelle braune fuchs springt und die hunde sind nicht da"),
    (6, ""),
]


@pytest.fixture(scope="module")
def docs_df(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string").cache()


@pytest.fixture(scope="module")
def emb_df(spark):
    rng = np.random.RandomState(0)
    base = rng.normal(size=16).astype("float32")
    rows = [
        (1, (base + 0.01 * rng.normal(size=16)).astype("float32").tolist()),
        (2, (base + 0.01 * rng.normal(size=16)).astype("float32").tolist()),
        (3, rng.normal(size=16).astype("float32").tolist()),
        (4, rng.normal(size=16).astype("float32").tolist()),
        (5, (-base).astype("float32").tolist()),
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>").cache()


class TestDedup:
    def test_exact(self, docs_df):
        groups = exact_duplicates(docs_df).collect()
        assert len(groups) == 1
        assert list(groups[0].doc_ids) == [1, 2]

    def test_simhash_near(self, docs_df):
        sigs = {r.doc_id: r.simhash for r in simhash_signatures(docs_df).collect()}
        def ham(a, b):
            return bin((a & 0xFFFFFFFFFFFFFFFF) ^ (b & 0xFFFFFFFFFFFFFFFF)).count("1")
        assert sigs[1] == sigs[2]
        assert ham(sigs[1], sigs[3]) < ham(sigs[1], sigs[4])
        assert sigs[6] == 0

    def test_simhash_near_pairs(self, docs_df):
        from crrf_det_spark.ops import simhash_near_pairs

        sigs = simhash_signatures(docs_df)
        pairs = {
            (r.doc_a, r.doc_b): r.hamming
            for r in simhash_near_pairs(sigs, max_hamming=10).collect()
        }
        assert pairs.get((1, 2)) == 0          # identical docs
        if (1, 3) in pairs:                    # near-dup: small distance
            assert pairs[(1, 3)] <= 10
        assert (1, 4) not in pairs             # unrelated docs
        # exactness vs brute force within the pigeonhole-guaranteed radius
        sig_by_id = {r.doc_id: r.simhash for r in sigs.collect()}
        brute = {
            (a, b): bin((sig_by_id[a] ^ sig_by_id[b]) & (2**64 - 1)).count("1")
            for a in sig_by_id for b in sig_by_id if a < b
        }
        got3 = {
            (r.doc_a, r.doc_b): r.hamming
            for r in simhash_near_pairs(sigs, max_hamming=3).collect()
        }
        assert got3 == {p: h for p, h in brute.items() if h <= 3}

    def test_ngram_jaccard_equals_brute_force(self, spark):
        # the one exact Jaccard join (prefix + length filtered candidates)
        # returns exactly the brute-force pairs: a seeded corpus with
        # empty, single-token, duplicate and \xa0-containing docs (Java
        # \s does not split on \xa0), the DOCS fixture, and the dense
        # vocabulary of the sf0.001 documents table
        import random
        import re

        from test_plans import SF

        ws = re.compile(r"[ \t\n\x0b\f\r]+")
        rnd = random.Random(11)
        vocab = [f"w{i}" for i in range(40)] + ["x\xa0y", "x", "y"]
        docs = [(100 + d, t) for d, t in DOCS]
        for d in range(150):
            k = rnd.choice([0, 1, 1, 2, 3, 5, 8, 13, 20])
            top = rnd.randint(2, len(vocab))
            docs.append((200 + d, " ".join(
                rnd.choice(vocab[:top]) for _ in range(k))))
        docs += [(400, ""), (401, "   "), (402, "solo"), (403, "solo"),
                 (404, docs[-1][1]), (405, docs[-1][1] + " \xa0")]
        dense = [
            (r.doc_id + 1000, r.text) for r in spark.read.parquet(
                f"{SF}/documents.parquet").select("doc_id", "text").collect()
        ]
        big = spark.createDataFrame(docs + dense, "doc_id long, text string")

        def grams(text, n):
            toks = [t for t in ws.split(text or "") if t]
            return {" ".join(toks[i: i + n]) for i in range(len(toks) - n + 1)}

        def jaccards(rows, n):
            sets = [(d, s) for d, s in ((d, grams(x, n)) for d, x in rows) if s]
            out = {}
            for i, (a, sa) in enumerate(sets):
                for b, sb in sets[i + 1:]:
                    c = len(sa & sb)
                    if c:
                        out[(min(a, b), max(a, b))] = c / (len(sa) + len(sb) - c)
            return out

        for n in (1, 3):
            every = jaccards(docs + dense, n)
            for t in (0.2, 1 / 3, 0.5, 0.7, 0.8, 0.9, 1.0):
                got = {
                    (r.doc_a, r.doc_b): r.jaccard
                    for r in ngram_jaccard_pairs(big, n=n, threshold=t).collect()
                }
                assert got == {p: j for p, j in every.items() if j >= t}, (n, t)
        assert got  # t=1.0, n=3: the duplicate docs

    def test_jaccard_filters_never_reject_a_verified_pair(self):
        # the prefix and length bounds are computed in doubles like the
        # verify; for every set-size pair and overlap the verify accepts,
        # the length filter passes and the overlap reaches into both
        # prefixes (PPJoin: |x n y| >= |x| - prefix_len(|x|) + 1)
        import math

        from crrf_det_spark.ops.dedup import _FILTER_EPS as eps

        for t in (0.2, 1 / 3, 0.5, 0.7, 0.8, 0.9, 1.0):
            def prefix_len(n):
                return n - math.ceil(t * n - eps) + 1

            for na in range(1, 65):
                assert 1 <= prefix_len(na) <= na
                for nb in range(1, 65):
                    for c in range(min(na, nb) + 1):
                        if c / (na + nb - c) >= t:
                            assert nb >= t * na - eps and na >= t * nb - eps
                            assert c >= na - prefix_len(na) + 1, (t, na, nb, c)
                            assert c >= nb - prefix_len(nb) + 1, (t, na, nb, c)

    def test_simhash_matches_duckdb_md5(self, docs_df):
        # the token hash is DuckDB's md5_number_lower by construction;
        # recompute one signature through DuckDB SQL and compare
        import duckdb

        sigs = {r.doc_id: r.simhash for r in simhash_signatures(docs_df).collect()}
        con = duckdb.connect()
        con.execute("CREATE TABLE d (doc_id BIGINT, text VARCHAR)")
        con.executemany("INSERT INTO d VALUES (?, ?)", DOCS[:1])
        got = con.execute(
            """
            WITH toks AS (
              SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS tok
              FROM d
            ), th AS (SELECT doc_id, md5_number_lower(tok) AS h FROM toks),
            bits AS (
              SELECT doc_id, i.range AS bit,
                     sum(CASE WHEN (h >> i.range) & 1 = 1 THEN 1 ELSE -1 END) AS vote
              FROM th CROSS JOIN range(0, 64) i GROUP BY 1, 2
            )
            SELECT sum(CASE WHEN vote > 0 THEN (CAST(1 AS UBIGINT) << bit)
                            ELSE CAST(0 AS UBIGINT) END)
            FROM bits GROUP BY doc_id
            """
        ).fetchone()[0]
        assert int(got) == sigs[1] % (1 << 64)

    def test_ngram_jaccard(self, docs_df):
        pairs = {
            (r.doc_a, r.doc_b): r.jaccard
            for r in ngram_jaccard_pairs(docs_df, threshold=0.3).collect()
        }
        assert pairs[(1, 2)] == 1.0
        assert 0.3 <= pairs[(1, 3)] < 1.0
        assert (1, 4) not in pairs

    def test_embedding_near_dup(self, emb_df):
        pairs = {
            (r.doc_a, r.doc_b): r.cosine
            for r in embedding_near_duplicates(emb_df, threshold=0.95).collect()
        }
        assert (1, 2) in pairs and pairs[(1, 2)] > 0.99
        assert all(p == (1, 2) for p in pairs)

    def test_embedding_salted_equals_unsalted(self, spark):
        # block-pair salting must not change the result set
        rng = np.random.RandomState(5)
        base = rng.normal(size=12).astype("float64")
        rows = [
            (
                i,
                (base + 0.05 * rng.normal(size=12)).astype("float32").tolist(),
            )
            for i in range(60)
        ]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        kw = dict(threshold=0.9, num_planes=2)
        plain = {
            (r.doc_a, r.doc_b): round(r.cosine, 9)
            for r in embedding_near_duplicates(df, max_bucket=10_000, **kw).collect()
        }
        salted = {
            (r.doc_a, r.doc_b): round(r.cosine, 9)
            for r in embedding_near_duplicates(df, max_bucket=7, **kw).collect()
        }
        assert plain == salted and len(plain) > 50


class TestComponents:
    def test_adversarial_chain_graph(self, spark):
        # a path graph is the worst case for label propagation (diameter
        # n); large-star/small-star must converge in O(log n) rounds
        n = 200
        edges = spark.range(n - 1).select(
            F.col("id").alias("doc_a"), (F.col("id") + 1).alias("doc_b")
        )
        from crrf_det_spark.ops import duplicate_components

        comps = duplicate_components(edges).collect()
        assert len(comps) == n
        assert {r.component for r in comps} == {0}

    def test_matches_union_find(self, spark):
        rng = np.random.RandomState(9)
        pairs = {
            tuple(sorted((int(a), int(b))))
            for a, b in rng.randint(0, 400, size=(300, 2))
            if a != b
        }
        from crrf_det_spark.ops import duplicate_components

        edges = spark.createDataFrame(
            [(a, b) for a, b in pairs], "doc_a long, doc_b long"
        )
        got = {
            r.doc_id: r.component
            for r in duplicate_components(edges).collect()
        }
        # python union-find oracle
        parent = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in pairs:
            parent[find(a)] = find(b)
        want_nodes = {x for p in pairs for x in p}
        want = {}
        roots = {}
        for x in sorted(want_nodes):
            r = find(x)
            roots.setdefault(r, x)  # min node per root (sorted order)
            want[x] = roots[r]
        assert got == want

    def test_end_to_end_dedup_resolution(self, spark, docs_df):
        # the full pipeline the module exists for: near-dup edges ->
        # components -> deduplicated corpus with one rep per cluster
        from crrf_det_spark.ops import duplicate_components, keep_representatives

        edges = ngram_jaccard_pairs(docs_df, n=1, threshold=0.5)
        comps = duplicate_components(edges)
        rows = {r.doc_id: r.component for r in comps.collect()}
        assert rows == {1: 1, 2: 1, 3: 1}  # docs 1,2,3 cluster; 1 is rep
        survivors = sorted(
            r.doc_id
            for r in keep_representatives(docs_df, comps).collect()
        )
        assert survivors == [1, 4, 5, 6]

    def test_empty_edges(self, spark):
        from crrf_det_spark.ops import duplicate_components

        edges = spark.createDataFrame([], "doc_a long, doc_b long")
        assert duplicate_components(edges).count() == 0


class TestSimilarity:
    def test_brute_force_exact(self, emb_df):
        rows = emb_df.orderBy("vec_id").collect()
        q = list(rows[0].embedding)
        got = brute_force_topk(emb_df, q, k=3).collect()
        # numpy oracle
        M = np.vstack([r.embedding for r in rows]).astype("float64")
        qv = np.asarray(q)
        sims = (M @ qv) / (np.linalg.norm(M, axis=1) * np.linalg.norm(qv))
        order = np.argsort(-sims)[:3]
        want = [rows[i].vec_id for i in order]
        assert [r.vec_id for r in got] == want
        assert got[0].cosine == pytest.approx(1.0, abs=1e-6)

    def test_lsh_finds_top1(self, emb_df):
        q = list(emb_df.filter("vec_id=1").first().embedding)
        got = lsh_topk(
            lsh_assign(emb_df, num_planes=4), q, k=2, num_planes=4
        ).collect()
        assert got[0].vec_id == 1

    def test_ivf_finds_top1(self, emb_df):
        q = list(emb_df.filter("vec_id=1").first().embedding)
        cent = ivf_train(emb_df, n_centroids=3, sample_fraction=1.0)
        got = ivf_topk(ivf_assign(emb_df, cent), cent, q, k=2, n_probe=2).collect()
        assert got[0].vec_id == 1
        assert got[0].cosine == pytest.approx(1.0, abs=1e-6)

    def test_ivf_indexed_equals_oneshot(self, spark, tmp_path):
        # the materialized-index path (train once, assign once, write
        # partitioned by centroid) must return exactly what the direct
        # assign + top-k composition on the same centroids returns, for
        # several queries
        from crrf_det_spark.ops import ivf_write_index

        rng = np.random.RandomState(3)
        rows = [
            (i, rng.normal(size=8).astype("float32").tolist())
            for i in range(200)
        ]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        kw = dict(n_centroids=5, sample_fraction=1.0, seed=11, iters=8)
        cent = ivf_train(df, **kw)
        path = str(tmp_path / "ivf_index")
        ivf_write_index(ivf_assign(df, cent), path)
        for qi in (0, 17, 101):
            q = rows[qi][1]
            one_shot = [
                (r.vec_id, round(r.cosine, 9))
                for r in ivf_topk(
                    ivf_assign(df, cent), cent, q, k=5, n_probe=2
                ).collect()
            ]
            indexed = [
                (r.vec_id, round(r.cosine, 9))
                for r in ivf_topk(
                    spark.read.parquet(path), cent, q, k=5, n_probe=2
                ).collect()
            ]
            assert indexed == one_shot
            assert indexed[0][0] == qi  # self is top-1


class TestTextStats:
    def test_language_id(self, spark):
        rows = spark.createDataFrame(
            [
                (1, "the cat and the dog went to the market in the morning"),
                (2, "der hund und die katze sind nicht in das haus gegangen"),
                (3, "xyzzy plugh"),
            ],
            "doc_id long, text string",
        ).select("doc_id", language_id(F.col("text")).alias("lang"))
        got = {r.doc_id: r.lang for r in rows.collect()}
        assert got == {1: "en", 2: "de", 3: "und"}

    def test_quality_and_fingerprint(self, spark):
        df = spark.createDataFrame(
            [
                (1, "the quick brown fox jumps over the lazy dog and runs far today"),
                (2, "!!! ,,, ... ??? ;;;"),
                (3, "  The   Quick  brown fox JUMPS over the lazy dog and runs far today "),
            ],
            "doc_id long, text string",
        )
        out = document_stats(df).collect()
        by_id = {r.doc_id: r for r in out}
        assert by_id[1].quality > by_id[2].quality
        assert by_id[1].n_tokens_ws == 13
        assert by_id[1].n_tokens_bpe >= by_id[1].n_tokens_ws
        # fingerprint is whitespace/case-normalized
        assert by_id[1].fingerprint == by_id[3].fingerprint


class TestMultimodal:
    def test_stub_raises_without_pillow(self):
        from crrf_det_spark.ops.multimodal import decode_image

        with pytest.raises(NotImplementedError):
            decode_image(b"x")

    def test_pillow_branch_dispatch(self, monkeypatch):
        # the optional-codec branch: inject a fake PIL so the dispatch
        # runs without Pillow installed (the stub branch is the test
        # above)
        import sys
        import types

        from crrf_det_spark.ops import multimodal as mm

        class _FakeIm:
            def __enter__(self):
                return self

            def __exit__(self, *a):
                return False

            def convert(self, mode):
                assert mode == "L"
                return np.full((4, 6), 7, dtype=np.uint8)

        fake_pil = types.ModuleType("PIL")
        fake_pil.Image = types.SimpleNamespace(open=lambda b: _FakeIm())
        monkeypatch.setitem(sys.modules, "PIL", fake_pil)
        img = mm.decode_image(b"\x89PNG-ish")
        assert img.shape == (4, 6) and img.dtype == np.uint8

        # a codec failure maps to the skip-row ValueError contract
        def _boom(b):
            raise OSError("cannot identify image file")

        fake_pil.Image = types.SimpleNamespace(open=_boom)
        with pytest.raises(ValueError, match="malformed image payload"):
            mm.decode_image(b"\x89PNG-ish")

    def test_soundfile_branch_dispatch(self, monkeypatch):
        import sys
        import types

        from crrf_det_spark.ops import multimodal as mm

        # stub branch first: without soundfile, non-WAV raises
        with pytest.raises(NotImplementedError):
            mm.decode_audio(b"OggS....")

        fake_sf = types.ModuleType("soundfile")
        fake_sf.read = lambda b, dtype=None, always_2d=None: (
            np.full((10, 2), 0.5, dtype="float32"),
            22050,
        )
        monkeypatch.setitem(sys.modules, "soundfile", fake_sf)
        x, rate = mm.decode_audio(b"OggS....")
        assert rate == 22050 and x.shape == (10,) and np.allclose(x, 0.5)

    def test_real_pnm_decode(self):
        import numpy as np

        from crrf_det_spark.ops.multimodal import decode_image

        # P5 grayscale roundtrip (with a header comment)
        img = np.arange(48, dtype=np.uint8).reshape(6, 8)
        p5 = b"P5\n# comment\n8 6\n255\n" + img.tobytes()
        got = decode_image(p5)
        assert np.array_equal(got, img)
        # P6 rgb -> channel-mean grayscale
        rgb = np.zeros((2, 2, 3), dtype=np.uint8)
        rgb[..., 0] = 30
        rgb[..., 1] = 60
        rgb[..., 2] = 90
        p6 = b"P6\n2 2\n255\n" + rgb.tobytes()
        got = decode_image(p6)
        assert got.shape == (2, 2) and int(got[0, 0]) == 60
        # 16-bit maxval scales to 0..255
        img16 = (np.arange(4, dtype=">u2") * 16384).reshape(2, 2)
        p5_16 = b"P5\n2 2\n65535\n" + img16.tobytes()
        got = decode_image(p5_16)
        assert got.dtype == np.uint8 and got[0, 0] == 0

    def test_kmeans_binarize_black_on_white(self):
        from crrf_det_spark.ops.multimodal import kmeans_binarize

        # trimodal page: white background dominates, gray transition
        # ring, dark ink (the reference's n_clusters=3 rationale)
        img = np.full((40, 40), 230, dtype=np.uint8)
        img[10:20, 10:20] = 30          # ink block
        img[9, 9:21] = 128              # transition pixels
        out, thr = kmeans_binarize(img)
        # dominant cluster is the 230 background; first 230 pixel is
        # img[0,0]; 230 >= 127 -> thr = 229
        assert thr == 229
        assert out[0, 0] == 255 and out[15, 15] == 0 and out[9, 10] == 0
        assert set(np.unique(out)) <= {0, 255}

    def test_kmeans_binarize_white_on_black(self):
        from crrf_det_spark.ops.multimodal import kmeans_binarize

        img = np.full((40, 40), 20, dtype=np.uint8)
        img[5:15, 5:30] = 240           # light text on dark bg
        img[4, 5:30] = 100
        out, thr = kmeans_binarize(img)
        # dominant is the 20 background; 20 < 127 -> thr = 21: dominant
        # mode lands on the 0 side, everything else on 255
        assert thr == 21
        assert out[0, 0] == 0 and out[10, 10] == 255

    def test_kmeans_binarize_degenerate(self):
        from crrf_det_spark.ops.multimodal import kmeans_binarize

        # constant image: thr nudges off the single level, whole image
        # lands on one side (the reference arithmetic does the same)
        flat = np.full((8, 8), 128, dtype=np.uint8)
        out, thr = kmeans_binarize(flat)
        assert thr == 127 and (out == 255).all()
        # <= n_clusters distinct levels: each level its own cluster
        two = np.zeros((4, 4), dtype=np.uint8)
        two[:3] = 200
        out2, thr2 = kmeans_binarize(two)
        assert thr2 == 199
        assert (out2[:3] == 255).all() and (out2[3:] == 0).all()
        # exact tie: first cluster (lowest level) wins, like the
        # reference's strict-> scan over label order
        tie = np.zeros((4, 4), dtype=np.uint8)
        tie[:2] = 200
        _out3, thr3 = kmeans_binarize(tie)
        assert thr3 == 1
        # empty image does not crash
        out3, _ = kmeans_binarize(np.empty((0, 0), dtype=np.uint8))
        assert out3.size == 0

    def test_kmeans_binarize_deterministic(self):
        from crrf_det_spark.ops.multimodal import kmeans_binarize

        rng = np.random.RandomState(11)
        img = rng.choice(
            [15, 18, 120, 133, 240, 244], size=(64, 64), p=[0.1, 0.1, 0.05, 0.05, 0.4, 0.3]
        ).astype(np.uint8)
        o1, t1 = kmeans_binarize(img)
        o2, t2 = kmeans_binarize(img.copy())
        assert t1 == t2 and np.array_equal(o1, o2)
        # dominant light mode -> background white, dark modes are ink
        assert o1[img == 15].min() == 0 and o1[img == 244].max() == 255

    def test_area_resize_matches_naive_blocks(self):
        from crrf_det_spark.ops.multimodal import area_resize

        def naive(img, tw, th):
            # the extract_features block-mean semantics: floor boundaries,
            # at-least-one-row/col guard
            h, w = img.shape
            ys = (np.arange(th + 1) * h // th).astype(int)
            xs = (np.arange(tw + 1) * w // tw).astype(int)
            out = np.zeros((th, tw))
            for i in range(th):
                for j in range(tw):
                    block = img[ys[i]: max(ys[i + 1], ys[i] + 1),
                                xs[j]: max(xs[j + 1], xs[j] + 1)]
                    out[i, j] = block.mean()
            return out

        rng = np.random.RandomState(3)
        for (h, w), (tw, th) in [
            ((16, 16), (4, 4)),    # even downscale
            ((13, 7), (5, 3)),     # ragged downscale
            ((4, 4), (9, 6)),      # upscale (repeated reduceat indices)
            ((10, 3), (3, 10)),    # mixed
            ((1, 1), (4, 4)),      # degenerate single pixel
        ]:
            img = rng.randint(0, 256, size=(h, w), dtype=np.uint8)
            got = area_resize(img, (tw, th))
            assert got.shape == (th, tw)
            assert np.allclose(got, naive(img, tw, th))

    def test_resize_images_through_spark(self, spark):
        from crrf_det_spark.ops.multimodal import (
            MEDIA_SCHEMA,
            decode_image,
            resize_images,
        )

        # 8x8 row-constant gradient: resized 4x4 rows must be the
        # round-half-up means of adjacent source row pairs
        levels = np.arange(8, dtype=np.uint8) * 30  # 0,30,...,210
        img = np.repeat(levels[:, None], 8, axis=1)
        p5 = b"P5\n8 8\n255\n" + img.tobytes()
        rows = [
            (1, "image", "image/x-portable-graymap", p5, (8, 8, None, None)),
            (2, "image", "image/x-portable-graymap", b"P5\nbroken", (4, 4, None, None)),
            (3, "audio", "audio/wav", b"RIFF....", (None, None, 100, None)),
        ]
        df = spark.createDataFrame(rows, MEDIA_SCHEMA)
        out = resize_images(df, to=(4, 4)).collect()
        assert [r.media_id for r in out] == [1]
        r = out[0]
        assert (r.width, r.height) == (4, 4)
        back = decode_image(bytes(r.payload))
        expect = np.floor(
            (levels.reshape(4, 2).astype(float).mean(axis=1)) + 0.5
        ).astype(np.uint8)
        assert np.array_equal(back, np.repeat(expect[:, None], 4, axis=1))
        assert abs(r.mean_level - float(expect.mean())) < 1e-9
        # constant image resizes to the same constant at any size
        const = np.full((6, 6), 77, dtype=np.uint8)
        cdf = spark.createDataFrame(
            [(9, "image", None, b"P5\n6 6\n255\n" + const.tobytes(),
              (6, 6, None, None))],
            MEDIA_SCHEMA,
        )
        c = resize_images(cdf, to=(5, 9)).collect()[0]
        cback = decode_image(bytes(c.payload))
        assert cback.shape == (9, 5) and (cback == 77).all()

    def test_binarize_images_through_spark(self, spark):
        from crrf_det_spark.ops.multimodal import (
            MEDIA_SCHEMA,
            binarize_images,
        )

        page = np.full((12, 10), 250, dtype=np.uint8)
        page[4:8, 2:8] = 10
        p5 = b"P5\n10 12\n255\n" + page.tobytes()
        rows = [
            (1, "image", "image/x-portable-graymap", p5, (10, 12, None, None)),
            (2, "image", "image/x-portable-graymap", b"P5\nbroken", (4, 4, None, None)),
            (3, "audio", "audio/wav", b"RIFF....", (None, None, 100, None)),
        ]
        df = spark.createDataFrame(rows, MEDIA_SCHEMA)
        out = binarize_images(df).collect()
        # malformed payload skipped, non-image skipped
        assert [r.media_id for r in out] == [1]
        r = out[0]
        assert r.threshold == 249 and r.width == 10 and r.height == 12
        assert abs(r.ink_ratio - (4 * 6) / (12 * 10)) < 1e-9

    def test_real_wav_decode_and_features(self, spark):
        import struct

        import numpy as np

        from crrf_det_spark.ops.multimodal import (
            MEDIA_SCHEMA,
            audio_features,
            decode_audio,
        )

        def wav_pcm16(samples: np.ndarray, rate: int, channels: int = 1):
            data = (samples * 32767).astype("<i2").tobytes()
            hdr = struct.pack(
                "<4sI4s4sIHHIIHH4sI",
                b"RIFF", 36 + len(data), b"WAVE", b"fmt ", 16,
                1, channels, rate, rate * channels * 2, channels * 2, 16,
                b"data", len(data),
            )
            return hdr + data

        t = np.arange(800) / 8000.0
        mono = (0.5 * np.sin(2 * np.pi * 440 * t)).astype(np.float32)
        x, rate = decode_audio(wav_pcm16(mono, 8000))
        assert rate == 8000 and len(x) == 800
        assert abs(float(np.sqrt(np.mean(x ** 2))) - 0.5 / np.sqrt(2)) < 0.01
        # stereo reduces by channel mean
        stereo = np.repeat(mono, 2)
        x2, _ = decode_audio(wav_pcm16(stereo, 8000, channels=2))
        assert len(x2) == 800 and np.allclose(x2, x, atol=1e-4)
        # through Spark
        df = spark.createDataFrame(
            [(7, "audio", "audio/wav", wav_pcm16(mono, 8000),
              (None, None, 100, None))],
            MEDIA_SCHEMA,
        )
        (row,) = audio_features(df, n_bands=4).collect()
        assert row.sample_rate == 8000 and row.n_samples == 800
        assert len(row.feature) == 4 and abs(row.rms - 0.3535) < 0.01
        # compressed codec raises
        with pytest.raises(NotImplementedError):
            decode_audio(b"RIFF" + b"\0" * 100)

    def test_real_decode_through_spark_features(self, spark):
        import numpy as np

        from crrf_det_spark.ops.multimodal import (
            MEDIA_SCHEMA,
            extract_features,
        )

        flat = np.full((8, 8), 128, dtype=np.uint8)
        p5 = b"P5\n8 8\n255\n" + flat.tobytes()
        df = spark.createDataFrame(
            [(1, "image", "image/x-portable-graymap", p5, (8, 8, None, None))],
            MEDIA_SCHEMA,
        )
        (row,) = extract_features(df, resize_to=(2, 2)).collect()
        assert all(abs(v - 128 / 255) < 1e-6 for v in row.feature)

    def test_feature_plumbing(self, spark):
        from crrf_det_spark.ops.multimodal import (
            MEDIA_SCHEMA,
            area_resize,
            encode_pgm,
            extract_features,
            sample_frames,
        )

        rng = np.random.RandomState(3)
        imgs = {
            1: rng.randint(0, 256, size=(12, 16), dtype=np.uint8),
            2: rng.randint(0, 256, size=(32, 32), dtype=np.uint8),
        }
        pgm = "image/x-portable-graymap"
        rows = [
            (1, "image", pgm, encode_pgm(imgs[1]), (16, 12, None, None)),
            (2, "image", pgm, encode_pgm(imgs[2]), (32, 32, None, None)),
            (3, "video", "video/mp4", b"vid", (640, 480, 3500, 105)),
        ]
        df = spark.createDataFrame(rows, MEDIA_SCHEMA)
        feats = extract_features(df, resize_to=(4, 4)).collect()
        # the video row is skipped; image features are the 4x4 block
        # means of the real pixels
        assert sorted(r.media_id for r in feats) == [1, 2]
        for r in feats:
            want = area_resize(imgs[r.media_id], (4, 4)).ravel() / 255.0
            assert np.allclose(r.feature, want, atol=1e-6)
        # deterministic across runs
        feats2 = extract_features(df, resize_to=(4, 4)).collect()
        assert ({r.media_id: r.feature for r in feats}
                == {r.media_id: r.feature for r in feats2})
        frames = sample_frames(df, every_ms=1000).collect()
        assert [(r.media_id, r.frame_ms) for r in frames] == [
            (3, 0), (3, 1000), (3, 2000), (3, 3000),
        ]
