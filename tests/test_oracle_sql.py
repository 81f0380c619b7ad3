"""The contract ORACLES are code too — these tests pin the round-5
contraction-hardened closure SQL (set-collapse + two star-contraction
rounds + residual recursive closure, __spark_entry__._CTE_COMPONENTS /
_CTE_SPANS) against an independent Python union-find on adversarial
graph shapes the generated corpora never produce:

* long chains (diameter >> 2, so BOTH contraction rounds leave residual
  edges and the trailing recursive closure must do real work);
* randomized multi-chain corpora with shuffled doc ids (component min
  can sit anywhere, labels must propagate both directions);
* byte-identical and identical-token-set groups (grp n_mem >= 2 path);
* empty/whitespace docs (must never enter any component).

DuckDB-only — no Spark session, runs in seconds.  The Spark-vs-oracle
value check is scripts/oracle_check.py; this file guards the oracle
side itself so "contract queries must hold at ANY sf" (CLAUDE.md) rests
on more than the three generated corpora.
"""

from __future__ import annotations

import random

import duckdb
import pytest

import __spark_entry__ as entry


def _union_find_components(token_sets: dict[int, frozenset], tau: float = 0.8):
    """Independent O(n^2) reference: edges = exact Jaccard >= tau between
    non-empty token sets; returns {doc_id: component_min} for every node
    with at least one edge (identical sets count — J=1)."""
    parent: dict[int, int] = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    ids = sorted(token_sets)
    for i, a in enumerate(ids):
        sa = token_sets[a]
        if not sa:
            continue
        for b in ids[i + 1:]:
            sb = token_sets[b]
            if not sb:
                continue
            inter = len(sa & sb)
            if inter and inter / (len(sa) + len(sb) - inter) >= tau:
                union(a, b)
    return {n: find(n) for n in parent}


def _run_components_oracle(docs: list[tuple[int, str]]):
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", docs)
    sql = entry.oracle_sql()["dedup_components"]
    return {
        int(r[0]): int(r[1]) for r in con.execute(sql).fetchall()
    }


def _chain_doc(chain: int, pos: int, width: int = 10) -> str:
    # sliding 10-token window: adjacent positions share 9 tokens
    # (J = 9/11 ~ 0.818 >= 0.8), distance-2 share 8 (J = 0.667 < 0.8)
    return " ".join(f"c{chain}w{pos + t}" for t in range(width))


def test_long_chain_exceeds_contraction_rounds():
    # a 60-node path has diameter 59: two min-contraction rounds cannot
    # finish it, so the recursive closure's correctness is load-bearing
    docs = [(i, _chain_doc(0, i)) for i in range(60)]
    got = _run_components_oracle(docs)
    assert got == {i: 0 for i in range(60)}


def test_chain_with_shuffled_ids_propagates_min_both_directions():
    rng = random.Random(7)
    ids = list(range(100, 160))
    rng.shuffle(ids)
    docs = [(doc_id, _chain_doc(0, pos)) for pos, doc_id in enumerate(ids)]
    got = _run_components_oracle(docs)
    assert got == {i: 100 for i in ids}


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_randomized_multi_chain_corpus_matches_union_find(seed):
    rng = random.Random(seed)
    docs: list[tuple[int, str]] = []
    next_id = 0
    for chain in range(rng.randint(3, 8)):
        length = rng.randint(1, 40)
        for pos in range(length):
            docs.append((next_id, _chain_doc(chain, pos)))
            next_id += 1
            if rng.random() < 0.15:  # identical-token-set duplicate
                docs.append((next_id, _chain_doc(chain, pos)))
                next_id += 1
    for _ in range(3):  # empty / whitespace docs never join anything
        docs.append((next_id, rng.choice(["", "   ", "\t\n"])))
        next_id += 1
    rng.shuffle(docs)
    # re-key so doc ids are a random permutation (min anywhere)
    docs = [(i, text) for i, (_, text) in enumerate(docs)]
    token_sets = {
        i: frozenset(t for t in text.split() if t) for i, text in docs
    }
    expect = _union_find_components(token_sets)
    expect = {n: c for n, c in expect.items()}
    # union-find emits singletons with self-parent only when touched by
    # union; nodes without any edge must be absent on both sides
    got = _run_components_oracle(docs)
    assert got == expect


def _shingle_splice(doc_id: int, text: str) -> str:
    """Python reimplementation of the dedup_shingles contract splice
    (__spark_entry__._shingle_footer_text / _CTE_SHINGLES docs2)."""
    k = doc_id % 30
    if k >= 3:
        return text
    footer = "\n".join(entry._SHINGLE_FOOTERS[k]) + f" {doc_id % 2}"
    half = len(text) // 2
    return text[:half] + "\n" + footer + "\n" + text[half:]


def test_shingles_oracle_edge_docs_match_union_find():
    # empty text, 1-line, 2-line (below k), exactly-3-line docs, doc ids
    # across footer groups, plus byte-identical docs (star-edge path):
    # the shingle oracle must agree with a Python union-find over the
    # SAME splice + 3-line windows + token-Jaccard >= 0.8.
    docs = [
        (0, ""),                       # footer group 0, empty body
        (1, "lone line body"),         # footer group 1
        (2, "two\nlines"),             # footer group 2
        (30, ""),                      # group 0 again, ext differs (30%2=0)
        (60, ""),                      # group 0, ext 0 -> identical to 30
        (33, "three\nline\nbody"),     # no footer, exactly k lines
        (34, "three\nline\nbody"),     # byte-identical doc -> star edge
        (35, "short"),                 # no footer, below k lines
    ]
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", docs)
    got = {
        (int(r[0]), int(r[1])): (int(r[2]), int(r[3]))
        for r in con.execute(entry.oracle_sql()["dedup_shingles"]).fetchall()
    }

    spans: dict[tuple[int, int], frozenset] = {}
    for doc_id, text in docs:
        lines = _shingle_splice(doc_id, text).split("\n")
        for i in range(len(lines) - 2):
            toks = frozenset("\n".join(lines[i:i + 3]).split())
            if toks:
                spans[(doc_id * 1048576 + i, doc_id)] = toks
    uid_sets = {uid: s for (uid, _), s in spans.items()}
    comp = _union_find_components(uid_sets)
    expect = {
        (uid // 1048576, uid % 1048576): (c // 1048576, c % 1048576)
        for uid, c in comp.items()
    }
    assert got == expect
    assert got, "edge corpus must actually produce duplicate shingles"


def test_spans_oracle_on_chain_paragraph_corpus():
    # documents whose PARAGRAPHS form a long chain: span-level closure
    # must also survive diameters beyond the contraction rounds.  The
    # spans CTE appends footers for doc_id % 30 in {0,1,2}; use ids
    # 1000+ with step 30 offsets chosen to stay footer-free (k >= 3).
    docs = []
    for d in range(20):
        doc_id = 1000 + d * 30 + 3  # % 30 == 3 -> no footer appended
        paras = [_chain_doc(0, 3 * d + j) for j in range(3)]
        docs.append((doc_id, "\n\n".join(paras)))
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", docs)
    rows = con.execute(entry.oracle_sql()["dedup_spans"]).fetchall()
    # all 60 spans chain into ONE component rooted at the min uid
    # (doc 1003, span 0)
    assert len(rows) == 60
    assert {(r[2], r[3]) for r in rows} == {(1003, 0)}
    got_nodes = {(r[0], r[1]) for r in rows}
    expect_nodes = {
        (1000 + d * 30 + 3, j) for d in range(20) for j in range(3)
    }
    assert got_nodes == expect_nodes


def test_contract_keys_match_and_bench_times_only_contract_queries():
    # every queries() key has a same-named oracle_sql() entry and vice
    # versa, and the bench's headline names are all contract queries, so
    # no query timed by bench.py can lack an oracle check
    import bench

    assert set(entry.queries()) == set(entry.oracle_sql())
    assert set(bench.HEADLINE) <= set(entry.queries())
