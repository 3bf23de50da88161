"""Session-15 operators: gazetteer mention detection, context-overlap
entity linking, degree assortativity, integer surprisal scoring.

Pins: the unigram+bigram gram stream vs a plain-Python sliding window
(incl. 0/1-token docs and multiplicity); mention counts vs brute-force
substring-free counting; linking winners vs an exhaustive Python argmax
with the documented tie-break; assortativity vs the textbook Pearson
formula on crafted star (r < 0) and near-regular graphs, plus the exact
num/den rational against Fractions; surprisal_bits vs a plain-Python
floor-log2 recurrence and its partitioning invariance.
"""

from __future__ import annotations

import math
import random
from collections import Counter
from fractions import Fraction

import pytest
from pyspark.sql import functions as F

from mmkg_rag_spark.operators.graph import (
    degree_assortativity,
    edge_support,
    ktruss,
)
from mmkg_rag_spark.operators.mentions import (
    doc_grams,
    gazetteer_mentions,
    link_mentions,
    surface_cooccurrence,
)
from mmkg_rag_spark.operators.relevance import doc_surprisal_bits


@pytest.fixture(scope="module")
def spark():
    from mmkg_rag_spark.session import get_spark

    yield get_spark(
        master="local[4]", shuffle_partitions=8, app_name="pytest-s15ops"
    )


def _py_grams(text: str) -> list[str]:
    ts = [t for t in text.split(" ") if t != ""]
    return ts + [f"{a} {b}" for a, b in zip(ts, ts[1:])]


# ---------------------------------------------------------------------------
# mentions
# ---------------------------------------------------------------------------


def test_doc_grams_match_python_sliding_window(spark):
    rows = [
        (0, "a b c a b"),
        (1, "solo"),
        (2, ""),
        (3, "x  y"),  # double space → empty token dropped, bigram 'x y'
        (4, "a a a"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = Counter(
        (r.doc_id, r.gram) for r in doc_grams(df).collect()
    )
    want = Counter(
        (i, g) for i, t in rows for g in _py_grams(t)
    )
    assert got == want


def test_gazetteer_mentions_bruteforce(spark):
    rng = random.Random(15)
    vocab = ["a", "b", "c", "d"]
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randrange(0, 12))))
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    surfaces = ["a", "b c", "d d"]
    got = {
        (r.doc_id, r.surface): r.n_mentions
        for r in gazetteer_mentions(df, surfaces).collect()
    }
    want = {}
    for i, t in rows:
        for g, n in Counter(_py_grams(t)).items():
            if g in surfaces:
                want[(i, g)] = n
    assert got == want
    assert all(n >= 1 for n in got.values())


def test_link_mentions_argmax_and_tiebreak(spark):
    cand = [("w", "e2"), ("w", "e1"), ("s", "e3"), ("s", "e4")]
    ctx = [("e1", "p"), ("e2", "q"), ("e3", "p"), ("e4", "q")]
    rows = [
        (0, "w p p q"),  # e1 scores 2, e2 scores 1 → e1
        (1, "w q"),  # e2 wins 1-0
        (2, "w"),  # 0-0 tie → lexicographically smaller e1
        (3, "s s q q q"),  # e4 wins 3-0, n_mentions 2
        (4, "x p q"),  # no mention → no row
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (r.surface, r.entity_id, r.score, r.n_mentions)
        for r in link_mentions(df, cand, ctx).collect()
    }
    assert got == {
        0: ("w", "e1", 2, 1),
        1: ("w", "e2", 1, 1),
        2: ("w", "e1", 0, 1),
        3: ("s", "e4", 3, 2),
    }


def test_link_mentions_ambiguous_only_filter(spark):
    # unambiguous surfaces are dropped when ambiguous_only=True (default)
    cand = [("u", "e9"), ("w", "e1"), ("w", "e2")]
    df = spark.createDataFrame(
        [(0, "u w")], "doc_id long, text string"
    )
    got = {r.surface for r in link_mentions(df, cand, []).collect()}
    assert got == {"w"}
    got_all = {
        r.surface
        for r in link_mentions(df, cand, [], ambiguous_only=False).collect()
    }
    assert got_all == {"u", "w"}


# ---------------------------------------------------------------------------
# assortativity
# ---------------------------------------------------------------------------


def _py_assortativity(edges: list[tuple[int, int]]):
    sym = edges + [(d, s) for s, d in edges]
    deg = Counter(s for s, _ in sym)
    xs = [deg[s] for s, _ in sym]
    ys = [deg[d] for _, d in sym]
    e = len(sym)
    sxy = sum(x * y for x, y in zip(xs, ys))
    sx = sum(xs)
    sxx = sum(x * x for x in xs)
    return e * sxy - sx * sx, e * sxx - sx * sx


def test_assortativity_star_is_negative(spark):
    edges = [(0, i) for i in range(1, 6)]
    df = spark.createDataFrame(edges, "src long, dst long")
    row = degree_assortativity(df, rational=True).collect()[0]
    num, den = _py_assortativity(edges)
    assert int(row.r_num) == num
    assert int(row.r_den) == den
    assert row.n_edges == 5
    assert row.n_nodes == 6
    assert row.assortativity == -1.0  # perfect star: maximally disassortative


def test_assortativity_random_graph_matches_fraction(spark):
    rng = random.Random(15)
    edges = sorted(
        {tuple(sorted(rng.sample(range(12), 2))) for _ in range(25)}
    )
    df = spark.createDataFrame(edges, "src long, dst long")
    row = degree_assortativity(df, rational=True).collect()[0]
    num, den = _py_assortativity(edges)
    assert (int(row.r_num), int(row.r_den)) == (num, den)
    want = Fraction(num, den)
    assert math.isclose(row.assortativity, float(want), abs_tol=5e-7)
    # default (non-rational) shape is the pre-existing contract
    legacy = degree_assortativity(df).columns
    assert legacy == ["n_nodes", "n_edges", "assortativity"]


def test_mention_spans_positions(spark):
    from mmkg_rag_spark.operators.mentions import mention_spans

    rows = [
        (0, "a b c a b"),  # 'a b' at idx 1 and 4; 'c' at 3
        (1, "c"),
        (2, "b a b"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.doc_id, r.surface): (r.n_mentions, r.first_idx, r.last_idx)
        for r in mention_spans(df, ["a b", "c"]).collect()
    }
    assert got == {
        (0, "a b"): (2, 1, 4),
        (0, "c"): (1, 3, 3),
        (1, "c"): (1, 1, 1),
        (2, "a b"): (1, 2, 2),
    }


def _py_edge_support(edges):
    adj = {}
    for s, d in edges:
        adj.setdefault(s, set()).add(d)
        adj.setdefault(d, set()).add(s)
    return {
        (min(s, d), max(s, d)): len(adj[s] & adj[d]) for s, d in edges
    }


def _py_ktruss(edges, k, rounds):
    e = {(min(s, d), max(s, d)) for s, d in edges}
    for _ in range(rounds):
        sup = _py_edge_support(sorted(e))
        e = {p for p in e if sup[p] >= k - 2}
    return _py_edge_support(sorted(e))


def test_edge_support_bruteforce(spark):
    rng = random.Random(21)
    edges = sorted(
        {tuple(sorted(rng.sample(range(15), 2))) for _ in range(45)}
    )
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {(r.a, r.b): r.support for r in edge_support(df).collect()}
    assert got == _py_edge_support(edges)


def test_ktruss_matches_python_peeling(spark):
    # K5 (edges survive any k ≤ 5 truss) + a pendant triangle + a tail
    k5 = [(i, j) for i in range(5) for j in range(i + 1, 5)]
    extra = [(4, 5), (4, 6), (5, 6), (6, 7)]
    edges = k5 + extra
    df = spark.createDataFrame(edges, "src long, dst long")
    for k, rounds in [(4, 1), (4, 3), (5, 2)]:
        got = {
            (r.a, r.b): r.support
            for r in ktruss(df, k, rounds=rounds).collect()
        }
        assert got == _py_ktruss(edges, k, rounds), (k, rounds)
    # k=5, enough rounds: exactly the K5 survives with support 3
    got = {(r.a, r.b): r.support for r in ktruss(df, 5, rounds=3).collect()}
    assert got == {p: 3 for p in k5}


def test_ktruss_delta_branch_matches_python_peeling(spark):
    # K8 (28 edges, intra-clique support 6) + a pendant triangle via
    # node 8 attached to {0, 1}: edges (0,8) and (1,8) have support 1
    # and drop in round 1 — 2/30 ≈ 6.7% ≤ the 20% delta threshold, so
    # the round takes the DELTA path: one dead triangle {0,1,8} must
    # decrement exactly edge (0,1) from 7 to 6. Also exercises the
    # fixed-point early exit (rounds 2-4 drop nothing).
    k8 = [(i, j) for i in range(8) for j in range(i + 1, 8)]
    edges = k8 + [(0, 8), (1, 8)]
    df = spark.createDataFrame(edges, "src long, dst long")
    for k, rounds in [(8, 1), (8, 4)]:
        got = {
            (r.a, r.b): r.support
            for r in ktruss(df, k, rounds=rounds).collect()
        }
        assert got == _py_ktruss(edges, k, rounds), (k, rounds)
    assert _py_ktruss(edges, 8, 1) == {p: 6 for p in k8}


def test_surface_cooccurrence_bruteforce(spark):
    rows = [
        (0, "a b a c"),
        (1, "a a b b"),
        (2, "c"),
        (3, "b c b c c"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.surface_a, r.surface_b): (r.n_docs, r.w_min)
        for r in surface_cooccurrence(df, ["a", "b", "c"]).collect()
    }
    want = {}
    for _, t in rows:
        c = Counter(x for x in t.split(" ") if x in {"a", "b", "c"})
        ks = sorted(c)
        for i in range(len(ks)):
            for j in range(i + 1, len(ks)):
                nd, wm = want.get((ks[i], ks[j]), (0, 0))
                want[(ks[i], ks[j])] = (
                    nd + 1,
                    wm + min(c[ks[i]], c[ks[j]]),
                )
    assert got == want


def test_butterfly_counts_bruteforce(spark):
    from itertools import combinations

    from mmkg_rag_spark.operators.graph import butterfly_counts

    rng = random.Random(31)
    edges = sorted({(rng.randrange(6), rng.randrange(8)) for _ in range(30)})
    df = spark.createDataFrame(edges, "src long, dst long")
    row = butterfly_counts(df).collect()[0]
    # brute force: count 2x2 bicliques
    adj = {}
    for l, r in edges:
        adj.setdefault(l, set()).add(r)
    bf = sum(
        1
        for l1, l2 in combinations(sorted(adj), 2)
        for _ in combinations(sorted(adj[l1] & adj[l2]), 2)
    )
    wedges = sum(
        len(adj[l1] & adj[l2]) for l1, l2 in combinations(sorted(adj), 2)
    )
    assert row.n_butterflies == bf
    assert row.n_wedges == wedges
    assert row.n_edges == len(edges)


def test_butterfly_complete_bipartite(spark):
    from mmkg_rag_spark.operators.graph import butterfly_counts

    # K_{3,4}: C(3,2)*C(4,2) = 18 butterflies
    edges = [(l, 10 + r) for l in range(3) for r in range(4)]
    df = spark.createDataFrame(edges, "src long, dst long")
    row = butterfly_counts(df).collect()[0]
    assert (row.n_left, row.n_right, row.n_edges) == (3, 4, 12)
    assert row.n_butterflies == 18


def test_rrf_fusion_matches_python(spark):
    from mmkg_rag_spark.operators.relevance import rrf_fusion

    rng = random.Random(77)
    vocab = ["q1", "q2", "x", "y", "z", "z", "z"]
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randrange(1, 20))))
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    terms = ["q1", "q2"]
    got = [
        (r.doc_id, r.rank_tf, r.rank_idf, r.rrf_milli)
        for r in rrf_fusion(df, terms, topk=10).collect()
    ]
    # python reference
    all_toks = [t for _, txt in rows for t in txt.split(" ") if t]
    n = len(all_toks)
    cnt = Counter(all_toks)
    bits = {t: (n // cnt[t]).bit_length() - 1 for t in terms if cnt[t]}
    cand = {}
    for i, txt in rows:
        c = Counter(t for t in txt.split(" ") if t in bits)
        if c:
            cand[i] = (
                sum(c.values()),
                sum(v * bits[t] for t, v in c.items()),
            )
    r_tf = {
        d: k + 1
        for k, d in enumerate(
            sorted(cand, key=lambda d: (-cand[d][0], d))
        )
    }
    r_idf = {
        d: k + 1
        for k, d in enumerate(
            sorted(cand, key=lambda d: (-cand[d][1], d))
        )
    }
    fused = {
        d: 1_000_000 // (60 + r_tf[d]) + 1_000_000 // (60 + r_idf[d])
        for d in cand
    }
    want = [
        (d, r_tf[d], r_idf[d], fused[d])
        for d in sorted(fused, key=lambda d: (-fused[d], d))[:10]
    ]
    assert got == want


# ---------------------------------------------------------------------------
# surprisal
# ---------------------------------------------------------------------------


def _py_surprisal(rows):
    toks = [t for _, text in rows for t in text.split(" ") if t]
    cnt = Counter(toks)
    n = len(toks)
    out = {}
    for i, text in rows:
        ts = [t for t in text.split(" ") if t]
        if not ts:
            continue
        out[i] = (
            len(ts),
            sum((n // cnt[t]).bit_length() - 1 for t in ts),
        )
    return out


def test_surprisal_bits_matches_python(spark):
    rng = random.Random(99)
    vocab = ["a"] * 5 + ["b"] * 2 + ["c", "d", "e"]
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randrange(1, 30))))
        for i in range(50)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (r.n_tokens, r.surprisal_bits)
        for r in doc_surprisal_bits(df).collect()
    }
    assert got == _py_surprisal(rows)


def test_surprisal_partitioning_invariance(spark):
    rows = [(i, "a b c a " * (i % 3 + 1)) for i in range(30)]
    df1 = spark.createDataFrame(rows, "doc_id long, text string")
    a = sorted(map(tuple, doc_surprisal_bits(df1).collect()))
    b = sorted(
        map(tuple, doc_surprisal_bits(df1.repartition(7)).collect())
    )
    assert a == b


def test_surprisal_rare_token_scores_higher(spark):
    # one doc of a common token, one of a rare token, same length
    rows = [(0, " ".join(["a"] * 9) + " b"), (1, " ".join(["a"] * 10))]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: r.surprisal_bits for r in doc_surprisal_bits(df).collect()
    }
    assert got[0] > got[1]


def test_ktruss_forced_delta_matches_python_on_random_graphs(spark):
    """delta_frac=1.0 forces EVERY peel round down the dead-triangle
    delta path regardless of drop size — hammering the decrement
    arithmetic (multi-dropped-edge triangles, zero-support survivors,
    full-graph drops) against the naive Python peeling on seeded random
    graphs. The registered query keeps the adaptive default; this pins
    branch equivalence."""
    rng = random.Random(53)
    for trial in range(6):
        edges = sorted(
            {tuple(sorted(rng.sample(range(12), 2))) for _ in range(30)}
        )
        df = spark.createDataFrame(edges, "src long, dst long")
        for k, rounds in [(3, 2), (4, 2), (5, 3)]:
            got = {
                (r.a, r.b): r.support
                for r in ktruss(
                    df, k, rounds=rounds, delta_frac=1.0
                ).collect()
            }
            assert got == _py_ktruss(edges, k, rounds), (trial, k, rounds)
