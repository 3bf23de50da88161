"""Tests for the training-data pipeline operators: text stats, dedup, ANN.

Strategy mirrors SURVEY.md §5: deterministic golden assertions on small
planted inputs; the DuckDB-oracle parity for the same operators runs via
tools/check_oracle.py / the driver harness.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from mmkg_rag_spark.functions import textstats as ts
from mmkg_rag_spark.operators import ann, retrieval, textdedup


@pytest.fixture(scope="module")
def spark():
    from mmkg_rag_spark.session import get_spark

    yield get_spark(master="local[4]", shuffle_partitions=8, app_name="pytest-tdp")


DOCS = [
    (0, "the quick brown fox jumps over the lazy dog"),
    (1, "The  quick brown fox jumps over the lazy dog"),  # ws/case variant
    (2, "a completely different document about spark engines and scale"),
    (3, "the quick brown fox jumps over the lazy cat today"),  # near-dup of 0
    (4, "der hund und die katze und der vogel sind nicht da"),  # German
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_token_counts(docs):
    rows = {
        r.doc_id: r
        for r in docs.select(
            "doc_id",
            ts.token_count(F.col("text")).alias("n"),
            ts.bpe_token_count(F.col("text")).alias("nb"),
        ).collect()
    }
    assert rows[0].n == 9
    assert rows[1].n == 9  # double space collapses (regex \s+)
    assert rows[0].nb == 9  # no punctuation → same as words


def test_quality_and_ratios(docs):
    r = (
        docs.filter(F.col("doc_id") == 0)
        .select(
            ts.stopword_ratio(F.col("text")).alias("sw"),
            ts.punct_ratio(F.col("text")).alias("p"),
            ts.quality_score(F.col("text")).alias("q"),
        )
        .collect()[0]
    )
    assert math.isclose(r.sw, 2 / 9)  # 'the' twice
    assert r.p == 0.0
    assert 0.0 < r.q <= 1.0


def test_lang_id(docs):
    rows = {
        r.doc_id: r.lang
        for r in docs.select("doc_id", ts.lang_id(F.col("text")).alias("lang")).collect()
    }
    assert rows[0] == "en"
    assert rows[4] == "de"


def test_fingerprint_normalizes_ws_and_case(docs):
    fps = {
        r.doc_id: r.fp
        for r in docs.select("doc_id", ts.fingerprint(F.col("text")).alias("fp")).collect()
    }
    assert fps[0] == fps[1]
    assert fps[0] != fps[2]


def test_exact_duplicates(docs):
    groups = {r.keep_id: r.dup_count for r in textdedup.exact_duplicates(docs).collect()}
    assert groups[0] == 2  # docs 0 and 1 collapse
    assert groups[2] == 1


def test_simhash_deterministic_and_close(docs):
    sig = docs.select("doc_id", ts.simhash64(F.col("text")).alias("s"))
    a = {r.doc_id: r.s for r in sig.collect()}
    b = {r.doc_id: r.s for r in sig.collect()}
    assert a == b  # deterministic
    ham = docs.alias("x").crossJoin(docs.alias("y")).select(
        F.col("x.doc_id").alias("i"),
        F.col("y.doc_id").alias("j"),
        ts.hamming64(
            ts.simhash64(F.col("x.text")), ts.simhash64(F.col("y.text"))
        ).alias("h"),
    )
    hm = {(r.i, r.j): r.h for r in ham.collect()}
    assert hm[(0, 1)] == 0  # case/ws-insensitive token set → same signature
    assert hm[(0, 3)] < hm[(0, 2)]  # near-dup closer than unrelated


def test_ngram_jaccard_finds_planted_pair(docs):
    pairs = {
        (r.id_a, r.id_b): r.jaccard
        for r in textdedup.ngram_jaccard_pairs(docs, n=2, threshold=0.3).collect()
    }
    assert (0, 1) in pairs and pairs[(0, 1)] == 1.0  # identical after norm
    assert (0, 3) in pairs  # near-dup
    assert all(2 not in p for p in pairs)


def test_ngram_cap_disclosure(docs):
    # no-silent-caps (VERDICT r3 item 7): a forced-low cap reports the real
    # dropped-shingle count; the default (cap never bites here) reports 0.
    info: dict = {}
    textdedup.ngram_jaccard_pairs(
        docs, n=2, threshold=0.3, max_shingle_freq=1, out_info=info
    )
    dropped = textdedup.cap_dropped_shingles(info)
    assert dropped is not None and dropped > 0

    info2: dict = {}
    textdedup.ngram_jaccard_pairs(docs, n=2, threshold=0.3, out_info=info2)
    assert textdedup.cap_dropped_shingles(info2) == 0
    # no observation attached → None (disclosure is opt-in, zero overhead)
    assert textdedup.cap_dropped_shingles({}) is None


def test_similarity_throughput_accounting(spark, docs, monkeypatch):
    # the dedup-verify UDF ticks the pair accumulators (VERDICT r3 item 5)
    from mmkg_rag_spark import metrics
    from mmkg_rag_spark.operators import dedup

    metrics._PAIR_SITES.clear()
    # two near-identical (but unequal) norms → an LSH candidate pair that
    # must flow through the ratio UDF (equal norms take the exact-edge path)
    ents = spark.createDataFrame(
        [("Quick Brown Fox Alpha", "ORG", "d", []),
         ("Quick Brown Fox Alphas", "ORG", "d2", []),
         ("Spark Engines", "ORG", "d3", [])],
        "name string, label string, description string, aliases array<string>",
    )
    units = dedup.collapse_exact(
        ents.select("name", "label", "description", "aliases")
        .withColumn("references", F.array())
        .withColumn("chunk_id", F.lit(1))
        .withColumn("images", F.array())
    )
    # PAIRWISE_THRESHOLD 0 forces the distributed (UDF) path
    monkeypatch.setattr(dedup, "PAIRWISE_THRESHOLD", 0)
    dedup.similarity_edges(units).collect()
    tp = metrics.similarity_throughput()
    assert "dedup_verify" in tp
    assert tp["dedup_verify"]["pairs"] > 0
    assert tp["dedup_verify"]["pairs_per_sec_per_core"] is None or (
        tp["dedup_verify"]["pairs_per_sec_per_core"] > 0
    )


def test_prefix_jaccard_equals_exact(docs):
    # cap inert here → the prefix path must reproduce the capped operator
    exact = {
        (r.id_a, r.id_b): r.jaccard
        for r in textdedup.ngram_jaccard_pairs(docs, n=2, threshold=0.3).collect()
    }
    pre = {
        (r.id_a, r.id_b): r.jaccard
        for r in textdedup.prefix_jaccard_pairs(docs, n=2, threshold=0.3).collect()
    }
    assert pre == exact and len(pre) > 0


def test_prefix_jaccard_exact_where_cap_bites(spark):
    # a boilerplate shingle shared by EVERY doc: a tiny frequency cap drops
    # it (losing pair evidence), but the prefix path stays exact — its
    # global rarest-first order just pushes the hot shingle out of prefixes
    rows = [
        (0, "common common common alpha beta gamma"),
        (1, "common common common alpha beta delta"),
        (2, "common common common zeta eta theta"),
        (3, "totally unrelated words here now ok"),
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    brute = {
        (r.id_a, r.id_b): r.jaccard
        for r in textdedup.ngram_jaccard_pairs(
            d, n=2, threshold=0.3, max_shingle_freq=10**9
        ).collect()
    }
    pre = {
        (r.id_a, r.id_b): r.jaccard
        for r in textdedup.prefix_jaccard_pairs(d, n=2, threshold=0.3).collect()
    }
    assert pre == brute
    assert (0, 1) in pre  # the near-dup pair survives with exact score


def test_minhash_matches_exact_on_planted(docs):
    exact = {
        (r.id_a, r.id_b)
        for r in textdedup.ngram_jaccard_pairs(docs, n=2, threshold=0.5).collect()
    }
    mh = {
        (r.id_a, r.id_b)
        for r in textdedup.minhash_near_duplicates(docs, n=2, threshold=0.5).collect()
    }
    assert mh == exact  # verify-join makes precision exact; recall 1.0 here


def test_simhash_near_duplicates(docs):
    pairs = {(r.id_a, r.id_b) for r in textdedup.simhash_near_duplicates(docs, max_hamming=3).collect()}
    assert (0, 1) in pairs


VECS = [
    (0, [1.0, 0.0, 0.0, 0.0]),
    (1, [0.9, 0.1, 0.0, 0.0]),
    (2, [0.0, 1.0, 0.0, 0.0]),
    (3, [0.0, 0.0, 1.0, 0.0]),
    (4, [0.5, 0.5, 0.0, 0.0]),
]


@pytest.fixture(scope="module")
def vecs(spark):
    return spark.createDataFrame(VECS, "vec_id long, embedding array<float>")


def test_embedding_near_duplicates(vecs):
    pairs = {(r.id_a, r.id_b): r.cos for r in textdedup.embedding_near_duplicates(vecs, threshold=0.9).collect()}
    assert (0, 1) in pairs
    assert (0, 2) not in pairs


def test_embedding_ann_path_equals_brute(spark):
    """use_ann=True (sign-LSH candidates + shared verify) reproduces the
    brute-force pair set exactly at threshold 0.95 (VERDICT r1 #6: the O(n²)
    join is opt-in baseline only). The sf testdata embeddings are uniform
    random (max pair cosine ≈ 0.51), so near-dup clusters are planted here:
    40 clusters of 2-3 perturbed copies (cos ≈ 0.99) + 200 random vectors."""
    import numpy as np

    rng = np.random.default_rng(42)
    rows, vid = [], 0
    for c in range(40):
        base = rng.standard_normal(64)
        for _ in range(2 + c % 2):
            rows.append((vid, (base + 0.05 * rng.standard_normal(64)).tolist()))
            vid += 1
    for _ in range(200):
        rows.append((vid, rng.standard_normal(64).tolist()))
        vid += 1
    e = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    brute = {
        (r.id_a, r.id_b, r.cos)
        for r in textdedup.embedding_near_duplicates(e, threshold=0.95).collect()
    }
    via_ann = {
        (r.id_a, r.id_b, r.cos)
        for r in textdedup.embedding_near_duplicates(
            e, threshold=0.95, use_ann=True
        ).collect()
    }
    assert via_ann == brute and len(brute) >= 40
    # asymmetric multi-probe at a FINER partition (p=8, T=6, m=8): same
    # exact pair set — the config that cuts uncorrelated candidate volume
    # ~3× vs the 4×12 default at equal recall
    via_mp = {
        (r.id_a, r.id_b, r.cos)
        for r in textdedup.embedding_near_duplicates(
            e, threshold=0.95, use_ann=True, n_planes=8, n_tables=6, n_probes=8
        ).collect()
    }
    assert via_mp == brute


def test_brute_topk_matches_numpy(vecs):
    import numpy as np

    q = vecs.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    got = [
        (r.nn_id, r.rank)
        for r in ann.brute_topk_cosine(vecs, q, k=3).orderBy("rank").collect()
    ]
    m = np.array([v for _, v in VECS], dtype=np.float64)
    sims = (m @ m[0]) / (np.linalg.norm(m, axis=1) * np.linalg.norm(m[0]))
    order = [i for i in np.argsort(-np.round(sims, 6), kind="stable") if i != 0][:3]
    assert [g[0] for g in got] == [int(i) for i in order]


def test_lsh_topk_subset_of_brute(vecs):
    q = vecs.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    brute = {
        (r.query_id, r.nn_id, r.score)
        for r in ann.brute_topk_cosine(vecs, q, k=4).collect()
    }
    approx = {
        (r.query_id, r.nn_id, r.score)
        for r in ann.lsh_topk_cosine(vecs, q, k=4, dim=4).collect()
    }
    assert approx <= brute or all(
        any(b[0] == a[0] and b[1] == a[1] for b in brute) for a in approx
    )
    assert len(approx) > 0


def test_fuzzy_topk(spark):
    items = spark.createDataFrame(
        [(1, ["red widget"]), (2, ["blue bolt"]), (3, ["green gear"])],
        "id long, fields array<string>",
    )
    got = retrieval.fuzzy_topk(items, ["red widget"], "fields", ["id"], max_num=2)
    rows = got.orderBy("rank").collect()
    assert rows[0].id == 1 and rows[0].score == 100.0


def test_khop_neighbors(spark):
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("x", "y")],
        "source string, target string",
    )
    seeds = spark.createDataFrame([("a",)], "name string")
    got = {
        (r.name, r.hop)
        for r in retrieval.khop_neighbors(edges, seeds, hops=2).collect()
    }
    assert got == {("a", 0), ("b", 1), ("c", 2)}


def test_near_dup_survivors(docs):
    got = {
        r.doc_id: r.group_size
        for r in textdedup.near_dup_survivors(docs, n=2, threshold=0.5).collect()
    }
    # docs 0,1,3 cluster (pairwise 2-gram jaccard >= 0.5 transitively);
    # min id 0 survives with group_size 3; 2 and 4 are unique
    assert got[0] == 3 and 1 not in got and 3 not in got
    assert got[2] == 1 and got[4] == 1


def test_ivf_topk_subset_and_nonempty(vecs):
    q = vecs.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    brute = {
        (r.query_id, r.nn_id, r.score)
        for r in ann.brute_topk_cosine(vecs, q, k=4).collect()
    }
    ivf = {
        (r.query_id, r.nn_id, r.score)
        for r in ann.ivf_topk_cosine(vecs, q, k=4, n_lists=2, n_probe=2).collect()
    }
    # probing ALL lists (n_probe == n_lists) makes IVF exhaustive → exact
    assert ivf == brute
