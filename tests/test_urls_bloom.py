"""Session-11 kernels: URL canonicalization, Bloom filter, per-seed BFS.

Python-reference parity for the three new operator families:
- functions/urls.py     — canonicalization rules vs a hand-written
  urllib-style reference on crafted and adversarial URLs
- functions/bloom.py    — one-sidedness (NO false negatives, ever) and
  decontaminate_bloom ≡ decontaminate exactly
- operators/graph.py    — bfs_distances_per_seed vs per-seed
  bfs_distances, harmonic_centrality_x vs a dict-BFS reference
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def spark():
    from mmkg_rag_spark.session import get_spark

    yield get_spark(master="local[4]", shuffle_partitions=8, app_name="pytest-urls")


# ---------------------------------------------------------------- URLs


def ref_canonicalize(url: str) -> str:
    """Plain-Python reference for canonicalize_url's documented rules."""
    scheme, rest = url.split("://", 1)
    scheme = scheme.lower()
    for cut in ("/", "?", "#"):
        i = rest.find(cut)
        if i >= 0:
            auth, tail = rest[:i], rest[i:]
            break
    else:
        auth, tail = rest, ""
    frag_i = tail.find("#")
    if frag_i >= 0:
        tail = tail[:frag_i]
    q_i = tail.find("?")
    path, query = (tail[:q_i], tail[q_i + 1 :]) if q_i >= 0 else (tail, "")
    host, _, port = auth.partition(":")
    host = host.lower()
    if host.startswith("www."):
        host = host[4:]
    default = {"http": "80", "https": "443"}.get(scheme, "")
    port_part = "" if port in ("", default) else ":" + port
    path = path.rstrip("/") or "/"
    params = sorted(
        p for p in query.split("&") if p and not p.startswith("utm_")
    )
    q_part = "?" + "&".join(params) if params else ""
    return f"{scheme}://{host}{port_part}{path}{q_part}"


CASES = [
    "HTTP://WWW.Example.COM:80/a/b/?utm_source=x&z=1&a=2#frag",
    "https://example.com:443/a",
    "https://example.com:8443/a",
    "http://example.com",
    "http://cdn.example.co.uk/p/1?b=2&a=1",
    "http://example.com/p/1?a=1&b=2",
    "https://WWW.d7.io:80/x",  # non-default port for scheme → kept
    "http://www.site.org/deep///",
    "http://site.org/?utm_medium=email&utm_source=feed",
    "http://site.org/p#only-frag",
]


def test_canonicalize_matches_reference(spark):
    from mmkg_rag_spark.functions.urls import canonicalize_url

    df = spark.createDataFrame([(u,) for u in CASES], "url string")
    got = {
        r.url: r.canon
        for r in df.select(
            "url", canonicalize_url(F.col("url")).alias("canon")
        ).collect()
    }
    for u in CASES:
        assert got[u] == ref_canonicalize(u), u


def test_canonicalize_collapses_equivalent_spellings(spark):
    from mmkg_rag_spark.functions.urls import canonicalize_url

    variants = [
        "http://www.ex.com/p/1?a=1&b=2",
        "HTTP://EX.COM:80/p/1/?b=2&a=1#x",
        "http://ex.com/p/1?utm_c=z&a=1&b=2",
    ]
    df = spark.createDataFrame([(u,) for u in variants], "url string")
    # utm_c is not a utm_ prefix match? it IS (startswith utm_) — dropped.
    vals = {
        r[0] for r in df.select(canonicalize_url(F.col("url"))).collect()
    }
    assert vals == {"http://ex.com/p/1?a=1&b=2"}


def test_registered_domain_rules(spark):
    from mmkg_rag_spark.functions.urls import registered_domain

    cases = {
        "cdn.d7.co.uk": "d7.co.uk",
        "d7.co.uk": "d7.co.uk",
        "a.b.example.com": "example.com",
        "example.com": "example.com",
        "localhost": "localhost",
        "media.shop.com.au": "shop.com.au",
    }
    df = spark.createDataFrame([(h,) for h in cases], "host string")
    got = {
        r.host: r.dom
        for r in df.select(
            "host", registered_domain(F.col("host")).alias("dom")
        ).collect()
    }
    assert got == cases


# ---------------------------------------------------------------- Bloom


def test_bloom_no_false_negatives_and_bounded_fp(spark):
    from mmkg_rag_spark.functions.bloom import bloom_build, bloom_contains

    keys = spark.createDataFrame(
        [(f"key-{i}",) for i in range(500)], "k string"
    )
    other = spark.createDataFrame(
        [(f"other-{i}",) for i in range(2000)], "k string"
    )
    m, kh = 1 << 14, 3
    bloom = bloom_build(keys, "k", m, kh)
    hits_true = bloom_contains(keys, "k", bloom, m, kh).filter("bloom_hit")
    assert hits_true.count() == 500  # one-sided: every true key passes
    fp = bloom_contains(other, "k", bloom, m, kh).filter("bloom_hit").count()
    # fill ≈ 1500/16384 ≈ 9%; FP ≈ 0.09³ ≈ 7e-4 → expect ~1.5, allow slack
    assert fp <= 20


def test_decontaminate_bloom_equals_exact(spark):
    from mmkg_rag_spark.operators.curation import decontaminate, decontaminate_bloom

    rows = [
        (i, " ".join(f"w{(i * 7 + j) % 23}" for j in range(30))) for i in range(40)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    corpus = docs.filter("doc_id % 5 != 0")
    bench = docs.filter("doc_id % 5 = 0")
    exact = {
        (r.doc_id, r.n_hits) for r in decontaminate(corpus, bench, n=4).collect()
    }
    via_bloom = {
        (r.doc_id, r.n_hits)
        for r in decontaminate_bloom(
            corpus, bench, n=4, m_bits=1 << 12, k=3
        ).collect()
    }
    assert via_bloom == exact and exact  # identical, and non-trivial


# ------------------------------------------------- per-seed BFS / harmonic


GRAPH = [
    ("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"),
    ("a", "f"), ("f", "g"), ("c", "g"), ("h", "i"),
]


def ref_bfs(edges, seed, max_hops):
    adj: dict[str, set[str]] = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    dist = {seed: 0}
    frontier = [seed]
    for h in range(1, max_hops + 1):
        nxt = []
        for n in frontier:
            for m in adj.get(n, ()):
                if m not in dist:
                    dist[m] = h
                    nxt.append(m)
        frontier = nxt
    return dist


def test_bfs_per_seed_matches_reference(spark):
    from mmkg_rag_spark.operators.graph import bfs_distances_per_seed

    df = spark.createDataFrame(GRAPH, "src string, dst string")
    seeds = ["a", "h", "z"]  # z is isolated (not in the graph)
    got = {
        (r.seed, r.node): r.dist
        for r in bfs_distances_per_seed(df, seeds, 3).collect()
    }
    want = {}
    for s in seeds:
        for n, d in ref_bfs(GRAPH, s, 3).items():
            want[(s, n)] = d
    assert got == want


def test_harmonic_centrality_matches_reference(spark):
    from mmkg_rag_spark.operators.graph import harmonic_centrality_x

    df = spark.createDataFrame(GRAPH, "src string, dst string")
    seeds = ["a", "c", "h"]
    got = {
        r.node: (r.harmonic_x12, r.n_seeds_reached)
        for r in harmonic_centrality_x(df, seeds, 4).collect()
    }
    want: dict[str, list[int]] = {}
    for s in seeds:
        for n, d in ref_bfs(GRAPH, s, 4).items():
            if d > 0:
                acc = want.setdefault(n, [0, 0])
                acc[0] += 12 // d
                acc[1] += 1
    assert got == {n: tuple(v) for n, v in want.items()}


# --------------------------------------------- spatial grid / path counts


def test_grid_radius_pairs_matches_bruteforce(spark):
    import random

    from mmkg_rag_spark.operators.spatial import grid_radius_pairs

    rng = random.Random(7)
    pts = [(i, rng.randrange(3000), rng.randrange(3000)) for i in range(300)]
    df = spark.createDataFrame(pts, "id long, x long, y long")
    r = 200
    got = {
        (p.id_a, p.id_b, p.dist2)
        for p in grid_radius_pairs(df, "id", "x", "y", radius=r).collect()
    }
    want = {
        (a, b, (xa - xb) ** 2 + (ya - yb) ** 2)
        for (a, xa, ya) in pts
        for (b, xb, yb) in pts
        if a < b and (xa - xb) ** 2 + (ya - yb) ** 2 <= r * r
    }
    assert got == want and want  # exact AND non-trivial


def ref_sigma(edges, seed, max_hops):
    """Level-synchronous shortest-path counting in plain Python."""
    adj: dict[str, set[str]] = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    dist, sigma = {seed: 0}, {seed: 1}
    frontier = [seed]
    for h in range(1, max_hops + 1):
        counts: dict[str, int] = {}
        for n in frontier:
            for m in adj.get(n, ()):
                if m not in dist:
                    counts[m] = counts.get(m, 0) + sigma[n]
        for m, c in counts.items():
            dist[m], sigma[m] = h, c
        frontier = list(counts)
    return dist, sigma


DIAMOND = [
    ("s", "a"), ("s", "b"), ("a", "t"), ("b", "t"),  # two paths s→t
    ("t", "u"), ("s", "c"), ("c", "d"), ("d", "u"),
]


def test_shortest_path_counts_matches_reference(spark):
    from mmkg_rag_spark.operators.graph import shortest_path_counts

    df = spark.createDataFrame(DIAMOND, "src string, dst string")
    seeds = ["s", "u"]
    got = {
        (r.seed, r.node): (r.dist, r.sigma)
        for r in shortest_path_counts(df, seeds, 4).collect()
    }
    want = {}
    for s in seeds:
        dist, sigma = ref_sigma(DIAMOND, s, 4)
        for n in dist:
            want[(s, n)] = (dist[n], sigma[n])
    assert got == want
    assert got[("s", "t")][1] == 2  # the diamond: two shortest s→t paths


# ------------------------------------------------------ property tests


def test_canonicalize_idempotent_and_matches_ref_on_product_space(spark):
    """Canonical output is a fixed point: re-canonicalizing any canonical
    URL is the identity. Checked over the full combinatorial product of
    part variants (1,440 URLs), alongside reference parity."""
    import itertools

    from mmkg_rag_spark.functions.urls import canonicalize_url

    schemes = ["http", "HTTPS", "https"]
    hosts = ["www.Ex.COM", "cdn.d7.co.uk", "ex.com", "WWW.a.b.io"]
    ports = ["", ":80", ":443", ":8080"]
    paths = ["", "/", "/p/1", "/p/1/", "/a/b//"]
    queries = ["", "?a=1&b=2", "?utm_s=1&b=2&a=1"]
    frags = ["", "#x"]
    urls = [
        f"{s}://{h}{po}{pa}{q}{f}"
        for s, h, po, pa, q, f in itertools.product(
            schemes, hosts, ports, paths, queries, frags
        )
    ]
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    canon = df.select(
        "url", canonicalize_url(F.col("url")).alias("c1")
    ).withColumn("c2", canonicalize_url(F.col("c1")))
    rows = canon.collect()
    for r in rows:
        assert r.c1 == ref_canonicalize(r.url), r.url
        assert r.c2 == r.c1, r.url  # fixed point


def test_bloom_merge_equals_build_of_union(spark):
    """Merge contract: bit_or of two Bloom images == the image of the
    union — day→month rollups never revisit raw keys."""
    from mmkg_rag_spark.functions.bloom import bloom_build

    a = spark.createDataFrame([(f"a{i}",) for i in range(300)], "k string")
    b = spark.createDataFrame([(f"b{i}",) for i in range(300)], "k string")
    m, kh = 1 << 13, 3
    merged = (
        bloom_build(a, "k", m, kh)
        .unionByName(bloom_build(b, "k", m, kh))
        .groupBy("word_idx")
        .agg(F.bit_or("bits").alias("bits"))
    )
    direct = bloom_build(a.unionByName(b), "k", m, kh)
    as_map = lambda df: {r.word_idx: r.bits for r in df.collect()}  # noqa: E731
    assert as_map(merged) == as_map(direct)


# ------------------------------------------------- pages latest-per-canonical


def test_dedup_pages_latest_collapses_canonical_respellings(spark):
    """Recrawl compaction: three raw spellings of ONE canonical page at
    different warc_ts collapse to the newest fetch; a distinct page
    survives untouched; ts ties break on the raw url string."""
    import datetime as dt

    from mmkg_rag_spark.pipeline import dedup_pages_latest

    t = lambda h: dt.datetime(2026, 1, 1, h)  # noqa: E731
    rows = [
        ("http://www.ex.com/p?b=2&a=1", t(1), None, "old", "en"),
        ("HTTP://EX.COM:80/p/?a=1&b=2#x", t(3), None, "newest", "en"),
        ("http://ex.com/p?a=1&b=2", t(2), None, "mid", "en"),
        ("http://other.org/q", t(1), None, "other", "en"),
        # warc_ts tie with the newest: raw-url max wins deterministically
        ("http://ex.com/p/?utm_s=1&a=1&b=2", t(3), None, "tie", "en"),
    ]
    pages = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, text string, lang string"
    )
    out = {r.canonical_url: r for r in dedup_pages_latest(pages).collect()}
    assert set(out) == {"http://ex.com/p?a=1&b=2", "http://other.org/q"}
    winner = out["http://ex.com/p?a=1&b=2"]
    assert winner.warc_ts.hour == 3
    # tie at t(3): max raw url of the two t(3) spellings
    assert winner.url == max(
        "HTTP://EX.COM:80/p/?a=1&b=2#x", "http://ex.com/p/?utm_s=1&a=1&b=2"
    )
    assert winner.text == "tie"
