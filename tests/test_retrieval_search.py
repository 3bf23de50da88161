"""R4 retrieval composition (search_eris) over small planted graphs, and
parity of its driver path with its Spark plan."""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager

import pytest
from pyspark.sql import functions as F

from mmkg_rag_spark import metrics
from mmkg_rag_spark.operators import retrieval
from mmkg_rag_spark.operators.retrieval import search_eris


@pytest.fixture(scope="module")
def spark():
    from mmkg_rag_spark.session import get_spark

    yield get_spark(master="local[4]", shuffle_partitions=8, app_name="pytest-ret")


@pytest.fixture(scope="module")
def graph(spark):
    nodes = spark.createDataFrame(
        [
            ("Ada Lovelace", "PERSON", "pioneer", ["Ada"]),
            ("Analytical Engine", "TECH", "machine", []),
            ("Charles Babbage", "PERSON", "inventor", []),
            ("Zurich Office", "ORG", "site", []),
        ],
        "name string, label string, description string, aliases array<string>",
    )
    edges = spark.createDataFrame(
        [
            ("Ada Lovelace", "worked on", "Analytical Engine", "", []),
            ("Charles Babbage", "designed", "Analytical Engine", "", []),
            ("Zurich Office", "hosts", "Archive", "", []),
            ("Ada Lovelace", "#imagedepicts", "images/ada.png", "", []),
        ],
        "source string, label string, target string, description string, "
        "references array<string>",
    )
    images = spark.createDataFrame(
        [("images/ada.png", "Ada Lovelace portrait", ["a daguerreotype"])],
        "path string, caption string, texts array<string>",
    )
    return nodes, edges, images


def test_search_eris_composition(graph):
    nodes, edges, images = graph
    res = search_eris(
        nodes, edges, images, ["Ada Lovelace"], max_num=1, similarity_threshold=50
    )

    seeds = [r.name for r in res["seed_entities"].orderBy("rank").collect()]
    assert seeds[0] == "Ada Lovelace"

    related = {r.name for r in res["related_entities"].collect()}
    assert "Analytical Engine" in related
    assert "Ada Lovelace" not in related  # seeds subtracted (search.py:309-310)
    assert "Zurich Office" not in related  # disconnected

    trips = {(r.source, r.target) for r in res["related_edges"].collect()}
    assert ("Ada Lovelace", "Analytical Engine") in trips
    assert ("Zurich Office", "Archive") not in trips

    imgs = [r.path for r in res["seed_images"].collect()]
    assert imgs == ["images/ada.png"]
    img_edges = {(r.source, r.target) for r in res["image_edges"].collect()}
    assert ("Ada Lovelace", "images/ada.png") in img_edges


def test_search_eris_2hop(graph):
    nodes, edges, images = graph
    res = search_eris(nodes, edges, images, ["Ada"], max_num=1, hop=2)
    related = {r.name for r in res["related_entities"].collect()}
    # hop1: Analytical Engine; hop2: Charles Babbage via the engine
    assert {"Analytical Engine", "Charles Babbage"} <= related


def test_assemble_context(graph):
    from mmkg_rag_spark.operators.retrieval import assemble_context

    nodes, edges, images = graph
    res = search_eris(
        nodes, edges, images, ["Ada Lovelace"], max_num=1, similarity_threshold=50
    )
    ctx = assemble_context(
        res["seed_entities"], res["related_entities"], res["related_edges"], nodes
    )
    assert "- Ada Lovelace, ['Ada'], pioneer" in ctx
    assert "- Ada Lovelace, Analytical Engine, worked on," in ctx
    assert ctx.index("Entities:") < ctx.index("Relations:")
    assert "Zurich Office" not in ctx  # disconnected entity excluded


def test_khop_large_frontier_unhinted_path(spark, monkeypatch):
    """VERDICT r1 #3: frontiers above the broadcast threshold fall back to an
    unhinted join; both physical paths must agree on a graph whose hop-1
    frontier is large (star: one seed fans out to 500 neighbors, each with a
    hop-2 pendant)."""
    from mmkg_rag_spark.operators.retrieval import khop_neighbors

    rows = []
    for i in range(500):
        rows.append(("hub", f"n{i}"))
        rows.append((f"n{i}", f"leaf{i}"))
    edges = spark.createDataFrame(rows, "source string, target string")
    seeds = spark.createDataFrame([("hub",)], "name string")

    broad = khop_neighbors(edges, seeds, hops=2)
    monkeypatch.setattr(retrieval, "BROADCAST_FRONTIER_MAX", 10)
    forced = khop_neighbors(edges, seeds, hops=2)
    b = {(r.name, r.hop) for r in broad.collect()}
    f = {(r.name, r.hop) for r in forced.collect()}
    assert f == b
    assert ("n7", 1) in b and ("leaf7", 2) in b and ("hub", 0) in b
    assert len(b) == 1001


# ---------------------------------------------------------------------------
# Driver path vs Spark plan
# ---------------------------------------------------------------------------

@contextmanager
def _spark_plan():
    """Turn the driver path off (``DRIVER_MAX_BYTES`` −1), restoring it."""
    old = retrieval.DRIVER_MAX_BYTES
    retrieval.DRIVER_MAX_BYTES = -1
    try:
        yield
    finally:
        retrieval.DRIVER_MAX_BYTES = old


def _rows(res) -> dict:
    return {
        k: (v.schema, sorted((tuple(r) for r in v.collect()), key=repr))
        for k, v in res.items()
    }


def _assert_parity(nodes, edges, images, cases):
    """Both paths return the same rows and schemas for every frame of every
    ``(keywords, kwargs)`` case."""
    assert retrieval._fits_driver(nodes, edges, images)
    driver = []
    for keywords, kw in cases:
        res = search_eris(nodes, edges, images, keywords, **kw)
        assert all(
            v._jdf.queryExecution().analyzed().getClass().getSimpleName()
            == "LocalRelation"
            for v in res.values()
        )
        driver.append(_rows(res))
    # each Spark-plan call is ~23 small jobs, mostly scheduling latency:
    # run them all at once
    with _spark_plan(), ThreadPoolExecutor(len(cases)) as pool:
        assert not retrieval._fits_driver(nodes, edges, images)
        plan = pool.map(
            lambda c: _rows(search_eris(nodes, edges, images, c[0], **c[1])), cases)
        for case, d, p in zip(cases, driver, plan):
            assert d == p, case
    return driver


PLANTED_NODES = [
    ("Ada Lovelace", "PERSON", "pioneer", ["Ada", "Countess of Lovelace"]),
    ("Charles Babbage", "PERSON", "inventor", ["Babbage"]),
    ("Analytical Engine", "TECH", "machine", []),
    ("Difference Engine", "TECH", "calculator", ["Engine No. 2"]),
    ("Alan Turing", "PERSON", "codebreaker", ["Turing"]),
    ("Bletchley Park", "LOC", "estate", []),
    ("Enigma Machine", "TECH", "cipher", ["Enigma"]),
    ("Grace Hopper", "PERSON", "admiral", ["Amazing Grace", None]),
    ("COBOL", "TECH", "language", None),
    ("Lovelace Society", "ORG", "club", ["Ada"]),
    ("Zurich Office", "ORG", "site", []),
    (None, "PERSON", "unnamed", ["Ada"]),  # no id: never a seed
]
PLANTED_EDGES = [
    ("Ada Lovelace", "worked on", "Analytical Engine", "notes", ["p1"]),
    ("Charles Babbage", "designed", "Analytical Engine", "", []),
    ("Charles Babbage", "designed", "Difference Engine", "", []),
    ("Charles Babbage", "designed", "Difference Engine", "", []),  # duplicate
    ("Alan Turing", "worked at", "Bletchley Park", "", ["p2"]),
    ("Alan Turing", "broke", "Enigma Machine", "", []),
    ("Alan Turing", "read", "Ada Lovelace", "", []),
    ("Grace Hopper", "created", "COBOL", "", []),
    ("Lovelace Society", "honours", "Ada Lovelace", "", []),
    ("Zurich Office", "hosts", "Archive", "", []),
    ("Zurich Office", None, "Ada Lovelace", "", []),  # no label: no edge kind
    ("Bletchley Park", "houses", None, "", []),  # no target: links nothing
    ("Ada Lovelace", "#imagedepicts", "images/ada.png", "", []),
    ("Alan Turing", "#imagedepicts", "images/bombe.png", "", []),
    ("Enigma Machine", "#imageshows", "images/bombe.png", "", []),
]
PLANTED_IMAGES = [
    ("images/ada.png", "Ada Lovelace portrait", ["a daguerreotype", "Ada"]),
    ("images/bombe.png", "The Bombe at Bletchley", None),
    ("images/cobol.png", "COBOL manual cover", ["Grace Hopper"]),
    ("images/rotor.png", None, ["Enigma rotor"]),  # matched on its texts only
    (None, "Enigma", None),  # no id: never a seed
]
# exact names, aliases, case changes, misspellings, partial and
# multi-token queries, and one that matches nothing; grouped, one
# search_eris call per group, to bound the Spark-plan calls
KEYWORD_GROUPS = [
    ["Ada Lovlace", "Charles Babage", "quantum gravity", "Alan Turring", "Engine"],
    ["ada lovelace", "Bletchly Park", "Countess", "Engine No 2", "COBOL manual"],
    ["Analytic Engin", "Zurich", "Grace Hoper", "Enigma", "Lovelace"],
    ["Babbage", "Difference Engine", "Bombe", "Amazing Grace", "portrait of Ada",
     "Turing Enigma", "rotor"],
]


@pytest.fixture(scope="module")
def planted(spark, tmp_path_factory):
    """The planted graph as parquet scans (in-memory frames are RDD-backed
    and sized at defaultSizeInBytes, so they never take the driver path)."""
    root = tmp_path_factory.mktemp("planted")
    frames = {
        "nodes": spark.createDataFrame(
            PLANTED_NODES,
            "name string, label string, description string, aliases array<string>"),
        "edges": spark.createDataFrame(
            PLANTED_EDGES,
            "source string, label string, target string, description string, "
            "references array<string>"),
        "images": spark.createDataFrame(
            PLANTED_IMAGES, "path string, caption string, texts array<string>"),
    }
    for name, df in frames.items():
        df.write.parquet(str(root / name))
    return tuple(spark.read.parquet(str(root / n)) for n in ("nodes", "edges", "images"))


def test_driver_path_matches_spark_plan(planted):
    combos = [dict(hop=1, max_num=1), dict(hop=2, max_num=3),
              dict(hop=1, max_num=3), dict(hop=2, max_num=1)]
    cases = list(zip(KEYWORD_GROUPS, combos))
    cases += [(["Ada Lovelace"], dict(max_num=1, similarity_threshold=50)), ([], {})]
    _assert_parity(*planted, cases)


def test_driver_path_counts_scored_pairs(planted):
    nodes, edges, images = planted
    keywords = ["Ada Lovelace", "Enigma"]

    def driver_pairs():
        return metrics._PAIR_SITES.get("fuzzy_search", {}).get("driver_pairs", 0)

    before = driver_pairs()
    search_eris(nodes, edges, images, keywords)
    def n_fields(i, head, rest):
        return 0 if i is None else len({head, *(rest or [])} - {None})

    fields = sum(n_fields(n[0], n[0], n[3]) for n in PLANTED_NODES) + sum(
        n_fields(*i) for i in PLANTED_IMAGES)
    assert driver_pairs() - before == len(keywords) * fields
    assert metrics.similarity_throughput()["fuzzy_search"]["pairs"] >= len(keywords) * fields


def test_spark_round_matches_spark(spark):
    from mmkg_rag_spark.operators.retrieval import spark_round

    # exact binary halves (k/128·100) and ratios token_ratio really yields
    values = [100 * k / 128 for k in range(129)] + [
        100 * (1 - d / t) for t in range(1, 40) for d in range(t + 1)]
    df = spark.createDataFrame([(v,) for v in values], "x double")
    got = [r.r for r in df.select(F.round("x", 4).alias("r")).collect()]
    assert [spark_round(v) for v in values] == got
    assert spark_round(10.15625) == 10.1563 != round(10.15625, 4)


def test_build_kg_graph_parity(spark, tmp_path_factory):
    """A build_kg graph of generated pages, on its own names and
    misspellings of them."""
    from mmkg_rag_spark.pipeline import build_kg
    from mmkg_rag_spark.sinks import write_graph
    from mmkg_rag_spark.sources.catalog import ParquetCatalog
    from mmkg_rag_spark.sources.pages import gen_pages_df, image_manifest

    cat = ParquetCatalog(spark, str(tmp_path_factory.mktemp("kg")))
    manifest = spark.createDataFrame([(p,) for p in image_manifest()], "path string")
    r = build_kg(spark, gen_pages_df(spark, 12), manifest)
    write_graph(cat, r.nodes, r.all_edges, "kg", r.images)
    graph = cat.read("nodes"), cat.read("edges"), cat.read("images")
    names = sorted(row.name for row in graph[0].select("name").collect())
    _assert_parity(*graph, [
        (["Hedy Lamarr", *names[:3]], dict(hop=1, max_num=3)),
        ([n[:-2] + n[-1] for n in names[3:6]], dict(hop=2, max_num=1)),
    ])


def test_driver_path_reads_current_files(spark, tmp_path):
    """The index is rebuilt per query from one collect per frame, so a
    snapshot re-committed under the same input fingerprint, or a parquet
    file overwritten in place under the same name, is answered from its
    new contents."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from mmkg_rag_spark.sinks import write_graph
    from mmkg_rag_spark.sources.catalog import ParquetCatalog

    cat = ParquetCatalog(spark, str(tmp_path / "wh"))
    node_schema = "name string, label string, description string, aliases array<string>"
    edge_schema = ("source string, label string, target string, description string, "
                   "references array<string>")
    images = spark.createDataFrame(PLANTED_IMAGES, "path string, caption string, texts array<string>")
    sc = spark.sparkContext
    groups = iter(range(100))

    def seeds(*reads):
        """Seed names of one query, and the Spark jobs it ran."""
        frames = [read() for read in reads]  # may infer a schema: a job
        group = f"fresh-probe-{next(groups)}"
        sc.setJobGroup(group, "query")
        try:
            res = search_eris(*frames, ["Grace Hopper"], max_num=1, similarity_threshold=90)
            names = [r.name for r in res["seed_entities"].collect()]
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return names, len(sc.statusTracker().getJobIdsForGroup(group))

    def commit(nodes):
        write_graph(cat, spark.createDataFrame(nodes, node_schema),
                    spark.createDataFrame(PLANTED_EDGES[:3], edge_schema), "same-input",
                    images)

    graph = (lambda: cat.read("nodes"), lambda: cat.read("edges"), lambda: cat.read("images"))
    commit(PLANTED_NODES[:4])
    assert seeds(*graph) == ([], 3)
    commit(PLANTED_NODES)
    assert seeds(*graph) == (["Grace Hopper"], 3)

    part = tmp_path / "nodes" / "part-0.parquet"
    part.parent.mkdir()
    rows = [dict(zip(("name", "aliases"), (n[0], n[3]))) for n in PLANTED_NODES[:4]]
    pq.write_table(pa.Table.from_pylist(rows), part)
    scan = (lambda: spark.read.parquet(str(part.parent)), graph[1], graph[2])
    assert seeds(*scan) == ([], 3)
    pq.write_table(pa.Table.from_pylist(rows + [{"name": "Grace Hopper", "aliases": []}]), part)
    assert seeds(*scan) == (["Grace Hopper"], 3)
