"""Incremental D8 semantics + W1/W2 sinks.

Gate: indexing the corpus in two batches through incremental_canonicalize
must produce the same canonical graph as one full build (CC is
order-independent and the deterministic merges are associative). This is the
Spark analogue of the reference's incremental pickles (pipe.py:85-87).
"""

from __future__ import annotations


import pytest
from pyspark.sql import functions as F

from mmkg_rag_spark.operators.dedup import canonicalize_entities, remap_and_merge_relations
from mmkg_rag_spark.operators.extract import chunk_pages, extract_mentions, split_mentions
from mmkg_rag_spark.operators.incremental import incremental_canonicalize
from mmkg_rag_spark.sources.pages import gen_pages_df


@pytest.fixture(scope="module")
def spark():
    from mmkg_rag_spark.session import get_spark

    yield get_spark(master="local[4]", shuffle_partitions=8, app_name="pytest-inc")


def _mentions(spark, lo, hi):
    pages = gen_pages_df(spark, hi).filter(
        F.regexp_extract("url", r"/doc/(\d+)$", 1).cast("int") >= lo
    )
    m = extract_mentions(chunk_pages(pages.select("url", "text"))).cache()
    return split_mentions(m)

def _node_set(nodes):
    return {
        (r.name, r.label, r.description, tuple(r.aliases or []))
        for r in nodes.collect()
    }


def _edge_set(edges):
    return {
        (r.source, r.label, r.target, r.description, tuple(r.references or []))
        for r in edges.collect()
    }


def test_incremental_equals_full_build(spark):
    em_all, rm_all = _mentions(spark, 0, 80)
    nodes_full, mapping = canonicalize_entities(em_all)
    edges_full = remap_and_merge_relations(rm_all, mapping)

    em1, rm1 = _mentions(spark, 0, 40)
    n1, _, e1 = incremental_canonicalize(em1, rm1)
    em2, rm2 = _mentions(spark, 40, 80)
    n2, _, e2 = incremental_canonicalize(em2, rm2, prior_nodes=n1, prior_edges=e1)

    assert _node_set(n2) == _node_set(nodes_full)
    assert _edge_set(e2) == _edge_set(edges_full)


def test_incremental_bridging_merge(spark):
    """A later batch's alias can merge two previously-distinct entities."""
    schema = (
        "url string, chunk_id int, name string, label string, description string, "
        "aliases array<string>, references array<string>"
    )
    b1 = spark.createDataFrame(
        [
            ("u1", 1, "IBM", "ORG", "tech company", [], []),
            ("u2", 1, "International Business Machines", "ORG", "hardware maker", [], []),
        ],
        schema,
    )
    rm_empty = spark.createDataFrame(
        [], "url string, chunk_id int, source string, label string, target string, "
        "description string, references array<string>"
    )
    n1, _, e1 = incremental_canonicalize(b1, rm_empty)
    assert n1.count() == 2  # nothing links them yet

    b2 = spark.createDataFrame(
        [("u3", 1, "International Business Machines", "ORG", "hardware maker",
          ["IBM"], [])],
        schema,
    )
    n2, mapping2, _ = incremental_canonicalize(b2, rm_empty, prior_nodes=n1, prior_edges=e1)
    names = {r.name for r in n2.collect()}
    assert names == {"International Business Machines"}
    assert ("IBM", "International Business Machines") in {
        (r.member, r.canonical) for r in mapping2.collect()
    }


def test_write_graph_failed_write_commits_nothing(spark, tmp_path):
    """write_graph lands every table's data before any manifest: when the
    images write raises, no table's latest snapshot changes."""
    from mmkg_rag_spark.sinks import write_graph
    from mmkg_rag_spark.sources.catalog import ParquetCatalog

    em, rm = _mentions(spark, 0, 10)
    nodes, mapping = canonicalize_entities(em)
    edges = remap_and_merge_relations(rm, mapping)
    images = spark.createDataFrame([("a.png", "cap")], "path string, caption string")

    cat = ParquetCatalog(spark, str(tmp_path / "wh"))
    write_graph(cat, nodes, edges, "first", images)
    tables = ("nodes", "edges", "images")
    before = {t: cat.snapshots(t) for t in tables}

    failing = images.withColumn(
        "caption", F.raise_error(F.lit("images write failed")).cast("string")
    )
    with pytest.raises(Exception, match="images write failed"):
        write_graph(cat, nodes, edges, "second", failing)
    assert {t: cat.snapshots(t) for t in tables} == before


def test_sinks_roundtrip_and_eris_schema(spark, tmp_path):
    from mmkg_rag_spark.sinks import write_graph
    from mmkg_rag_spark.sources.catalog import ParquetCatalog

    em, rm = _mentions(spark, 0, 20)
    nodes, mapping = canonicalize_entities(em)
    edges = remap_and_merge_relations(rm, mapping)

    cat = ParquetCatalog(spark, str(tmp_path / "wh"))
    snaps = write_graph(cat, nodes, edges, input_fp="test")
    assert cat.read("nodes", snaps["nodes"]).count() == nodes.count()
    # sorted write: first row is the lexicographically smallest name
    first = cat.read("nodes", snaps["nodes"]).limit(1).collect()[0].name
    assert first == min(r.name for r in nodes.collect())


def test_streaming_commit_crash_idempotence(spark, tmp_path):
    """A crash between the nodes and edges manifest commits must NOT make
    the replayed batch skip (ADVICE r1: the lost-edges window). Torn state
    is simulated by committing a real batch, then deleting its edges
    manifest entry — exactly what a crash after the nodes commit leaves."""
    from mmkg_rag_spark.sources.catalog import ParquetCatalog, fingerprint
    from mmkg_rag_spark.streaming import process_pages_batch

    all_pages = gen_pages_df(spark, 8).select("url", "text").cache()
    urls = [r.url for r in all_pages.select("url").distinct().orderBy("url").collect()]
    half = set(urls[: len(urls) // 2])
    pages0 = all_pages.filter(F.col("url").isin(half))
    pages1 = all_pages.filter(~F.col("url").isin(half))

    # control: two clean batches
    ctl = ParquetCatalog(spark, str(tmp_path / "wh_ctl"))
    outs = [
        process_pages_batch(spark, ctl, pages0, batch_id=0),
        process_pages_batch(spark, ctl, pages1, batch_id=1),
    ]

    # each fold's lineage rows: one per non-empty data file, under the file
    # URI a scan reports, summing to the committed snapshot's rows and to
    # the counts the fold returned
    from mmkg_rag_spark.metrics import read_metrics

    lineage = read_metrics(spark, ctl.warehouse).collect()
    for batch_id, out in enumerate(outs):
        snap = fingerprint("stream-batch", batch_id, 8000, 400, 1)
        for table in ("nodes", "edges"):
            got = [
                r for r in lineage
                if r.stage == f"stream-{table}" and r.snapshot == snap
            ]
            assert {r.input_snapshot for r in got} == {f"batch-{batch_id}"}
            scan = {
                r.file: r.rows
                for r in ctl.read(table, snap)
                .groupBy(F.input_file_name().alias("file"))
                .agg(F.count(F.lit(1)).alias("rows"))
                .collect()
            }
            assert {r.file: r.rows for r in got} == scan
            assert sum(scan.values()) == out[table] > 0

    # torn run: batch 1's edges manifest entry is removed post-commit
    torn = ParquetCatalog(spark, str(tmp_path / "wh_torn"))
    process_pages_batch(spark, torn, pages0, batch_id=0)
    process_pages_batch(spark, torn, pages1, batch_id=1)
    snap1 = fingerprint("stream-batch", 1, 8000, 400, 1)
    manifest = [s for s in torn._load_manifest("edges") if s["id"] != snap1]
    torn._save_manifest("edges", manifest)
    assert torn.has_snapshot("nodes", snap1) and not torn.has_snapshot("edges", snap1)

    out = process_pages_batch(spark, torn, pages1, batch_id=1)  # replay
    assert out["skipped"] == 0  # recomputed, NOT skipped
    assert torn.has_snapshot("edges", snap1)

    def rows(cat, table):
        return {
            tuple(r) for r in cat.read(table).select("source", "label", "target").collect()
        } if table == "edges" else {
            tuple(r) for r in cat.read(table).select("name", "label").collect()
        }

    assert rows(torn, "edges") == rows(ctl, "edges") and len(rows(ctl, "edges")) > 0
    assert rows(torn, "nodes") == rows(ctl, "nodes")

    # an injected extractor folds through the same extraction pass and
    # commits the same nodes and edges, every column, as the default
    from mmkg_rag_spark.llm import MockExtractor

    mock = ParquetCatalog(spark, str(tmp_path / "wh_mock"))
    for batch_id, batch in enumerate((pages0, pages1)):
        process_pages_batch(
            spark, mock, batch, batch_id=batch_id, extractor_factory=MockExtractor
        )

    def full_rows(cat, table):
        return sorted(
            (
                tuple(tuple(v) if isinstance(v, list) else v for v in r)
                for r in cat.read(table).collect()
            ),
            key=repr,
        )

    for table in ("nodes", "edges"):
        assert full_rows(mock, table) == full_rows(ctl, table), table
