"""Incremental D8 semantics + W1/W2 sinks.

Gate: indexing the corpus in two batches through incremental_canonicalize
must produce the same canonical graph as one full build (CC is
order-independent and the deterministic merges are associative). This is the
Spark analogue of the reference's incremental pickles (pipe.py:85-87).
"""

from __future__ import annotations

import os

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


def _full_rows(df):
    return sorted(
        (tuple(tuple(v) if isinstance(v, list) else v for v in r) for r in df.collect()),
        key=repr,
    )


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
    """write_graph lands every table's data before its log entry: when the
    images write raises, nothing is committed."""
    from mmkg_rag_spark.sinks import write_graph
    from mmkg_rag_spark.sources.catalog import ParquetCatalog

    em, rm = _mentions(spark, 0, 10)
    nodes, mapping = canonicalize_entities(em)
    edges = remap_and_merge_relations(rm, mapping)
    images = spark.createDataFrame([("a.png", "cap")], "path string, caption string")

    cat = ParquetCatalog(spark, str(tmp_path / "wh"))
    write_graph(cat, nodes, edges, "first", images)
    before = list(cat._entries())

    failing = images.withColumn(
        "caption", F.raise_error(F.lit("images write failed")).cast("string")
    )
    with pytest.raises(Exception, match="images write failed"):
        write_graph(cat, nodes, edges, "second", failing)
    assert list(cat._entries()) == before and len(before) == 1


def test_sinks_roundtrip_and_eris_schema(spark, tmp_path):
    from mmkg_rag_spark.sinks import write_graph
    from mmkg_rag_spark.sources.catalog import ParquetCatalog

    em, rm = _mentions(spark, 0, 20)
    nodes, mapping = canonicalize_entities(em)
    edges = remap_and_merge_relations(rm, mapping)

    cat = ParquetCatalog(spark, str(tmp_path / "wh"))
    snaps = write_graph(cat, nodes, edges, input_fp="test")
    assert cat.read("nodes", snaps["nodes"]).count() == nodes.count()


def test_streaming_commit_crash_idempotence(spark, tmp_path, monkeypatch):
    """A crash between a fold's data write and its log entry leaves no
    entry, so the replayed batch recomputes instead of skipping. The crash
    is a hook that raises in place of publishing batch 1's entry."""
    from mmkg_rag_spark.sinks import graph_snapshot
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

    # each fold's lineage rows, written at commit: one per non-empty data
    # file, under the file URI a scan reports, summing to the committed
    # snapshot's rows and to the counts the fold returned
    from mmkg_rag_spark.metrics import read_metrics

    lineage = read_metrics(spark, ctl.warehouse).collect()
    for batch_id, out in enumerate(outs):
        batch_fp = fingerprint("stream-batch", batch_id, 8000, 400, 1)
        snap = graph_snapshot(batch_fp)
        for table in ("nodes", "edges"):
            got = [r for r in lineage if r.stage == table and r.snapshot == snap]
            assert {(r.input_snapshot, r.rows_in) for r in got} == {(batch_fp, -1)}
            scan = {
                r.file: r.rows
                for r in ctl.read(table, snap)
                .groupBy(F.input_file_name().alias("file"))
                .agg(F.count(F.lit(1)).alias("rows"))
                .collect()
            }
            assert {r.file: r.rows for r in got} == scan
            assert sum(scan.values()) == out[table] > 0

    # crashed run: batch 1's data lands, then the process dies before
    # its log entry is published
    crashed = ParquetCatalog(spark, str(tmp_path / "wh_crashed"))
    process_pages_batch(spark, crashed, pages0, batch_id=0)

    def crash(self, entry):
        raise OSError("crashed before the log entry")

    with monkeypatch.context() as m:
        m.setattr(ParquetCatalog, "_publish", crash)
        with pytest.raises(OSError, match="crashed before the log entry"):
            process_pages_batch(spark, crashed, pages1, batch_id=1)
    snap1 = graph_snapshot(fingerprint("stream-batch", 1, 8000, 400, 1))
    assert os.path.isdir(crashed.snapshot_dir("edges", snap1))
    assert not crashed.has_snapshot(snap1)

    out = process_pages_batch(spark, crashed, pages1, batch_id=1)  # replay
    assert out["skipped"] == 0  # recomputed, NOT skipped
    assert crashed.has_snapshot(snap1)

    for table in ("nodes", "edges"):
        assert _full_rows(crashed.read(table)) == _full_rows(ctl.read(table)), table

    # the fold forwards its extractor factory: a MockExtractor whose
    # descriptions carry a tag commits nodes that all carry it
    from mmkg_rag_spark.llm import MockExtractor

    class Tagged(MockExtractor):
        def index(self, texts):
            return [
                r.replace('"description": "', '"description": "tagged ')
                for r in super().index(texts)
            ]

    tagged = ParquetCatalog(spark, str(tmp_path / "wh_tagged"))
    process_pages_batch(spark, tagged, pages0, batch_id=0, extractor_factory=Tagged)
    nodes = tagged.read("nodes").collect()
    assert nodes and all("tagged " in r["description"] for r in nodes)


def test_reader_at_fold_snapshot_sees_one_graph(spark, tmp_path, monkeypatch):
    """A reader that resolved a fold's snapshot id reads that fold's nodes
    and edges and the build's images at it, after a later fold committed."""
    from mmkg_rag_spark.pipeline import build_kg
    from mmkg_rag_spark.sinks import write_graph
    from mmkg_rag_spark.sources.catalog import ParquetCatalog
    from mmkg_rag_spark.sources.pages import image_manifest
    from mmkg_rag_spark.streaming import process_pages_batch

    committed = []  # hook: the snapshot id of every commit, in order
    write_all = ParquetCatalog.write_all

    def spy(self, writes, snap, meta=None):
        out = write_all(self, writes, snap, meta)
        committed.append(snap)
        return out

    monkeypatch.setattr(ParquetCatalog, "write_all", spy)
    pages = gen_pages_df(spark, 12).cache()
    doc = F.regexp_extract("url", r"/doc/(\d+)$", 1).cast("int")
    manifest = spark.createDataFrame([(p,) for p in image_manifest()], "path string")
    r = build_kg(spark, pages.filter(doc < 6), manifest)
    cat = ParquetCatalog(spark, str(tmp_path / "wh"))
    write_graph(cat, r.nodes, r.all_edges, "build", r.images)
    images = _full_rows(cat.read("images"))
    assert images

    folds = [pages.filter(doc.between(lo, lo + 2)).select("url", "text") for lo in (6, 9)]
    process_pages_batch(spark, cat, folds[0], batch_id=0)
    snap = committed[-1]
    want = {t: _full_rows(cat.read(t)) for t in ("nodes", "edges")}
    process_pages_batch(spark, cat, folds[1], batch_id=1)
    assert committed[-1] != snap

    for table in ("nodes", "edges"):
        assert _full_rows(cat.read(table, snap)) == want[table], table
    assert _full_rows(cat.read("images", snap)) == images
