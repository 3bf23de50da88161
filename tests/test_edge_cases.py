"""Edge-case robustness (FIXTURES.md §A): empty text, no mentions, empty corpus."""

from __future__ import annotations

import pytest

from mmkg_rag_spark.pipeline import build_kg, degree_summary


@pytest.fixture(scope="module")
def spark():
    from mmkg_rag_spark.session import get_spark

    yield get_spark(master="local[4]", shuffle_partitions=8, app_name="pytest-edge")


def _pages(spark, rows):
    return spark.createDataFrame(rows, "url string, text string")


def test_empty_and_mentionless_pages(spark):
    pages = _pages(
        spark,
        [
            ("u-empty", ""),
            ("u-plain", "No markup here, just prose without any planted mentions."),
            ("u-ent", "**Ada Lovelace** is a person that pioneered computing."),
        ],
    )
    manifest = spark.createDataFrame([("images/x.png",)], "path string")
    res = build_kg(spark, pages, manifest, use_html=False)
    nodes = res.nodes.collect()
    assert {n.name for n in nodes} == {"Ada Lovelace"}
    assert res.all_edges.count() == 0
    deg = degree_summary(res).collect()
    assert [(d.name, d.degree) for d in deg] == [("Ada Lovelace", 0)]


def test_fully_empty_corpus(spark):
    pages = _pages(spark, []).filter("url is not null")
    manifest = spark.createDataFrame([], "path string")
    res = build_kg(spark, pages, manifest, use_html=False)
    assert res.nodes.count() == 0
    assert res.all_edges.count() == 0


def test_reference_completion_roundtrip(spark):
    """E7: refs shaped 'start...end' complete to the shortest chunk substring."""
    text = (
        "**Grace Hopper** (also known as Grace) is a person that "
        "invented compilers. The long sentence about compilers ends here."
    )
    pages = _pages(spark, [("u1", text)])
    manifest = spark.createDataFrame([], "path string")
    res = build_kg(spark, pages, manifest, use_html=False)
    rows = res.nodes.collect()
    assert len(rows) == 1
    refs = rows[0].references
    assert refs and all("..." not in r for r in refs)


def test_decontaminate_empty_benchmark(spark):
    from mmkg_rag_spark.operators.curation import decontaminate

    docs = spark.createDataFrame(
        [(1, "some words repeated over and over again")], "doc_id long, text string"
    )
    empty = spark.createDataFrame([], "doc_id long, text string")
    assert decontaminate(docs, empty, n=3).count() == 0


def test_khop_empty_seeds(spark):
    from mmkg_rag_spark.operators.retrieval import khop_neighbors

    edges = spark.createDataFrame([("a", "b")], "source string, target string")
    seeds = spark.createDataFrame([], "name string")
    assert khop_neighbors(edges, seeds, hops=2).count() == 0


def test_assign_shards_empty_and_single(spark):
    from mmkg_rag_spark.operators.curation import assign_shards

    empty = spark.createDataFrame([], "doc_id long, text string")
    assert assign_shards(empty).count() == 0
    one = spark.createDataFrame([(5, "a b c")], "doc_id long, text string")
    row = assign_shards(one, shard_tokens=10).collect()[0]
    assert (row.doc_id, row.n_tokens, row.shard_id) == (5, 3, 0)
