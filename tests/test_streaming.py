"""Continuous construction: streamed batches == one batch build."""

from __future__ import annotations

import datetime as dt
import random

import pytest
from pyspark.sql import functions as F

from mmkg_rag_spark.functions import qsketch
from mmkg_rag_spark.functions.timeops import ntz_epoch, ntz_from_epoch
from mmkg_rag_spark.operators.dedup import canonicalize_entities, remap_and_merge_relations
from mmkg_rag_spark.operators.extract import (
    chunk_pages,
    extract_mentions,
    split_mentions,
)
from mmkg_rag_spark.sources.catalog import ParquetCatalog
from mmkg_rag_spark.sources.pages import gen_pages_df
from mmkg_rag_spark.streaming import stream_build


@pytest.fixture(scope="module")
def spark():
    from mmkg_rag_spark.session import get_spark

    yield get_spark(master="local[4]", shuffle_partitions=8, app_name="pytest-str")


N = 40


def test_stream_equals_batch(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("stream")
    in_dir, wh, ckpt = str(root / "in"), str(root / "wh"), str(root / "ckpt")

    pages = gen_pages_df(spark, N).cache()
    # land the corpus as several files → several micro-batches
    pages.repartition(8).write.mode("overwrite").parquet(in_dir)

    q = stream_build(spark, in_dir, wh, ckpt, available_now=True,
                     max_files_per_trigger=3)
    q.awaitTermination(300)

    cat = ParquetCatalog(spark, wh)
    got_nodes = {
        (r.name, r.label) for r in cat.read("nodes").collect()
    }
    got_edges = {
        (r.source, r.label, r.target) for r in cat.read("edges").collect()
    }

    em, rm = split_mentions(extract_mentions(chunk_pages(pages.select("url", "text"))))
    nodes_b, mapping = canonicalize_entities(em)
    edges_b = remap_and_merge_relations(rm, mapping)
    want_nodes = {(r.name, r.label) for r in nodes_b.collect()}
    want_edges = {(r.source, r.label, r.target) for r in edges_b.collect()}

    assert got_nodes == want_nodes
    assert got_edges == want_edges
    # restart with nothing new → no further snapshots
    n_before = cat.entry()["seq"]
    q2 = stream_build(spark, in_dir, wh, ckpt, available_now=True)
    q2.awaitTermination(120)
    assert cat.entry()["seq"] == n_before


def test_fresh_checkpoint_on_used_warehouse_raises(spark, tmp_path_factory):
    """A second stream (its own checkpoint and pages) into a warehouse an
    earlier stream folded into restarts at batch 0, whose snapshot id the
    first stream committed: the fold must raise, not skip the new pages."""
    root = tmp_path_factory.mktemp("stream-ids")
    wh = str(root / "wh")
    pages = gen_pages_df(spark, 16).cache()
    urls = sorted(r.url for r in pages.select("url").distinct().collect())
    firsts = pages.filter(F.col("url").isin(urls[: len(urls) // 2]))
    seconds = pages.filter(~F.col("url").isin(urls[: len(urls) // 2]))
    for name, part in (("a", firsts), ("b", seconds)):
        part.write.parquet(str(root / f"in_{name}"))

    q = stream_build(spark, str(root / "in_a"), wh, str(root / "ckpt_a"))
    q.awaitTermination(300)
    cat = ParquetCatalog(spark, wh)
    committed = list(cat._entries())

    q2 = stream_build(spark, str(root / "in_b"), wh, str(root / "ckpt_b"))
    with pytest.raises(Exception, match="already committed by query"):
        q2.awaitTermination(300)
    assert list(cat._entries()) == committed
    assert committed and all(s["query_id"] == str(q.id) for s in committed)


def test_stream_build_from_warc_equals_batch(spark, tmp_path_factory):
    """source='warc': continuous KG construction straight off a crawl-archive
    landing dir matches the batch build over the same archives."""
    from mmkg_rag_spark.sources import warc
    from mmkg_rag_spark.sources.pages import gen_pages_local

    root = tmp_path_factory.mktemp("stream-warc")
    in_dir = root / "in"
    in_dir.mkdir()
    wh, ckpt = str(root / "wh"), str(root / "ckpt")
    rows = gen_pages_local(24)
    (in_dir / "a.warc.gz").write_bytes(warc.write_warc(rows[:12]))
    (in_dir / "b.warc.gz").write_bytes(warc.write_warc(rows[12:]))

    q = stream_build(spark, str(in_dir), wh, ckpt, available_now=True,
                     max_files_per_trigger=1, source="warc")
    q.awaitTermination(300)

    cat = ParquetCatalog(spark, wh)
    got_nodes = {(r.name, r.label) for r in cat.read("nodes").collect()}
    got_edges = {(r.source, r.label, r.target) for r in cat.read("edges").collect()}

    pages = warc.read_warc(
        spark, [str(in_dir / "a.warc.gz"), str(in_dir / "b.warc.gz")]
    )
    em, rm = split_mentions(extract_mentions(chunk_pages(pages.select("url", "text"))))
    nodes_b, mapping = canonicalize_entities(em)
    edges_b = remap_and_merge_relations(rm, mapping)
    assert got_nodes == {(r.name, r.label) for r in nodes_b.collect()}
    assert got_edges == {(r.source, r.label, r.target) for r in edges_b.collect()}


# Per-batch state the stream side relies on: NTZ epochs that no session zone
# shifts, and quantile registers that merge across micro-batches by addition.


def test_sessionize_tz_proof(spark):
    """Wall-clock times straddling the 2024-03-10 US spring-forward gap
    (02:00→03:00 local does not exist in America/New_York): epochs and
    their inverse are identical under UTC and New York, and the gaps are
    the wall-clock ones (unix_timestamp would shift them an hour)."""
    times = [
        dt.datetime(2024, 3, 10, 1, 0, 0),
        dt.datetime(2024, 3, 10, 1, 20, 0),
        dt.datetime(2024, 3, 10, 2, 30, 0),
        dt.datetime(2024, 3, 10, 3, 0, 0),
    ]
    df = spark.createDataFrame([(t,) for t in times], "ts timestamp_ntz")

    def run(tz):
        old = spark.conf.get("spark.sql.session.timeZone")
        spark.conf.set("spark.sql.session.timeZone", tz)
        try:
            rows = df.select(
                ntz_epoch("ts").alias("ep"),
                ntz_from_epoch(ntz_epoch("ts")).alias("back"),
            ).collect()
        finally:
            spark.conf.set("spark.sql.session.timeZone", old)
        return [(r.ep, r.back) for r in rows]

    got_utc = run("UTC")
    assert run("America/New_York") == got_utc
    epoch0 = dt.datetime(1970, 1, 1)
    assert got_utc == [(int((t - epoch0).total_seconds()), t) for t in times]
    eps = [ep for ep, _ in got_utc]
    assert [b - a for a, b in zip(eps, eps[1:])] == [1200, 4200, 1800]


def test_quantile_sketch_registers_match_batch(spark):
    """Registers of disjoint shards summed == registers of the union, and
    the quantiles read off both are identical (also after merging every
    group's registers into one)."""
    rng = random.Random(11)
    rows = [
        (i, rng.choice(["click", "view", "buy"]), round(rng.uniform(0, 40), 3))
        for i in range(600)
    ]
    events = spark.createDataFrame(rows, "id long, event_type string, value double")
    whole = qsketch.histogram(events)
    shards = [events.filter(F.col("id") % 3 == k) for k in range(3)]
    partial = qsketch.histogram(shards[0])
    for s in shards[1:]:
        partial = partial.unionByName(qsketch.histogram(s))
    merged = partial.groupBy("event_type", "b").agg(F.sum("cnt").alias("cnt"))

    def regs(h):
        return {(r.event_type, r.b): r.cnt for r in h.collect()}

    assert regs(merged) == regs(whole) and len(regs(whole)) > 3

    def quantiles(h):
        return {
            r.event_type: (r.n_events, r.p50, r.p90, r.p99)
            for r in qsketch.quantiles_from_registers(h).collect()
        }

    q = quantiles(whole)
    assert quantiles(merged) == q
    assert {k: v[0] for k, v in q.items()} == {
        t: sum(1 for _, et, _ in rows if et == t) for t in ("click", "view", "buy")
    }
    assert quantiles(qsketch.merge_registers(merged)) == quantiles(
        qsketch.merge_registers(whole)
    )
    assert quantiles(qsketch.merge_registers(whole))["__all__"][0] == len(rows)
