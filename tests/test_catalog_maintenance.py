"""Catalog maintenance: compaction (the rewrite_data_files analog), the
table-hygiene op a long-running pipeline needs between builds, and the
stored-schema read every snapshot gets.
"""

from __future__ import annotations


import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def spark():
    from mmkg_rag_spark.session import get_spark

    yield get_spark(
        master="local[4]", shuffle_partitions=8, app_name="pytest-maint"
    )


def _cat(spark, tmp):
    from mmkg_rag_spark.sources.catalog import ParquetCatalog

    return ParquetCatalog(spark, str(tmp))


def test_compact_reduces_files_data_identical(spark, tmp_path):
    cat = _cat(spark, tmp_path)
    df = spark.range(10_000).select(
        F.col("id"), (F.col("id") % 7).alias("k")
    )
    # fragmented write: 40 tiny files
    cat.write(df.repartition(40), "t", "snapA")
    before = cat._data_files(cat.snapshot_dir("t", "snapA"))
    assert len(before) == 40

    stats = cat.compact("t")  # KiB of data → 1 file
    assert stats["compacted"] is True
    assert stats["files_before"] == 40
    assert stats["files_after"] < 40

    # data identical (multiset) in the new snapshot
    new = cat.read("t")  # latest = the compacted snapshot
    assert new.count() == 10_000
    assert new.agg(F.sum("id"), F.sum("k")).collect() == df.agg(
        F.sum("id"), F.sum("k")
    ).collect()
    # time travel: the source snapshot is still readable and identical
    old = cat.read("t", "snapA")
    assert old.count() == 10_000
    assert cat.has_snapshot("snapA")
    # the compacted snapshot is the latest committed
    latest = cat.entry()
    assert latest["id"] == stats["snapshot"] and latest["seq"] == 2
    assert latest["meta"]["compacted_from"] == "snapA"


def test_compact_noop_when_already_compact(spark, tmp_path):
    cat = _cat(spark, tmp_path)
    cat.write(spark.range(100).coalesce(1), "t", "one")
    stats = cat.compact("t")
    assert stats["compacted"] is False
    assert stats["files_before"] == stats["files_after"] == 1
    # no new snapshot was committed
    assert [e["id"] for e in cat._entries()] == ["one"]


def test_compact_plan_is_narrow_no_shuffle(spark, tmp_path):
    """Compaction must plan as a coalesce (narrow), never a shuffle."""
    cat = _cat(spark, tmp_path)
    cat.write(spark.range(5_000).repartition(20), "t", "frag")
    df = spark.read.parquet(cat.snapshot_dir("t", "frag")).coalesce(1)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "Coalesce" in plan


def test_read_uses_stored_schema_without_a_job(spark, tmp_path):
    """Snapshots written by write, write_all and compact store the schema
    their files read back as; read passes it on instead of inferring it
    (no job)."""
    from pyspark.sql.types import (
        ArrayType, DoubleType, LongType, MapType, StringType, StructField, StructType)

    cat = _cat(spark, tmp_path)
    schema = StructType([
        StructField("name", StringType(), False),
        StructField("n", LongType()),
        StructField("tags", ArrayType(StringType(), False)),
        StructField("w", MapType(StringType(), DoubleType(), False)),
    ])
    df = spark.createDataFrame(
        [("a", 1, ["x", "y"], {"k": 1.0}), ("b", None, None, None)], schema)
    cat.write(df.repartition(3), "t", "w1")
    cat.write_all([(df, "u"), (df.select("name"), "v")], "w2")
    compacted = cat.compact("t")["snapshot"]
    sc = spark.sparkContext
    probes = iter(range(100))

    def jobs_during(fn):
        group = f"catalog-read-probe-{next(probes)}"
        sc.setJobGroup(group, "catalog read")
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    for table, snap, data in [
        ("t", "w1", "w1"), ("t", None, compacted), ("u", "w2", "w2"), ("v", "w2", "w2"),
    ]:
        path = cat.snapshot_dir(table, data)
        inferred, n_inferred = jobs_during(lambda: spark.read.parquet(path))
        stored, n_stored = jobs_during(lambda: cat.read(table, snap))
        assert n_inferred >= 1 and n_stored == 0, (table, snap)
        assert stored.schema == inferred.schema
        assert sorted(stored.collect()) == sorted(inferred.collect())


def test_log_race_loser_takes_next_seq(spark, tmp_path, monkeypatch):
    """Two writers race for one seq: a hook lets the other writer publish
    v2.json first; the loser re-lists, lands at v3, and both entries
    survive."""
    import os

    cat, other = _cat(spark, tmp_path), _cat(spark, tmp_path)
    cat.write(spark.range(3), "t", "a")
    real_link, raced = os.link, []

    def link(src, dst):
        if not raced:
            raced.append(os.path.basename(dst))
            other.write(spark.range(5), "u", "b")
        return real_link(src, dst)

    monkeypatch.setattr(os, "link", link)
    cat.write(spark.range(7), "t", "c")
    assert raced == ["v2.json"]
    assert [(e["id"], e["seq"]) for e in cat._entries()] == [("c", 3), ("b", 2), ("a", 1)]
    assert sorted(os.listdir(tmp_path / "_log")) == ["v1.json", "v2.json", "v3.json"]
    assert cat.read("t").count() == 7 and cat.read("u").count() == 5
    assert cat.read("t", "b").count() == 3  # t as of b is a's t


def test_per_table_manifest_warehouse_raises(spark, tmp_path):
    """A warehouse in the older per-table-manifest format raises on read
    and in a fold instead of reading as an empty graph."""
    import json

    from mmkg_rag_spark.sources.pages import gen_pages_df
    from mmkg_rag_spark.streaming import process_pages_batch

    for table in ("nodes", "edges"):
        (tmp_path / table).mkdir()
        (tmp_path / table / "manifest.json").write_text(
            json.dumps([{"id": "s", "seq": 1, "path": str(tmp_path / table)}])
        )
    cat = _cat(spark, tmp_path)
    with pytest.raises(RuntimeError, match="per-table manifest.json"):
        cat.read("nodes")
    with pytest.raises(RuntimeError, match="per-table manifest.json"):
        process_pages_batch(spark, cat, gen_pages_df(spark, 2), batch_id=0)
    assert not (tmp_path / "_log").exists()
