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
    assert cat.has_snapshot("t", "snapA")
    # the compacted snapshot is the latest committed
    latest = max(
        cat.snapshots("t"), key=lambda s: (s.get("seq", 0), s["ts"])
    )
    assert latest["id"] == stats["snapshot"]
    assert latest["compacted_from"] == "snapA"


def test_compact_noop_when_already_compact(spark, tmp_path):
    cat = _cat(spark, tmp_path)
    cat.write(spark.range(100).coalesce(1), "t", "one")
    stats = cat.compact("t")
    assert stats["compacted"] is False
    assert stats["files_before"] == stats["files_after"] == 1
    # no new snapshot was committed
    assert [s["id"] for s in cat.snapshots("t")] == ["one"]


def test_compact_plan_is_narrow_no_shuffle(spark, tmp_path):
    """Compaction must plan as a coalesce (narrow), never a shuffle."""
    cat = _cat(spark, tmp_path)
    cat.write(spark.range(5_000).repartition(20), "t", "frag")
    entry = cat.snapshots("t")[0]
    df = spark.read.parquet(entry["path"]).coalesce(1)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "Coalesce" in plan


def test_read_uses_stored_schema_without_a_job(spark, tmp_path):
    """Snapshots written by write, write_all and compact store the schema
    their files read back as; read passes it on instead of inferring it
    (no job), and an entry without one still reads by inference."""
    import json

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
    cat.compact("t")
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

    for table, snap in [("t", "w1"), ("t", None), ("u", "w2"), ("v", "w2")]:
        entry = cat._entry(table, snap)
        inferred, n_inferred = jobs_during(lambda: spark.read.parquet(entry["path"]))
        stored, n_stored = jobs_during(lambda: cat.read(table, snap))
        assert n_inferred >= 1 and n_stored == 0, (table, snap)
        assert stored.schema == inferred.schema
        assert sorted(stored.collect()) == sorted(inferred.collect())

    # entries written before schemas were stored fall back to inference
    mpath = cat._manifest_path("u")
    with open(mpath) as f:
        manifest = json.load(f)
    for e in manifest:
        del e["schema"]
    with open(mpath, "w") as f:
        json.dump(manifest, f)
    legacy, n_legacy = jobs_during(lambda: cat.read("u"))
    assert n_legacy >= 1
    assert sorted(legacy.collect()) == sorted(df.collect())
