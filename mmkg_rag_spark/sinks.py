"""Materialization sink (SURVEY.md §2.5 W1).

``write_graph`` is the only graph commit: build callers, ``run.py``'s graph
stage and the fold (``streaming.process_pages_batch``) all commit sorted
nodes/edges(/images) through it as ONE catalog log entry (reference
pipe.py:98-100 global sorts + storage/index.py:50-58 pickle persistence,
re-expressed as sorted partitioned table snapshots; on Iceberg the sort
becomes the table's sortOrder). Those catalog tables are the graph's store:
build, fold and query read and write only them, so there is no ``eris.txt``
or Neo4j export.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .sources.catalog import ParquetCatalog, fingerprint


def graph_snapshot(input_fp: str) -> str:
    """The snapshot id ``write_graph`` commits the graph of ``input_fp`` as."""
    return fingerprint("graph", input_fp)


def write_graph(
    catalog: ParquetCatalog,
    nodes: DataFrame,
    edges: DataFrame,
    input_fp: str,
    images: DataFrame | None = None,
) -> dict[str, str]:
    """Sorted snapshot writes, committed as one log entry; returns table →
    snapshot id.

    ``ParquetCatalog.write_all`` lands every table's data before the entry,
    so a failed write commits nothing. Tables left out (a fold's images)
    keep their state at the previous entries. The entry's ``input`` meta
    names the lineage input; the catalog records the query id itself."""
    snap = graph_snapshot(input_fp)
    writes = [
        (nodes.orderBy("name"), "nodes"),
        # reference sorts relations by source+target concatenation (pipe.py:99-100)
        (edges.orderBy(F.concat_ws("", "source", "target")), "edges"),
    ]
    if images is not None:
        writes.append((images.orderBy("path"), "images"))
    catalog.write_all(writes, snap, meta={"input": input_fp})
    return {table: snap for _, table in writes}


def write_bucketed_graph(
    spark,
    nodes: DataFrame,
    edges: DataFrame,
    db: str = "kg_bucketed",
    n_buckets: int = 64,
) -> tuple[str, str]:
    """Bucketed managed tables for shuffle-free graph joins.

    ``nodes`` bucketed+sorted by ``name`` and ``edges`` by ``source`` with
    the same bucket count: every join on name=source (endpoint remap, degree
    attribution, k-hop expansion against the node table) is co-located — the
    planner emits a sort-merge join over the bucketed scans with NO exchange
    on either side (pinned by tests/test_plans.py). This is the persisted
    complement to the in-query broadcast strategy: broadcasts win while the
    dictionary fits an executor; bucketing wins for the 10^12-row node table
    a broadcast can never hold. On Iceberg the same layout is
    ``bucket(n, name)`` partition transforms.
    """
    import shutil

    spark.sql(f"CREATE DATABASE IF NOT EXISTS {db}")
    # the session catalog is in-memory but the warehouse dir persists:
    # a table directory left by a previous process would fail saveAsTable
    # with LOCATION_ALREADY_EXISTS — drop & clear both layers first
    warehouse = spark.conf.get(
        "spark.sql.warehouse.dir", os.path.join(os.getcwd(), "spark-warehouse")
    ).removeprefix("file:")
    for t in ("nodes", "edges"):
        spark.sql(f"DROP TABLE IF EXISTS {db}.{t}")
        shutil.rmtree(os.path.join(warehouse, f"{db}.db", t), ignore_errors=True)
    (
        nodes.write.format("parquet")
        .bucketBy(n_buckets, "name").sortBy("name")
        .mode("overwrite").saveAsTable(f"{db}.nodes")
    )
    (
        edges.write.format("parquet")
        .bucketBy(n_buckets, "source").sortBy("source")
        .mode("overwrite").saveAsTable(f"{db}.edges")
    )
    return f"{db}.nodes", f"{db}.edges"
