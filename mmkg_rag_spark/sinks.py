"""Materialization sinks (SURVEY.md §2.5 W1/W2).

- ``write_graph``  : sorted snapshot writes of nodes/edges/images into the
  catalog (reference pipe.py:98-100 global sorts + storage/index.py:50-58
  pickle persistence, re-expressed as sorted partitioned table snapshots;
  on Iceberg the sort becomes the table's sortOrder).
- ``export_eris_jsonl`` : line-JSON export in the reference's exact
  ``origin_str`` field orders — Entity {name,label,description,aliases,
  references} (types/entity.py:40-47) and Relation {source,label,target,
  description,references} (types/relation.py:41-48) — the canonical triple
  schema named by the north star, used for parity diffing.
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
    """Sorted snapshot writes, committed together; returns table →
    snapshot id.

    ``ParquetCatalog.write_all`` lands every table's data before any
    manifest, so a failed write leaves each table's latest snapshot as it
    was."""
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


def entity_json(nodes: DataFrame):
    """origin_str-ordered JSON column for entities (entity.py:40-47)."""
    return F.to_json(
        F.struct(
            "name", "label", "description",
            F.coalesce("aliases", F.array()).alias("aliases"),
            F.coalesce("references", F.array()).alias("references"),
        )
    )


def relation_json(edges: DataFrame):
    """origin_str-ordered JSON column for relations (relation.py:41-48)."""
    return F.to_json(
        F.struct(
            "source", "label", "target", "description",
            F.coalesce("references", F.array()).alias("references"),
        )
    )


def export_eris_jsonl(
    nodes: DataFrame, edges: DataFrame, path: str, single_file: bool = True
) -> None:
    """eris.txt analogue (storage/index.py:60-68): one JSON line per record.

    ``single_file`` coalesces for byte-stable parity diffing at test scale;
    leave False for scale runs (one file per partition).
    """
    ents = nodes.orderBy("name").select(entity_json(nodes).alias("line"))
    rels = edges.orderBy(F.concat_ws("", "source", "target")).select(
        relation_json(edges).alias("line")
    )
    out = ents.unionAll(rels)
    if single_file:
        out = out.coalesce(1)
    out.write.mode("overwrite").text(path)


# --- W3: Neo4j export (SURVEY.md §2.5) -------------------------------------
#
# The reference replays the graph row-at-a-time over a live bolt driver
# (storage/index.py:140-193: CREATE per entity/relation/image). That shape
# cannot load a 10^12-row graph; the Spark-first equivalent is Neo4j's bulk
# import contract — neo4j-admin database import reads :ID/:LABEL/:START_ID/
# :END_ID/:TYPE-headed CSVs, which we write distributed (one CSV part per
# partition). Arrays use NEO4J_ARRAY_SEP (pass --array-delimiter). There is
# no live-driver sink: the bulk CSVs are the only Neo4j output.

# Array-element delimiter passed to neo4j-admin import via --array-delimiter.
# U+241E (RECORD SEPARATOR symbol) instead of the default ';' because web-text
# aliases/references/descriptions legitimately contain semicolons, which the
# importer would mis-split into extra array elements (ADVICE r2). Any stray
# occurrence of the delimiter inside an element is stripped as a belt-and-
# braces guard, so the CSV can never be mis-split.
NEO4J_ARRAY_SEP = "␞"


def _arr(col: str):
    return F.array_join(
        F.transform(
            F.coalesce(col, F.array()),
            lambda x: F.replace(x, F.lit(NEO4J_ARRAY_SEP), F.lit("")),
        ),
        NEO4J_ARRAY_SEP,
    )


def export_neo4j_bulk(
    nodes: DataFrame,
    edges: DataFrame,
    out_dir: str,
    images: DataFrame | None = None,
    single_file: bool = False,
) -> dict[str, str]:
    """Write neo4j-admin bulk-import CSVs; returns name → directory.

    Layout (one directory of part-CSVs each — headers embedded):
      entities/   name:ID(Entity),label,description,aliases:string[],references:string[]
      relations/  :START_ID(Entity),:END_ID(Entity),:TYPE,label,description,references:string[]
      images/     path:ID(Image),caption,description,texts:string[]
      image_relations/ :START_ID(Entity),:END_ID(Image),:TYPE,label,description,references:string[]

    Image edges are split out by their '#image' label prefix (mmodal
    convention), matching the reference's Entity→Image vs Entity→Entity
    CREATE split; :TYPE is the constant RELATION with label as a property,
    exactly as the reference models it.
    """
    out: dict[str, str] = {}

    def _write(df: DataFrame, name: str) -> None:
        path = os.path.join(out_dir, name)
        w = df.coalesce(1) if single_file else df
        w.write.mode("overwrite").option("header", True).option("quoteAll", True).csv(path)
        out[name] = path

    ents = nodes.select(
        F.col("name").alias("name:ID(Entity)"),
        "label",
        "description",
        _arr("aliases").alias("aliases:string[]"),
        _arr("references").alias("references:string[]"),
    )
    _write(ents.orderBy("name:ID(Entity)"), "entities")

    plain = edges.filter(~F.col("label").startswith("#image"))
    rels = plain.select(
        F.col("source").alias(":START_ID(Entity)"),
        F.col("target").alias(":END_ID(Entity)"),
        F.lit("RELATION").alias(":TYPE"),
        "label",
        "description",
        _arr("references").alias("references:string[]"),
    )
    _write(rels, "relations")

    if images is not None:
        imgs = images.select(
            F.col("path").alias("path:ID(Image)"),
            "caption",
            "description",
            _arr("texts").alias("texts:string[]"),
        )
        _write(imgs.orderBy("path:ID(Image)"), "images")
        irels = edges.filter(F.col("label").startswith("#image")).select(
            F.col("source").alias(":START_ID(Entity)"),
            F.col("target").alias(":END_ID(Image)"),
            F.lit("RELATION").alias(":TYPE"),
            "label",
            "description",
            _arr("references").alias("references:string[]"),
        )
        _write(irels, "image_relations")
    return out


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
