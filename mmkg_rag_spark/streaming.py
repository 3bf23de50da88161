"""Continuous KG construction over a pages stream (Structured Streaming).

The reference is batch-only (SURVEY.md §2.8: no streaming); this module is
the engine's scale-path extension: new page files landing in a directory are
ingested continuously and folded into the stored graph through the SAME
incremental D8 path the batch engine uses — streaming is a driver loop, not
a second engine.

Shape:
    readStream(parquet pages dir)
      → foreachBatch:
          micro-batch pages → extract_page_artifacts (the build's one
            extraction pass, over the ``text`` column; its image rows are
            dropped — folds link no images yet)
          → incremental_canonicalize(batch ∪ graph at the newest snapshot)
          → sinks.write_graph(nodes, edges): one catalog log entry, which
            is also the batch's lineage record (metrics.read_metrics)
The graph tables stay Iceberg-semantics snapshots (sources/catalog.py), so a
crashed stream resumes from the last committed snapshot AND the streaming
checkpoint — exactly-once per micro-batch comes from the pairing of Spark's
checkpoint (offsets) with the catalog's atomic log entry keyed by batch id
(a re-delivered batch finds its entry and skips; a crash before the entry
leaves none, so the replay recomputes). Each entry records the streaming
query's id, which the checkpoint keeps across restarts; a batch whose entry
another query committed (a fresh checkpoint on a used warehouse) raises
instead of skipping pages it never folded.

KG canonicalization needs no streaming operator state — it lives in the
graph tables, which is what lets the stream resume from snapshots.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .llm import MockExtractor
from .operators.extract import extract_page_artifacts, split_mentions
from .operators.incremental import incremental_canonicalize
from .sinks import graph_snapshot, write_graph
from .sources.catalog import ParquetCatalog, entry_rows, fingerprint
from .sources.pages import PAGES_SCHEMA


def process_pages_batch(
    spark: SparkSession,
    catalog: ParquetCatalog,
    batch_pages: DataFrame,
    batch_id: int,
    chunk_size: int = 8000,
    overlap: int = 400,
    extractor_factory=MockExtractor,
    loop: int = 1,
) -> dict[str, int]:
    """Fold one micro-batch of pages into the stored graph (idempotent).

    The snapshot id is ``graph_snapshot`` of the (stream, batch_id)
    fingerprint: a re-delivered batch (restart replay) finds its log entry
    and no-ops. Each entry records the streaming query id (None outside a
    stream); an entry whose id differs means another query folded this
    batch id, and the fold raises. Returns the committed node and edge
    counts, from the entry's footer counts.

    ``extractor_factory``/``loop``: same contract as
    operators.extract.extract_page_artifacts — swap the mock for an
    endpoint client and/or enable gleaning rounds on the streaming path too.
    """
    batch_fp = fingerprint("stream-batch", batch_id, chunk_size, overlap, loop)
    snap = graph_snapshot(batch_fp)
    if catalog.has_snapshot(snap):
        committed = catalog.entry(snap)["query_id"]
        query_id = spark.sparkContext.getLocalProperty("sql.streaming.queryId")
        if committed is not None and committed != query_id:
            raise RuntimeError(
                f"batch {batch_id} of streaming query {query_id} is already "
                f"committed by query {committed}: a fresh checkpoint on this "
                "warehouse would skip its pages"
            )
        return {"batch_id": batch_id, "skipped": 1}

    artifacts = extract_page_artifacts(
        batch_pages, chunk_size, overlap, use_html=False,
        extractor_factory=extractor_factory, loop=loop,
    ).localCheckpoint()
    em, rm = split_mentions(artifacts)

    prior_nodes = prior_edges = None
    try:
        base = catalog.entry()["id"]  # one resolved snapshot for both reads
        prior_nodes = catalog.read("nodes", base)
        prior_edges = catalog.read("edges", base)
    except FileNotFoundError:
        pass

    nodes, _, edges = incremental_canonicalize(em, rm, prior_nodes, prior_edges)
    write_graph(catalog, nodes, edges, batch_fp)
    entry = catalog.entry(snap)
    counts = {t: entry_rows(entry, t) for t in ("nodes", "edges")}
    return {"batch_id": batch_id, **counts, "skipped": 0}


def stream_build(
    spark: SparkSession,
    input_dir: str,
    warehouse: str,
    checkpoint_dir: str,
    available_now: bool = True,
    max_files_per_trigger: int = 4,
    extractor_factory=MockExtractor,
    loop: int = 1,
    source: str = "parquet",
):
    """Continuous construction: watch ``input_dir`` for new pages files.

    ``source="parquet"`` watches a pages-parquet landing dir;
    ``source="warc"`` watches raw WARC/WET crawl archives instead
    (sources/warc.stream_warc: file discovery streams path strings only,
    parsing + text extraction run inside the micro-batch task) — the whole
    crawl→KG path as one resumable stream. ``available_now=True`` drains
    everything currently present then stops (test/backfill mode); False
    runs until ``query.stop()``.
    """
    catalog = ParquetCatalog(spark, warehouse)
    if source == "warc":
        from .sources.warc import stream_warc

        stream = stream_warc(
            spark, input_dir, max_files_per_trigger=max_files_per_trigger
        )
    elif source == "parquet":
        stream = (
            spark.readStream.schema(PAGES_SCHEMA)
            .option("maxFilesPerTrigger", max_files_per_trigger)
            .parquet(input_dir)
        )
    else:
        raise ValueError(f"stream_build: unknown source {source!r}")

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        process_pages_batch(
            spark, catalog, batch_df, batch_id,
            extractor_factory=extractor_factory, loop=loop,
        )

    writer = (
        stream.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        q = writer.trigger(availableNow=True).start()
    else:
        q = writer.start()
    return q
