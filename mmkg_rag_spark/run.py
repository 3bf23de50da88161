"""Resumable staged KG-construction driver (spark-submit entrypoint).

    spark-submit --py-files mmkg_rag_spark.zip -m ...  # cluster
    python -m mmkg_rag_spark.run --n-docs 200          # sandbox

Runs the pipeline as checkpointed stages. Each stage's output is a catalog
snapshot keyed by the fingerprint of (stage, params, input snapshot); a
re-run — e.g. after a crash — **skips every stage whose snapshot already
exists** and resumes at the first missing one (north-rule resume semantics;
kill this process at any point and re-invoke with the same args to verify).
Each stage's commit is one log entry, which is also its lineage record
(metrics.read_metrics).

Stage DAG (SURVEY.md §3.1 restructured):
  pages [→ pages_dedup] → mentions(map: E/R mentions + I image instances)
    → graph: pipeline.graph_from_artifacts (D + M phases), committed by
      sinks.write_graph as one log entry of nodes, edges, images → summary
The warehouse is the one build_kg + write_graph leave, so a fold
(streaming.process_pages_batch) extends it like any stored graph.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

from pyspark.sql import functions as F


def _stage(catalog, snap, write, force=False):
    """Resume-or-compute one stage: ``write()`` commits snapshot ``snap``
    as one log entry (its lineage record), and the stage resumes when that
    entry exists. Prints one line per table the
    entry holds; returns table → its DataFrame at ``snap``."""
    from mmkg_rag_spark.sources.catalog import entry_rows

    t0 = time.time()
    resume = not force and catalog.has_snapshot(snap)
    if not resume:
        write()
    wall_ms = int((time.time() - t0) * 1000)
    entry = catalog.entry(snap)
    for t in entry["tables"]:
        if resume:
            print(f"[resume] {t} snap-{snap}: exists, skipping compute")
        else:
            print(f"[run   ] {t} snap-{snap}: {entry_rows(entry, t)} rows in {wall_ms} ms")
    return {t: catalog.read(t, snap) for t in entry["tables"]}


def _table_stage(catalog, name, snap, input_snap, compute, force=False):
    """One-table stage whose snapshot is ``compute()``'s DataFrame."""
    return _stage(
        catalog, snap,
        lambda: catalog.write(compute(), name, snap, meta={"input": input_snap}),
        force,
    )[name]


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="staged resumable KG build")
    ap.add_argument("--n-docs", type=int, default=200)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--sf-dir", default=None,
                    help="derive pages from this testdata dir instead of --n-docs")
    ap.add_argument("--warc", default=None, metavar="GLOB",
                    help="build pages from WARC/WET crawl archives (path, "
                         "glob, or inventory file list) instead of synthetic "
                         "generation — the Common Crawl ingestion path")
    ap.add_argument("--stream-warc", default=None, metavar="DIR",
                    help="continuous mode: watch DIR for WARC/WET archives "
                         "and fold each micro-batch into the stored graph "
                         "(drains what's present, then exits; re-run to "
                         "resume from the checkpoint — only new archives "
                         "are processed)")
    ap.add_argument("--warehouse", default="./warehouse")
    ap.add_argument("--chunk-size", type=int, default=8000)
    ap.add_argument("--overlap", type=int, default=400)
    ap.add_argument("--canonical-dedup", action="store_true",
                    help="pre-stage: keep only the latest fetch per "
                         "CANONICAL url (pipeline.dedup_pages_latest) — "
                         "recrawled/re-spelled pages collapse before "
                         "extraction")
    ap.add_argument("--force", action="store_true", help="recompute all stages")
    ap.add_argument("--compact", action="store_true",
                    help="after the build, compact the graph tables "
                         "(rewrite_data_files analog) and report stats")
    ap.add_argument("--master", default=None)
    ap.add_argument("--ask", default=None, metavar="QUESTION",
                    help="after the build, answer QUESTION over the graph "
                         "(multi-agent QA; set MMKG_LLM_BASE_URL / _API_KEY / "
                         "_MODEL for a real endpoint, else the hermetic mock)")
    ap.add_argument("--evaluate", default=None, metavar="CORPUS_DESC",
                    help="after the build, run the evaluation harness over "
                         "the graph: generate persona/task questions from "
                         "CORPUS_DESC, answer via s (single) and m "
                         "(multi-agent) search, judge on the four GraphRAG "
                         "metrics, print win-rate statistics (reference "
                         "tests/evaluation pipeline; same endpoint env vars "
                         "as --ask, hermetic mock otherwise)")
    ap.add_argument("--eval-n", type=int, default=2,
                    help="N for the persona/task/question sweep (N^3 "
                         "questions; the GraphRAG paper uses 5)")
    args = ap.parse_args(argv)

    from mmkg_rag_spark.operators.extract import extract_page_artifacts
    from mmkg_rag_spark.pipeline import graph_from_artifacts
    from mmkg_rag_spark.session import get_spark
    from mmkg_rag_spark.sinks import graph_snapshot, write_graph
    from mmkg_rag_spark.sources.catalog import ParquetCatalog, fingerprint
    from mmkg_rag_spark.sources.pages import gen_pages_df, image_manifest

    spark = get_spark(master=args.master, app_name="kg-build")
    catalog = ParquetCatalog(spark, args.warehouse)

    if args.stream_warc:
        from mmkg_rag_spark.streaming import stream_build

        ckpt = os.path.join(args.warehouse, "_stream_warc_ckpt")
        q = stream_build(spark, args.stream_warc, args.warehouse, ckpt,
                         available_now=True, source="warc")
        q.awaitTermination()
        snap = catalog.entry()["id"]
        n = catalog.read("nodes", snap).count()
        e = catalog.read("edges", snap).count()
        print(f"[stream] graph now {n} nodes / {e} edges at snapshot {snap} "
              f"(warehouse {args.warehouse})")
        return 0

    # -- stage 1: pages ----------------------------------------------------
    if args.warc:
        from mmkg_rag_spark.sources.warc import read_warc

        pages_fp = fingerprint("pages", "warc", args.warc)
        pages = _table_stage(
            catalog, "pages", pages_fp, "-",
            lambda: read_warc(spark, args.warc), args.force,
        )
    elif args.sf_dir:
        from mmkg_rag_spark.sources.docpages import pages_from_documents

        pages_fp = fingerprint("pages", "sf", args.sf_dir)
        pages = _table_stage(
            catalog, "pages", pages_fp, "-",
            lambda: pages_from_documents(spark, args.sf_dir), args.force,
        )
    else:
        pages_fp = fingerprint("pages", "gen", args.n_docs, args.seed)
        pages = _table_stage(
            catalog, "pages", pages_fp, "-",
            lambda: gen_pages_df(spark, args.n_docs, args.seed), args.force,
        )

    # optional step 0 of a recrawled store: latest fetch per canonical url
    if args.canonical_dedup:
        from mmkg_rag_spark.pipeline import dedup_pages_latest

        dedup_fp = fingerprint("pages_dedup", pages_fp)
        pages = _table_stage(
            catalog, "pages_dedup", dedup_fp, pages_fp,
            lambda: dedup_pages_latest(pages).drop("canonical_url"),
            args.force,
        )
        pages_fp = dedup_fp

    # -- stage 2: extraction (map-only): E/R mentions + I image instances --
    # WARC pages already carry extracted text (WET rows have no html at
    # all); synthetic/sf pages re-derive it from html to exercise the
    # byte-identity kernel. The stage keeps its "mentions" name; the
    # "artifacts" tag keeps an older warehouse's E/R-only snapshot from
    # being resumed as artifacts.
    mentions_fp = fingerprint("artifacts", args.chunk_size, args.overlap, pages_fp)
    mentions = _table_stage(
        catalog, "mentions", mentions_fp, pages_fp,
        lambda: extract_page_artifacts(
            pages, args.chunk_size, args.overlap, use_html=not args.warc
        ),
        args.force,
    )

    # -- stage 3: graph (D + M phases over the stored artifacts) -----------
    def _graph():
        manifest = spark.createDataFrame(
            [(p,) for p in image_manifest()], "path string"
        )
        r = graph_from_artifacts(spark, mentions, manifest)
        write_graph(catalog, r.nodes, r.all_edges, mentions_fp, r.images)

    graph = _stage(catalog, graph_snapshot(mentions_fp), _graph, args.force)
    nodes, edges, images = graph["nodes"], graph["edges"], graph["images"]

    # -- summary -----------------------------------------------------------
    deg = (
        edges.select(F.col("source").alias("name"))
        .unionAll(edges.select(F.col("target").alias("name")))
        .groupBy("name").count().orderBy(F.desc("count"), "name")
    )
    n_img = edges.filter(F.col("label").startswith("#image")).count()
    print(f"nodes={nodes.count()} edges={edges.count() - n_img} image_edges={n_img}")
    print("top degrees:")
    for r in deg.limit(5).collect():
        print(f"  {r['name']}: {r['count']}")

    # -- optional maintenance: table compaction ------------------------------
    if args.compact:
        for table in graph:
            stats = catalog.compact(table)
            print(
                f"[compact] {table}: {stats['files_before']} -> "
                f"{stats['files_after']} files"
                + ("" if stats["compacted"] else " (already compact)")
            )

    # QA and evaluation share one endpoint extractor (hermetic mock if unset)
    extractor = None
    if (args.ask or args.evaluate) and os.environ.get("MMKG_LLM_BASE_URL"):
        from mmkg_rag_spark.llm import EndpointExtractor

        extractor = EndpointExtractor(
            base_url=os.environ["MMKG_LLM_BASE_URL"],
            api_key=os.environ.get("MMKG_LLM_API_KEY", ""),
            model=os.environ.get("MMKG_LLM_MODEL", "gpt-4o-mini"),
        )

    # -- optional QA over the built graph (R6 driver) ----------------------
    if args.ask:
        from mmkg_rag_spark.qa import agent_response

        answer = agent_response(args.ask, nodes, edges, images, extractor)
        print(f"question: {args.ask}")
        print(f"answer: {answer}")

    # -- optional evaluation harness over the built graph ------------------
    if args.evaluate:
        import json as _json

        from mmkg_rag_spark.evaluation import evaluate

        judged, stats = evaluate(
            args.evaluate, nodes, edges, images,
            n=args.eval_n, extractor=extractor,
        )
        print(f"evaluated {len(judged)} questions (s vs m, 4 metrics):")
        for metric, counts in stats.items():
            print(
                f"  {metric}: {counts['s']} s wins, {counts['m']} m wins, "
                f"{counts['0']} ties"
            )
        print(_json.dumps({"win_rates": stats}))
    return 0


if __name__ == "__main__":
    # spark-submit runs this file as a bare script (no package context);
    # the package itself arrives via --py-files or the repo root on sys.path.
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    sys.exit(main())
