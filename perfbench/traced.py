"""Traced run: per-layer metrics from spans around the program's public
layer functions.

The traced build calls the layers in ``pipeline.build_kg``'s order and with
its row-aware repartition; the traced fold calls ``extract_mentions``, then
``incremental_canonicalize``, then ``ParquetCatalog.write_all`` and the
lineage rows, as ``streaming.process_pages_batch`` does. Each layer's output is materialized
inside its span. The same operations also run untraced on identical inputs;
traced total − untraced total is the tracing overhead.

Counts the program does not expose (units entering dedup, similarity edges)
are taken in ``probe`` spans, which belong to no layer.
"""

from __future__ import annotations

import json
import os
import shutil
import time

import checks
from spans import LAYERS, Tracer, spark_by_layer
from workloads import CHUNK_SIZE, OVERLAP, Bench, Inputs

PER_LAYER = (
    "extract.busy_s", "extract.jobs", "extract.tasks", "extract.pages_in", "extract.mentions_out",
    "dedup.busy_s", "dedup.jobs", "dedup.tasks", "dedup.shuffle_mb", "dedup.units_in",
    "dedup.nodes_out", "dedup.verify_pairs", "dedup.verify_yield", "dedup.strategy_lsh",
    "dedup.remap_s",
    "mmodal.busy_s", "mmodal.jobs", "mmodal.tasks", "mmodal.shuffle_mb", "mmodal.instances",
    "mmodal.scored_pairs", "mmodal.link_yield", "mmodal.strategy_blocked",
    "sinks.write_s", "sinks.rows_written", "sinks.files_written",
    "retrieval.search_s", "retrieval.jobs", "retrieval.fuzzy_pairs", "retrieval.related_edges",
    "incremental.busy_s", "incremental.jobs", "incremental.units_in", "incremental.nodes_out",
    "catalog.read_s", "catalog.commit_s", "catalog.snapshots",
    "sources.read_s",
    *(f"{layer}.failed_tasks" for layer in LAYERS),
    "trace.overhead_s",
)


def _pairs(site: str) -> tuple[int, int]:
    """(driver-side, task-side) pairs scored so far at a similarity site."""
    from mmkg_rag_spark import metrics

    e = metrics._PAIR_SITES.get(site)
    if not e:
        return 0, 0
    return e["driver_pairs"], (e["pairs"].value if e["pairs"] is not None else 0)


def _kinds(df) -> dict[str, int]:
    return {r["kind"]: r["count"] for r in df.groupBy("kind").count().collect()}


def copy_catalog(src, dst_dir: str):
    """Byte copy of a catalog with its manifests re-pointed at the copy."""
    from mmkg_rag_spark.sources.catalog import ParquetCatalog

    shutil.copytree(src.warehouse, dst_dir)
    for table in os.listdir(dst_dir):
        p = os.path.join(dst_dir, table, "manifest.json")
        if os.path.exists(p):
            with open(p) as f:
                snaps = json.load(f)
            for s in snaps:
                s["path"] = s["path"].replace(src.warehouse, dst_dir, 1)
            with open(p, "w") as f:
                json.dump(snaps, f)
    return ParquetCatalog(src.spark, dst_dir)


class Traced:
    def __init__(self, spark, run_id: str):
        self.spark = spark
        self.tr = Tracer(spark, run_id)
        self.m = dict.fromkeys(PER_LAYER, 0.0)
        self.sim_edges = self.image_edges = 0

    def build(self, pages_dir: str, manifest_dir: str, catalog) -> float:
        from pyspark.sql import functions as F

        from mmkg_rag_spark.operators.dedup import (
            canonicalize_entities, collapse_exact, remap_and_merge_relations, similarity_edges)
        from mmkg_rag_spark.operators.extract import (
            extract_page_artifacts, split_image_instances, split_mentions)
        from mmkg_rag_spark.operators.mmodal import (
            describe_images, filter_valid_images, images_table, link_images, score_image_entities)
        from mmkg_rag_spark.sinks import write_graph

        spark, tr, m = self.spark, self.tr, self.m
        t0 = time.perf_counter()
        with tr.span("sources"):
            pages = spark.read.parquet(pages_dir)
            # build_kg's row-aware repartition, so every later stage sees
            # the partitioning the untraced build has
            cores = spark.sparkContext.defaultParallelism
            current = pages.rdd.getNumPartitions()
            if current < cores * 4:
                target = min(cores * 4, max(cores, pages.count() // 256))
                if current < target:
                    pages = pages.repartition(target)
            pages = pages.cache()
            n_pages = pages.count()
        with tr.span("extract"):
            art = extract_page_artifacts(pages, CHUNK_SIZE, OVERLAP, use_html=True).cache()
            kinds = _kinds(art)
            em, rm = split_mentions(art)
            raw = split_image_instances(art)
        m["extract.pages_in"] += n_pages
        m["extract.mentions_out"] += kinds.get("E", 0) + kinds.get("R", 0)

        d0 = _pairs("dedup_verify")
        with tr.span("dedup"):
            nodes, mapping = canonicalize_entities(em)
            nodes = nodes.cache()
            n_nodes = nodes.count()
            mapping = mapping.cache()
            mapping.count()
            with tr.span("dedup.remap"):
                edges = remap_and_merge_relations(rm, mapping).cache()
                n_edges = edges.count()
        d1 = _pairs("dedup_verify")
        with tr.span("probe.dedup"):
            units = collapse_exact(em).cache()
            m["dedup.units_in"] += units.count()
            self.sim_edges += similarity_edges(units).count()
        m["dedup.nodes_out"] += n_nodes
        m["dedup.verify_pairs"] += (d1[0] - d0[0]) + (d1[1] - d0[1])
        m["dedup.strategy_lsh"] = max(m["dedup.strategy_lsh"], 1.0 if d1[1] > d0[1] else 0.0)

        p0 = _pairs("mmodal_relevance")
        with tr.span("mmodal"):
            inst = filter_valid_images(raw, spark.read.parquet(manifest_dir))
            described = describe_images(inst).cache()
            m["mmodal.instances"] += described.count()
            top = score_image_entities(described, nodes)
            plan = top._jdf.queryExecution().analyzed().toString()
            image_edges = link_images(top).cache()
            n_image_edges = image_edges.count()
            images = images_table(described).cache()
            n_images = images.count()
        p1 = _pairs("mmodal_relevance")
        m["mmodal.scored_pairs"] += sum(p1) - sum(p0)
        m["mmodal.strategy_blocked"] = max(m["mmodal.strategy_blocked"], 1.0 if "salt" in plan else 0.0)
        self.image_edges += n_image_edges

        with tr.span("sinks"):
            all_edges = edges.unionByName(
                image_edges.withColumn("chunks", F.array().cast("array<int>")))
            snaps = write_graph(catalog, nodes, all_edges, "traced", images)
        m["sinks.rows_written"] += n_nodes + n_edges + n_image_edges + n_images
        m["sinks.files_written"] += sum(
            f.endswith(".parquet")
            for t, s in snaps.items() for f in os.listdir(catalog.snapshot_dir(t, s)))
        m["catalog.snapshots"] += len(snaps)
        for df in (pages, art, nodes, mapping, edges, units, described, image_edges, images):
            df.unpersist()
        return time.perf_counter() - t0

    def query(self, catalog, keyword: str) -> float:
        from mmkg_rag_spark.operators.retrieval import search_eris

        tr = self.tr
        f0 = _pairs("fuzzy_search")
        t0 = time.perf_counter()
        with tr.span("catalog.read"):
            n, e, i = catalog.read("nodes"), catalog.read("edges"), catalog.read("images")
        with tr.span("retrieval"):
            res = search_eris(n, e, i, [keyword])
            frames = {k: v.collect() for k, v in res.items()}
        dt = time.perf_counter() - t0
        self.m["retrieval.fuzzy_pairs"] += sum(_pairs("fuzzy_search")) - sum(f0)
        self.m["retrieval.related_edges"] += len(frames["related_edges"])
        return dt

    def fold(self, catalog, pages_dir: str, batch_id: int) -> float:
        from mmkg_rag_spark.operators.dedup import collapse_exact, merge_unit_tables, nodes_as_units
        from mmkg_rag_spark.operators.extract import chunk_pages, extract_mentions, split_mentions
        from mmkg_rag_spark.metrics import record_stage
        from mmkg_rag_spark.operators.incremental import incremental_canonicalize
        from mmkg_rag_spark.sources.catalog import fingerprint

        spark, tr, m = self.spark, self.tr, self.m
        t0 = time.perf_counter()
        with tr.span("sources"):
            batch = spark.read.parquet(pages_dir).select("url", "text").cache()
            n_pages = batch.count()
        with tr.span("extract"):
            mentions = extract_mentions(chunk_pages(batch, CHUNK_SIZE, OVERLAP)).localCheckpoint()
            kinds = _kinds(mentions)
            em, rm = split_mentions(mentions)
        m["extract.pages_in"] += n_pages
        m["extract.mentions_out"] += kinds.get("E", 0) + kinds.get("R", 0)
        with tr.span("catalog.read"):
            prior_nodes, prior_edges = catalog.read("nodes"), catalog.read("edges")
        with tr.span("incremental"):
            nodes, _, edges = incremental_canonicalize(em, rm, prior_nodes, prior_edges)
            nodes = nodes.localCheckpoint()
            edges = edges.localCheckpoint()
            m["incremental.nodes_out"] += nodes.count()
            edges.count()
        with tr.span("probe.incremental"):
            m["incremental.units_in"] += merge_unit_tables(
                collapse_exact(em), nodes_as_units(prior_nodes)).count()
        with tr.span("catalog.commit"):
            # write_all plus the lineage rows process_pages_batch records
            snap = fingerprint("stream-batch", batch_id, CHUNK_SIZE, OVERLAP, 1)
            paths = catalog.write_all([(nodes, "nodes"), (edges, "edges")], snap,
                                      meta={"batch_id": batch_id})
            wall = int((time.perf_counter() - t0) * 1000)
            for table in ("nodes", "edges"):
                record_stage(catalog, f"stream-{table}", snap, f"batch-{batch_id}",
                             paths[table], wall)
        m["catalog.snapshots"] += 2
        batch.unpersist()
        return time.perf_counter() - t0

    def finish(self, untraced_s: float, traced_s: float) -> dict:
        m, tr = self.m, self.tr
        busy = tr.busy_by_layer()
        own = tr.self_times()
        by_name: dict[str, float] = {}
        for s in tr.spans:
            by_name[s["name"]] = by_name.get(s["name"], 0.0) + own[s["id"]]
        m["extract.busy_s"] = busy["extract"]
        m["dedup.busy_s"] = busy["dedup"]
        m["dedup.remap_s"] = by_name.get("dedup.remap", 0.0)
        m["mmodal.busy_s"] = busy["mmodal"]
        m["sinks.write_s"] = busy["sinks"]
        m["retrieval.search_s"] = busy["retrieval"]
        m["incremental.busy_s"] = busy["incremental"]
        m["catalog.read_s"] = by_name.get("catalog.read", 0.0)
        m["catalog.commit_s"] = by_name.get("catalog.commit", 0.0)
        m["sources.read_s"] = busy["sources"]
        m["dedup.verify_yield"] = self.sim_edges / m["dedup.verify_pairs"] if m["dedup.verify_pairs"] else 0.0
        m["mmodal.link_yield"] = (self.image_edges / m["mmodal.scored_pairs"]
                                  if m["mmodal.scored_pairs"] else 0.0)
        spark_stats = spark_by_layer(self.spark, tr.run_id)
        for layer, st in spark_stats.items():
            m[f"{layer}.failed_tasks"] = st["failed_tasks"]
            for k in ("jobs", "tasks", "shuffle_mb"):
                if f"{layer}.{k}" in m:
                    m[f"{layer}.{k}"] = st[k]
        m["trace.overhead_s"] = traced_s - untraced_s
        return m


UNITS = {
    "busy_s": "s", "remap_s": "s", "write_s": "s", "search_s": "s", "read_s": "s",
    "commit_s": "s", "overhead_s": "s", "jobs": "count", "tasks": "count",
    "failed_tasks": "count", "shuffle_mb": "MiB", "pages_in": "pages",
    "mentions_out": "rows", "units_in": "rows", "nodes_out": "rows",
    "verify_pairs": "pairs", "scored_pairs": "pairs", "fuzzy_pairs": "pairs",
    "verify_yield": "ratio", "link_yield": "ratio", "strategy_lsh": "flag",
    "strategy_blocked": "flag", "instances": "rows", "rows_written": "rows",
    "files_written": "files", "related_edges": "rows", "snapshots": "count",
}


def _result(b: Bench, t: Traced, untraced_s: float, traced_s: float, props: dict) -> dict:
    m = t.finish(untraced_s, traced_s)
    print(json.dumps({"report": {
        "input": props, "untraced_s": untraced_s, "traced_s": traced_s,
        "spans": t.tr.spans}}), flush=True)
    return {
        "correct": b.failed == 0,
        "attempted": max(b.attempted, 1),
        "failed": b.failed,
        "metrics": {k: {"value": float(v), "unit": UNITS[k.split(".", 1)[1]]} for k, v in m.items()},
    }


def _same(b: Bench, what: str, got_cat, want_cat) -> None:
    def check():
        if checks.digest(checks.collect_graph(got_cat)) != checks.digest(checks.collect_graph(want_cat)):
            raise checks.CheckFailed(f"traced {what} output differs from the untraced one")
    b.guarded(f"traced-{what}", check)


def _pairs_of_ops(b: Bench, ops) -> tuple[float, float]:
    """Run each (name, untraced op, traced op) pair back to back, so both
    sides see about the same JVM warmth, alternating which side goes first;
    returns the untraced and traced wall totals of the pairs that succeeded."""
    untraced = traced = 0.0
    for i, (name, plain, with_spans) in enumerate(ops):
        sides = [(name, plain), (f"traced-{name}", with_spans)]
        took = {}
        for label, op in (sides if i % 2 == 0 else sides[::-1]):
            t0 = time.perf_counter()
            if b.guarded(label, op) is not None:
                took[label] = time.perf_counter() - t0
        if len(took) == 2:
            untraced += took[name]
            traced += took[f"traced-{name}"]
    return untraced, traced


def traced_bulk(b: Bench, inp: Inputs, args) -> dict:
    b.start(ui=True)
    b.build(*inp.slice, b.catalog("warm"), len(inp.slice_rows), None)
    kw = inp.keywords[0][0]
    batch_dir = inp.batches[0][0][0]
    t = Traced(b.spark, f"trace-{args.seed}")
    cat_u, cat_t = b.catalog("untraced"), b.catalog("traced")
    untraced, traced = _pairs_of_ops(b, [
        ("build", lambda: b.build(*inp.main, cat_u, inp.cfg["pages"], None),
         lambda: t.build(*inp.main, cat_t)),
        ("query", lambda: b.query(cat_u, kw, False, None), lambda: t.query(cat_t, kw)),
        ("fold", lambda: b.fold(cat_u, batch_dir, 0), lambda: t.fold(cat_t, batch_dir, 0)),
    ])
    _same(b, "build+fold", cat_t, cat_u)
    return _result(b, t, untraced, traced, inp.properties())


def traced_serve(b: Bench, inp: Inputs, args) -> dict:
    b.start(ui=True)
    cat_u = b.catalog("serve")
    b.build(*inp.main, cat_u, inp.cfg["pages"], None)
    cat_t = copy_catalog(cat_u, os.path.join(b.tmp, "cat", "serve-traced"))
    kw = inp.keywords[0][0]
    batch_dir = inp.batches[0][0][0]
    union = inp.stage_union(1)
    t = Traced(b.spark, f"trace-{args.seed}")
    cat_o, cat_o2 = b.catalog("oneshot"), b.catalog("oneshot-traced")
    untraced, traced = _pairs_of_ops(b, [
        ("query", lambda: b.query(cat_u, kw, False, None), lambda: t.query(cat_t, kw)),
        ("fold", lambda: b.fold(cat_u, batch_dir, 0), lambda: t.fold(cat_t, batch_dir, 0)),
        ("build", lambda: b.build(union[0], union[1], cat_o, union[2], None),
         lambda: t.build(union[0], union[1], cat_o2)),
    ])
    _same(b, "fold", cat_t, cat_u)
    _same(b, "build", cat_o2, cat_o)
    b.guarded("fold-equivalence", lambda: checks.same_graph(
        checks.collect_graph(cat_u), checks.collect_graph(cat_o)))
    return _result(b, t, untraced, traced, inp.properties())
