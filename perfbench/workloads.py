"""Workload drivers: inputs, set-up, measured phase, checks, traced run.

Every operation the benchmark times is counted in ``attempted``; one that
raises or fails a check is counted in ``failed`` and left out of the
latency samples.
"""

from __future__ import annotations

import json
import os
import statistics
import time
import traceback

import checks
import gen
from measure import RssSampler, log

CHUNK_SIZE, OVERLAP = 8000, 400
PAIRWISE_THRESHOLD = 300   # operators/dedup.similarity_edges default
PAIR_LIMIT = 500_000       # operators/mmodal.score_image_entities default
BATCH_BASE = 10_000_000  # doc ids of fold batch k start at (k + 1) * BATCH_BASE

# Long multi-chunk pages (~19k chars) over a small catalog: dedup stays on its
# driver pairwise path (< 300 distinct name norms) and image linking on its
# broadcast path (entities x images far below 500k pairs).
LONGDOC = dict(
    spec=gen.Spec(vocab=60, first_names=60, variant_share=0.2, filler_paras=30,
                  image_share=0.03, head_skew=1.0, ents_per_page=4, rels_per_page=2),
    pages=800, slice=100, batch=30, queries=2,
)
# Short mention-dense pages, a third carrying an image captioned with an
# entity name; a few Zipf head entities recur on many pages. Small enough
# that a fold, two queries and a one-shot build fit one run.
VOCAB = dict(
    spec=gen.Spec(vocab=80, first_names=16, variant_share=0.2, filler_paras=0,
                  image_share=0.33, head_skew=0.6, ents_per_page=6, rels_per_page=3),
    pages=240, batch=40, queries=2, rounds=1,
)


class Inputs:
    """Generated and staged inputs of one run (pure functions of the seed)."""

    def __init__(self, tmp: str, seed: int, cfg: dict, n_batches: int, slice_n: int = 0):
        self.dir = os.path.join(tmp, "inputs")
        self.seed, self.cfg, self.spec = seed, cfg, cfg["spec"]
        rows, info = gen.generate(seed, self.spec, range(cfg["pages"]))
        self.stats = info["stats"]
        self.main_rows = rows
        self.main = self._stage("main", rows, info["images"])
        self.images = set(info["images"])
        if slice_n:
            self.slice_rows = rows[:slice_n]
            self.slice = self._stage("slice", self.slice_rows, [
                p for p in info["images"] if any(p in r["text"] for r in self.slice_rows)])
        self.batches = []
        for k in range(n_batches):
            start = (k + 1) * BATCH_BASE
            b_rows, b_info = gen.generate(seed, self.spec, range(start, start + cfg["batch"]))
            self.batches.append((self._stage(f"batch{k}", b_rows, b_info["images"]), b_rows, b_info))
        vocab = gen.vocabulary(seed, self.spec.vocab, self.spec.first_names)
        self.keywords = gen.keywords(seed, vocab, info["entities"], 64)

    def _stage(self, name: str, rows: list[dict], images: list[str]) -> tuple[str, str]:
        pages = os.path.join(self.dir, name)
        manifest = os.path.join(self.dir, name + "_manifest")
        gen.stage(rows, pages)
        gen.stage_paths(sorted(images), manifest)
        return pages, manifest

    def stage_union(self, n_batches: int) -> tuple[str, str, int]:
        """Main pages plus the first ``n_batches`` fold batches, one table."""
        rows = list(self.main_rows)
        images = set(self.images)
        for _, b_rows, b_info in self.batches[:n_batches]:
            rows += b_rows
            images.update(b_info["images"])
        return (*self._stage(f"union{n_batches}", rows, sorted(images)), len(rows))

    def properties(self) -> dict:
        s = self.stats
        return {
            "pages": s["pages"],
            "distinct_name_norms": s["distinct_norms"],
            "pairwise_threshold": PAIRWISE_THRESHOLD,
            "entities_x_image_instances": s["entities_seen"] * round(s["image_share"] * s["pages"]),
            "pair_limit": PAIR_LIMIT,
            "variant_share": round(s["variant_share"], 4),
            "image_share": round(s["image_share"], 4),
            "mean_page_chars": round(s["mean_page_chars"]),
        }


class Bench:
    """One run: a Spark session, its ops and their samples."""

    def __init__(self, tmp: str, cores: int, conf: dict):
        self.tmp, self.cores, self.conf = tmp, cores, conf
        self.attempted = self.failed = 0
        self.samples: dict[str, list[float]] = {"build": [], "query": [], "fold": []}
        self.build_pages: list[float] = []
        self.extra: dict = {}
        self.spark = None
        self.n_cat = 0
        self.last_check_s = 0.0

    # -- session ------------------------------------------------------------
    def start(self, ui: bool = False):
        from mmkg_rag_spark.session import get_spark

        conf = dict(self.conf)
        if ui:
            conf.update({"spark.ui.enabled": "true", "spark.ui.port": "0",
                         "spark.ui.retainedJobs": "100000",
                         "spark.ui.retainedStages": "100000"})
        self.spark = get_spark(
            master=f"local[{self.cores}]", app_name="perfbench",
            warehouse=os.path.join(self.tmp, "wh"), extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def stop(self) -> None:
        from pyspark import SparkContext

        gw = SparkContext._gateway
        if self.spark is not None:
            self.spark.stop()
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None

    def jvm_pid(self) -> int:
        return int(self.spark._jvm.java.lang.ProcessHandle.current().pid())

    def catalog(self, name: str | None = None):
        from mmkg_rag_spark.sources.catalog import ParquetCatalog

        self.n_cat += 1
        return ParquetCatalog(self.spark, os.path.join(self.tmp, "cat", name or f"c{self.n_cat}"))

    # -- operations -----------------------------------------------------------
    def guarded(self, kind: str, fn):
        """Run one counted operation; returns its value or None on failure."""
        self.attempted += 1
        try:
            return fn()
        except Exception:  # noqa: BLE001 — every failure is counted
            self.failed += 1
            log(f"{kind} failed:\n{traceback.format_exc()}")
            return None

    def build(self, pages_dir: str, manifest_dir: str, catalog, n_pages: int, key: str | None):
        """Timed: build_kg → write_graph committed. Untimed: checks."""
        from pyspark.sql import functions as F

        from mmkg_rag_spark.pipeline import build_kg
        from mmkg_rag_spark.sinks import write_graph

        spark = self.spark
        t0 = time.perf_counter()
        r = build_kg(spark, spark.read.parquet(pages_dir), spark.read.parquet(manifest_dir),
                     chunk_size=CHUNK_SIZE, overlap=OVERLAP)
        edges = r.edges.unionByName(
            r.image_edges.withColumn("chunks", F.array().cast("array<int>")))
        write_graph(catalog, r.nodes, edges, key or "build", r.images)
        dt = time.perf_counter() - t0
        graph = checks.collect_graph(catalog)
        checks.structural(graph)
        if key is not None:
            checks.same_digest(key, checks.digest(graph))
        self.last_check_s = time.perf_counter() - t0 - dt
        return dt, n_pages / dt, graph

    def query(self, catalog, keyword: str, exact: bool, node_names: set[str] | None) -> float:
        from mmkg_rag_spark.operators.retrieval import search_eris

        t0 = time.perf_counter()
        res = search_eris(catalog.read("nodes"), catalog.read("edges"),
                          catalog.read("images"), [keyword])
        frames = {k: [r.asDict() for r in v.collect()] for k, v in res.items()}
        dt = time.perf_counter() - t0
        checks.query_result(frames, keyword, exact, node_names)
        return dt

    def fold(self, catalog, pages_dir: str, batch_id: int) -> float:
        from mmkg_rag_spark.streaming import process_pages_batch

        t0 = time.perf_counter()
        out = process_pages_batch(self.spark, catalog, self.spark.read.parquet(pages_dir), batch_id,
                                  chunk_size=CHUNK_SIZE, overlap=OVERLAP)
        dt = time.perf_counter() - t0
        if out.get("skipped") or not out.get("nodes") or not out.get("edges"):
            raise checks.CheckFailed(f"fold {batch_id} committed nothing: {out}")
        return dt

    # -- counted wrappers -----------------------------------------------------
    def timed_build(self, *a, **kw):
        out = self.guarded("build", lambda: self.build(*a, **kw))
        if out:
            self.samples["build"].append(out[0])
            self.build_pages.append(out[1])
            return out[2]
        return None

    def timed_queries(self, catalog, keywords) -> None:
        names = {r.name for r in catalog.read("nodes").select("name").collect()}
        for kw, exact in keywords:
            dt = self.guarded("query", lambda: self.query(catalog, kw, exact, names))
            if dt is not None:
                self.samples["query"].append(dt)

    def timed_fold(self, catalog, pages_dir, batch_id) -> None:
        dt = self.guarded("fold", lambda: self.fold(catalog, pages_dir, batch_id))
        if dt is not None:
            self.samples["fold"].append(dt)

    def result(self, setup_s: float, rss_kb: int, props: dict) -> dict:
        q = self.samples["query"]
        report = {"input": props, **{f"{k}_s": v for k, v in self.samples.items()}, **self.extra}
        print(json.dumps({"report": report}), flush=True)
        ok = self.attempted - self.failed
        metrics = {
            "setup_s": (setup_s, "s"),
            "build_pages_per_s": (statistics.median(self.build_pages) if self.build_pages else 0.0, "pages/s"),
            "query_p50_ms": (statistics.median(q) * 1000 if q else 0.0, "ms"),
            "fold_p50_s": (statistics.median(self.samples["fold"]) if self.samples["fold"] else 0.0, "s"),
            "ops_ok_ratio": (ok / max(self.attempted, 1), "ratio"),
            "peak_rss_mb": (rss_kb / 1024, "MiB"),
        }
        return {
            "correct": self.failed == 0 and self.attempted > 0,
            "attempted": max(self.attempted, 1),
            "failed": self.failed if self.attempted else 1,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }


# ---------------------------------------------------------------------------
# bulk_longdoc
# ---------------------------------------------------------------------------

def bulk_longdoc(b: Bench, inp: Inputs, seconds: float) -> dict:
    cfg = inp.cfg
    log("inputs staged")
    t0 = time.perf_counter()
    b.start()
    # set-up: the first build, over the slice, pays the fresh JVM's warm-up
    graph = b.build(*inp.slice, b.catalog("warm"), len(inp.slice_rows), None)[2]
    setup_s = time.perf_counter() - t0 - b.last_check_s

    log(f"set up in {setup_s:.1f}s")
    # before timing: the slice build against the reference replica
    b.extra["reference_pr"] = b.guarded(
        "reference", lambda: checks.against_reference(graph, inp.slice_rows, inp.images))
    log("reference check done")

    # measured: cycles of build → queries → fold, repeated only while a
    # whole further cycle fits in the run's seconds
    deadline = time.perf_counter() + seconds
    kw = iter(inp.keywords)
    with RssSampler(b.jvm_pid()) as rss:
        cycle, cycle_s = 0, 0.0
        while cycle == 0 or (cycle < len(inp.batches)
                             and time.perf_counter() + cycle_s < deadline):
            c0 = time.perf_counter()
            cat = b.catalog()
            b.timed_build(*inp.main, cat, cfg["pages"], f"bulk_longdoc-{inp.seed}")
            b.timed_queries(cat, [next(kw) for _ in range(cfg["queries"])])
            b.timed_fold(cat, inp.batches[cycle][0][0], cycle)
            cycle_s = time.perf_counter() - c0
            cycle += 1
    log("measured phase done")
    return b.result(setup_s, rss.peak_kb, inp.properties())


# ---------------------------------------------------------------------------
# serve_fold
# ---------------------------------------------------------------------------

def serve_fold(b: Bench, inp: Inputs, seconds: float) -> dict:
    cfg = inp.cfg
    log("inputs staged")
    t0 = time.perf_counter()
    b.start()
    # set-up: seeding the stored graph pays the fresh JVM's warm-up
    cat = b.catalog("serve")
    b.build(*inp.main, cat, cfg["pages"], None)
    setup_s = time.perf_counter() - t0 - b.last_check_s
    log(f"set up in {setup_s:.1f}s")

    deadline = time.perf_counter() + seconds
    kw = iter(inp.keywords)
    folded = 0
    with RssSampler(b.jvm_pid()) as rss:
        round_s = 0.0
        while folded < cfg["rounds"] or (
                folded < len(inp.batches) and time.perf_counter() + round_s < deadline):
            r0 = time.perf_counter()
            b.timed_queries(cat, [next(kw) for _ in range(cfg["queries"])])
            b.timed_fold(cat, inp.batches[folded][0][0], folded)
            folded += 1
            round_s = time.perf_counter() - r0
        # the one-shot build over every page folded so far is timed as this
        # workload's build; the folded graph must equal it
        pages_dir, manifest_dir, n = inp.stage_union(folded)
        oneshot = b.timed_build(pages_dir, manifest_dir, b.catalog(), n,
                                f"serve_fold-{inp.seed}-{folded}")
    log("measured phase done")
    stored = checks.collect_graph(cat)
    b.guarded("fold-equivalence", lambda: checks.same_graph(stored, oneshot or {"nodes": [], "edges": []}))
    b.extra["folds_checked"] = folded
    return b.result(setup_s, rss.peak_kb, inp.properties())


# ---------------------------------------------------------------------------
# entry
# ---------------------------------------------------------------------------

def run_workload(args, tmp: str, cores: int, conf: dict) -> dict:
    b = Bench(tmp, cores, conf)
    try:
        if args.workload == "bulk_longdoc":
            inp = Inputs(tmp, args.seed, LONGDOC, n_batches=2, slice_n=LONGDOC["slice"])
            if args.trace:
                from traced import traced_bulk
                return traced_bulk(b, inp, args)
            return bulk_longdoc(b, inp, args.seconds)
        inp = Inputs(tmp, args.seed, VOCAB, n_batches=2)
        if args.trace:
            from traced import traced_serve
            return traced_serve(b, inp, args)
        return serve_fold(b, inp, args.seconds)
    finally:
        b.stop()
        log("session stopped")
