"""Where ``search_eris`` should switch from its driver path to its Spark plan.

Writes a ladder of synthetic graphs as parquet (one table each for nodes,
edges and images, with the columns ``write_graph`` stores), reads them back
as file scans and, per rung, times one ``search_eris`` call plus the
collect of its five frames on each path (``retrieval.DRIVER_MAX_BYTES``
set to −1 for the Spark plan, unlimited for the driver path). The driver
path rebuilds its index on every call, so each driver time includes the
three ``toArrow`` collects. Also printed per rung: the planner's size
estimate that ``search_eris`` compares with ``DRIVER_MAX_BYTES``, the
keyword×field pairs scored, and the peak RSS of this Python process and of
the JVM after the rung (both are high-water marks, so rungs run smallest
first). One JSON line per rung and keyword count.

Usage: python tools/bench_search_paths.py [nodes ...]
       (default ladder 80 400 2000 8000 20000; edges = 15×nodes and
       images = nodes, the shape of the serve_fold benchmark graph)
"""

from __future__ import annotations

import json
import os
import random
import statistics
import sys
import tempfile
import time

sys.path.insert(0, ".")

import pyarrow as pa  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

from mmkg_rag_spark.operators import retrieval  # noqa: E402
from mmkg_rag_spark.session import get_spark  # noqa: E402

WORDS = (
    "acme global web consortium laboratories metropolitan area robotics tyrell "
    "systems institute pacific northern analytics ada lovelace engine charles "
    "babbage difference turing bletchley enigma grace hopper cobol park"
).split()
REPEATS = 3


def _name(rng: random.Random, i: int) -> str:
    words = " ".join(rng.choice(WORDS).capitalize() for _ in range(rng.randint(1, 3)))
    return f"{words} {i}"


def _text(rng: random.Random, n: int) -> str:
    return " ".join(rng.choice(WORDS) for _ in range(n))


def write_graph(root: str, n_nodes: int, seed: int = 0) -> list[str]:
    rng = random.Random(seed)
    names = [_name(rng, i) for i in range(n_nodes)]
    paths = [f"images/img-{i}.png" for i in range(n_nodes)]
    strs = pa.list_(pa.string())
    tables = {
        "nodes": pa.table({
            "name": names,
            "label": [rng.choice(["PERSON", "ORG", "TECH", "LOC"]) for _ in names],
            "description": [_text(rng, 12) for _ in names],
            "aliases": pa.array([[_name(rng, i) for _ in range(rng.randint(0, 2))]
                                 for i in range(n_nodes)], strs),
            "references": pa.array([[f"u-{rng.randrange(n_nodes)}"] for _ in names], strs),
        }),
        "edges": pa.table({
            "source": [rng.choice(names) for _ in range(15 * n_nodes)],
            "label": [rng.choice(["works with", "part of", "#imagedepicts", "builds"])
                      for _ in range(15 * n_nodes)],
            "target": [rng.choice(names) for _ in range(15 * n_nodes)],
            "description": [_text(rng, 8) for _ in range(15 * n_nodes)],
            "references": pa.array([[f"u-{rng.randrange(n_nodes)}"]
                                    for _ in range(15 * n_nodes)], strs),
            "chunks": pa.array([[rng.randrange(9)] for _ in range(15 * n_nodes)],
                               pa.list_(pa.int32())),
        }),
        "images": pa.table({
            "path": paths,
            "caption": [_text(rng, 4) for _ in paths],
            "texts": pa.array([[_text(rng, 3) for _ in range(rng.randint(0, 2))]
                               for _ in paths], strs),
            "description": [_text(rng, 10) for _ in paths],
        }),
    }
    out = []
    for name, table in tables.items():
        os.makedirs(os.path.join(root, name))
        pq.write_table(table, os.path.join(root, name, "part-0.parquet"))
        out.append(os.path.join(root, name))
    return out


def _peak_rss_mb(pid: int | str = "self") -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def _time(frames, keywords, cap: int) -> tuple[float, int]:
    from mmkg_rag_spark.metrics import _PAIR_SITES

    retrieval.DRIVER_MAX_BYTES = cap
    walls = []
    for _ in range(REPEATS + 1):  # the first call warms up
        before = _PAIR_SITES.get("fuzzy_search", {}).get("driver_pairs", 0)
        t0 = time.perf_counter()
        for df in retrieval.search_eris(*frames, keywords).values():
            df.collect()
        walls.append(time.perf_counter() - t0)
        pairs = _PAIR_SITES.get("fuzzy_search", {}).get("driver_pairs", 0) - before
    return statistics.median(walls[1:]), pairs


def main(ladder: list[int]) -> None:
    spark = get_spark(extra_conf={"spark.driver.memory": "2g"})
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with tempfile.TemporaryDirectory() as tmp:
        for n in ladder:
            paths = write_graph(os.path.join(tmp, str(n)), n)
            frames = [spark.read.parquet(p) for p in paths]
            est = sum(retrieval._plan_bytes(df) for df in frames)
            for keywords in (["Ada Lovelace"], ["Ada Lovelace", "Enigma", "Grace", "Tyrell"]):
                spark_s, _ = _time(frames, keywords, -1)
                driver_s, pairs = _time(frames, keywords, 1 << 62)
                print(json.dumps({
                    "nodes": n, "edges": 15 * n, "images": n,
                    "size_estimate_mb": round(est / 2**20, 3),
                    "keywords": len(keywords), "pairs": pairs,
                    "spark_plan_ms": round(spark_s * 1000),
                    "driver_path_ms": round(driver_s * 1000),
                    "py_peak_rss_mb": round(_peak_rss_mb()),
                    "jvm_peak_rss_mb": round(_peak_rss_mb(jvm_pid)),
                }), flush=True)
    spark.stop()


if __name__ == "__main__":
    main([int(a) for a in sys.argv[1:]] or [80, 400, 2000, 8000, 20000])
