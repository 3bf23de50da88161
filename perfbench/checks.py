"""Correctness checks on the program's outputs.

Every check raises ``CheckFailed``; the runner counts the operation it
guards as failed.
"""

from __future__ import annotations

import hashlib
import json
import os

IMAGE_LABEL = "#image"
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DIGEST_DIR = os.path.join(ROOT, ".perfbench-digests")


class CheckFailed(AssertionError):
    pass


def _plain(v):
    if isinstance(v, (list, tuple)):
        return [_plain(x) for x in v]
    return v


def collect_graph(catalog) -> dict[str, list[dict]]:
    """The latest committed nodes, edges and images as plain rows."""
    out = {}
    for table in ("nodes", "edges", "images"):
        rows = catalog.read(table).collect()
        out[table] = [{k: _plain(v) for k, v in r.asDict().items()} for r in rows]
    return out


def digest(graph: dict[str, list[dict]]) -> str:
    """Order-independent digest: hash of every table's sorted row encodings."""
    h = hashlib.sha256()
    for table in sorted(graph):
        enc = sorted(json.dumps(r, sort_keys=True, ensure_ascii=False) for r in graph[table])
        h.update(table.encode())
        for line in enc:
            h.update(line.encode())
    return h.hexdigest()


def _program_hash() -> str:
    """Hash of the program and benchmark sources: digests are comparable
    only between runs of the same code."""
    h = hashlib.sha256()
    for sub in ("mmkg_rag_spark", "perfbench"):
        for dirpath, dirnames, files in sorted(os.walk(os.path.join(ROOT, sub))):
            dirnames.sort()
            for f in sorted(files):
                if f.endswith(".py"):
                    with open(os.path.join(dirpath, f), "rb") as fh:
                        h.update(f.encode() + fh.read())
    return h.hexdigest()[:16]


def same_digest(key: str, value: str) -> None:
    """Every run of the same code and seed must produce the same output.
    The first run records its digest under the checkout's digest store;
    later runs compare against it."""
    os.makedirs(DIGEST_DIR, exist_ok=True)
    path = os.path.join(DIGEST_DIR, f"{key}-{_program_hash()}")
    try:
        with open(path, "x") as f:
            f.write(value)
        return
    except FileExistsError:
        with open(path) as f:
            want = f.read()
    if want != value:
        raise CheckFailed(f"output digest of {key} differs from an earlier run")


def structural(graph: dict[str, list[dict]]) -> None:
    """Endpoints are nodes (or image paths), triples are unique, and no
    merged-away alias member survives as a node name."""
    names = {n["name"] for n in graph["nodes"]}
    paths = {i["path"] for i in graph["images"]}
    if len(names) != len(graph["nodes"]):
        raise CheckFailed("duplicate node names")
    seen = set()
    for e in graph["edges"]:
        key = (e["source"], e["label"], e["target"])
        if key in seen:
            raise CheckFailed(f"duplicate triple {key}")
        seen.add(key)
        if e["source"] not in names:
            raise CheckFailed(f"edge source is not a node: {key}")
        targets = paths if e["label"].startswith(IMAGE_LABEL) else names
        if e["target"] not in targets:
            raise CheckFailed(f"edge target is not a node or image: {key}")
    for n in graph["nodes"]:
        clash = names.intersection(n["aliases"] or []) - {n["name"]}
        if clash:
            raise CheckFailed(f"alias member survives as node: {sorted(clash)[:3]}")


def precision_recall(got: set, want: set) -> tuple[float, float]:
    if not got and not want:
        return 1.0, 1.0
    hit = len(got & want)
    return hit / max(len(got), 1), hit / max(len(want), 1)


def against_reference(graph: dict[str, list[dict]], pages: list[dict], valid_paths: set[str], floor: float = 0.95) -> dict:
    """Triple and image-edge P/R of an engine build against the pure-Python
    reference replica (``kernels.refpipeline.build_graph``) on the same pages."""
    from mmkg_rag_spark.kernels.refpipeline import build_graph

    _, rels, _, img_rels = build_graph([(p["url"], p["text"]) for p in pages], valid_paths)
    want_t = {(r.source, r.label, r.target) for r in rels}
    want_i = {(r.source, r.label, r.target) for r in img_rels}
    got_t = {(e["source"], e["label"], e["target"]) for e in graph["edges"]
             if not e["label"].startswith(IMAGE_LABEL)}
    got_i = {(e["source"], e["label"], e["target"]) for e in graph["edges"]
             if e["label"].startswith(IMAGE_LABEL)}
    out = {}
    for kind, got, want in (("triples", got_t, want_t), ("image_edges", got_i, want_i)):
        p, r = precision_recall(got, want)
        out[kind] = {"precision": p, "recall": r, "n": len(want)}
        if p < floor or r < floor:
            raise CheckFailed(f"{kind} P/R {p:.3f}/{r:.3f} below {floor}")
    return out


def same_graph(stored: dict[str, list[dict]], oneshot: dict[str, list[dict]]) -> None:
    """Folded graph equals a one-shot build: node (name, label) pairs and
    entity-entity triples. Folds add no image edges, so those are excluded."""
    def nodes(g):
        return {(n["name"], n["label"]) for n in g["nodes"]}

    def triples(g):
        return {(e["source"], e["label"], e["target"]) for e in g["edges"]
                if not e["label"].startswith(IMAGE_LABEL)}

    if nodes(stored) != nodes(oneshot):
        diff = nodes(stored) ^ nodes(oneshot)
        raise CheckFailed(f"folded nodes differ from one-shot build: {sorted(diff)[:3]}")
    if triples(stored) != triples(oneshot):
        diff = triples(stored) ^ triples(oneshot)
        raise CheckFailed(f"folded triples differ from one-shot build: {sorted(diff)[:3]}")


def query_result(frames: dict[str, list], keyword: str, exact: bool, node_names: set[str] | None) -> None:
    """Seeds are stored nodes, an exact keyword finds a perfect seed, and
    every related edge touches the seed ∪ related universe."""
    seeds = [r["name"] for r in frames["seed_entities"]]
    if node_names is not None and not set(seeds) <= node_names:
        raise CheckFailed(f"seed entity not in graph for {keyword!r}")
    if exact and not any(r["score"] >= 100.0 for r in frames["seed_entities"]):
        raise CheckFailed(f"exact keyword {keyword!r} has no perfect seed")
    universe = set(seeds) | {r["name"] for r in frames["related_entities"]}
    for e in frames["related_edges"]:
        if e["source"] not in universe and e["target"] not in universe:
            raise CheckFailed(f"related edge outside the universe for {keyword!r}")
    for e in frames["image_edges"]:
        if e["source"] not in universe:
            raise CheckFailed(f"image edge outside the universe for {keyword!r}")
