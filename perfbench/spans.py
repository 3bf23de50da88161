"""Span recorder and per-layer Spark accounting for the traced run.

A span is (name, start, end, parent, run_id). Spans are kept in memory and
printed with the run's report at the end. Each span tags the Spark jobs it
starts with a job group named after its layer (the span name up to the
first dot), so the UI's REST API can attribute jobs, tasks, failed tasks
and shuffle bytes to layers after the run. A layer's busy time is the sum of its spans' self
times: span duration minus the time covered by its child spans.
"""

from __future__ import annotations

import json
import time
import urllib.request
from contextlib import contextmanager

LAYERS = ("sources", "extract", "dedup", "mmodal", "sinks", "retrieval",
          "incremental", "catalog")


def layer_of(name: str) -> str:
    return name.split(".", 1)[0]


class Tracer:
    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    def group(self, name: str) -> str:
        return f"{self.run_id}:{layer_of(name)}"

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        sp = {"id": len(self.spans), "name": name, "run_id": self.run_id,
              "parent": parent["id"] if parent else None,
              "start": time.perf_counter(), "end": None}
        self.spans.append(sp)
        self._stack.append(sp)
        self.sc.setJobGroup(self.group(name), name)
        try:
            yield sp
        finally:
            sp["end"] = time.perf_counter()
            self._stack.pop()
            if parent:
                self.sc.setJobGroup(self.group(parent["name"]), parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def self_times(self) -> dict[int, float]:
        """span id → duration minus the union of its children's intervals
        (children of one driver thread never overlap, so a sum suffices)."""
        own = {s["id"]: s["end"] - s["start"] for s in self.spans}
        for s in self.spans:
            if s["parent"] is not None:
                own[s["parent"]] -= s["end"] - s["start"]
        return own

    def busy_by_layer(self) -> dict[str, float]:
        out = dict.fromkeys(LAYERS, 0.0)
        for sid, t in self.self_times().items():
            layer = layer_of(self.spans[sid]["name"])
            if layer in out:
                out[layer] += t
        return out


def _get(base: str, path: str):
    with urllib.request.urlopen(base + path, timeout=30) as r:
        return json.loads(r.read())


def spark_by_layer(spark, run_id: str) -> dict[str, dict]:
    """Jobs, completed tasks, failed tasks and shuffle-write MiB per layer,
    read from the UI REST API on localhost. Waits until the UI's job list
    stops growing (its status store is fed asynchronously)."""
    sc = spark.sparkContext
    port = sc.uiWebUrl.rsplit(":", 1)[1]
    base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"
    jobs, prev = [], -1
    for _ in range(40):
        time.sleep(0.25)
        jobs = _get(base, "/jobs")
        done = all(j["status"] != "RUNNING" for j in jobs)
        if len(jobs) == prev and done:
            break
        prev = len(jobs)
    stages = {s["stageId"]: s for s in _get(base, "/stages")}
    out = {layer: {"jobs": 0, "tasks": 0, "failed_tasks": 0, "shuffle_mb": 0.0}
           for layer in LAYERS}
    counted: set[int] = set()
    for j in jobs:
        group = j.get("jobGroup") or ""
        if not group.startswith(run_id + ":"):
            continue
        layer = group.split(":", 1)[1]
        if layer not in out:
            continue
        o = out[layer]
        o["jobs"] += 1
        o["tasks"] += j.get("numCompletedTasks", 0)
        o["failed_tasks"] += j.get("numFailedTasks", 0)
        for sid in j.get("stageIds", []):
            st = stages.get(sid)
            if st is None or sid in counted:
                continue
            counted.add(sid)
            o["shuffle_mb"] += st.get("shuffleWriteBytes", 0) / 2**20
    return out
