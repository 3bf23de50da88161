"""Per-stage lineage + metrics rows (north-rule ops requirement).

Every catalog commit appends, per table it commits, one row per non-empty
output *data file* (file ↔ write-task partition) to the catalog's
``_metrics`` table, the stage being the table's name:

    (stage, snapshot, input_snapshot, file, rows, rows_in, wall_ms, ts)

File-level row counts are the commit's log-entry counts, read from the
just-written files' parquet footers on the driver — no Spark job, no
re-scan of the snapshot. ``file`` is
the data file's ``file://`` URI, the form ``input_file_name()`` reports.
This is the explicit accounting the north star asks for beyond what the
Spark UI provides, and it lives next to the data so a resumed run appends
to the same history.
"""

from __future__ import annotations

import os
import time
import uuid
from pathlib import Path
from typing import TYPE_CHECKING

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession

if TYPE_CHECKING:
    from .sources.catalog import ParquetCatalog

METRICS_SCHEMA = pa.schema([
    ("stage", pa.string()),
    ("snapshot", pa.string()),
    ("input_snapshot", pa.string()),
    ("file", pa.string()),
    ("rows", pa.int64()),
    ("rows_in", pa.int64()),
    ("wall_ms", pa.int64()),
    ("ts", pa.float64()),
])


def file_rows(catalog: ParquetCatalog, data_path: str) -> list[tuple[str, int]]:
    """(file, rows) of a snapshot's non-empty data files, read from their
    parquet footers on the driver — no Spark job. An empty write-task file
    contributes no row to a scan."""
    files = sorted(catalog._data_files(data_path))
    return [(f, n) for f in files if (n := pq.read_metadata(f).num_rows)]


def record_stage(
    catalog: ParquetCatalog,
    stage: str,
    snapshot: str,
    input_snapshot: str,
    data_path: str,
    wall_ms: int,
    rows_in: int = -1,
) -> int:
    """Append per-file lineage rows for a just-written data directory, its
    rows read from the footers; returns its total row count. A catalog
    commit records its own lineage (``record_files``), so this is for
    data written outside one."""
    return record_files(
        catalog, stage, snapshot, input_snapshot,
        file_rows(catalog, data_path), wall_ms, rows_in,
    )


def record_files(
    catalog: ParquetCatalog,
    stage: str,
    snapshot: str,
    input_snapshot: str,
    files: list[tuple[str, int]],
    wall_ms: int,
    rows_in: int,
) -> int:
    """Append one lineage row per (data file, rows); returns the rows' sum.

    ``rows_in`` is the upstream snapshot's row count (-1 when there is
    none) — with per-file ``rows`` out, each stage's row fan-in/fan-out is
    auditable straight from the metrics table. Each call adds one file to
    ``_metrics/{stage}-{snapshot}``, so a snapshot recomputed after a
    crash keeps its earlier rows."""
    ts = time.time()
    rows = [
        {
            "stage": stage,
            "snapshot": snapshot,
            "input_snapshot": input_snapshot,
            "file": Path(path).absolute().as_uri(),
            "rows": n,
            "rows_in": int(rows_in),
            "wall_ms": int(wall_ms),
            "ts": ts,
        }
        for path, n in files
    ]
    out = os.path.join(catalog.warehouse, "_metrics", f"{stage}-{snapshot}")
    os.makedirs(out, exist_ok=True)
    pq.write_table(
        pa.Table.from_pylist(rows, schema=METRICS_SCHEMA),
        os.path.join(out, f"part-{uuid.uuid4().hex}.parquet"),
    )
    return sum(r["rows"] for r in rows)


def read_metrics(spark: SparkSession, warehouse: str) -> DataFrame:
    return (
        spark.read.option("basePath", os.path.join(warehouse, "_metrics"))
        .option("mergeSchema", "true")  # tolerate pre-rows_in history
        .parquet(os.path.join(warehouse, "_metrics", "*"))
    )


# ---------------------------------------------------------------------------
# Similarity-kernel throughput accounting (VERDICT r3 item 5).
#
# The stdlib bit-parallel LCS kernel (kernels/similarity.py) is the per-pair
# constant behind D1 dedup verify, M4 image-entity scoring, and R2 fuzzy
# search. LSH/token blocking bounds HOW MANY pairs are scored; these counters
# state HOW FAST, so the 100×-scale cost is a measured budget
# (pairs ÷ pairs_per_sec), not a hope. Worker-side sites tick Spark
# accumulators inside the scoring UDFs (adds one integer add per Arrow batch
# — no behavior change, no extra jobs); driver-side pairwise fallbacks call
# record_pairs() directly.
# ---------------------------------------------------------------------------

_PAIR_SITES: dict[str, dict] = {}


def pair_accumulators(spark: SparkSession, site: str):
    """(pairs, ns) accumulators for a scoring site, recreated per context."""
    sc = spark.sparkContext
    cur = _PAIR_SITES.get(site)
    if cur is None or cur["ctx"] is not sc:
        _PAIR_SITES[site] = {
            "ctx": sc,
            "pairs": sc.accumulator(0),
            "ns": sc.accumulator(0),
            "driver_pairs": 0,
            "driver_ns": 0,
        }
    return _PAIR_SITES[site]["pairs"], _PAIR_SITES[site]["ns"]


def record_pairs(site: str, pairs: int, ns: int) -> None:
    """Driver-side scoring (small-input pairwise fallbacks)."""
    entry = _PAIR_SITES.setdefault(
        site, {"ctx": None, "pairs": None, "ns": None,
               "driver_pairs": 0, "driver_ns": 0}
    )
    entry["driver_pairs"] += int(pairs)
    entry["driver_ns"] += int(ns)


def similarity_throughput() -> dict[str, dict]:
    """Per-site scored-pair counts and pairs/sec since session start.

    ns is summed across tasks, so pairs_per_sec is per-core kernel
    throughput — multiply by cores for cluster-aggregate capacity."""
    out: dict[str, dict] = {}
    for site, e in _PAIR_SITES.items():
        pairs = e["driver_pairs"] + (e["pairs"].value if e["pairs"] else 0)
        ns = e["driver_ns"] + (e["ns"].value if e["ns"] else 0)
        if not pairs:
            continue
        secs = ns / 1e9
        out[site] = {
            "pairs": pairs,
            "kernel_secs": round(secs, 3),
            "pairs_per_sec_per_core": round(pairs / secs, 1) if secs else None,
        }
    return out
