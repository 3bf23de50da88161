"""Per-stage lineage + metrics rows (north-rule ops requirement).

A catalog commit's log entry (sources/catalog.py) is its lineage record: it
holds the commit's id, meta ``input``, ``wall_ms``, ``ts`` and, per table,
each non-empty data file's footer row count, read on the driver when the
commit lands — no Spark job, no re-scan of the snapshot. ``read_metrics``
turns the log into one row per (entry, table, non-empty file), the stage
being the table's name:

    (stage, snapshot, input_snapshot, file, rows, rows_in, wall_ms, ts)

``file`` is the data file's ``file://`` URI, the form ``input_file_name()``
reports. ``rows_in`` is resolved at read time. This is the explicit
accounting the north star asks for beyond what the Spark UI provides, and it
lives next to the data, so a resumed run extends the same history.
"""

from __future__ import annotations

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
    """Total footer row count of a just-written data directory.

    Records nothing: lineage is the catalog's log entry, so data committed
    through ``ParquetCatalog`` already has it, and data written outside a
    commit is not part of any snapshot a reader resolves. The signature is
    kept for the callers that still pass a stage's lineage fields."""
    return sum(n for _, n in file_rows(catalog, data_path))


def read_metrics(spark: SparkSession, warehouse: str) -> DataFrame:
    """The warehouse's lineage rows (``METRICS_SCHEMA``), read from its log.

    ``rows_in`` is the row total of the newest earlier entry whose id is
    the entry's meta ``input`` (-1 when there is none)."""
    from .sources.catalog import ParquetCatalog, entry_rows

    rows, committed = [], {}
    for e in reversed(list(ParquetCatalog(spark, warehouse)._entries())):
        inp = e["meta"].get("input", "-")
        rows_in = committed.get(inp, -1)
        for table, t in e["tables"].items():
            rows += [
                {
                    "stage": table,
                    "snapshot": e["id"],
                    "input_snapshot": inp,
                    "file": Path(warehouse, t["path"], f).absolute().as_uri(),
                    "rows": n,
                    "rows_in": rows_in,
                    "wall_ms": e["wall_ms"],
                    "ts": e["ts"],
                }
                for f, n in t["files"].items()
            ]
        committed[e["id"]] = entry_rows(e)
    return spark.createDataFrame(pa.Table.from_pylist(rows, schema=METRICS_SCHEMA))


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
