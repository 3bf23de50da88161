"""Snapshot catalog: Iceberg-semantics table store over one commit log.

North-rule requirements this implements (BASELINE.json): every stage writes
its output as a table *snapshot* keyed by the fingerprint of its inputs +
parameters, so a re-run **resumes** — any stage whose output snapshot already
exists for its input fingerprint is skipped and read back instead of
recomputed (reference analogue: incremental pickles, storage/index.py:32-58,
but content-addressed and distributed).

On a real cluster with the Iceberg runtime jar, ``session.get_spark`` attaches
the Iceberg catalog and these tables map 1:1 onto Iceberg tables (snapshot id
↔ Iceberg snapshot, log entry ↔ Iceberg metadata file, input fingerprint ↔
snapshot summary property). The sandbox has no Iceberg jar, so the same
semantics run on a directory layout:

    {warehouse}/_log/v{seq}.json              — one immutable entry per commit
    {warehouse}/{table}/snap-{fingerprint}/   — parquet data files

A commit lands every table's data, then publishes ONE log entry for all of
them: the entry is written to a temp file and hard-linked to the next
``v{seq}.json``; ``os.link`` fails when that name exists, so a writer that
loses the race re-lists the log and takes the next seq (the Hadoop-catalog
commit of Iceberg and Delta Lake's log). A crash leaves the whole entry or
none: data without an entry is invisible, and a replay overwrites it.

An entry records its id, seq, meta, commit time (``ts``, ``wall_ms``), the
committing streaming query id (``sql.streaming.queryId``, None outside a
stream) and, for each table it commits, the warehouse-relative data path, the
schema the files read back as (so ``read`` starts no schema-inference job)
and each non-empty data file's footer row count. The log is also the
lineage record: ``metrics.read_metrics`` reads its rows from the entries, as
Iceberg manifests carry each data file's record count. A table's state at a
snapshot is its newest entry at or before that snapshot's seq, so the tables
read at one resolved snapshot id are one whole graph — a fold that commits
nodes and edges leaves images at the build's entry. Paths are relative, so a
byte copy of a warehouse reads.

Fingerprints are content-addressed: sha256 of (stage name, params, input
fingerprints) — deterministic across runs, so resume needs no mutable state.
"""

from __future__ import annotations

import hashlib
import json
import os
import time
import uuid
from typing import Any, Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from ..metrics import file_rows

# ``compact``'s target data-file size: Spark's default read split
# (spark.sql.files.maxPartitionBytes), so one compacted file is one scan task
COMPACT_FILE_BYTES = 128 * 1024 * 1024

LOG_DIR = "_log"


def fingerprint(*parts: Any) -> str:
    """Deterministic 16-hex-char fingerprint of stage name + params + inputs."""
    raw = json.dumps(parts, sort_keys=True, default=str).encode()
    return hashlib.sha256(raw).hexdigest()[:16]


def entry_rows(entry: dict, table: str | None = None) -> int:
    """Rows a log entry commits: of ``table``, or of all its tables."""
    tables = [entry["tables"][table]] if table else entry["tables"].values()
    return sum(n for t in tables for n in t["files"].values())


def _file_schema(df: DataFrame) -> dict:
    """``df``'s schema as its parquet files read back: every field nullable."""
    return json.loads(df._jdf.schema().asNullable().json())


class ParquetCatalog:
    def __init__(self, spark: SparkSession, warehouse: str):
        self.spark = spark
        self.warehouse = warehouse
        os.makedirs(warehouse, exist_ok=True)

    def snapshot_dir(self, table: str, snap: str) -> str:
        return os.path.join(self.warehouse, table, f"snap-{snap}")

    # -- log ---------------------------------------------------------------
    def _seqs(self) -> list[int]:
        """Committed seqs, newest first. An empty log in a warehouse with
        per-table manifests is an older format, never an empty catalog."""
        log = os.path.join(self.warehouse, LOG_DIR)
        seqs = [
            int(n[1:-5]) for n in (os.listdir(log) if os.path.isdir(log) else [])
            if n.startswith("v") and n.endswith(".json")
        ]
        if not seqs:
            legacy = sorted(
                t for t in os.listdir(self.warehouse)
                if os.path.isfile(os.path.join(self.warehouse, t, "manifest.json"))
            )
            if legacy:
                raise RuntimeError(
                    f"warehouse {self.warehouse} keeps per-table manifest.json "
                    f"files ({', '.join(legacy)}), which predate its commit log; "
                    "rebuild it"
                )
        return sorted(seqs, reverse=True)

    def _entries(self) -> Iterator[dict]:
        """Log entries, newest first, each read when reached."""
        for seq in self._seqs():
            with open(os.path.join(self.warehouse, LOG_DIR, f"v{seq}.json")) as f:
                yield json.load(f)

    def _publish(self, entry: dict) -> None:
        """Append ``entry`` as the next ``v{seq}.json`` (create-if-absent)."""
        log = os.path.join(self.warehouse, LOG_DIR)
        os.makedirs(log, exist_ok=True)
        tmp = os.path.join(log, f".tmp-{uuid.uuid4().hex}")
        try:
            while True:
                entry["seq"] = 1 + max(self._seqs(), default=0)
                with open(tmp, "w") as f:
                    json.dump(entry, f)
                try:
                    os.link(tmp, os.path.join(log, f"v{entry['seq']}.json"))
                    return
                except FileExistsError:
                    continue  # another writer took this seq
        finally:
            os.remove(tmp)

    def entry(self, snap: str | None = None) -> dict:
        """The newest log entry with id ``snap`` (default: the newest)."""
        for e in self._entries():
            if snap is None or e["id"] == snap:
                return e
        raise FileNotFoundError(f"no snapshot {snap} in {self.warehouse}")

    def has_snapshot(self, snap: str) -> bool:
        return any(e["id"] == snap for e in self._entries())

    def _resolve(self, table: str, snap: str | None) -> tuple[str, dict]:
        """(id, record) of ``table``'s newest entry at or before ``snap``."""
        reached = snap is None
        for e in self._entries():
            reached = reached or e["id"] == snap
            if reached and table in e["tables"]:
                return e["id"], e["tables"][table]
        raise FileNotFoundError(f"no snapshot of table {table} at {snap}")

    # -- commits -----------------------------------------------------------
    def write(self, df: DataFrame, table: str, snap: str, meta: dict | None = None) -> str:
        """Materialize df as snapshot ``snap`` of ``table``; returns data dir."""
        return self.write_all([(df, table)], snap, meta)[table]

    def write_all(
        self,
        writes: list[tuple[DataFrame, str]],
        snap: str,
        meta: dict | None = None,
    ) -> dict[str, str]:
        """Multi-table snapshot commit; returns table → data dir.

        Every table's data lands, then one log entry publishes them all;
        the entry is the commit's lineage record (``metrics.read_metrics``)."""
        t0 = time.time()
        paths: dict[str, str] = {}
        tables: dict[str, dict] = {}
        for df, table in writes:
            paths[table] = path = self.snapshot_dir(table, snap)
            df.write.mode("overwrite").parquet(path)
            tables[table] = {
                "path": os.path.relpath(path, self.warehouse),
                "schema": _file_schema(df),
                "files": {os.path.basename(f): n for f, n in file_rows(self, path)},
            }
        ts = time.time()
        self._publish({
            "id": snap,
            "ts": ts,
            "wall_ms": int((ts - t0) * 1000),
            "meta": meta or {},
            "query_id": self.spark.sparkContext.getLocalProperty(
                "sql.streaming.queryId"
            ),
            "tables": tables,
        })
        return paths

    def read(self, table: str, snap: str | None = None) -> DataFrame:
        """``table`` as of snapshot ``snap`` (default: its newest entry)."""
        _, t = self._resolve(table, snap)
        return self.spark.read.schema(StructType.fromJson(t["schema"])).parquet(
            os.path.join(self.warehouse, t["path"])
        )

    # -- maintenance (Iceberg rewrite_data_files) ---------------------------
    def _data_files(self, path: str) -> list[str]:
        return [
            os.path.join(path, f)
            for f in os.listdir(path)
            if f.endswith(".parquet") and not f.startswith(".")
        ]

    def compact(self, table: str, snap: str | None = None) -> dict:
        """Small-file compaction — the ``rewrite_data_files`` maintenance
        action every long-running table needs: streaming commits and
        per-stage snapshots accumulate KB-sized files whose per-file open
        cost eventually dominates scans (at 100 TB a table of 10 MB files
        is 10^7 opens per query). Rewrites the snapshot's data into
        ~``COMPACT_FILE_BYTES`` files as a NEW snapshot; the source
        snapshot stays readable (time travel preserved — compaction is a
        data-identical re-layout, never a destructive rewrite).

        Scale shape: ``coalesce`` (narrow — merges co-located partitions,
        NO shuffle) since compaction only ever reduces file count; the
        one full-shuffle alternative (repartition) buys nothing here.
        Returns stats {files_before, files_after, bytes, snapshot}.
        """
        src, t = self._resolve(table, snap)
        files = self._data_files(os.path.join(self.warehouse, t["path"]))
        total = sum(os.path.getsize(f) for f in files)
        n_out = max(1, -(-total // COMPACT_FILE_BYTES))
        # already at or under the target file count (a one-file snapshot too)
        if len(files) <= n_out:
            return {
                "table": table,
                "snapshot": src,
                "files_before": len(files),
                "files_after": len(files),
                "bytes": total,
                "compacted": False,
            }
        new_snap = fingerprint("compact", src, COMPACT_FILE_BYTES)
        path = self.write(
            self.read(table, src).coalesce(int(n_out)), table, new_snap,
            {"compacted_from": src, "files_before": len(files)},
        )
        return {
            "table": table,
            "snapshot": new_snap,
            "files_before": len(files),
            "files_after": len(self._data_files(path)),
            "bytes": total,
            "compacted": True,
        }
