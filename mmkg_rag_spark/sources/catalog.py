"""Snapshot catalog: Iceberg-semantics table store with a parquet fallback.

North-rule requirements this implements (BASELINE.json): every stage writes
its output as a table *snapshot* keyed by the fingerprint of its inputs +
parameters, so a re-run **resumes** — any stage whose output snapshot already
exists for its input fingerprint is skipped and read back instead of
recomputed (reference analogue: incremental pickles, storage/index.py:32-58,
but content-addressed and distributed).

On a real cluster with the Iceberg runtime jar, ``session.get_spark`` attaches
the Iceberg catalog and these tables map 1:1 onto Iceberg tables (snapshot id
↔ Iceberg snapshot, manifest.json ↔ Iceberg metadata, input_fingerprint ↔
snapshot summary property). The sandbox has no Iceberg jar, so the same
semantics run on a directory layout:

    {warehouse}/{table}/manifest.json          — snapshot list (atomic rename)
    {warehouse}/{table}/snap-{fingerprint}/    — parquet data files

Each manifest entry stores the schema its files read back as, so ``read``
passes it to the reader instead of launching a parquet schema-inference job
(Iceberg keeps the schema in table metadata for the same reason). Entries
written without one fall back to inference.

Fingerprints are content-addressed: sha256 of (stage name, params, input
fingerprints) — deterministic across runs, so resume needs no mutable state.
"""

from __future__ import annotations

import hashlib
import json
import os
import time
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

# ``compact``'s target data-file size: Spark's default read split
# (spark.sql.files.maxPartitionBytes), so one compacted file is one scan task
COMPACT_FILE_BYTES = 128 * 1024 * 1024


def fingerprint(*parts: Any) -> str:
    """Deterministic 16-hex-char fingerprint of stage name + params + inputs."""
    raw = json.dumps(parts, sort_keys=True, default=str).encode()
    return hashlib.sha256(raw).hexdigest()[:16]


def _file_schema(df: DataFrame) -> dict:
    """``df``'s schema as its parquet files read back: every field nullable."""
    return json.loads(df._jdf.schema().asNullable().json())


class ParquetCatalog:
    def __init__(self, spark: SparkSession, warehouse: str):
        self.spark = spark
        self.warehouse = warehouse
        os.makedirs(warehouse, exist_ok=True)

    # -- manifest ----------------------------------------------------------
    def _manifest_path(self, table: str) -> str:
        return os.path.join(self.warehouse, table, "manifest.json")

    def _load_manifest(self, table: str) -> list[dict]:
        p = self._manifest_path(table)
        if not os.path.exists(p):
            return []
        with open(p) as f:
            return json.load(f)

    def _save_manifest(self, table: str, snapshots: list[dict]) -> None:
        p = self._manifest_path(table)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        tmp = p + ".tmp"
        with open(tmp, "w") as f:
            json.dump(snapshots, f, indent=1)
        os.replace(tmp, p)  # atomic commit, Iceberg-style

    # -- snapshots ---------------------------------------------------------
    def snapshot_dir(self, table: str, snap: str) -> str:
        return os.path.join(self.warehouse, table, f"snap-{snap}")

    def has_snapshot(self, table: str, snap: str) -> bool:
        return any(s["id"] == snap for s in self._load_manifest(table))

    def _commit(
        self, table: str, snap: str, path: str, meta: dict | None, df: DataFrame
    ) -> None:
        """Append a manifest entry with a monotonic sequence number.

        ``seq`` (append order) — not wall-clock ts — defines "latest":
        same-tick or skewed clocks can tie/invert ``ts``, which would make
        the streaming incremental path fold onto a stale graph (ADVICE r1).
        """
        manifest = [s for s in self._load_manifest(table) if s["id"] != snap]
        seq = 1 + max((s.get("seq", 0) for s in manifest), default=0)
        manifest.append(
            {
                "id": snap,
                "seq": seq,
                "ts": time.time(),
                "path": path,
                "schema": _file_schema(df),
                **(meta or {}),
            }
        )
        self._save_manifest(table, manifest)

    def write(self, df: DataFrame, table: str, snap: str, meta: dict | None = None) -> str:
        """Materialize df as snapshot ``snap`` of ``table``; returns data dir."""
        path = self.snapshot_dir(table, snap)
        df.write.mode("overwrite").parquet(path)
        self._commit(table, snap, path, meta, df)
        return path

    def write_all(
        self,
        writes: list[tuple[DataFrame, str]],
        snap: str,
        meta: dict | None = None,
    ) -> dict[str, str]:
        """Multi-table snapshot commit: all data lands before any manifest.

        Pairing with an all-tables ``has_snapshot`` check gives crash-safe
        idempotence for multi-table stages (a fold's nodes+edges,
        ``sinks.write_graph``'s nodes+edges+images): a failed data write
        commits no manifest, and a crash between manifest commits leaves
        at most a prefix committed; the replay sees a missing member and
        recomputes, and the data rewrite is overwrite-idempotent (ADVICE
        r1: no lost-edges window).
        """
        paths: dict[str, str] = {}
        for df, table in writes:
            path = self.snapshot_dir(table, snap)
            df.write.mode("overwrite").parquet(path)
            paths[table] = path
        for df, table in writes:
            self._commit(table, snap, paths[table], meta, df)
        return paths

    def _entry(self, table: str, snap: str | None) -> dict:
        """Manifest entry of ``snap`` (default: latest = highest seq)."""
        manifest = self._load_manifest(table)
        if not manifest:
            raise FileNotFoundError(f"no snapshots for table {table}")
        if snap is None:
            return max(manifest, key=lambda s: (s.get("seq", 0), s["ts"]))
        return next(s for s in manifest if s["id"] == snap)

    def read(self, table: str, snap: str | None = None) -> DataFrame:
        """Read a snapshot (default: latest committed = highest seq)."""
        entry = self._entry(table, snap)
        reader = self.spark.read
        if "schema" in entry:
            reader = reader.schema(StructType.fromJson(entry["schema"]))
        return reader.parquet(entry["path"])

    def snapshots(self, table: str) -> list[dict]:
        return self._load_manifest(table)

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
        entry = self._entry(table, snap)
        files = self._data_files(entry["path"])
        total = sum(os.path.getsize(f) for f in files)
        n_out = max(1, -(-total // COMPACT_FILE_BYTES))
        # already at or under the target file count (a one-file snapshot too)
        if len(files) <= n_out:
            return {
                "table": table,
                "snapshot": entry["id"],
                "files_before": len(files),
                "files_after": len(files),
                "bytes": total,
                "compacted": False,
            }
        new_snap = fingerprint("compact", entry["id"], COMPACT_FILE_BYTES)
        df = self.read(table, entry["id"]).coalesce(int(n_out))
        path = self.snapshot_dir(table, new_snap)
        df.write.mode("overwrite").parquet(path)
        self._commit(
            table,
            new_snap,
            path,
            {"compacted_from": entry["id"], "files_before": len(files)},
            df,
        )
        return {
            "table": table,
            "snapshot": new_snap,
            "files_before": len(files),
            "files_after": len(self._data_files(path)),
            "bytes": total,
            "compacted": True,
        }
