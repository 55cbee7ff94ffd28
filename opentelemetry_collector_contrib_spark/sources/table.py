"""SnapshotTable: parquet-backed table with atomic snapshot commits.

Iceberg-semantics stand-in for environments without the Iceberg runtime
jar (this sandbox): a table is a directory of parquet files plus a JSON
manifest log; every commit writes data files, then atomically renames a
new manifest generation into place. Provides exactly the semantics the
pipeline needs from Iceberg (SURVEY.md 2.10):

- **atomic append/overwrite** (manifest rename = Iceberg metadata swap)
- **snapshot ids** + time-travel read of any snapshot
- **incremental read** between snapshots (filelog offset-checkpoint
  analog: pkg/stanza/fileconsumer/internal/checkpoint/checkpoint.go)

On a real cluster with Iceberg configured, replace with
``spark.read.table`` / ``writeTo(...).append()`` — the call sites are
isolated here by design. The manifest is tiny (file lists), data files
are immutable parquet; readers pass explicit file lists to
``spark.read.parquet`` so partition pruning/pushdown still applies.
"""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession

from ..envelope import local_frame


class SnapshotTable:
    def __init__(self, path: str):
        self.path = path
        self.data_dir = os.path.join(path, "data")
        self.manifest = os.path.join(path, "manifest.json")
        os.makedirs(self.data_dir, exist_ok=True)

    # --- manifest ---------------------------------------------------------
    def _read_manifest(self) -> dict:
        if not os.path.exists(self.manifest):
            return {"snapshots": []}
        with open(self.manifest) as f:
            return json.load(f)

    def _commit_manifest(self, m: dict) -> None:
        tmp = self.manifest + f".tmp.{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump(m, f)
        os.replace(tmp, self.manifest)  # atomic on POSIX

    def snapshots(self) -> list[dict]:
        return self._read_manifest()["snapshots"]

    def current_snapshot_id(self) -> int | None:
        snaps = self.snapshots()
        return snaps[-1]["id"] if snaps else None

    # --- write ------------------------------------------------------------
    def _write_files(self, df: DataFrame) -> list[str]:
        staging = os.path.join(self.data_dir, f"commit-{uuid.uuid4().hex}")
        df.write.mode("overwrite").parquet(staging)
        return [
            os.path.join(staging, f)
            for f in os.listdir(staging)
            if f.endswith(".parquet")
        ]

    def append(self, df: DataFrame, properties: dict | None = None) -> int:
        files = self._write_files(df)
        m = self._read_manifest()
        prev = m["snapshots"][-1]["files"] if m["snapshots"] else []
        sid = (m["snapshots"][-1]["id"] + 1) if m["snapshots"] else 1
        m["snapshots"].append(
            {
                "id": sid,
                "op": "append",
                "files": prev + files,
                "added": files,
                "ts": time.time(),
                "properties": properties or {},
            }
        )
        self._commit_manifest(m)
        return sid

    def overwrite(self, df: DataFrame, properties: dict | None = None) -> int:
        files = self._write_files(df)
        m = self._read_manifest()
        sid = (m["snapshots"][-1]["id"] + 1) if m["snapshots"] else 1
        m["snapshots"].append(
            {
                "id": sid,
                "op": "overwrite",
                "files": files,
                "added": files,
                "ts": time.time(),
                "properties": properties or {},
            }
        )
        self._commit_manifest(m)
        return sid

    # --- read ---------------------------------------------------------------
    def _snap(self, snapshot_id: int | None) -> dict | None:
        snaps = self.snapshots()
        if not snaps:
            return None
        if snapshot_id is None:
            return snaps[-1]
        for s in snaps:
            if s["id"] == snapshot_id:
                return s
        raise KeyError(f"snapshot {snapshot_id} not found")

    def read(self, spark: SparkSession, snapshot_id: int | None = None) -> DataFrame:
        s = self._snap(snapshot_id)
        if s is None or not s["files"]:
            raise FileNotFoundError(f"table {self.path} is empty")
        return spark.read.parquet(*s["files"])

    def read_incremental(
        self, spark: SparkSession, from_snapshot_id: int, to_snapshot_id: int | None = None
    ) -> DataFrame:
        """Rows added AFTER from_snapshot_id up to to_snapshot_id
        (Iceberg start-snapshot-id incremental read ≡ resuming a tail
        from a saved offset)."""
        snaps = self.snapshots()
        files: list[str] = []
        for s in snaps:
            if s["id"] <= from_snapshot_id:
                continue
            if to_snapshot_id is not None and s["id"] > to_snapshot_id:
                break
            if s["op"] == "overwrite":
                raise ValueError("incremental read across an overwrite snapshot")
            files.extend(s["added"])
        if not files:
            return local_frame(spark, [], self.read(spark).schema)
        return spark.read.parquet(*files)
