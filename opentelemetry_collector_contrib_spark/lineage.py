"""Checkpointed lineage + idempotent resume.

Reference analog: the filelog receiver persists reader offsets
(fingerprint + byte offset) every poll via the storage extension
(pkg/stanza/fileconsumer/internal/checkpoint/checkpoint.go:20-80), so a
restarted collector resumes tailing without re-emitting. Under table
semantics the "offset" is a snapshot id: each pipeline run consumes
input snapshots (from_id, to_id]; the sink commit itself carries that
range in its snapshot properties, making the commit the checkpoint —
resume reads the sink's last committed range and continues from there.
A run killed mid-write leaves no committed sink snapshot, so the rerun
reprocesses the same increment and commits once: exactly-once sink
contents without a coordinator (Iceberg-style atomic commit protocol).

The lineage table (FIXTURES.md section 8 schema) is emitted alongside
for observability: one row per (run, sink) commit.
"""

from __future__ import annotations

import time
import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .envelope import local_frame
from .sources.table import SnapshotTable

LINEAGE_SCHEMA = (
    "run_id string, sink string, from_snapshot long, to_snapshot long, "
    "rows_out long, status string, updated_at double"
)


@dataclass
class CheckpointedWriter:
    """Write per-sink outputs with snapshot-range dedup."""

    lineage: SnapshotTable

    def last_processed(self, sink_table: SnapshotTable) -> int:
        """Highest input snapshot id already committed to this sink."""
        last = 0
        for s in sink_table.snapshots():
            rng = s.get("properties", {}).get("source_range")
            if rng:
                last = max(last, int(rng[1]))
        return last

    def commit(
        self,
        sink_table: SnapshotTable,
        df: DataFrame,
        from_snapshot: int,
        to_snapshot: int,
        run_id: str | None = None,
    ) -> int | None:
        """Append ``df`` to the sink unless that range is already
        committed (idempotent rerun)."""
        run_id = run_id or uuid.uuid4().hex
        already = self.last_processed(sink_table)
        if to_snapshot <= already:
            return None  # rerun of a completed increment: no-op
        if from_snapshot < already:
            # PARTIAL overlap: snapshots (from, already] are committed
            # already but (already, to] are not — appending would
            # double-write the overlap and silently break the
            # exactly-once contract. The caller must re-derive the
            # increment from last_processed().
            raise ValueError(
                f"increment ({from_snapshot}, {to_snapshot}] overlaps the "
                f"committed range (.., {already}]: recompute from "
                f"last_processed()={already}"
            )
        # observe() snapshots the row count DURING the write job — a
        # plain df.count() afterwards would re-run the whole upstream DAG
        # (nothing is persisted), doubling the job at scale
        obs = Observation(f"lineage-{run_id}")
        observed = df.observe(obs, F.count(F.lit(1)).alias("rows_out"))
        sid = sink_table.append(
            observed,
            properties={"source_range": [from_snapshot, to_snapshot], "run_id": run_id},
        )
        spark = df.sparkSession
        self.lineage.append(
            local_frame(
                spark,
                [
                    (
                        run_id,
                        sink_table.path,
                        from_snapshot,
                        to_snapshot,
                        obs.get["rows_out"],
                        "committed",
                        time.time(),
                    )
                ],
                LINEAGE_SCHEMA,
            )
        )
        return sid
