"""obsreport-style pipeline metrics.

Reference: receivers wrap delivery in StartLogsOp/EndLogsOp counters
(pkg/stanza/adapter/receiver.go:124-131); processors expose counters
like ``processor_filter_logs.filtered`` (filterprocessor/telemetry.go:
60-99). Spark restatement: ``df.observe(name, exprs)`` accumulates
per-stage counters DURING the action with zero extra passes; this
module snapshots them into a metrics table after the run.

Classic-session only: ``_get_or_none`` reads the JVM Observation's
``getRowOrEmpty`` (the non-blocking twin of ``Observation.get``), which
Spark Connect's ConnectObservation does not expose — under Connect the
snapshot reports static entries only.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.observation import Observation

from .envelope import local_frame


@dataclass
class MetricsCollector:
    run_id: str
    # stage -> every Observation attached under that name, in order —
    # a repeated stage (warm-up + timed run, a per-batch loop) ADDS a
    # counter instead of silently dropping the earlier run's values
    # (obsreport counters accumulate across operations)
    observations: dict[str, list[Observation]] = field(default_factory=dict)
    static: list[tuple[str, str, float]] = field(default_factory=list)
    # streaming per-micro-batch counters: stage -> {batch_id -> metrics}.
    # Keyed by batch_id so a REPLAYED micro-batch (crash between the
    # sink write and the checkpoint commit) overwrites its own entry
    # instead of double-counting; entries older than the replay horizon
    # fold into _batch_committed so a long-lived service stays bounded.
    _batch_pending: dict[str, dict[int, dict[str, float]]] = field(
        default_factory=dict
    )
    _batch_committed: dict[tuple[str, str], float] = field(default_factory=dict)

    #: batches older than this many ids behind the latest can no longer
    #: replay (Structured Streaming re-runs only uncommitted batches)
    BATCH_REPLAY_HORIZON = 16

    def observe(self, df: DataFrame, stage: str, **exprs) -> DataFrame:
        """Attach counters to a frame; exprs default to a row count."""
        seq = self.observations.setdefault(stage, [])
        obs = Observation(f"{self.run_id}:{stage}#{len(seq)}")
        cols = (
            [e.alias(n) for n, e in exprs.items()]
            if exprs
            else [F.count(F.lit(1)).alias("rows")]
        )
        seq.append(obs)
        return df.observe(obs, *cols)

    def add(self, stage: str, metric: str, value: float) -> None:
        self.static.append((stage, metric, float(value)))

    def record_batch(
        self, stage: str, batch_id: int, metrics: dict[str, float]
    ) -> None:
        """Replay-safe streaming counters: one entry per micro-batch,
        overwritten if the batch replays; entries safely past the
        replay horizon fold into a running committed sum so driver
        memory does not grow with stream lifetime."""
        per = self._batch_pending.setdefault(stage, {})
        if per and batch_id < max(per):
            # ids went BACKWARDS: the streaming query restarted on a
            # FRESH checkpoint (batch ids reset to 0). Micro-batches run
            # sequentially and batch n+1 only starts after n commits, so
            # the only legal re-delivery within one incarnation is the
            # LATEST id replaying (the overwrite case below) — any
            # strictly lower id means a new incarnation, regardless of
            # how short the previous one was. Fold the whole previous
            # incarnation into the committed sum first, so a colliding
            # low id cannot overwrite it and its stale high ids never
            # linger unfolded.
            for b in list(per):
                for m, v in per.pop(b).items():
                    key = (stage, m)
                    self._batch_committed[key] = (
                        self._batch_committed.get(key, 0.0) + v
                    )
        per[batch_id] = {
            m: float(v) for m, v in metrics.items() if v is not None
        }
        horizon = batch_id - self.BATCH_REPLAY_HORIZON
        for b in [b for b in per if b < horizon]:
            for m, v in per.pop(b).items():
                key = (stage, m)
                self._batch_committed[key] = (
                    self._batch_committed.get(key, 0.0) + v
                )

    @staticmethod
    def _get_or_none(obs: Observation) -> dict | None:
        """Non-blocking twin of ``Observation.get``.

        ``Observation.get`` BLOCKS until the observed frame's first
        action completes — for a stage whose action never ran (a
        skipped routed branch) it would hang the driver forever. The
        JVM Observation exposes ``getRowOrEmpty`` (Option[Row]); an
        empty option means not-yet-run and is skipped.
        """
        jo = getattr(obs, "_jo", None)
        if jo is None:
            return None  # never attached, or a Connect-session Observation
        jopt = jo.getRowOrEmpty()
        if not jopt.isDefined():
            return None  # action not yet run for this frame
        from pyspark.serializers import CPickleSerializer

        jvm = obs._jvm
        utils = getattr(jvm, "org.apache.spark.sql.api.python.PythonSQLUtils")
        row = CPickleSerializer().loads(utils.toPyRow(jopt.get()))
        return row.asDict(recursive=False)

    def snapshot(self, spark: SparkSession) -> DataFrame:
        """Metrics table: run_id, stage, metric, value, ts (obsreport
        analog; one row per counter). Stages whose action never ran are
        skipped without blocking (see ``_get_or_none``). Numeric
        counters from repeated observations of one stage SUM (counter
        semantics); a non-numeric observed value (a max(ts), a
        first(str)) is skipped rather than crashing the whole table —
        observe() accepts arbitrary Columns but the metrics table is
        ``value double`` by contract."""
        sums: dict[tuple[str, str], float] = {}
        order: list[tuple[str, str]] = []
        for stage, seq in self.observations.items():
            for obs in seq:
                got = self._get_or_none(obs)
                if got is None:
                    continue
                for metric, value in got.items():
                    if value is None or isinstance(value, bool):
                        continue
                    if not isinstance(value, (int, float)):
                        continue  # non-numeric aggregate: not a counter
                    key = (stage, metric)
                    if key not in sums:
                        sums[key] = 0.0
                        order.append(key)
                    sums[key] += float(value)
        # streaming batch counters: committed sum + still-pending batches
        batch_sums: dict[tuple[str, str], float] = dict(self._batch_committed)
        for stage, per in self._batch_pending.items():
            for metrics in per.values():
                for m, v in metrics.items():
                    key = (stage, m)
                    batch_sums[key] = batch_sums.get(key, 0.0) + v
        for key, v in batch_sums.items():
            if key not in sums:
                sums[key] = 0.0
                order.append(key)
            sums[key] += v
        now = time.time()
        rows = [
            (self.run_id, stage, metric, sums[(stage, metric)], now)
            for stage, metric in order
        ]
        for stage, metric, value in self.static:
            rows.append((self.run_id, stage, metric, value, now))
        return local_frame(
            spark,
            rows,
            "run_id string, stage string, metric string, value double, ts double",
        )
