"""Exporter-shaped sinks.

Reference mapping (SURVEY.md 2.7):
- file exporter (exporter/fileexporter/config.go:22-59): ``format``
  json|parquet, write to a path
- file exporter ``group_by`` (grouping_file_exporter.go:115-130):
  separate files keyed by an attribute -> ``partitionBy`` — Spark's
  partitioned write IS this operator, without the LRU bookkeeping
- batchperresourceattr (pkg/batchperresourceattr): same partitionBy
- loadbalancing exporter (consistent_hashing.go): ``repartition(n, key)``
  — the Spark shuffle IS consistent routing to N buckets

Routed fan-out: ``write_routed`` writes every sink of a tagged frame in
ONE job via ``partitionBy(route_col)`` — single scan, no per-sink
re-read; retries are Spark task retries (idempotent overwrite).
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..envelope import try_element_at


@dataclass
class FileSink:
    path: str
    format: str = "parquet"  # parquet|json|csv
    group_by: str | None = None  # attribute/column -> partitioned files
    mode: str = "overwrite"

    def __call__(self, df: DataFrame) -> None:
        if self.group_by and self.group_by not in df.columns:
            df = df.withColumn(
                self.group_by, try_element_at(F.col("attributes"), self.group_by)
            )
        writer = df.write.mode(self.mode).format(self.format)
        if self.group_by:
            writer = writer.partitionBy(self.group_by)
        writer.save(self.path)


def write_routed(
    tagged: DataFrame,
    base_path: str,
    route_col: str = "route",
    format: str = "parquet",
    mode: str = "overwrite",
) -> dict[str, str]:
    """Write a route-tagged frame to per-sink directories in one job:
    ``base_path/route=<sink>/``. Returns sink -> path.

    Sink names come from LISTING the written partition directories (a
    filesystem metadata call via the Hadoop FS API, so it works on any
    supported filesystem) — NOT from ``tagged.select(route).distinct()``,
    which would rescan the input and recompute the whole upstream DAG a
    second time just to build this dict. That shortcut is only valid
    when this job owns every ``route=`` directory, i.e. full overwrite:
    under ``mode="append"`` (or dynamic partition overwrite) the listing
    would also return STALE sinks from earlier runs, so those modes pay
    the distinct() scan for a truthful this-run dict.
    """
    static_overwrite = mode == "overwrite" and (
        tagged.sparkSession.conf.get(
            "spark.sql.sources.partitionOverwriteMode", "static"
        ).lower()
        == "static"
    )
    if not static_overwrite:
        # driver-bounded: one row per distinct route tag, i.e. at most
        # the number of sinks in the routing table (metadata-scale),
        # whatever the row count of ``tagged``
        this_run = {
            r[0]
            for r in tagged.select(route_col).distinct().collect()
            if r[0] is not None
        }
    (
        tagged.write.mode(mode)
        .format(format)
        .partitionBy(route_col)
        .save(base_path)
    )
    if not static_overwrite:
        return {
            s: os.path.join(base_path, f"{route_col}={s}")
            for s in sorted(this_run)
        }
    spark = tagged.sparkSession
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(base_path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    prefix = f"{route_col}="
    sinks = [
        st.getPath().getName()[len(prefix):]
        for st in fs.listStatus(jpath)
        if st.isDirectory() and st.getPath().getName().startswith(prefix)
    ]
    return {s: os.path.join(base_path, f"{route_col}={s}") for s in sorted(sinks)}


def write_otlp_json(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
) -> None:
    """file exporter, OTLP-JSON format (exporter/fileexporter/config.go
    ``format: json``): one ExportLogsServiceRequest JSON line per record
    (batch size 1; the reference writes one request per BATCH — group
    upstream with batchperresourceattr/partitionBy if coarser lines are
    wanted). Field mapping mirrors sources/otlpjson.py exactly, so a
    write → OtlpJsonFileSource read round-trips the envelope.
    """

    def kv_list(m: Column) -> Column:
        return F.transform(
            F.sort_array(F.map_entries(F.coalesce(
                m, F.from_json(F.lit("{}"), "map<string,string>")
            ))),
            lambda e: F.struct(
                e.getField("key").alias("key"),
                F.struct(e.getField("value").alias("stringValue")).alias("value"),
            ),
        )

    def nanos(ts: Column) -> Column:
        return (F.unix_micros(ts.cast("timestamp")) * 1000).cast("string")

    cols = set(df.columns)

    def c(name: str) -> Column:
        return F.col(name) if name in cols else F.lit(None)

    def m(name: str) -> Column:  # map-typed envelope fields
        return (
            F.col(name)
            if name in cols
            else F.from_json(F.lit(None), "map<string,string>")
        )

    record = F.struct(
        nanos(c("ts")).alias("timeUnixNano"),
        nanos(c("observed_ts")).alias("observedTimeUnixNano"),
        c("severity_number").cast("int").alias("severityNumber"),
        c("severity_text").cast("string").alias("severityText"),
        F.struct(c("body").cast("string").alias("stringValue")).alias("body"),
        kv_list(m("attributes")).alias("attributes"),
        F.lower(F.hex(c("trace_id"))).alias("traceId"),
        F.lower(F.hex(c("span_id"))).alias("spanId"),
    )
    doc = F.struct(
        F.array(
            F.struct(
                F.struct(kv_list(m("resource")).alias("attributes")).alias("resource"),
                F.array(
                    F.struct(
                        F.struct(c("scope").cast("string").alias("name")).alias("scope"),
                        F.array(record).alias("logRecords"),
                    )
                ).alias("scopeLogs"),
            )
        ).alias("resourceLogs")
    )
    df.select(F.to_json(doc).alias("value")).write.mode(mode).text(path)


def load_balance(df: DataFrame, n: int, key: str) -> DataFrame:
    """loadbalancingexporter semantics: consistent-hash rows on ``key``
    into n buckets (repartition shuffle = the routing fabric)."""
    return df.repartition(n, F.col(key))


def round_robin(df: DataFrame, n: int, sink_col: str = "sink_idx") -> DataFrame:
    """roundrobinconnector semantics: EQUALLY split load across n
    same-type pipelines regardless of content
    (connector/roundrobinconnector/connector.go — each consume call goes
    to the next consumer in turn).

    Columnar restatement: the per-partition row sequence plays the role
    of the consume-call sequence — ``monotonically_increasing_id`` is
    sequential within a partition, so ``id % n`` cycles through the
    sinks with at most one row of imbalance per partition, with NO
    shuffle and NO coordination (an exact global counter would serialize
    the fleet, the one thing a 1000-executor round-robin must not do).
    Deterministic for a fixed partitioning; pair with
    ``write_routed(route_col=sink_col)`` for the fan-out write.
    """
    if n < 1:
        raise ValueError("n must be >= 1")
    return df.withColumn(
        sink_col, F.pmod(F.monotonically_increasing_id(), F.lit(n)).cast("int")
    )


@dataclass
class FailoverSink:
    """failoverconnector semantics: priority levels of sinks; data goes
    to the highest-priority healthy level, falling through on failure
    (connector/failoverconnector/config.go PipelinePriority — a level is
    a FANOUT list, and if any member fails the level is unhealthy;
    failover.go walks down the priority list).

    Batch restatement: per invocation, try each level in priority order;
    a level "fails" when any of its sink callables raises. The batch
    analog of the retry timers (retry_interval/retry_gap wall-clock
    recovery probes) is simply that every invocation starts from the top
    level again — each run IS a retry of the stable level. ``max_retries``
    caps how many consecutive invocations may fail a level before it is
    pinned unhealthy for this connector instance. Returns the 0-based
    level that served the batch (obsreport-style signal for lineage).
    """

    levels: list[list]  # list of priority levels, each a list of sink callables
    max_retries: int = 0  # 0 = never pin a level unhealthy

    def __post_init__(self):
        if not self.levels:
            raise ValueError("failover needs at least one priority level")
        self._fail_counts = [0] * len(self.levels)

    def __call__(self, df: DataFrame) -> int:
        last_err: Exception | None = None
        for i, level in enumerate(self.levels):
            if self.max_retries and self._fail_counts[i] >= self.max_retries:
                continue
            try:
                for sink in level:
                    sink(df)
                self._fail_counts[i] = 0
                return i
            except Exception as e:  # level unhealthy -> fall through
                self._fail_counts[i] += 1
                last_err = e
        raise RuntimeError("all failover levels failed") from last_err


class HashRing:
    """EXACT Karger consistent-hash ring from the loadbalancing exporter
    (exporter/loadbalancingexporter/consistent_hashing.go): each
    endpoint contributes ``weight`` virtual positions crc32(endpoint ++
    byte(i)) % 36000 (first endpoint wins a contested position); an
    identifier routes to the first ring position >= crc32(id) % 36000,
    wrapping to the smallest. ``zlib.crc32`` and Spark's ``F.crc32``
    are both CRC-32/IEEE, so the driver-side ring and the columnar
    assignment agree bit-for-bit with the Go implementation (golden
    vectors in tests/test_golden_hashring.py are transcribed from
    consistent_hashing_test.go)."""

    MAX_POSITIONS = 36000
    DEFAULT_WEIGHT = 100

    def __init__(self, endpoints: list[str], weight: int = DEFAULT_WEIGHT):
        import zlib

        items: list[tuple[int, str]] = []
        seen: set[int] = set()
        for ep in endpoints:
            data = ep.encode()
            for i in range(weight):
                pos = zlib.crc32(data + bytes([i & 0xFF])) % self.MAX_POSITIONS
                if pos in seen:
                    continue
                seen.add(pos)
                items.append((pos, ep))
        items.sort(key=lambda t: t[0])
        if not items:
            raise ValueError("hash ring needs at least one endpoint")
        self.items = items

    def endpoint_for(self, identifier: bytes) -> str:
        """Driver-side twin of endpointFor (routing decisions for
        driver-held ids; the columnar path is :meth:`assign`)."""
        import zlib

        pos = zlib.crc32(identifier) % self.MAX_POSITIONS
        for p, ep in self.items:
            if p >= pos:
                return ep
        return self.items[0][1]

    def assign(
        self, df: DataFrame, id_col: str, id_is_hex: bool = False,
        out_col: str = "endpoint",
    ) -> DataFrame:
        """Stamp each row with its ring endpoint: crc32 of the id BYTES
        (``id_is_hex`` decodes a hex id like a trace id; otherwise the
        utf-8 bytes of the string id). The ring ships as a plan literal;
        the row position is staged as a column so the lookup lambda's
        outer references stay plain attributes (see processors/expo.py
        collapse for the lambda-sharing hazard)."""
        payload = (
            F.unhex(F.col(id_col)) if id_is_hex else F.encode(F.col(id_col), "utf-8")
        )
        df = df.withColumn("__lb_pos__", F.crc32(payload) % self.MAX_POSITIONS)
        ring = F.array(
            *[
                F.struct(F.lit(p).alias("pos"), F.lit(ep).alias("ep"))
                for p, ep in self.items
            ]
        )
        pos = F.col("__lb_pos__")
        hit = try_element_at(F.filter(ring, lambda x: x.getField("pos") >= pos), 1)
        return df.withColumn(
            out_col,
            F.coalesce(hit.getField("ep"), F.lit(self.items[0][1])),
        ).drop("__lb_pos__")


def write_bucketed_table(
    df: DataFrame,
    table: str,
    key: str,
    path: str,
    n_buckets: int = 256,
    format: str = "parquet",
    mode: str = "overwrite",
) -> None:
    """Persist a frame hash-bucketed (and sorted) by ``key`` so that
    downstream equi-joins and aggregations on ``key`` are CO-LOCATED —
    the read side reports the bucketing to Catalyst and the join plans
    with ZERO Exchange operators (plan-guard tested).

    This is the 100 TB posture for the repeated joins this engine
    performs against the same identity column (dedup semi-join back on
    doc hash/id, cluster-label joins in curation, enrich against a
    non-broadcastable dim): pay the shuffle ONCE at write time, reuse
    the physical layout for every subsequent join at read time. The
    reference's analogue is the loadbalancing exporter pinning a key
    to a backend so per-key state never moves
    (exporter/loadbalancingexporter/README.md routing_key).

    Bucketed tables go through ``saveAsTable`` (the in-session catalog
    records the bucket spec; the files live under ``path``), so the
    read side MUST use ``spark.table(table)`` — a bare
    ``spark.read.parquet(path)`` sees plain files and re-shuffles.
    """
    (
        df.write.mode(mode)
        .format(format)
        .bucketBy(n_buckets, key)
        .sortBy(key)
        .option("path", path)
        .saveAsTable(table)
    )
