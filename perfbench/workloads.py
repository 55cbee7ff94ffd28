"""The benchmark's two workloads.

Each workload generates its inputs from the seed, computes its DuckDB
expectations, and then runs *passes*. A pass is the unit ``run_s``
times; it is made of *operations* (one flagship run, one query), each
timed and each verified outside the timed region.

- ``flagship_batch``: the batch path of ``scripts/run_pipeline.py`` over
  seeded transcript parquet. One pass = one operation.
- ``query_suite``: headline queries of ``__spark_entry__.queries()``,
  each built and then collected (every output column computed and
  returned, never a bare ``count()``). One pass = the query list once;
  one operation = one query (build + collect).
"""

from __future__ import annotations

import calendar
import re
import shutil
import time
from collections import defaultdict
from dataclasses import dataclass, field
from pathlib import Path

import pyarrow.parquet as pq

import gen
import oracle
from common import median, noop
from tracing import Tracer

FLAGSHIP_TURNS = 100_000
FLAGSHIP_FILES = 4
# files of the cut input the traced run also drains as a stream
STREAM_CUT_FILES = 2
SUITE_EVENTS = 2_000
# rounds of the layer cuts (a traced run must end within 180 s)
CUT_ROUNDS = 2

# from bench.py's headline list, the driver-bound fuzzy-dedup funnel
# (eager builds, ~35 jobs), plus next-fit sequence packing in
# applyInPandas, the Python-worker path (the headline list's one
# Python-worker query, text_compression_ratio, has no oracle twin)
SUITE = [
    "fuzzy_dedup_funnel",
    "pack_nosplit",
]


@dataclass
class Op:
    latency_s: float
    ok: bool | None = None  # None until verified
    detail: str = ""
    query: str = ""
    result: object = None  # collected output, verified after the passes


@dataclass
class Pass:
    wall_s: float
    ops: list[Op]
    traced: bool = False
    root: object = None  # the pass's root span when traced
    info: dict = field(default_factory=dict)


def parquet_rows(d: Path) -> int:
    return sum(pq.read_metadata(f).num_rows for f in d.rglob("*.parquet"))


def route_rows(d: Path) -> dict[str, int]:
    """Rows per ``route=<sink>`` directory, from parquet footers."""
    return {
        p.name.split("=", 1)[1]: parquet_rows(p)
        for p in sorted(d.iterdir())
        if p.is_dir() and p.name.startswith("route=")
    }


def output_files(d: Path) -> tuple[int, int]:
    """(data files, bytes) under ``d``, Spark's marker files excluded."""
    files = [f for f in d.rglob("*") if f.is_file() and not f.name.startswith(("_", "."))]
    return len(files), sum(f.stat().st_size for f in files)


class Workload:
    name = ""

    def __init__(self, work: Path, seed: int, small: bool = False):
        self.work = work
        self.seed = seed
        self.small = small  # self-check size
        self.input_dir = work / "input"
        self.out_dir = work / "out"
        self.input_rows = 0
        self.props: dict = {}
        self.expect: dict = {}

    # outside every timed region
    def generate(self) -> dict:
        raise NotImplementedError

    def compute_expectations(self) -> None:
        self.expect = oracle.transcript_expectations(self.input_dir)

    # inside setup
    def stage(self, spark) -> None:
        """Register the inputs with the engine: list the files, read the
        footers, and plan (not run) the workload's DAG where building it
        launches no job."""
        spark.read.parquet(str(self.input_dir)).schema

    # after setup, untimed
    def warm(self, spark) -> None:
        """One pass over the real input, so no timed pass pays first-run
        code generation, class loading and the bulk of JIT compilation."""
        self.run_pass(spark, Tracer(spark, "warm", False), -1)

    # timed
    def run_pass(self, spark, tr: Tracer, i: int) -> Pass:
        raise NotImplementedError

    def finish(self, spark, passes: list[Pass]) -> None:
        """Deferred verification, after the last pass."""

    def cut_dir(self, spark) -> Path:
        """Transcript parquet files the layer cuts run over."""
        return self.input_dir

    def outputs(self, p: Pass) -> tuple[int, int]:
        return 0, 0


# --- flagship ------------------------------------------------------------------


class FlagshipBatch(Workload):
    name = "flagship_batch"

    def stage(self, spark) -> None:
        from opentelemetry_collector_contrib_spark.metrics import MetricsCollector
        from opentelemetry_collector_contrib_spark.pipeline import TranscriptPipeline

        df = spark.read.parquet(str(self.input_dir))
        routed, counts = TranscriptPipeline(collector=MetricsCollector(run_id="stage"))(df)
        routed._jdf.queryExecution().executedPlan()
        counts._jdf.queryExecution().executedPlan()

    def generate(self) -> dict:
        turns = 40_000 if self.small else FLAGSHIP_TURNS
        self.props = gen.write_transcripts(self.seed, str(self.input_dir), turns, FLAGSHIP_FILES)
        self.input_rows = turns
        return self.props

    def run_pass(self, spark, tr: Tracer, i: int) -> Pass:
        """The batch path of scripts/run_pipeline.py: routed rows written
        per sink, the counts table written, the metrics snapshot read."""
        from opentelemetry_collector_contrib_spark.metrics import MetricsCollector
        from opentelemetry_collector_contrib_spark.pipeline import TranscriptPipeline
        from opentelemetry_collector_contrib_spark.sinks.writers import write_routed

        t0 = time.perf_counter()
        with tr.span("flagship.run") as root:
            with tr.span("sources.read"):
                df = spark.read.parquet(str(self.input_dir))
            coll = MetricsCollector(run_id=f"perfbench-{i}")
            p = TranscriptPipeline(collector=coll)
            if tr.enabled:
                p.parse = tr.wrap("operators.parse", p.parse)
                p.enrich = tr.wrap("processors.enrich", p.enrich)
                p.route = tr.wrap("connectors.route", p.route)
                p.aggregate = tr.wrap("connectors.aggregate", p.aggregate)
                coll.snapshot = tr.wrap("metrics.snapshot", coll.snapshot)
            with tr.span("driver.build"):
                routed, counts = p(df)
            with tr.span("sinks.write_routed") as s:
                tr.phases(s, routed)
                sinks = write_routed(routed, str(self.out_dir / "sinks"))
            with tr.span("sinks.write_counts") as s:
                tr.phases(s, counts)
                counts.write.mode("overwrite").parquet(str(self.out_dir / "counts"))
            snap = coll.snapshot(spark).collect()
        wall = time.perf_counter() - t0
        op = Op(wall)
        op.ok, op.detail = self._check(sinks, snap)
        return Pass(wall, [op], root=root)

    def _check(self, sinks: dict, snap: list) -> tuple[bool, str]:
        exp = self.expect
        got_routes = route_rows(self.out_dir / "sinks")
        if got_routes != exp["routes"] or sorted(sinks) != sorted(exp["routes"]):
            return False, f"routes {got_routes} != {exp['routes']}"
        t = pq.read_table(self.out_dir / "counts")
        got_counts = sorted(
            (r["metric_name"], dict(r["attrs"]).get("route"), dict(r["attrs"]).get("role") or "",
             r["count"])
            for r in t.to_pylist()
        )
        if got_counts != exp["counts"]:
            return False, "counts table differs from the DuckDB counts"
        m = {(r["stage"], r["metric"]): r["value"] for r in snap}
        want = {
            ("receiver", "rows"): self.input_rows,
            ("router", "rows"): self.input_rows,
            ("router", "errors"): exp["routes"].get("sink_errors", 0),
        }
        bad = {k: (m.get(k), v) for k, v in want.items() if m.get(k) != v}
        return (not bad), (f"snapshot {bad}" if bad else "")

    def outputs(self, p: Pass) -> tuple[int, int]:
        a = output_files(self.out_dir / "sinks")
        b = output_files(self.out_dir / "counts")
        return a[0] + b[0], a[1] + b[1]


# --- streaming -----------------------------------------------------------------


def drain(spark, tr: Tracer, src: Path, out: Path):
    """``streaming_pipeline(file_stream(src, max_files_per_trigger=1))``
    into ``write_routed_stream(..., trigger_available_now=True)`` until
    the stream is drained. Returns the progress of every micro-batch that
    read rows; when traced, each is recorded as a ``stream.batch`` span."""
    from opentelemetry_collector_contrib_spark.metrics import MetricsCollector
    from opentelemetry_collector_contrib_spark.streaming import (
        file_stream,
        streaming_pipeline,
        write_routed_stream,
    )

    shutil.rmtree(out, ignore_errors=True)
    coll = MetricsCollector(run_id="perfbench_stream")
    with tr.span("stream.drain") as root:
        with tr.span("driver.build"):
            routed = streaming_pipeline(file_stream(spark, str(src), max_files_per_trigger=1))
        with tr.span("sinks.write_routed_stream") as s:
            q = write_routed_stream(
                routed, str(out / "sinks"), str(out / "ckpt"),
                trigger_available_now=True, collector=coll,
            )
            if s is not None:
                s.attrs["job_group"] = str(q.runId)
            if not q.awaitTermination(150):
                q.stop()
                raise RuntimeError("stream did not drain within 150 s")
            tr.stream_phases(s, q)
    progress = [p for p in q.recentProgress if p.get("numInputRows", 0) > 0]
    if root is not None:
        for p in progress:
            start = calendar.timegm(time.strptime(p["timestamp"][:19], "%Y-%m-%dT%H:%M:%S"))
            tr.add("stream.batch", start, start + p["durationMs"]["triggerExecution"] / 1000.0,
                   root.id, batch_id=int(p["batchId"]), duration_ms=dict(p["durationMs"]))
    return progress


# --- query suite ---------------------------------------------------------------


class QuerySuite(Workload):
    name = "query_suite"

    def generate(self) -> dict:
        self.props = gen.write_suite_tables(self.seed, str(self.input_dir), SUITE_EVENTS)
        # the tables the suite's queries read
        self.input_rows = sum(self.props["tables"][t]["rows"] for t in ("documents", "embeddings"))
        return self.props

    def compute_expectations(self) -> None:
        self.expect = oracle.suite_expectations(self.input_dir, SUITE)

    def stage(self, spark) -> None:
        for t in oracle.SUITE_TABLES:
            spark.read.parquet(str(self.input_dir / f"{t}.parquet")).schema

    def cut_dir(self, spark) -> Path:
        """The transcripts derived from the suite's events, written once."""
        from opentelemetry_collector_contrib_spark.data import derive_transcripts
        from opentelemetry_collector_contrib_spark.streaming.source import TRANSCRIPT_DDL

        d = self.work / "cut_input"
        if not d.exists():
            cols = [c.split()[0] for c in TRANSCRIPT_DDL.split(", ")]
            df = derive_transcripts(spark.read.parquet(str(self.input_dir / "events.parquet")))
            df.select(*cols).repartition(2).write.parquet(str(d))
        return d

    def run_pass(self, spark, tr: Tracer, i: int) -> Pass:
        import __spark_entry__ as e

        qs = e.queries()
        ops = []
        t0 = time.perf_counter()
        with tr.span("suite.pass") as root:
            for name in SUITE:
                a = time.perf_counter()
                with tr.span("suite.query", query=name) as qspan:
                    with tr.span("driver.build", query=name):
                        df = qs[name](spark, str(self.input_dir))
                    b = time.perf_counter()
                    with tr.span("suite.collect", query=name) as cs:
                        tr.phases(cs, df)
                        rows = df.collect()
                c = time.perf_counter()
                if qspan is not None:
                    qspan.attrs.update(build_s=b - a, exec_s=c - b)
                ops.append(Op(c - a, query=name, result=(df.columns, rows)))
        return Pass(time.perf_counter() - t0, ops, root=root)

    def finish(self, spark, passes: list[Pass]) -> None:
        """Every timed run's output against the query's DuckDB twin."""
        for p in passes:
            for op in p.ops:
                if op.ok is not None:  # already failed: the pass raised
                    continue
                got = oracle.canonical_rows(*op.result)
                want = self.expect[op.query]
                op.result = None
                op.ok = got == want
                if got[0] != want[0]:
                    op.detail = f"{op.query}: schema spark={got[0]} duckdb={want[0]}"
                elif not op.ok:
                    op.detail = f"{op.query}: values differ: {len(got[1])} vs {len(want[1])} rows"


# --- layer cuts ------------------------------------------------------------------


def layer_cuts(spark, tr: Tracer, wl: Workload) -> tuple[dict[str, float], int]:
    """Cuts of the flagship DAG over the workload's transcript files, each
    materialized (``noop`` unless named otherwise):

    - cumulative: ``read``, ``parse`` (+parse), ``enrich`` (+enrich),
      ``route`` (+route: the routed rows);
    - ``route_collector``: the route cut with the metrics collector's
      observation points;
    - ``counts``: the counts table (the whole DAG again, pruned to the
      columns the counts need);
    - ``sink``: routed rows per sink and the counts table as parquet;
    - ``staged_read`` and ``staged_aggregate``: the routed rows the sink
      cut wrote, read back (the columns the count connector reads), and
      the count connector over them. Column pruning makes the counts DAG
      cheaper than the route cut, so the aggregate is timed over staged
      rows rather than as counts − route.

    Every cut runs ``CUT_ROUNDS`` times (the two route cuts swap order
    between rounds). Returns the median seconds per cut and the rows of
    the cut input. Then the first ``STREAM_CUT_FILES`` files of the cut
    input are drained once as a stream, one file per micro-batch, for the
    ``streaming.*`` layers."""
    from opentelemetry_collector_contrib_spark.metrics import MetricsCollector
    from opentelemetry_collector_contrib_spark.pipeline import COUNTS, TranscriptPipeline
    from opentelemetry_collector_contrib_spark.sinks.writers import write_routed
    from opentelemetry_collector_contrib_spark.streaming.source import TRANSCRIPT_DDL

    src = wl.cut_dir(spark)
    out = wl.work / "cuts"
    p = TranscriptPipeline()

    def read():
        return spark.read.schema(TRANSCRIPT_DDL).parquet(str(src))

    def sink():
        routed, counts = p(read())
        write_routed(routed, str(out / "sinks"))
        counts.write.mode("overwrite").parquet(str(out / "counts"))

    def staged():
        return spark.read.parquet(str(out / "sinks"))

    def staged_inputs():
        """The staged columns the count connector reads: its attribute
        keys and the columns its conditions name."""
        conds = " ".join(c for m in COUNTS for c in m.conditions)
        keys = {k for m in COUNTS for k, _ in m.attributes}
        df = staged()
        return df.select(*[c for c in df.columns
                           if c in keys or re.search(rf"\b{c}\b", conds)])

    cuts = {
        "read": lambda: noop(read()),
        "parse": lambda: noop(p.parse(read())),
        "enrich": lambda: noop(p.enrich(p.parse(read()))),
        "route": lambda: noop(p(read())[0]),
        "route_collector": lambda: noop(
            TranscriptPipeline(collector=MetricsCollector(run_id="perfbench_cut"))(read())[0]),
        "counts": lambda: noop(p(read())[1]),
        "sink": sink,
        "staged_read": lambda: noop(staged_inputs()),
        "staged_aggregate": lambda: noop(p.aggregate(staged())),
    }
    times: dict[str, list[float]] = defaultdict(list)
    for r in range(CUT_ROUNDS):
        order = list(cuts)
        if r % 2:
            order[3:5] = order[4], order[3]
        for name in order:
            with tr.span(f"cut.{name}", round=r) as s:
                cuts[name]()
            times[name].append(s.dur)
    stream_in = out / "stream_input"
    stream_in.mkdir(parents=True)
    files = sorted(src.glob("*.parquet"))[:STREAM_CUT_FILES]
    for f in files:
        shutil.copy(f, stream_in)
    progress = drain(spark, tr, stream_in, out / "stream")
    if len(progress) != len(files):
        raise RuntimeError(f"stream cut: {len(progress)} micro-batches for {len(files)} files")
    return {k: median(v) for k, v in times.items()}, parquet_rows(src)


WORKLOADS = {w.name: w for w in (FlagshipBatch, QuerySuite)}
