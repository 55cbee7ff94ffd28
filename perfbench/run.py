"""Benchmark entry point.

    python3 perfbench/run.py --workload flagship_batch --seed 1 --seconds 10 --trace 0

Runs from the root of a checkout. Generates the workload's inputs from
``--seed`` and computes their DuckDB expectations; sets up a ``local[4]``
Spark session three times (session start or restart plus input staging;
``setup_s`` is the median), warms the JVM with one untimed pass over the
input, runs passes until ``--seconds`` have passed, verifies every
operation, and prints one JSON object as the last stdout line.

``--trace 0`` prints the end-to-end metrics of BENCHMARK.json.
``--trace 1`` is the separate traced run: the event log is on, passes
alternate untraced and traced, the flagship DAG is cut layer by layer
over the workload's transcripts and drained once as a stream, and the
per-layer metrics are printed; spans, the per-query table and the layer
table are written to ``perfbench/_work/traces/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time
import traceback
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import common  # noqa: E402
from common import CORES, PeakRss, median, p90  # noqa: E402

SETUP_REPS = 3
# ROADMAP re-anchor figures (4 vCPU, count()-free flagship at 3.98M turns,
# cached input; bench.py suite of 79 queries at sf0.1 under count())
ROADMAP_REF = {
    "flagship_turns_per_s_materialized": 380_000,
    "parse_share_of_parse_enrich_route": 0.84,
    "suite_79_queries_sf0.1_count_s": 95.9,
}


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description="perfbench: one workload, one JSON line")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--small", action="store_true",
                    help="self-check input size (seconds, not a measurement)")
    return ap.parse_args(argv)


def host_facts(spark) -> dict:
    import pyarrow
    import pyspark

    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    jvm = spark.sparkContext._jvm
    return {
        "nproc": os.cpu_count(),
        "mem_gib": round(mem_kb / 2**20, 1),
        "spark": pyspark.__version__,
        "java": jvm.java.lang.System.getProperty("java.version"),
        "pyarrow": pyarrow.__version__,
        "master": spark.sparkContext.master,
    }


def run_passes(spark, wl, seconds: float, traced: bool):
    """Passes until ``seconds`` have passed: another pass starts while
    the time elapsed is below ``seconds``, and there are at least two.
    The passes still speed up from one to the next, so every run makes
    at least the same two. In a traced run passes alternate untraced /
    traced, at least four; ``per_layer`` leaves the first out of the
    trace-overhead comparison, and an untraced pass between two traced
    ones cancels the rest of that trend."""
    from tracing import Tracer, jvm_gc_s
    from workloads import Op, Pass

    on = Tracer(spark, f"{wl.name}-{wl.seed}", enabled=True)
    off = Tracer(spark, "off", enabled=False)
    passes = []
    t0 = time.perf_counter()
    while True:
        i = len(passes)
        trace_this = traced and i % 2 == 1
        gc0 = jvm_gc_s(spark) if trace_this else 0.0
        a = time.perf_counter()
        try:
            p = wl.run_pass(spark, on if trace_this else off, i)
        except Exception:
            traceback.print_exc()
            wall = time.perf_counter() - a
            p = Pass(wall, [Op(wall, False, "pass raised")])
        p.traced = trace_this
        if trace_this:
            p.info["gc_s"] = jvm_gc_s(spark) - gc0
            p.info["outputs"] = wl.outputs(p)
        passes.append(p)
        if time.perf_counter() - t0 >= seconds and len(passes) >= (4 if traced else 2):
            return passes, on


def end_to_end(wl, setups, passes, peak_mb) -> dict:
    """Medians over the passes; the latency figures are each pass's
    median and p90 operation latency, then their median over passes."""
    run_s = median([p.wall_s for p in passes])
    lat = [[op.latency_s for op in p.ops] for p in passes]
    return {
        "setup_s": (median(setups), "s"),
        "run_s": (run_s, "s"),
        "rows_per_s": (wl.input_rows / run_s, "1/s"),
        "latency_p50_ms": (1000 * median([median(x) for x in lat]), "ms"),
        "latency_tail_ms": (1000 * median([p90(x) for x in lat]), "ms"),
        "peak_rss_mb": (peak_mb, "MB"),
    }


def per_layer(wl, tr, passes, cuts: dict, cut_rows: int, by_group: dict) -> tuple[dict, dict]:
    """Per-layer metrics (medians over the traced passes) and the trace
    artifact's tables."""
    from tracing import descendants, span_stats

    traced = [p for p in passes if p.traced and p.root is not None]
    untraced = [p for p in passes[1:] if not p.traced]
    rows = []
    queries = []
    for p in traced:
        st = span_stats(tr.spans, by_group, p.root)
        below = descendants(tr.spans, p.root)
        builds = [s for s in below if s.name == "driver.build"]
        build_jobs = sum(span_stats(tr.spans, by_group, b).jobs for b in builds)
        files, nbytes = p.info["outputs"]
        phase = {
            k: sum(s.attrs.get(f"{k}_ms", 0) for s in [p.root, *below])
            for k in ("analysis", "optimization", "planning")
        }
        rows.append({
            "sources.scan_amplification": st.records_read / wl.input_rows,
            "connectors.shuffle_write_bytes": st.shuffle_write_bytes,
            "sinks.files_written": files,
            "sinks.bytes_written": nbytes,
            "driver.build_s": sum(b.dur for b in builds),
            "driver.build_jobs": build_jobs,
            "catalyst.analysis_ms": phase["analysis"],
            "catalyst.optimization_ms": phase["optimization"],
            "catalyst.planning_ms": phase["planning"],
            "spark.jobs": st.jobs,
            "spark.stages": st.stages,
            "spark.tasks": st.tasks,
            "spark.failed_tasks": st.failed_tasks,
            "executor.run_s": st.run_s,
            "executor.cpu_s": st.cpu_s,
            "executor.gc_s": p.info["gc_s"],
            "executor.busy_frac": st.run_s / (p.wall_s * CORES),
            "python.bytes": st.python_bytes,
        })
        for q in (s for s in below if s.name == "suite.query"):
            qb = [s for s in descendants(tr.spans, q) if s.name == "driver.build"]
            qs = span_stats(tr.spans, by_group, q)
            queries.append({
                "query": q.attrs["query"],
                "build_s": q.attrs["build_s"],
                "exec_s": q.attrs["exec_s"],
                "jobs": qs.jobs,
                "build_jobs": sum(span_stats(tr.spans, by_group, b).jobs for b in qb),
                "shuffle_write_bytes": qs.shuffle_write_bytes,
                "python_bytes": qs.python_bytes,
            })
    metrics = {k: median([r[k] for r in rows]) for k in rows[0]}
    # the sink cut runs the DAG twice: once for the routed rows (the route
    # cut) and once for the counts (the counts cut)
    layers = {
        "sources.read_s": cuts["read"],
        "operators.parse_s": cuts["parse"] - cuts["read"],
        "processors.enrich_s": cuts["enrich"] - cuts["parse"],
        "connectors.route_s": cuts["route"] - cuts["enrich"],
        "connectors.aggregate_s": cuts["staged_aggregate"] - cuts["staged_read"],
        "sinks.write_s": cuts["sink"] - cuts["route"] - cuts["counts"],
        "metrics.observe_s": cuts["route_collector"] - cuts["route"],
    }
    metrics.update(layers)
    untraced_s = median([p.wall_s for p in untraced])
    metrics["trace_overhead_frac"] = median([p.wall_s for p in traced]) / untraced_s - 1
    batches = [s.attrs["duration_ms"] for s in tr.spans if s.name == "stream.batch"]
    streaming = {
        "streaming.fetch_ms": median([d.get("latestOffset", 0) + d.get("getBatch", 0) for d in batches]),
        "streaming.plan_ms": median([d.get("queryPlanning", 0) for d in batches]),
        "streaming.exec_ms": median([d.get("addBatch", 0) for d in batches]),
        "streaming.commit_ms": median([d.get("walCommit", 0) + d.get("commitOffsets", 0) for d in batches]),
    }
    metrics.update(streaming)
    parse_enrich_route = cuts["route"] - cuts["read"]
    tables = {
        "cuts_s": cuts,
        "layers_s": layers,
        "parse_share_of_parse_enrich_route": (
            layers["operators.parse_s"] / parse_enrich_route if parse_enrich_route > 0 else None
        ),
        "cut_rows": cut_rows,
        "cut_turns_per_s_materialized": cut_rows / cuts["sink"],
        "parse_share_of_untraced_pass": layers["operators.parse_s"] / untraced_s,
        "observe_share_of_route_cut": layers["metrics.observe_s"] / cuts["route"],
        "executor_busy_frac": metrics["executor.busy_frac"],
        "roadmap_reference": ROADMAP_REF,
        "streaming": {**streaming, "batches": len(batches)},
        "queries": queries,
        "traced_pass_walls_s": [p.wall_s for p in traced],
        "untraced_pass_walls_s": [p.wall_s for p in untraced],
    }
    return metrics, tables


def main(argv=None) -> int:
    args = parse_args(argv)
    common.require_program()
    from workloads import WORKLOADS, layer_cuts

    if args.workload not in WORKLOADS:
        raise SystemExit(f"perfbench: unknown workload {args.workload!r}; "
                         f"choose from {sorted(WORKLOADS)}")
    work = HERE / "_work" / f"{args.workload}-s{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    # every scratch file of the run stays in the checkout
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    (work / "tmp").mkdir()
    os.environ["TMPDIR"] = tempfile.tempdir = str(work / "tmp")
    # the JVM that spark-submit runs to build the driver's command line
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    spark = None
    try:
        wl = WORKLOADS[args.workload](work, args.seed, small=args.small)
        t = time.perf_counter()
        props = wl.generate()
        prep_s = time.perf_counter() - t
        rss = PeakRss().start()

        def set_up():
            nonlocal spark
            t = time.perf_counter()
            if spark is not None:
                spark.stop()
            spark = common.start_session(work, event_log=bool(args.trace))
            wl.stage(spark)
            return time.perf_counter() - t

        # DuckDB computes the expectations while the first set-up launches
        # the JVM; that set-up is the slowest, so the median leaves it out
        with ThreadPoolExecutor(1) as pool:
            expected = pool.submit(wl.compute_expectations)
            setups = [set_up()]
            t = time.perf_counter()
            expected.result()
            oracle_wait_s = time.perf_counter() - t
        setups += [set_up() for _ in range(0 if args.trace else SETUP_REPS - 1)]
        t = time.perf_counter()
        wl.warm(spark)
        warm_s = time.perf_counter() - t
        facts = host_facts(spark)
        passes, tr = run_passes(spark, wl, args.seconds, bool(args.trace))
        wl.finish(spark, passes)
        cuts, cut_rows = layer_cuts(spark, tr, wl) if args.trace else ({}, 0)
        spark.stop()
        spark = None
        peak = rss.stop()

        ops = [op for p in passes for op in p.ops]
        failed = [op for op in ops if not op.ok]
        for op in failed[:5]:
            print(f"perfbench: FAILED {op.detail}")
        lat = [op.latency_s for op in ops]
        print(f"perfbench: {args.workload} seed={args.seed} passes={len(passes)} "
              f"ops={len(ops)} latency_n={len(lat)} tail=p90 prep_s={prep_s:.2f} "
              f"oracle_wait_s={oracle_wait_s:.2f} "
              f"setups_s={[round(s, 2) for s in setups]} warm_s={warm_s:.2f} "
              f"peak_jvm_mb={rss.peak_jvm:.0f} peak_workers_mb={rss.peak_workers:.0f} "
              f"passes_s={[round(p.wall_s, 2) for p in passes]} "
              f"ops_s={[(op.query, round(op.latency_s, 2)) if op.query else round(op.latency_s, 2) for op in ops]} "
              f"host={json.dumps(facts)}")
        print(f"perfbench: input {json.dumps(props)}")
        if args.trace:
            from tracing import read_event_log

            metrics, tables = per_layer(wl, tr, passes, cuts, cut_rows, read_event_log(work / "eventlog"))
            units = {m["name"]: m["unit"] for m in json.loads(
                (HERE.parent / "BENCHMARK.json").read_text())["per_layer"]}
            out_metrics = {k: {"value": v, "unit": units.get(k, "")} for k, v in metrics.items()}
            trace_dir = HERE / "_work" / "traces"
            trace_dir.mkdir(parents=True, exist_ok=True)
            artifact = trace_dir / f"{args.workload}-seed{args.seed}.json"
            artifact.write_text(json.dumps({
                "workload": args.workload, "seed": args.seed, "host": facts,
                "input": props, "per_layer": metrics, **tables, "spans": tr.dump(),
            }, indent=1, default=str))
            print(f"perfbench: layers {json.dumps(tables['layers_s'])} "
                  f"parse_share={tables['parse_share_of_parse_enrich_route']} "
                  f"cut_turns_per_s={tables['cut_turns_per_s_materialized']:.0f} "
                  f"parse_share_of_pass={tables['parse_share_of_untraced_pass']:.3f} "
                  f"busy_frac={tables['executor_busy_frac']:.3f} "
                  f"roadmap={json.dumps(ROADMAP_REF)}")
            print(f"perfbench: streaming {json.dumps(tables['streaming'])}")
            print(f"perfbench: trace written to {artifact.relative_to(HERE.parent)}")
        else:
            out_metrics = {k: {"value": v, "unit": u}
                           for k, (v, u) in end_to_end(wl, setups, passes, peak).items()}
        result = {
            "correct": not failed and bool(ops),
            "attempted": len(ops),
            "failed": len(failed),
            "metrics": out_metrics,
        }
    finally:
        # every process the run started has ended before the result line
        common.shut_down(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
