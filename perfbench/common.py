"""Session, memory and statistics helpers shared by the workloads."""

from __future__ import annotations

import os
import statistics
import sys
import threading
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = "opentelemetry_collector_contrib_spark"
CORES = 4
DRIVER_MEM = "2g"


def require_program() -> None:
    """Fail fast when the checkout holds only the benchmark."""
    missing = [
        p for p in (ROOT / PACKAGE / "__init__.py", ROOT / "__spark_entry__.py")
        if not p.is_file()
    ]
    if missing:
        raise SystemExit(
            "perfbench: program sources not found: "
            + ", ".join(str(p.relative_to(ROOT)) for p in missing)
        )
    for p in (str(ROOT), str(ROOT / "tools")):
        if p not in sys.path:
            sys.path.insert(0, p)
    # executor-side Python workers resolve the package from PYTHONPATH
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )


def start_session(work: Path, event_log: bool):
    """A ``local[4]`` session whose scratch files all stay under ``work``
    (shuffle and spill files follow ``SPARK_LOCAL_DIRS``, set by the caller).
    The first call launches the JVM; later calls (after ``stop``) start a
    fresh SparkContext in the same JVM."""
    from opentelemetry_collector_contrib_spark.session import get_spark

    for d in ("spark-local", "tmp", "warehouse", "eventlog"):
        (work / d).mkdir(parents=True, exist_ok=True)
    conf = {
        "spark.driver.memory": DRIVER_MEM,
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
        "spark.ui.enabled": "false",
        "spark.eventLog.enabled": "true" if event_log else "false",
        "spark.eventLog.dir": str(work / "eventlog"),
        "spark.eventLog.rolling.enabled": "false",
        "spark.eventLog.compress": "false",
    }
    return get_spark(app_name="perfbench", master=f"local[{CORES}]", extra_conf=conf)


def shut_down(spark, timeout_s: float = 30.0) -> None:
    """Stop ``spark`` (if any), end the JVM and every process below this
    one (Python workers included), and wait until each has ended.

    ``spark.stop()`` leaves the JVM running, and on its own the JVM only
    exits after this process has gone, so it would outlive the run."""
    import signal

    from pyspark import SparkContext

    try:
        if spark is not None:
            spark.stop()
    finally:
        me = os.getpid()
        procs = _procs()
        below = {me}
        for pid, (ppid, _) in sorted(procs.items()):
            if ppid in below:
                below.add(pid)
        below.discard(me)
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            try:
                gateway.shutdown()
            except Exception:
                pass
            SparkContext._gateway = None
            SparkContext._jvm = None
        if proc is not None:
            # the gateway server exits when its stdin closes
            try:
                proc.stdin.close()
            except Exception:
                pass
            try:
                proc.wait(timeout=timeout_s / 2)
            except Exception:
                proc.kill()
                proc.wait()
        _wait_gone(below, timeout_s / 2, signal.SIGTERM)
        _wait_gone(below, timeout_s, signal.SIGKILL)


def _alive(pid: int) -> bool:
    """True while ``pid`` runs; a zombie child of this process is reaped."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            state = f.read().rsplit(")", 1)[1].split()[0]
    except OSError:
        return False
    if state != "Z":
        return True
    try:
        os.waitpid(pid, os.WNOHANG)
    except ChildProcessError:
        pass  # not ours: its parent reaps it
    return os.path.exists(f"/proc/{pid}")


def _wait_gone(pids: set[int], timeout_s: float, sig) -> None:
    """Wait up to ``timeout_s`` for ``pids`` to end, sending ``sig`` to
    those still running first."""
    import time

    for pid in [p for p in pids if _alive(p)]:
        try:
            os.kill(pid, sig)
        except OSError:
            pass
    deadline = time.monotonic() + timeout_s
    while any(_alive(p) for p in pids) and time.monotonic() < deadline:
        time.sleep(0.05)


def noop(df) -> None:
    """Materialize every column of ``df`` without writing anything."""
    df.write.format("noop").mode("overwrite").save()


# --- memory -----------------------------------------------------------------


def _procs() -> dict[int, tuple[int, str]]:
    """pid -> (parent pid, command name) of every process."""
    out: dict[int, tuple[int, str]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                head, tail = f.read().rsplit(")", 1)
        except OSError:
            continue
        out[int(d)] = (int(tail.split()[1]), head.split("(", 1)[1])
    return out


def _pss_kb(pid: int) -> int:
    """Proportional set size: pages shared between processes (a forked
    Python worker and its daemon) are split between them, so a sum over
    processes counts each page once."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def spark_memory_mb() -> tuple[float, float]:
    """(JVM, Python workers) proportional set size, MB: the Spark JVM is
    this process's ``java`` child, the workers are the ``python``
    processes below it. Other descendants are left out: a child the JVM
    spawns to run a command shares the JVM's pages until it execs."""
    procs = _procs()
    me = os.getpid()
    jvms = [p for p, (pp, comm) in procs.items() if pp == me and comm == "java"]
    below = set(jvms)
    workers = 0
    for pid, (ppid, comm) in sorted(procs.items()):
        if ppid in below:
            below.add(pid)
            if comm.startswith("python"):
                workers += _pss_kb(pid)
    return sum(_pss_kb(p) for p in jvms) / 1024.0, workers / 1024.0


class PeakRss:
    """Samples ``spark_memory_mb`` on a daemon thread; ``peak`` is the
    largest JVM + workers sum seen between ``start`` and ``stop``."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak = 0.0
        self.peak_jvm = 0.0
        self.peak_workers = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> None:
        jvm, workers = spark_memory_mb()
        self.peak = max(self.peak, jvm + workers)
        self.peak_jvm = max(self.peak_jvm, jvm)
        self.peak_workers = max(self.peak_workers, workers)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval_s)

    def start(self) -> "PeakRss":
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()
        return self.peak


# --- statistics --------------------------------------------------------------


def median(xs: list[float]) -> float:
    return float(statistics.median(xs))


def p90(xs: list[float]) -> float:
    """90th percentile, linearly interpolated between order statistics.

    A fixed percentile rather than "the highest percentile with ten
    samples beyond it": a run of ``--seconds`` yields 3 to 30 samples,
    and a rank that moves with the sample count would make the tail jump
    between runs. The sample count is printed next to it."""
    if len(xs) == 1:
        return float(xs[0])
    return float(statistics.quantiles(xs, n=10, method="inclusive")[-1])
