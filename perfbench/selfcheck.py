"""Self-check of the benchmark harness at a tiny input size.

    python3 perfbench/selfcheck.py

Checks, from the root of a checkout:
- BENCHMARK.json names the metrics this harness prints;
- the generator writes byte-identical files for one seed;
- every workload runs at ``--small`` size, verifies all its operations,
  and prints every end-to-end metric; its traced run prints every
  per-layer metric;
- with only BENCHMARK.json and perfbench/ in a directory, the command
  fails without printing a result;
- no run leaves a process running after it exits.

Takes a few minutes (each run starts its own JVM). Exit code 0 when all
checks pass.
"""

from __future__ import annotations

import filecmp
import json
import os
import shutil
import subprocess
import sys
import tempfile
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))


def session_members(sid: int) -> list[str]:
    """Processes still in session ``sid``, as "pid comm"."""
    out = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                head, tail = f.read().rsplit(")", 1)
        except OSError:
            continue
        if int(tail.split()[3]) == sid:
            out.append(f"{d} {head.split('(', 1)[1]}")
    return out


def run(args: list[str], cwd: Path = ROOT) -> tuple[int, dict | None, str]:
    """One benchmark run in a session of its own; a process of that
    session left running after it exits fails the run."""
    proc = subprocess.Popen(
        [sys.executable, "perfbench/run.py", *args], cwd=cwd,
        stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
        start_new_session=True,
    )
    stdout, stderr = proc.communicate(timeout=600)
    left = session_members(proc.pid)
    lines = stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        result = None
    rc = proc.returncode
    if left:
        rc = rc or 1
        stderr += f"\nleft running after exit: {left}"
    return rc, result, stdout + stderr[-2000:]


def main() -> int:
    import gen
    from workloads import WORKLOADS

    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    e2e = {m["name"] for m in bench["end_to_end"]}
    layers = {m["name"] for m in bench["per_layer"]}
    failures: list[str] = []

    def check(ok: bool, what: str, log: str = "") -> None:
        print(("PASS " if ok else "FAIL ") + what, flush=True)
        if not ok:
            failures.append(what)
            print(log[-3000:])

    listed = {w["name"] for w in bench["workloads"]}
    check(listed == set(WORKLOADS), f"listed workloads are the implemented ones: {sorted(listed)}")

    scratch = HERE / "_work" / "selfcheck"
    shutil.rmtree(scratch, ignore_errors=True)
    a = gen.write_transcripts(7, str(scratch / "a"), 5_000, 2)
    gen.write_transcripts(7, str(scratch / "b"), 5_000, 2)
    same = all(
        filecmp.cmp(scratch / "a" / f.name, scratch / "b" / f.name, shallow=False)
        for f in (scratch / "a").iterdir()
    )
    check(same and a["rows"] == 5_000, "generator is byte-identical per seed")

    for name in sorted(WORKLOADS):
        rc, res, log = run(["--workload", name, "--seed", "3", "--seconds", "0",
                            "--trace", "0", "--small"])
        ok = (rc == 0 and res is not None and res["correct"] and res["failed"] == 0
              and set(res["metrics"]) == e2e
              and all(v["value"] > 0 for v in res["metrics"].values()))
        check(ok, f"{name}: verified, every end-to-end metric > 0", log)

        rc, res, log = run(["--workload", name, "--seed", "3", "--seconds", "0",
                            "--trace", "1", "--small"])
        ok = rc == 0 and res is not None and res["correct"] and set(res["metrics"]) == layers
        check(ok, f"{name} traced: every per-layer metric", log)

    with tempfile.TemporaryDirectory(dir=HERE / "_work") as bare:
        shutil.copy(ROOT / "BENCHMARK.json", bare)
        shutil.copytree(HERE, Path(bare) / "perfbench",
                        ignore=shutil.ignore_patterns("_work", "__pycache__"))
        rc, res, log = run(["--workload", "flagship_batch", "--seed", "1",
                            "--seconds", "1", "--trace", "0"], cwd=Path(bare))
        check(rc != 0 and res is None, "bare benchmark directory fails without a result", log)
    shutil.rmtree(scratch, ignore_errors=True)
    print("selfcheck:", "OK" if not failures else f"{len(failures)} failed")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
