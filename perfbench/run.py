"""Benchmark entry point.

    python3 perfbench/run.py --workload query|ingest_mix --seed N \
        --seconds S --trace 0|1 [--scale full|tiny]

Runs the workload (``perfbench/workloads.py``) in a child process that
leads its own process group, so the Spark JVM and its Python workers end
with it.  Sets ``PYTHONPATH`` for the Spark Python workers and keeps every
file the run writes under ``.perfbench/`` in the checkout.  Relays the
child's report line and prints the result JSON as the last stdout line;
exits non-zero, printing no result, when the workload fails or overruns.
"""

from __future__ import annotations

import json
import os
import signal
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DEADLINE_S = 170


def stop_group(pgid: int) -> None:
    """SIGTERM the group, SIGKILL what is left after 10 s, and wait until
    no member remains."""
    for sig, grace in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        end = time.time() + grace
        while time.time() < end:
            try:
                os.killpg(pgid, 0)
            except ProcessLookupError:
                return
            time.sleep(0.1)


def main() -> int:
    t0 = time.time()
    if not os.path.isdir(os.path.join(ROOT, "open_source_search_engine_spark")):
        print("perfbench: engine package not found next to perfbench/", file=sys.stderr)
        return 2
    argv = sys.argv[1:]
    workload = argv[argv.index("--workload") + 1] if "--workload" in argv else "unknown"
    seed = argv[argv.index("--seed") + 1] if "--seed" in argv else "unknown"
    log_dir = os.path.join(ROOT, ".perfbench", "logs")
    os.makedirs(log_dir, exist_ok=True)
    tmp = os.path.join(ROOT, ".perfbench", "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p)
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    env["SPARK_LOCAL_DIRS"] = os.path.join(ROOT, ".perfbench", "local")
    env["SPARK_DRIVER_MEM"] = "3g"
    env["TMPDIR"] = tmp
    env["PERFBENCH_T0"] = repr(t0)
    log_path = os.path.join(log_dir, f"{workload}-seed{seed}.log")
    with open(log_path, "w") as log:
        child = subprocess.Popen(
            [sys.executable, "-u", "-m", "perfbench.workloads", *argv],
            cwd=ROOT,
            env=env,
            stdout=subprocess.PIPE,
            stderr=log,
            text=True,
            start_new_session=True,
        )
        try:
            out, _ = child.communicate(timeout=max(1.0, DEADLINE_S - (time.time() - t0)))
        except subprocess.TimeoutExpired:
            stop_group(child.pid)
            child.wait()
            print(f"perfbench: {workload} overran {DEADLINE_S}s; log {log_path}", file=sys.stderr)
            return 3
        finally:
            stop_group(child.pid)
    lines = [ln for ln in out.splitlines() if ln.strip()]
    result = None
    if child.returncode == 0 and lines:
        try:
            result = json.loads(lines[-1])
        except json.JSONDecodeError:
            result = None
    if result is None:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
        print(f"perfbench: {workload} failed (exit {child.returncode}); log {log_path}", file=sys.stderr)
        return 1
    for ln in lines[:-1]:
        print(ln)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
