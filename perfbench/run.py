#!/usr/bin/env python3
"""Benchmark entry point. Usage, from the repository root::

    python3 perfbench/run.py --workload cdc_backlog --seed 1 --seconds 10 --trace 0

Runs the workload in a fresh process with its own scratch directory
(removed afterwards), ``SPARK_GRAFT_CPUS`` set to the usable core count
and the repository on ``PYTHONPATH`` for Python workers. ``--trace 0``
prints the end-to-end metrics; ``--trace 1`` runs the workload untraced
and then traced, and prints the per-layer metrics plus the tracing
overhead (traced minus untraced end-to-end values). The line before the
last carries the host record and workload details; the last line is the
result. Exits 1 if any output disagrees with its oracle.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from workloads import E2E_UNITS, LAYER_UNITS, WORKLOADS  # noqa: E402

BUDGET_S = 170.0


def host_record() -> dict:
    """Core count, CPU model and the single-thread loop probe, so a
    result from another host is not compared with this one."""
    sys.path.insert(0, ROOT)
    from tools.env_probe import st_loop_ms

    model = ""
    with open("/proc/cpuinfo") as f:
        for line in f:
            if line.startswith("model name"):
                model = line.split(":", 1)[1].strip()
                break
    return {"nproc": len(os.sched_getaffinity(0)), "cpu_model": model,
            "st_loop_ms": round(min(st_loop_ms() for _ in range(3)), 2)}


def run_child(workload: str, seed: int, seconds: int, trace: int, deadline: float) -> dict:
    """One workload in a fresh process group; everything it started is
    killed and its scratch removed before returning."""
    tag = f"{workload}-s{seed}-t{trace}-{os.getpid()}"
    work = os.path.join(ROOT, ".perfbench_work", tag)
    out_dir = os.path.join(ROOT, ".perfbench_out")
    result = os.path.join(out_dir, f"{workload}-s{seed}-t{trace}.json")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(out_dir, exist_ok=True)
    if os.path.exists(result):
        os.remove(result)
    env = dict(
        os.environ,
        SPARK_GRAFT_SCRATCH=os.path.join(work, "scratch"),
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_GRAFT_DRIVER_MEM="2g",
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        TMPDIR=os.path.join(work, "tmp"),
        # keep the JVM from writing outside the checkout
        JAVA_TOOL_OPTIONS="-XX:-UsePerfData -Djava.io.tmpdir=" + os.path.join(work, "tmp"),
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    )
    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "workloads.py"), workload, str(seed),
         str(seconds), str(trace), work, result],
        env=env, cwd=ROOT, stdout=sys.stderr, start_new_session=True)
    try:
        code = proc.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        code = None
    finally:
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    if code != 0 or not os.path.exists(result):
        raise SystemExit(f"{workload}: workload process failed (exit {code})")
    with open(result) as f:
        return json.load(f)


def main() -> int:
    ap = argparse.ArgumentParser(description="spark-cdc-engine benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "mongodb_cdc_spark", "__init__.py")):
        print("perfbench: the engine package mongodb_cdc_spark is not in this checkout",
              file=sys.stderr)
        return 2
    deadline = time.time() + BUDGET_S
    host = host_record()
    runs = [run_child(a.workload, a.seed, a.seconds, 0, deadline)]
    if a.trace:
        runs.append(run_child(a.workload, a.seed, a.seconds, 1, deadline))
        base, traced = runs
        metrics, units = traced["layer"], LAYER_UNITS
        for k, v in base["e2e"].items():
            metrics[f"overhead.{k}"] = traced["e2e"][k] - v
    else:
        metrics, units = runs[0]["e2e"], E2E_UNITS
    attempted = sum(r["attempted"] for r in runs)
    failed = sum(r["failed"] for r in runs)
    print(json.dumps({"host": host, "workload": a.workload, "seed": a.seed,
                      "failed_share": failed / max(1, attempted),
                      "detail": runs[-1]["detail"] if not a.trace else
                      {k: v for k, v in runs[-1]["detail"].items() if not k.startswith("per_")}}))
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
