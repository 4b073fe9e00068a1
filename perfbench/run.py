#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload full_batch --seed 1 --seconds 10 --trace 0

Runs one workload (``full_batch``, ``incremental_fold``, ``gate_suite``,
or ``all`` for the three in turn) in its own worker process, prints
every metric by name with its unit, and ends with one JSON line:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics, ``--trace 1`` the per-layer metrics of one
traced run (spans and layer table also go to ``.perfbench_out/``).
Run it from the repository root; see perfbench/README.md.
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
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("full_batch", "incremental_fold", "gate_suite")
# a run must end within 180 s; a traced incremental_fold run takes ~100 s
# on a quiet 4-vCPU host, and this leaves room for 1.75x slower moments
WORKER_TIMEOUT_S = 175
DRIVER_MEM = "3g"
# files the benchmark needs from the checkout besides its own
REQUIRED = ("autovalidate_backend_api_spark/plans/pipeline.py", "tests/oracle_harness.py")


def _env(work: str, marker: str) -> dict[str, str]:
    env = dict(os.environ)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env.update({
        # Python workers forked by the JVM import the package from here
        "PYTHONPATH": os.pathsep.join([ROOT, HERE]),
        "SPARK_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        # no hsperfdata file: the JVM would write it to /tmp whatever the tmpdir
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        # inherited by every process the worker starts, even the Python
        # worker daemon, which leaves the worker's process group
        "PERFBENCH_RUN": marker,
    })
    return env


def _marked(marker: str) -> list[int]:
    needle = f"PERFBENCH_RUN={marker}".encode()
    pids = []
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/environ", "rb") as f:
                    if needle in f.read().split(b"\0"):
                        pids.append(int(name))
            except OSError:
                pass
    return pids


def _stop_all(marker: str, timeout_s: float = 20.0) -> None:
    """Kill what is left of a worker's processes and wait until it is gone."""
    deadline = time.monotonic() + timeout_s
    while pids := _marked(marker):
        if time.monotonic() > deadline:
            raise SystemExit(f"processes {pids} did not stop")
        for pid in pids:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        time.sleep(0.1)


def run_one(workload: str, seed: int, seconds: int, trace: int) -> dict:
    work = os.path.join(ROOT, ".perfbench_work", f"{workload}-{seed}-{uuid.uuid4().hex[:8]}")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(work)
    os.makedirs(out_dir, exist_ok=True)
    result_path = os.path.join(work, "result.json")
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
        "--trace", str(trace), "--work", work, "--result", result_path,
        "--trace-out", os.path.join(out_dir, f"trace-{workload}-{seed}.json"),
    ]
    # own process group, so the JVM and its Python workers can all be stopped
    marker = uuid.uuid4().hex
    proc = subprocess.Popen(cmd, cwd=work, env=_env(work, marker), stdout=sys.stderr,
                            start_new_session=True)
    try:
        code = proc.wait(timeout=WORKER_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        code = None
    finally:
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()
        _stop_all(marker)
    try:
        if code != 0:
            raise SystemExit(f"{workload}: worker failed (exit {code})")
        with open(result_path) as f:
            return json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _print(workload: str, res: dict) -> None:
    print(f"# {workload}: correct={res['correct']} attempted={res['attempted']} "
          f"failed={res['failed']}")
    rows = dict(res["metrics"])
    rows.update(res["report"])
    rows["failed_share"] = {"value": res["failed"] / res["attempted"], "unit": "share"}
    for name, m in rows.items():
        print(f"  {name:<34} {m['value']:>16.6g} {m['unit']}")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    missing = [p for p in REQUIRED if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        sys.exit(f"not a checkout of the repository (missing {', '.join(missing)})")

    names = WORKLOADS if args.workload == "all" else (args.workload,)
    results = {}
    for name in names:
        results[name] = run_one(name, args.seed, args.seconds, args.trace)
        _print(name, results[name])
    if len(names) == 1:
        last = results[names[0]]
    else:
        last = {
            "correct": all(r["correct"] for r in results.values()),
            "attempted": sum(r["attempted"] for r in results.values()),
            "failed": sum(r["failed"] for r in results.values()),
            "metrics": {f"{w}.{k}": m for w, r in results.items() for k, m in r["metrics"].items()},
        }
    print(json.dumps({k: last[k] for k in ("correct", "attempted", "failed", "metrics")}))


if __name__ == "__main__":
    main()
