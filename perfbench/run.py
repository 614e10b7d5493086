#!/usr/bin/env python3
"""Benchmark entry point: one workload, one seed, one result line.

Usage (from the repository root)::

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 10 --trace 0

The measured work runs in a child process (``perfbench/worker.py``) that
leads its own session. All run state — Spark local dirs, warehouse,
placeholder PDFs, collections, fixtures, temp files — lives under one
temp root inside the checkout, which is deleted before this returns.
After the child exits, every process of the run must be gone: survivors
are killed and the run fails without printing a result.
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

import procfs

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("ingest_search", "analytics")
# files of the program under test the benchmark needs
REQUIRED = (
    "pdf_to_vectordb_etl_spark/__init__.py",
    "__spark_entry__.py",
    "tools/check_oracle.py",
    "tools/make_random_fixture.py",
)
RUN_BUDGET_S = 165.0  # the whole command must end within 180 s
REAP_S = 10.0


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    started = time.monotonic()

    missing = [p for p in REQUIRED if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: program files missing: {missing}", file=sys.stderr)
        return 2

    tmp_base = os.path.join(ROOT, ".perfbench_tmp")
    tmp = os.path.join(tmp_base, f"run-{os.getpid()}-{uuid.uuid4().hex[:8]}")
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(tmp, sub))
    tag = uuid.uuid4().hex
    out_path = os.path.join(tmp, "result.json")
    env = dict(
        os.environ,
        PYTHONPATH=ROOT,
        SPARK_GRAFT_DRIVER_MEM="2g",
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        TMPDIR=os.path.join(tmp, "tmp"),
        SPARK_LOCAL_DIRS=os.path.join(tmp, "spark-local"),
        **{procfs.TAG_VAR: tag},
    )
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--tmp", tmp, "--out", out_path,
    ]
    rc = None
    leftovers: list[int] = []
    try:
        child = subprocess.Popen(
            cmd, cwd=tmp, env=env, stdout=sys.stderr, start_new_session=True
        )
        try:
            rc = child.wait(timeout=max(1.0, RUN_BUDGET_S - (time.monotonic() - started)))
        except subprocess.TimeoutExpired:
            print("perfbench: worker timed out; killing its session", file=sys.stderr)
            os.killpg(child.pid, signal.SIGKILL)
            rc = child.wait()
        # the worker stops Spark and waits for its JVM and Python workers;
        # anything of this run still alive now is a leak
        leftovers = procfs.wait_gone(child.pid, tag, REAP_S)
        if leftovers:
            print("perfbench: processes left running after the worker exited:",
                  file=sys.stderr)
            for pid in leftovers:
                print("  " + procfs.describe(pid), file=sys.stderr)
            procfs.kill_all(leftovers)
            procfs.wait_gone(child.pid, tag, REAP_S)
        result = None
        if rc == 0 and not leftovers and os.path.exists(out_path):
            with open(out_path) as f:
                result = json.load(f)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(tmp_base)
        except OSError:
            pass  # another run still uses it
    if result is None:
        print(f"perfbench: run failed (worker exit {rc}, "
              f"{len(leftovers)} leftover processes)", file=sys.stderr)
        return 1
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
