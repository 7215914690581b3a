#!/usr/bin/env python3
"""Benchmark launcher.

    python3 perfbench/run.py --workload {archive,headline,heavy} --seed N \
        --seconds S --trace {0,1}

Run from the repository root. One run sets up a Spark session on
``local[<nproc>]``, drives one workload as a single closed-loop client for
at least ``--seconds`` (whole passes), checks the outputs, and prints as
its last stdout line one JSON object ``{"correct", "attempted", "failed",
"metrics"}``: the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``. A human-readable table of every metric, with
its unit and sample count, goes to stderr.

The run itself (``perfbench/main.py``) executes in a child process, in its
own session, with the repository root on ``PYTHONPATH`` (Python workers
import ``yark_spark`` from there) and a fresh working directory under
``.perfbench_tmp/`` that also holds Spark's local dirs, the JVM and Python
temp dirs, the store, the checkpoints, the warehouse and the SQLite file.
The launcher waits for the child, stops every process the run started
that is still alive, removes the directory, and exits non-zero without
printing a result when the run failed.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TIMEOUT_S = 170


def main(argv: list[str]) -> int:
    if not os.path.isdir(os.path.join(ROOT, "yark_spark")):
        print(f"perfbench: no yark_spark package under {ROOT}", file=sys.stderr)
        return 2
    base = os.path.join(ROOT, ".perfbench_tmp")
    os.makedirs(base, exist_ok=True)
    work = tempfile.mkdtemp(prefix="run-", dir=base)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    env = dict(os.environ)
    env.update({
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p),
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYTHONUNBUFFERED": "1",
    })
    child = subprocess.Popen(
        [sys.executable, "-m", "perfbench.main", *argv],
        cwd=work, env=env, stdout=subprocess.PIPE, text=True, start_new_session=True,
    )
    try:
        out, _ = child.communicate(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"perfbench: run exceeded {TIMEOUT_S} s", file=sys.stderr)
        out = ""
    finally:
        _stop_all(child, tmp)
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(base)  # only when no other run is using it
    lines = [line for line in out.splitlines() if line.strip()]
    if child.returncode != 0 or not lines:
        print(f"perfbench: run failed (exit {child.returncode})", file=sys.stderr)
        return 1
    try:
        result = json.loads(lines[-1])
    except json.JSONDecodeError:
        print("perfbench: run printed no result", file=sys.stderr)
        return 1
    sys.stdout.write("".join(line + "\n" for line in lines[:-1]))
    print(json.dumps(result), flush=True)
    return 0


def _stop_all(child: subprocess.Popen, tmp: str) -> None:
    """Stop the child and everything it started, and wait until none of
    them is left. The child's process group holds the JVM; the PySpark
    daemon and its Python workers move to a group of their own, so they are
    found by the ``TMPDIR`` they inherited instead."""
    for sig, grace in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        try:
            os.killpg(child.pid, sig)
        except ProcessLookupError:
            break
        deadline = time.monotonic() + grace
        while time.monotonic() < deadline:
            child.poll()
            try:
                os.killpg(child.pid, 0)
            except ProcessLookupError:
                break
            time.sleep(0.05)
    child.wait()
    deadline = time.monotonic() + 10.0
    while (pids := _inheritors(tmp)) and time.monotonic() < deadline:
        for pid in pids:
            with contextlib.suppress(ProcessLookupError):
                os.kill(pid, signal.SIGKILL)
        time.sleep(0.05)


def _inheritors(tmp: str) -> list[int]:
    """Live processes whose environment has ``TMPDIR=tmp``."""
    mark = f"\0TMPDIR={tmp}\0".encode()
    pids = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/environ", "rb") as f:
                env = b"\0" + f.read()
        except OSError:  # ended meanwhile, or not ours to read
            continue
        if mark in env:
            pids.append(int(name))
    return pids


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
