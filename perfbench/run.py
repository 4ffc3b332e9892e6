"""Benchmark entry point.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload feed_serve --seed 1 --seconds 15 --trace 0

Each run gets a fresh worker process with its own TMPDIR,
SPARK_LOCAL_DIRS and store directory under ``.perfbench/runs/``, all
deleted when the run ends. The last line of standard output is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics, or with ``--trace 1`` the per-layer ones). The line
before it is the run's report (flatness, sample counts, check details).
The exit code is 0 only when every output was correct. A traced run
also keeps its spans in ``.perfbench/traces/WORKLOAD-SEED.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

WORKLOADS = ("feed_serve", "feed_ingest", "pipeline_ops")
PACKAGE = "starryskyqueryengine_spark"
RUN_TIMEOUT_S = 165
STOP_TIMEOUT_S = 10


def main(argv=None):
    t0 = time.monotonic()
    # a terminated run still stops its worker's process group (finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, PACKAGE, "__init__.py")):
        print(f"perfbench: no {PACKAGE}/ under {root}; run from a checkout root",
              file=sys.stderr)
        return 2
    runs = os.path.join(root, ".perfbench", "runs")
    os.makedirs(runs, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{args.workload}-{args.seed}-", dir=runs)
    try:
        return _run(args, root, run_dir, t0)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def _run(args, root, run_dir, t0):
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "local")
    os.makedirs(tmp)
    os.makedirs(local)
    nproc = len(os.sched_getaffinity(0))
    env = dict(
        os.environ,
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=local,
        SPARK_GRAFT_CPUS=str(nproc),
        SPARK_DRIVER_MEMORY="3g",
        PYTHONPATH=os.pathsep.join(
            p for p in (root, os.environ.get("PYTHONPATH")) if p
        ),
    )
    here = os.path.dirname(os.path.abspath(__file__))
    cmd = [
        sys.executable, os.path.join(here, "worker.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--run-dir", run_dir, "--t0", repr(t0),
    ]
    proc = subprocess.Popen(cmd, env=env, cwd=root, start_new_session=True)
    try:
        code = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        code = None
        print(f"perfbench: run exceeded {RUN_TIMEOUT_S} s", file=sys.stderr)
    finally:
        _stop_group(proc)
    result_path = os.path.join(run_dir, "result.json")
    if code != 0 or not os.path.exists(result_path):
        print(f"perfbench: worker failed (exit {code})", file=sys.stderr)
        return 1
    with open(result_path) as f:
        result = json.load(f)
    want = _manifest_metrics(root, args.trace)
    if want is not None and want != {k: m["unit"] for k, m in result["metrics"].items()}:
        print("perfbench: the run's metrics differ from BENCHMARK.json's", file=sys.stderr)
        return 1
    spans = os.path.join(run_dir, "spans.jsonl")
    if os.path.exists(spans):
        traces = os.path.join(root, ".perfbench", "traces")
        os.makedirs(traces, exist_ok=True)
        shutil.move(spans, os.path.join(traces, f"{args.workload}-{args.seed}.jsonl"))
    print(json.dumps({"report": result.pop("report")}))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


def _stop_group(proc):
    """Kill the worker's session, which also holds its JVM, its Python
    workers and the load client, and wait until no process of it is
    left (the JVM is not our child, so ``proc.wait`` alone returns
    before it has ended)."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    deadline = time.monotonic() + STOP_TIMEOUT_S
    while time.monotonic() < deadline:
        try:
            os.killpg(proc.pid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.05)
    print("perfbench: the worker's processes outlived SIGKILL", file=sys.stderr)


def _manifest_metrics(root, trace):
    """``{name: unit}`` of the metrics BENCHMARK.json asks a run with
    this ``--trace`` to print, or None without a readable manifest."""
    try:
        with open(os.path.join(root, "BENCHMARK.json")) as f:
            manifest = json.load(f)
        return {m["name"]: m["unit"] for m in manifest["per_layer" if trace else "end_to_end"]}
    except (OSError, ValueError, KeyError):
        return None


if __name__ == "__main__":
    sys.exit(main())
