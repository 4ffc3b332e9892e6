"""One benchmark run in a fresh process (started by run.py).

Usage: python3 perfbench/worker.py --workload W --seed N --seconds S
           --trace 0|1 --run-dir DIR --t0 MONOTONIC

Builds the Spark session with every scratch path inside ``DIR``, runs
the workload and writes ``DIR/result.json``.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import sys
import time

import stats
from spans import Tracer


WORKLOADS = {"feed_serve": "serve", "feed_ingest": "ingest", "pipeline_ops": "pipeline"}
DEFAULT_BOUND = 0.25


def _bounds():
    """End-to-end metric bounds from BENCHMARK.json in the checkout root."""
    try:
        with open("BENCHMARK.json") as f:
            return {m["name"]: m["bound"] for m in json.load(f)["end_to_end"]}
    except (OSError, ValueError, KeyError):
        return {}


class Run:
    """What a workload needs: the session, its seed, its time budget,
    the scratch directory and, in a traced run, the tracer."""

    def __init__(self, args):
        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.traced = bool(args.trace)
        self.dir = args.run_dir
        self.t0 = args.t0
        self.nproc = len(os.sched_getaffinity(0))
        self.report = {}
        self.bounds = _bounds()
        self.spark = None
        self.tracer = None

    def path(self, name):
        return os.path.join(self.dir, name)

    def start_session(self):
        from starryskyqueryengine_spark.session import get_spark

        t = time.monotonic()
        confs = {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            "spark.sql.warehouse.dir": self.path("warehouse"),
            # every JVM scratch file stays in the run directory; the
            # performance-counter file would otherwise go to /tmp
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={os.environ['TMPDIR']} "
                f"-Dderby.system.home={self.path('derby')} -XX:-UsePerfData"
            ),
            "spark.python.worker.reuse": "true",
        }
        if self.traced:
            # job and stage records must outlive the run for the
            # per-span counts read at the end
            confs["spark.ui.retainedJobs"] = "1000000"
            confs["spark.ui.retainedStages"] = "1000000"
        self.spark = get_spark(
            f"perfbench-{self.workload}",
            master=f"local[{self.nproc}]",
            extra_confs=confs,
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.report["session_start_s"] = time.monotonic() - t
        if self.traced:
            self.tracer = Tracer(self.spark.sparkContext)

    def jvm_peak_rss_mb(self):
        try:
            pid = self.spark.sparkContext._gateway.proc.pid
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        return int(line.split()[1]) / 1024
        except (AttributeError, OSError):
            pass
        return float("nan")

    def flat(self, name, samples, metric):
        """Flatness guard: record the first- and second-half medians of a
        measured window and flag a drift larger than the bound that
        BENCHMARK.json gives the end-to-end ``metric`` they feed."""
        bound = self.bounds.get(metric, DEFAULT_BOUND)
        d = stats.halves_drift(samples)
        if d is None:
            return
        first, second, drift = d
        self.report.setdefault("flatness", {})[name] = {
            "first_half": first,
            "second_half": second,
            "drift": drift,
            "flagged": abs(drift) > bound,
        }
        if abs(drift) > bound:
            print(
                f"perfbench: {name} drifted {drift:+.1%} between the halves "
                f"of the measured window (bound {bound:.0%})",
                file=sys.stderr,
            )

    def session_metrics(self):
        return {
            "session.start_s": (self.report["session_start_s"], "s"),
            "session.warmup_s": (self.report["warmup_s"], "s"),
            "session.jvm_peak_rss_mb": (self.jvm_peak_rss_mb(), "MB"),
        }


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--run-dir", required=True)
    ap.add_argument("--t0", type=float, required=True)
    args = ap.parse_args(argv)

    run = Run(args)
    wl = importlib.import_module(WORKLOADS[args.workload])
    run.start_session()
    try:
        result = wl.run(run)
        session = run.session_metrics() if run.tracer is not None else {}
    finally:
        if run.tracer is not None:
            run.tracer.dump(run.path("spans.jsonl"))
        run.spark.stop()
    out = {
        "report": run.report,
        "correct": bool(result["correct"]),
        "attempted": int(result["attempted"]),
        "failed": int(result["failed"]),
        "metrics": _metrics(run, result, session),
    }
    with open(run.path("result.json"), "w") as f:
        json.dump(out, f)


def _metrics(run, result, session):
    """The result line's metrics, the same names on every workload.

    Untraced: the end-to-end metrics. Traced: the same three measured
    under tracing (``traced.*``), the session's, and the Spark jobs and
    tasks per operation. The workload's own layer breakdown goes to the
    report (``report.layers``), since BENCHMARK.json lists only metrics
    that every workload measures."""
    e2e = {
        "setup_s": (result["setup_s"], "s"),
        "latency_p50_ms": (result["latency_ms"], "ms"),
        "throughput_per_s": (result["throughput"], "1/s"),
    }
    if run.tracer is None:
        m = e2e
    else:
        m = {f"traced.{k}": v for k, v in e2e.items()}
        m.update(session)
        jobs, tasks = result["per_op"]
        m["spark.jobs_per_op"] = (jobs, "count")
        m["spark.tasks_per_op"] = (tasks, "count")
        run.report["layers"] = {
            k: {"value": v, "unit": u} for k, (v, u) in result["layers"].items()
        }
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


if __name__ == "__main__":
    main()
