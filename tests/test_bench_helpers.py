"""bench.py round bookkeeping: round resolution must not mislabel a
re-lap run after the round's BENCH write, and the drift-shape
classification must be stable across the round pair being compared.
Pure helpers — no SparkSession."""

import os
import subprocess
import sys

from bench import resolve_round, shape_of

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_import_bench_starts_no_spark():
    """Importing the harness (as tests and tools do for its helpers) must
    not build a session or launch a JVM; only main() does.  Checked in a
    fresh interpreter, since this one may already hold the test session."""
    probe = (
        "import bench\n"
        "from pyspark import SparkContext\n"
        "assert SparkContext._gateway is None, 'JVM launched'\n"
        "assert SparkContext._active_spark_context is None, 'session built'\n"
    )
    done = subprocess.run(
        [sys.executable, "-c", probe], cwd=ROOT, capture_output=True,
        text=True, timeout=120,
    )
    assert done.returncode == 0, done.stderr[-2000:]


def test_resolve_round_inference_and_env_pin():
    # normal flow: bench runs BEFORE the driver writes this round's file
    assert resolve_round([11, 12, 13], None) == (14, 13)
    assert resolve_round([], None) == (0, None)
    # the failure mode: a re-lap AFTER the driver wrote BENCH_r14 —
    # inference alone would say (15, 14), archiving under the wrong
    # round; the env pin keeps it at (14, 13)
    assert resolve_round([11, 12, 13, 14], None) == (15, 14)
    assert resolve_round([11, 12, 13, 14], "14") == (14, 13)
    assert resolve_round([], "0") == (0, None)
    # a reduced-core (_c{cpus}) pass runs after the driver wrote the
    # round's main BENCH file: it belongs to that newest main round
    # (the 8-core r15 pass once archived itself as round 16)
    assert resolve_round([13, 14, 15], None, reduced=True) == (15, 14)
    assert resolve_round([], None, reduced=True) == (0, None)
    assert resolve_round([13, 14, 15], "15", reduced=True) == (15, 14)


def test_shape_of_families():
    assert shape_of("w1_stream_upsert", 5.0, set()) == "stream_checkpoint"
    assert shape_of("w_stream_outer_join", 5.0, set()) == "stream_checkpoint"
    assert shape_of("mm_png_decode", 5.0, {"mm_png_decode"}) == "python_codec"
    assert shape_of("f7_coalesce_defaults", 0.05, set()) == "overhead_scalar"
    assert shape_of("q1_pricing_summary", 2.0, set()) == "jvm_shuffle"


def test_shape_classification_stable_across_round_pair():
    """A query crossing the 0.3s overhead threshold between rounds must
    classify the SAME way for the comparison — callers pass
    min(current, previous), so both (0.2 -> 0.5) and (0.5 -> 0.2)
    resolve to the overhead shape."""
    prev, cur = 0.2, 0.5
    assert (
        shape_of("t4_refresh_delete", min(cur, prev), set())
        == shape_of("t4_refresh_delete", min(prev, cur), set())
        == "overhead_scalar"
    )
