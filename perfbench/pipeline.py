"""pipeline_ops: laps over a subset of the LLM-data-pipeline catalog.

Each query runs as three timed phases: build (``fn(spark, sf_dir)``),
plan (``queryExecution().executedPlan()``) and execute (the noop sink).
The first warm-up lap also checks every query once against its DuckDB
oracle with tools/compare.py. Cache and garbage are cleared between
queries, as bench.py does, outside the timed phases. The seed generates
the fixture tables and permutes the lap order.
"""

from __future__ import annotations

import gc
import os
import random
import tempfile
import time
from contextlib import nullcontext

import fixtures
import stats

# the slowest ROADMAP perf backlog query and the data-driven predicate
# path; README.md says why the list is this short
QUERIES = ["label_prop_communities", "multifeed_datadriven"]
# run once, untimed, in the traced run only: its leaked staging
# directories are counted as catalog_stream.tmp_dirs_left
STREAM_QUERY = "table_changes_stream"
STREAM_PREFIXES = ("w1_", "tcs_", "evstream_")
WARMUP_LAPS = 1
# the measured window is a fixed number of laps, so every run times the
# same lap positions on the JIT warm-up curve
NOMINAL_LAP_S = 3.3


def _module(fn):
    return fn.__module__.rsplit(".", 1)[-1]


def run(r):
    import duckdb

    from starryskyqueryengine_spark import catalog
    from tools.compare import normalize, tolerant_rows_equal

    spark, tr = r.spark, r.tracer
    data = r.path("data")
    tables = fixtures.write_tables(data, r.seed)
    order = list(QUERIES)
    random.Random(f"pipeline-{r.seed}").shuffle(order)
    fns, oracle = catalog.get_queries(), catalog.get_oracle_sql()
    jvm = spark.sparkContext._jvm
    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    errors = []

    def force_gc():
        spark.catalog.clearCache()
        gc.collect()
        jvm.System.gc()
        jvm.System.gc()

    def phase(q, what, lap):
        if tr is None:
            return nullcontext()
        return tr.span(f"{_module(fns[q])}.{q}.{what}", op=lap)

    def timed(q, lap, check=False):
        t0 = time.monotonic()
        with phase(q, "build", lap):
            df = fns[q](spark, data)
        t1 = time.monotonic()
        with phase(q, "plan", lap):
            df._jdf.queryExecution().executedPlan()
        t2 = time.monotonic()
        with phase(q, "execute", lap):
            # a checked (warm-up) execution collects the rows for the
            # oracle instead of running the query a second time
            if check:
                rows = [tuple(x) for x in df.collect()]
            else:
                df.write.format("noop").mode("overwrite").save()
        t3 = time.monotonic()
        if check:
            s_vals, s_cols = normalize(rows, df.columns)
            res = con.execute(oracle[q])
            d_vals, d_cols = normalize(res.fetchall(), [d[0] for d in res.description])
            if (s_cols != d_cols or len(s_vals) != len(d_vals)
                    or not tolerant_rows_equal(s_vals, d_vals)):
                errors.append(f"{q}: differs from its DuckDB oracle")
        del df
        force_gc()
        return t3 - t0

    warm_start = time.monotonic()
    force_gc()
    for lap in range(WARMUP_LAPS):
        for q in order:
            timed(q, f"warm{lap}", check=lap == 0)
    start = time.monotonic()
    r.report["warmup_s"] = start - warm_start
    setup_s = start - r.t0

    n_laps = max(2, round(r.seconds / NOMINAL_LAP_S))
    samples = {q: [] for q in order}
    for lap in range(n_laps):
        for q in order:
            samples[q].append(timed(q, f"lap{lap}"))
    # a lap is the sum of each query's median time over the laps
    lap_s = sum(stats.median(v) for v in samples.values())

    for q, v in samples.items():
        r.flat(f"{q}_s", v, "latency_p50_ms")
    r.report.update(samples=samples, order=order, lap_s=lap_s)
    result = {
        "attempted": len(order) * (WARMUP_LAPS + n_laps),
        # the operation is one lap: its time, and catalog queries per
        # second at that lap time
        "setup_s": setup_s,
        "latency_ms": lap_s * 1000,
        "throughput": len(order) / lap_s,
    }
    if tr is not None:
        before = _stream_dirs()
        timed(STREAM_QUERY, "stream", check=True)
        result["attempted"] += 1
        left = len(_stream_dirs() - before)
        result["layers"], result["per_op"] = _layer_metrics(r, fns, order, n_laps, left)
    con.close()
    r.report["errors"] = errors
    result.update(correct=not errors, failed=len(errors))
    return result


def _stream_dirs():
    return {n for n in os.listdir(tempfile.gettempdir()) if n.startswith(STREAM_PREFIXES)}


def _layer_metrics(r, fns, order, n_laps, left):
    """The per-query phase metrics, and the median Spark jobs and tasks
    of one lap (every phase of every query in it)."""
    from spans import p50_ms

    tr = r.tracer
    tr.count_jobs()
    laps = {f"lap{i}": [0, 0] for i in range(n_laps)}
    for s in tr.spans:
        if s["op"] in laps:
            laps[s["op"]][0] += s["jobs"]
            laps[s["op"]][1] += s["tasks"]
    per_op = tuple(stats.median([lap[i] for lap in laps.values()]) for i in (0, 1))
    m = {}
    for q in order:
        mod = _module(fns[q])
        for what in ("build", "plan", "execute"):
            spans = [s for s in tr.by_name(f"{mod}.{q}.{what}") if s["op"].startswith("lap")]
            m[f"{mod}.{q}.{what}_ms"] = (p50_ms(spans), "ms")
            if what != "plan":
                m[f"{mod}.{q}.{what}_jobs"] = (stats.median([s["jobs"] for s in spans]), "count")
    m["catalog_stream.tmp_dirs_left"] = (left, "count")
    return m, per_op

