"""Timing harness for the catalog queries.  Every query runs against the
noop sink (the full plan executes distributed, with no driver-side
collect skew) on local[$SPARK_GRAFT_CPUS], at --sf (default
$SPARK_GRAFT_SF_DIR, else sf0.1 of the test fixtures).

  python bench.py
      1 cold + 3 steady catalog laps.  The full payload goes to stderr,
      bench_full.json and the round archive bench_full_r{N}.json; stdout
      carries ONE compact JSON line.
  python bench.py q1 q2 ... [--laps N] [--explain-dir D --suffix S]
      Each named query alone, N laps (default 4), printing one line per
      query: {"query", "laps", "median", "build"}.  --explain-dir writes
      each query's formatted plan to D/<query><S>.txt first.
  python bench.py lap [label]
      One uncounted warm catalog lap, then one measured lap, printing
      {"label", "lap_total", "queries"}: for interleaved A/B runs between
      two trees, not a replacement for the 4-lap medians.

A query's time runs from the start of its plan construction to the end
of its noop write; "build" is the plan-construction part, which includes
any job the query fires while being built.
"""

from __future__ import annotations

import argparse
import gc
import glob
import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from starryskyqueryengine_spark import catalog  # noqa: E402
from starryskyqueryengine_spark.session import get_spark  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))

# A lap runs ~200 queries in one JVM.  Their shuffle files, broadcast
# blocks and cached frames are freed only at a GC, so without one the
# debris of earlier queries steals executor memory from later ones (late
# queries then read 2-7x their standalone times).  force_gc runs every
# GC_EVERY queries and after any query slower than GC_AFTER_SEC, the
# queries that actually leave garbage behind.
GC_EVERY = 8
GC_AFTER_SEC = 1.0

# One code-untouched control query per execution shape.  Machine drift is
# not uniform across shapes, so a query's round-over-round ratio is
# divided by its own shape's control ratio.  A control must stay
# untouched; if a change touches one, swap in another query of the same
# shape.
DRIFT_CONTROLS = {
    # JVM shuffle + iterative aggregation, no Python rows
    "jvm_shuffle": "pagerank_part_supplier",
    # Arrow-batched Python codec work: tracks Python-worker throughput
    "python_codec": "mm_png_decode",
    # sub-second projection: tracks fixed per-query overhead (py4j,
    # planning), not compute
    "overhead_scalar": "f7_coalesce_defaults",
    # availableNow stream drain: tracks state-store/checkpoint I/O
    "stream_checkpoint": "w8_stream_tumbling_counts",
}


def run_df(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _noop_batches(batches):
    yield from batches


def start_session(sf_dir: str, cpus: int):
    """The bench session, warmed so that no query's first lap pays a
    one-time start-up cost."""
    spark = get_spark(
        "ssqe-bench",
        master=f"local[{cpus}]",
        extra_confs={
            # the ContextCleaner's own periodic GC defaults to 30 min,
            # longer than a whole bench
            "spark.cleaner.periodicGC.interval": "1min",
            # the worker-pool warm-up below only pays off with reuse on
            "spark.python.worker.reuse": "true",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    # executors and codegen, against a tiny table
    run_df(spark.read.parquet(f"{sf_dir}/region.parquet"))
    # The first Arrow task on each core forks a Python worker (~50 ms);
    # one no-op mapInPandas with one task per core forks the whole pool.
    run_df(
        spark.range(0, cpus, 1, numPartitions=cpus).mapInPandas(
            _noop_batches, "id long"
        )
    )
    # Python DataSources run in their own worker classes (a driver-side
    # plan worker and executor read workers) that the pool above does not
    # fork; one single-page read warms both.
    from starryskyqueryengine_spark.sources.paged_datasource import (
        register_paged_sources,
    )

    register_paged_sources(spark)
    run_df(
        spark.read.format("starrysky_paged")
        .option("path", f"{sf_dir}/documents.parquet")
        .option("max_pages", "1")
        .option("num_partitions", "1")
        .load()
    )
    return spark


def force_gc(spark) -> None:
    # CacheManager entries (DataFrame.cache() inside catalog queries) are
    # not freed by GC: they live until unpersisted, stealing storage from
    # later queries and letting a later lap reuse an earlier lap's cache.
    spark.catalog.clearCache()
    gc.collect()  # drop py4j handles so JVM weak refs can clear
    # the first JVM pass enqueues the weak refs; the second lets the
    # ContextCleaner's shuffle and broadcast blocks actually drop
    spark.sparkContext._jvm.System.gc()
    spark.sparkContext._jvm.System.gc()


def run_lap(spark, queries: dict, sf_dir: str) -> tuple[dict, dict]:
    """Run each query once, in order, under the GC policy.  Returns
    ({name: total_sec}, {name: build_sec})."""
    total: dict[str, float] = {}
    build: dict[str, float] = {}
    force_gc(spark)
    since_gc = 0
    for name, fn in queries.items():
        if since_gc >= GC_EVERY:
            force_gc(spark)
            since_gc = 0
        spark.sparkContext.setJobDescription(f"bench:{name}")
        t0 = time.perf_counter()
        df = fn(spark, sf_dir)
        t1 = time.perf_counter()
        run_df(df)
        dt = time.perf_counter() - t0
        build[name] = round(t1 - t0, 4)
        total[name] = round(dt, 4)
        # caches a query builds (signature tables etc.) are its own
        spark.catalog.clearCache()
        if dt > GC_AFTER_SEC:
            force_gc(spark)
            since_gc = 0
        else:
            since_gc += 1
    spark.sparkContext.setJobDescription(None)
    return total, build


def catalog_queries() -> dict:
    """The catalog in registration order, then the driver-contract
    flagship (which runs at its own pinned sf0.001 fixture)."""
    import __spark_entry__ as entrymod

    queries = dict(catalog.get_queries())
    queries["flagship_materialize"] = lambda spark, _sf: entrymod.entry(spark)
    return queries


def resolve_round(
    rounds: list, env_round: str | None, reduced: bool = False
) -> tuple:
    """(current, previous) bench round.  $SPARK_GRAFT_ROUND pins the
    current round explicitly (the max(BENCH_r*)+1 inference mislabels a
    re-lap run after this round's BENCH file is written); the previous
    round is then simply current-1.  Without the pin, a main run is round
    max+1.  A ``reduced``-core run (archived with a ``_c{cpus}`` suffix)
    is an extra pass over a round whose main BENCH file is already
    written, so it takes the newest main round, not max+1."""
    if env_round:
        cur = int(env_round)
    elif not rounds:
        return 0, None
    elif not reduced:
        return rounds[-1] + 1, rounds[-1]
    else:
        cur = rounds[-1]
    return cur, (cur - 1 if cur > 0 else None)


def shape_of(name: str, med: float, python_queries: set) -> str:
    """Execution-shape classification for drift normalization.  Callers
    comparing two rounds must pass min(current, previous) median, so a
    query that crossed the 0.3 s overhead threshold between the rounds is
    normalized against the same shape on both sides."""
    if "stream" in name or name.startswith(("w1_", "w2_", "w8_", "w_")):
        return "stream_checkpoint"
    if name in python_queries:
        return "python_codec"
    if med < 0.3:
        return "overhead_scalar"
    return "jvm_shuffle"


def _python_queries() -> set:
    """Queries whose plans hold Python nodes, per the last plan lint."""
    try:
        with open(os.path.join(HERE, "PLANLINT.json")) as fh:
            lint = json.load(fh)
    except (OSError, ValueError):
        return set()  # no plan lint yet: they fall to jvm_shuffle
    return {
        q for q, info in lint.get("queries", {}).items()
        if info.get("python_nodes")
    }


def normalize_vs(median: dict, prev: dict, sf: float, prev_round: int):
    """Each query's ratio to the previous round's archived median,
    divided by its shape's control ratio.  Returns (ratios, summary)."""
    # cross-SF ratios are meaningless (an sf0.001 smoke against an sf0.1
    # archive reads as a uniform 3-5x "regression")
    if prev.get("sf") != sf:
        return {}, {
            "vs_round": prev_round,
            "skipped": f"sf mismatch: prev {prev.get('sf')} vs current {sf}",
        }
    prev_med = prev.get("queries", {})
    control_ratio = {
        shape: median[q] / prev_med[q]
        for shape, q in DRIFT_CONTROLS.items()
        if prev_med.get(q) and q in median
    }
    python_queries = _python_queries()
    ratios: dict[str, dict] = {}
    for k, v in median.items():
        p = prev_med.get(k)
        if not p:
            continue
        shape = shape_of(k, min(v, p), python_queries)
        c = control_ratio.get(shape)
        ratios[k] = {
            "raw": round(v / p, 3),
            "shape": shape,
            "normalized": round(v / p / c, 3) if c else None,
        }
    normed = {k: r["normalized"] for k, r in ratios.items()
              if r["normalized"] is not None}
    if not normed:
        return ratios, {}
    norms = sorted(normed.values())
    worst = sorted(normed, key=normed.get, reverse=True)[:5]
    return ratios, {
        "vs_round": prev_round,
        "control_ratios": {s: round(c, 3) for s, c in control_ratio.items()},
        "median_normalized": norms[len(norms) // 2],
        "n_over_1p5": sum(1 for x in norms if x > 1.5),
        "worst5": {k: normed[k] for k in worst},
    }


def noise_note(laps: dict, median: dict) -> str:
    """A per-run noise note computed from the laps in this very payload:
    per-lap totals, the flagship's per-lap spread and the overhead
    control's per-lap ratio to its median, everything a reader needs to
    tell one-lap contention from an all-lap change."""
    steady = {n: d for n, d in laps.items() if n != "cold"}
    totals = {n: round(sum(d.values()), 1) for n, d in steady.items()}
    worst = max(totals, key=totals.get)
    best = min(totals, key=totals.get)
    oc_q = DRIFT_CONTROLS["overhead_scalar"]
    oc_med = median.get(oc_q)
    oc_laps = {
        n: (round(d[oc_q] / oc_med, 2) if oc_med and oc_q in d else None)
        for n, d in steady.items()
    }
    flag_laps = {n: d.get("flagship_materialize") for n, d in laps.items()}
    return (
        f"computed from this run: steady lap totals {totals} "
        f"(worst {worst} = {round(totals[worst] / totals[best], 2)}x "
        f"best {best}); flagship per-lap {flag_laps}; "
        f"overhead control {oc_q} per-lap ratio to its median {oc_laps} "
        f"— a worst-normalized query elevated only in {worst} is "
        f"lap contention, elevated in all steady laps is real"
    )


def bench_catalog(spark, queries: dict, sf_dir: str, cpus: int) -> dict:
    """Plain mode: 1 cold + 3 steady laps, archived per round.  Returns
    the compact stdout payload."""
    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).removeprefix("sf") or "0.1")
    except ValueError:
        sf = -1.0  # non-conforming dir name: record "unknown", don't crash
    # The cold lap carries one-time codegen and first-touch costs, so it
    # is a sidecar.  The headline per query is the MEDIAN of the three
    # steady laps: robust to one noisy lap either way, where best-of
    # chases lucky laps.  The all-lap min is kept as a sidecar.
    runs = [run_lap(spark, queries, sf_dir) for _ in range(4)]
    cold, lap2, lap3, lap4 = (t for t, _ in runs)
    median = {k: sorted([lap2[k], lap3[k], lap4[k]])[1] for k in cold}
    build = {k: sorted(b[k] for _, b in runs[1:])[1] for k in cold}
    best = {k: min(cold[k], lap2[k], lap3[k], lap4[k]) for k in cold}

    rounds = sorted(
        int(m.group(1))
        for f in glob.glob(os.path.join(HERE, "BENCH_r*.json"))
        if (m := re.search(r"BENCH_r(\d+)\.json$", f))
    )
    env_round = os.environ.get("SPARK_GRAFT_ROUND")
    # A reduced-core run must never claim the round's main archive slot:
    # it is suffixed with its core count and labelled with the main round
    # it ran after.
    cpu_tag = "" if cpus == (os.cpu_count() or cpus) else f"_c{cpus}"
    cur_round, prev_round = resolve_round(rounds, env_round, bool(cpu_tag))
    ratios, summary = {}, {}
    if prev_round is not None:
        try:
            with open(os.path.join(HERE, f"bench_full_r{prev_round:02d}.json")) as fh:
                ratios, summary = normalize_vs(median, json.load(fh), sf, prev_round)
        except (OSError, ValueError):
            pass  # no archive for the previous round: nothing to compare

    payload = {
        "metric": "catalog_total_runtime",
        "value": round(sum(median.values()), 4),
        "unit": "sec",
        "queries": median,
        "sf": sf,
        # entry() runs the flagship at its pinned sf0.001 fixture whatever
        # the bench's sf, so cross-sf comparisons must not read that one
        # component
        "flagship_materialize_sf": 0.001,
        "cold_total_sec": round(sum(cold.values()), 4),
        "lap2_total_sec": round(sum(lap2.values()), 4),
        "lap3_total_sec": round(sum(lap3.values()), 4),
        "lap4_total_sec": round(sum(lap4.values()), 4),
        "best_total_sec": round(sum(best.values()), 4),
        # per-lap detail: tells one-lap noise from a real change without
        # a re-run
        "queries_cold": cold,
        "queries_lap2": lap2,
        "queries_lap3": lap3,
        "queries_lap4": lap4,
        "queries_best": best,
        "queries_build": build,
        "drift_controls": {
            shape: {"query": q, "median_sec": median.get(q)}
            for shape, q in DRIFT_CONTROLS.items()
        },
        "round": cur_round,
        "cpus": cpus,
        "normalized_ratios": ratios,
        "normalized_summary": summary,
        "notes": {
            f"r{cur_round:02d}_noise": noise_note(
                {"cold": cold, "lap2": lap2, "lap3": lap3, "lap4": lap4},
                median,
            )
        },
    }
    print(json.dumps(payload), file=sys.stderr)
    with open(os.path.join(HERE, "bench_full.json"), "w") as fh:
        json.dump(payload, fh, indent=1)
    # The round archive lets any later round diff the complete catalog
    # against this one.  An inferred round whose archive already exists
    # is a re-lap after the round's BENCH write shifted the inference;
    # only an env-pinned round may overwrite its own archive.
    arch_path = os.path.join(HERE, f"bench_full_r{cur_round:02d}{cpu_tag}.json")
    if os.path.exists(arch_path) and not env_round:
        print(
            f"bench: {os.path.basename(arch_path)} already exists and "
            f"round was inferred, not pinned — skipping archive write "
            f"(set SPARK_GRAFT_ROUND to overwrite deliberately)",
            file=sys.stderr,
        )
    else:
        with open(arch_path, "w") as fh:
            json.dump(payload, fh, indent=1)
    compact = {k: payload[k] for k in
               ("metric", "value", "unit", "sf", "cold_total_sec",
                "lap2_total_sec", "lap3_total_sec", "lap4_total_sec",
                "best_total_sec", "drift_controls", "round",
                "normalized_summary")}
    compact["queries"] = {
        k: median[k] for k in sorted(median, key=median.get, reverse=True)[:5]
    }
    compact["queries_full"] = "bench_full.json"
    return compact


def bench_named(spark, queries: dict, names: list, sf_dir: str, laps: int,
                explain_dir: str | None, suffix: str) -> None:
    """Named mode: each query alone, so a before/after pair for one change
    is not polluted by the other queries' debris or by lap order."""
    for name in names:
        fn = queries[name]
        if explain_dir:
            os.makedirs(explain_dir, exist_ok=True)
            df = fn(spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted")
            with open(os.path.join(explain_dir, f"{name}{suffix}.txt"), "w") as fh:
                fh.write(plan)
            spark.catalog.clearCache()
        totals, builds = [], []
        for _ in range(laps):
            total, build = run_lap(spark, {name: fn}, sf_dir)
            totals.append(total[name])
            builds.append(build[name])
        med = sorted(totals)[len(totals) // 2] if totals else None
        print(json.dumps({"query": name, "laps": totals, "median": med,
                          "build": builds}), flush=True)


def main(argv: list | None = None) -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    ap = argparse.ArgumentParser(
        description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter
    )
    ap.add_argument("queries", nargs="*",
                    help="catalog queries to time alone, or: lap [label]")
    ap.add_argument("--laps", type=int, default=None,
                    help="laps per named query (default 4)")
    ap.add_argument("--sf", default=sf_dir, help="fixture directory")
    ap.add_argument("--explain-dir", default=None,
                    help="write each named query's formatted plan here")
    ap.add_argument("--suffix", default="",
                    help="file name suffix for the plans (_before/_after)")
    args = ap.parse_args(argv)
    lap_mode = args.queries[:1] == ["lap"]
    if lap_mode and len(args.queries) > 2:
        ap.error("lap mode takes at most one label")
    if (lap_mode or not args.queries) and (
        args.laps is not None or args.explain_dir or args.suffix
    ):
        ap.error("--laps, --explain-dir and --suffix apply to named queries")
    queries = catalog_queries()
    if args.queries and not lap_mode:
        unknown = sorted(set(args.queries) - set(queries))
        if unknown:
            ap.error(f"unknown queries: {unknown}")

    spark = start_session(args.sf, cpus)
    if lap_mode:
        run_lap(spark, queries, args.sf)  # warm lap, uncounted
        total, _ = run_lap(spark, queries, args.sf)
        out = {"label": args.queries[1] if len(args.queries) > 1 else "lap",
               "lap_total": round(sum(total.values()), 2),
               "queries": total}
    elif args.queries:
        bench_named(spark, queries, args.queries, args.sf,
                    4 if args.laps is None else args.laps,
                    args.explain_dir, args.suffix)
        out = None
    else:
        out = bench_catalog(spark, queries, args.sf, cpus)
    spark.stop()
    # stdout's last line is the compact JSON, printed after spark.stop()
    # so no logging can trail it
    if out is not None:
        print(json.dumps(out), flush=True)


if __name__ == "__main__":
    main()
