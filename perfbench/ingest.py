"""feed_ingest: back-to-back ``IngestJob.run_once`` ticks with a fresh
first-page HTTP read after each.

Each tick hands a seeded batch of posts (with re-deliveries and late
posts) to ``run_once`` under 16 compiled conditions, then reads the first
page of one feed the tick touched over HTTP. The Python model in
inputs.IngestModel replays the same ticks: every tick's inserted counts,
every freshness page and the final store must equal it.
"""

from __future__ import annotations

import gc
import json
import os
import time
import urllib.request
from urllib.parse import urlencode

import inputs
import stats

BATCH = 2000
# one warm-up tick: the first-run path and most of the JIT warm-up; the
# measured ticks then hold the same positions in every run
WARMUP_TICKS = 1
# the measured window is a fixed number of ticks, so the final store is
# a function of the seed and the tick count alone, never of wall time
NOMINAL_TICK_S = 5.0
PUBLISHER_DID = "did:example:publisher"


def _bytes_under(path):
    sizes = {}
    for d, _, files in os.walk(path):
        for f in files:
            p = os.path.join(d, f)
            sizes[p] = os.path.getsize(p)
    return sizes


def run(r):
    from pyspark.sql import functions as F

    from starryskyqueryengine_spark.config import ConditionsRegistry, FeedCondition
    from starryskyqueryengine_spark.ingest import IngestJob
    from starryskyqueryengine_spark.schemas import INGEST_POST_SCHEMA
    from starryskyqueryengine_spark.server import FeedGeneratorServer, ServerConfig
    from starryskyqueryengine_spark.serving import FeedServer
    from starryskyqueryengine_spark.store import PostStore
    from starryskyqueryengine_spark.table_format import ParquetPartitionedFormat

    spark, tr = r.spark, r.tracer
    conds = inputs.ingest_conditions()
    registry = ConditionsRegistry()
    for key, name, kw in conds:
        registry.upsert(FeedCondition(key=key, recordName=name, **kw))
    store_dir = r.path("store")
    fmt = ParquetPartitionedFormat(spark, store_dir)
    if tr is not None:
        fmt = tr.proxy(fmt, "table_format", ["append", "overwrite_partitions", "read"])
    store = PostStore(spark, store_dir, fmt=fmt)
    if tr is not None:
        store = tr.proxy(store, "store", ["read", "upsert", "apply_retention"])
    job = IngestJob(spark, registry, store)
    if tr is not None:
        tr.wrap_method(job, "accepted_pairs", "predicate.accepted_pairs")
        tr.wrap_method(job, "run_once", "ingest.run_once")
    server = FeedGeneratorServer(FeedServer(spark, registry, store), ServerConfig())
    if tr is not None:
        tr.wrap_handler(server)
    port = server.start()
    model = inputs.IngestModel(conds)
    names = {key: name for key, name, _ in conds}
    history, ticks, errors = [], [], []

    jvm = spark.sparkContext._jvm

    def tick(k):
        batch = inputs.ingest_batch(r.seed, k, BATCH, history)
        want = model.tick(batch)
        key = sorted(want)[k % len(want)]
        newest = inputs.sort_newest(want[key])[0][0]
        q = urlencode({"feed": f"at://{PUBLISHER_DID}/app.bsky.feed.generator/{names[key]}"})
        url = urllib.request.Request(
            f"http://127.0.0.1:{port}/xrpc/app.bsky.feed.getFeedSkeleton?{q}",
            headers={"X-Perfbench-Id": f"tick{k}"},
        )
        df = spark.createDataFrame(batch, INGEST_POST_SCHEMA)
        # start every tick from a collected heap, outside the timing
        gc.collect()
        jvm.System.gc()
        before = _bytes_under(store_dir) if tr is not None else None
        t0 = time.monotonic()
        got = job.run_once(df)
        t1 = time.monotonic()
        with urllib.request.urlopen(url, timeout=60) as resp:
            body = json.loads(resp.read())
        t2 = time.monotonic()
        counts = {key_: len(v) for key_, v in want.items()}
        if {key_: n for key_, n in got.items() if n} != counts:
            errors.append(f"tick {k}: inserted {got} != model {counts}")
        expected = inputs.expected_page(model.newest_first(key))
        if body != expected or {"post": newest} not in body["feed"]:
            errors.append(f"tick {k}: stale or wrong first page for {key}")
        rec = {"tick": f"tick{k}", "tick_s": t1 - t0, "read_s": t2 - t1, "fresh_s": t2 - t0,
               "posts": len(batch), "pairs": model.accepted[-1],
               "inserted": sum(len(v) for v in want.values())}
        if before is not None:
            after = _bytes_under(store_dir)
            rec["bytes"] = sum(n for p, n in after.items() if before.get(p) != n)
        return rec

    try:
        warm_start = time.monotonic()
        for k in range(WARMUP_TICKS):
            tick(k)
        start = time.monotonic()
        r.report["warmup_s"] = start - warm_start
        setup_s = start - r.t0
        n_ticks = max(2, round(r.seconds / NOMINAL_TICK_S))
        for k in range(WARMUP_TICKS, WARMUP_TICKS + n_ticks):
            ticks.append(tick(k))
    finally:
        server.stop()

    final = fmt.read(spark).select(
        "uri", "key", "cid", F.unix_micros("indexedAt").alias("us")
    ).collect()
    rows = [tuple(x) for x in final]
    if len(rows) != len(set((u, key) for u, key, _, _ in rows)):
        errors.append("final store holds a (uri, key) twice")
    per_key = {}
    for _, key, _, _ in rows:
        per_key[key] = per_key.get(key, 0) + 1
    caps = {key: kw["limitCount"] for key, _, kw in conds}
    if any(n > caps[key] for key, n in per_key.items()):
        errors.append("a key holds more posts than its cap")
    if set(rows) != model.rows():
        errors.append("final store differs from the model")

    wall = sum(t["fresh_s"] for t in ticks)
    posts_per_s = sum(t["posts"] for t in ticks) / wall
    fresh_ms = [t["fresh_s"] * 1000 for t in ticks]
    r.flat("tick_ms", [t["tick_s"] * 1000 for t in ticks], "throughput_per_s")
    r.flat("freshness_ms", fresh_ms, "latency_p50_ms")
    r.report.update(ticks=len(ticks), errors=errors[:5],
                    tick_s=[round(t["tick_s"], 3) for t in ticks],
                    read_s=[round(t["read_s"], 3) for t in ticks])
    result = {
        "correct": not errors,
        # a run_once and a freshness read per tick, and the final store
        "attempted": 2 * (WARMUP_TICKS + len(ticks)) + 1,
        "failed": len(errors),
        # the operation is one tick and its freshness read: the time until
        # the tick's posts are served, and incoming posts per second
        "setup_s": setup_s,
        "latency_ms": stats.median(fresh_ms),
        "throughput": posts_per_s,
    }
    if tr is not None:
        result["layers"], result["per_op"] = _layer_metrics(r, ticks, store, model)
    return result


def _layer_metrics(r, ticks, store, model):
    """The layer breakdown of the measured ticks, and the median Spark
    jobs and tasks of one tick (``run_once`` plus its freshness read)."""
    from spans import p50_ms, self_times

    tr = r.tracer
    tr.count_jobs()
    runs = sorted(tr.by_name("ingest.run_once"), key=lambda s: s["start"])[-len(ticks):]
    handlers = {s["op"]: s for s in tr.by_name("server.handler")}
    per_tick = [
        (run["jobs"] + handlers[t["tick"]]["jobs"], run["tasks"] + handlers[t["tick"]]["tasks"])
        for run, t in zip(runs, ticks)
    ]
    per_op = tuple(stats.median([x[i] for x in per_tick]) for i in (0, 1))
    run_ids = {s["id"] for s in runs}
    t_lo = runs[0]["start"]

    def measured(name):
        return [s for s in tr.by_name(name) if s["start"] >= t_lo]

    selfs = self_times(tr.spans)
    upserts = [s for s in measured("store.upsert") if s["parent"] in run_ids]
    rets = [s for s in measured("store.apply_retention") if s["parent"] in run_ids]
    files = store.file_counts()
    m = {
        "ingest.tick_p50_ms": (p50_ms(runs), "ms"),
        "ingest.self_p50_ms": (stats.median([selfs[s["id"]] * 1000 for s in runs]), "ms"),
        "ingest.jobs_per_tick": (stats.median([s["jobs"] for s in runs]), "count"),
        "ingest.tasks_per_tick": (stats.median([s["tasks"] for s in runs]), "count"),
        "predicate.build_ms": (p50_ms(measured("predicate.accepted_pairs")), "ms"),
        "predicate.accept_ratio": (
            sum(t["pairs"] for t in ticks) / sum(t["posts"] for t in ticks), "share"),
        "store.read_p50_ms": (p50_ms(measured("store.read")), "ms"),
        "store.upsert_p50_ms": (p50_ms(upserts), "ms"),
        "store.upsert_jobs": (stats.median([s["jobs"] for s in upserts]), "count"),
        "store.insert_ratio": (
            sum(t["inserted"] for t in ticks) / sum(t["pairs"] for t in ticks), "share"),
        "store.retention_p50_ms": (p50_ms(rets), "ms"),
        "store.retention_jobs": (stats.median([s["jobs"] for s in rets]), "count"),
        "store.retention_keys_rewritten": (
            stats.median(model.rewritten[-len(ticks):]), "count"),
        "table_format.append_p50_ms": (p50_ms(measured("table_format.append")), "ms"),
        "table_format.overwrite_p50_ms": (
            p50_ms(measured("table_format.overwrite_partitions")), "ms"),
        "table_format.bytes_written_per_tick": (
            stats.median([t["bytes"] for t in ticks]), "bytes"),
        "table_format.files_per_key": (stats.median(list(files.values())), "count"),
    }
    return m, per_op
