"""feed_serve: read-only getFeedSkeleton traffic over HTTP.

Set-up ingests a seeded store of 64 feeds of up to 2,000 posts, takes a
snapshot of it, and computes every expected page from the snapshot in
Python. A separate client process (client.py) then warms the server up
and drives two timed phases: an open loop at a fixed rate, timed from
each request's due time, and a closed loop on ``nproc`` connections.
Every response body is compared with its expected page.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time
from urllib.parse import urlencode

import inputs
import stats

# the open loop runs for --seconds at a fixed rate below half the
# capacity (3-4 requests/s on 4 cores), so that a burst of machine noise
# is not amplified by queueing; the closed loop then runs for
# CLOSED_SHARE of --seconds more
OPEN_RATE = 1.25
CLOSED_SHARE = 0.5
WARMUP_REQUESTS = 8
SECRET = "perfbench-shared-secret"
SERVICE_DID = "did:web:feed.test"
PUBLISHER_DID = "did:example:publisher"


def _store_frame(spark, rows):
    import pandas as pd

    from starryskyqueryengine_spark.schemas import POST_SCHEMA

    pdf = pd.DataFrame(rows, columns=["uri", "key", "cid", "us"])
    pdf["replyParent"] = None
    pdf["replyRoot"] = None
    pdf["indexedAt"] = pd.to_datetime(pdf["us"], unit="us")
    return spark.createDataFrame(pdf[[f.name for f in POST_SCHEMA.fields]], POST_SCHEMA)


def _snapshot(store):
    from pyspark.sql import functions as F

    pdf = store.read().select(
        "uri", "key", "cid", F.unix_micros("indexedAt").alias("us")
    ).toPandas()
    return list(pdf.itertuples(index=False, name=None))


def run(r):
    from starryskyqueryengine_spark.auth import sign_jwt_hs256
    from starryskyqueryengine_spark.config import ConditionsRegistry, FeedCondition
    from starryskyqueryengine_spark import serving
    from starryskyqueryengine_spark.server import FeedGeneratorServer, ServerConfig
    from starryskyqueryengine_spark.store import PostStore

    spark = r.spark
    t = time.monotonic()
    feeds, rows = inputs.serve_feeds(r.seed)
    t_gen = time.monotonic()
    store = PostStore(spark, r.path("store"))
    store.upsert(_store_frame(spark, rows))
    t_build = time.monotonic()
    snap = _snapshot(store)
    r.report.update(gen_s=t_gen - t, build_s=t_build - t_gen, snapshot_s=time.monotonic() - t_build)
    snapshot_ok = len(snap) == len(rows) and set(snap) == set(rows)
    by_key = {f["key"]: [] for f in feeds}
    for uri, key, cid, us in snap:
        by_key[key].append((uri, cid, us))
    by_key = {k: inputs.sort_newest(v) for k, v in by_key.items()}

    registry = ConditionsRegistry()
    for f in feeds:
        registry.upsert(
            FeedCondition(
                key=f["key"], recordName=f["recordName"],
                pinnedPost=f["pinned"], privateFeed=f["private"],
            )
        )
    feed_server = serving.FeedServer(spark, registry, store)
    server = FeedGeneratorServer(
        feed_server,
        ServerConfig(service_did=SERVICE_DID, publisher_did=PUBLISHER_DID),
        key_lookup=lambda iss: SECRET if iss == inputs.READER_DID else None,
    )
    if r.tracer is not None:
        _instrument(r.tracer, server, feed_server, store, serving)
    port = server.start()

    t = time.monotonic()
    private = {f["recordName"] for f in feeds if f["private"]}
    requests = []
    for name, cursor, body in inputs.request_mix(r.seed, feeds, by_key, 800):
        q = {"feed": f"at://{PUBLISHER_DID}/app.bsky.feed.generator/{name}"}
        if cursor is not None:
            q["cursor"] = cursor
        requests.append(
            [f"/xrpc/app.bsky.feed.getFeedSkeleton?{urlencode(q)}", name in private, body]
        )
    token = sign_jwt_hs256(
        {"iss": inputs.READER_DID, "aud": SERVICE_DID, "exp": int(time.time()) + 3600},
        SECRET,
    )
    plan = {
        "port": port, "token": token, "requests": requests, "conns": r.nproc,
        "warmup_requests": WARMUP_REQUESTS, "rate": OPEN_RATE,
        "open_seconds": r.seconds,
        "closed_seconds": r.seconds * CLOSED_SHARE,
    }
    with open(r.path("plan.json"), "w") as f:
        json.dump(plan, f)
    r.report["mix_s"] = time.monotonic() - t
    warm_start = time.monotonic()
    client = os.path.join(os.path.dirname(os.path.abspath(__file__)), "client.py")
    try:
        subprocess.run(
            [sys.executable, client, r.path("plan.json"), r.path("client.json")],
            check=True, timeout=150,
        )
    finally:
        server.stop()
    with open(r.path("client.json")) as f:
        out = json.load(f)

    r.report["warmup_s"] = out["open_start"] - warm_start
    setup_s = out["open_start"] - r.t0
    opened, closed = out["open"], out["closed"]
    acct = stats.lateness(*zip(*[(o[0], o[1], o[2]) for o in opened]))
    lat_ms = [x * 1000 for x in acct["latency"]]
    # closed-loop throughput by Little's law: connections over the median
    # time a request holds one, which does not jump by a whole request
    # when one more or one fewer completes inside the phase
    rps = r.nproc / stats.median([c[2] - c[1] for c in closed])
    measured = opened + closed
    failed = sum(1 for o in measured + out["warm"] if not o[4])
    tail = stats.tail_percentile(lat_ms)
    r.flat("request_latency_ms", lat_ms, "latency_p50_ms")
    r.flat("closed_latency_ms", [(c[2] - c[1]) * 1000 for c in closed], "throughput_per_s")
    r.report.update(
        open_requests=len(opened), closed_requests=len(closed),
        open_max_lag_s=acct["max_lag"], snapshot_ok=snapshot_ok,
        open_latency_ms=[round(x, 1) for x in lat_ms],
        request_tail=tail and {"percentile": tail[0], "ms": tail[1], "n": tail[2]},
    )
    result = {
        "correct": snapshot_ok and failed == 0,
        "attempted": len(measured) + len(out["warm"]),
        "failed": failed,
        # the operation is one getFeedSkeleton request: open-loop latency
        # and closed-loop requests per second
        "setup_s": setup_s,
        "latency_ms": stats.median(lat_ms),
        "throughput": rps,
    }
    if r.tracer is not None:
        result["layers"] = _layer_metrics(r, out, acct, lat_ms)
        result["per_op"] = (
            result["layers"]["serving.jobs_per_request"][0],
            result["layers"]["serving.tasks_per_request"][0],
        )
    return result


def _instrument(tracer, server, feed_server, store, serving):
    """Spans around the serving layers, installed from outside: the
    HTTP handler, the skeleton call, the store read and the keyset page
    build. The handler span carries the client's request id."""
    tracer.wrap_handler(server)
    tracer.wrap_method(feed_server, "get_feed_skeleton", "serving.skeleton")
    tracer.wrap_method(store, "read", "store.read")
    serving.keyset_page = tracer.wrap("operators.topk.keyset_page", serving.keyset_page)


def _layer_metrics(r, out, acct, lat_ms):
    from spans import p50_ms, self_times

    tr = r.tracer
    tr.count_jobs()
    selfs = self_times(tr.spans)
    handlers = {s["op"]: s for s in tr.by_name("server.handler")}
    timed = [o for o in out["open"] if o[5] in handlers]
    http_ms = [
        ((o[2] - o[1]) - (handlers[o[5]]["end"] - handlers[o[5]]["start"])) * 1000
        for o in timed
    ]
    mspans = [handlers[o[5]] for o in timed]
    ids = {s["id"] for s in mspans}
    skel = [s for s in tr.by_name("serving.skeleton") if s["parent"] in ids]
    sk_ids = {s["id"] for s in skel}
    reads = [s for s in tr.by_name("store.read") if s["parent"] in sk_ids]
    pages = [s for s in tr.by_name("operators.topk.keyset_page") if s["parent"] in sk_ids]

    statuses = [o[3] for o in out["open"] + out["closed"]]
    m = {
        "server.handler_p50_ms": (p50_ms(mspans), "ms"),
        "server.http_p50_ms": (stats.median(http_ms), "ms"),
        "server.queue_wait_p90_ms": (
            stats.percentile([x * 1000 for x in acct["queue_wait"]], 90), "ms"),
        "server.non2xx_share": (
            sum(1 for s in statuses if not 200 <= s < 300) / len(statuses), "share"),
        "server.request_p90_ms": (stats.percentile(lat_ms, 90), "ms"),
        "serving.skeleton_p50_ms": (p50_ms(skel), "ms"),
        "serving.collect_p50_ms": (stats.median([selfs[s["id"]] * 1000 for s in skel]), "ms"),
        "serving.jobs_per_request": (stats.median([s["jobs"] for s in mspans]), "count"),
        "serving.tasks_per_request": (stats.median([s["tasks"] for s in mspans]), "count"),
        "operators.topk.page_build_p50_ms": (p50_ms(pages), "ms"),
        "store.read_p50_ms": (p50_ms(reads), "ms"),
    }
    return m
