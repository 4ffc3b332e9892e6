"""Tests for the benchmark's own helpers (no Spark needed).

Run from the checkout root: python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import datetime as dt
import json
import os
import sys
from types import SimpleNamespace

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import inputs  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402
import worker  # noqa: E402
from spans import Tracer, self_times  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


# -- percentile helper --------------------------------------------------------


def test_tail_percentile_keeps_ten_samples_beyond():
    xs = list(range(1, 101))
    assert stats.tail_percentile(xs) == (90, 90, 100)
    p, v, n = stats.tail_percentile(list(range(84)))
    assert (p, n) == (88, 84)
    assert sum(1 for x in range(84) if x > v) == 10


def test_tail_percentile_needs_more_than_ten_samples():
    assert stats.tail_percentile([1.0] * 10) is None
    p, v, n = stats.tail_percentile(list(range(11)))
    assert n == 11 and sum(1 for x in range(11) if x > v) >= 10


def test_tail_percentile_is_order_free():
    xs = [5, 1, 9, 3, 7, 2, 8, 4, 6, 0, 10, 11, 12]
    assert stats.tail_percentile(xs) == stats.tail_percentile(sorted(xs))


# -- open-loop lateness ---------------------------------------------------------


def test_lateness_times_requests_from_their_due_time():
    due = [0.0, 1.0, 2.0]
    sent = [0.0, 1.5, 2.0]  # the second waited 0.5 s for a connection
    done = [0.2, 1.7, 2.1]
    acct = stats.lateness(due, sent, done)
    assert acct["latency"] == pytest.approx([0.2, 0.7, 0.1])
    assert acct["queue_wait"] == pytest.approx([0.0, 0.5, 0.0])
    assert acct["max_lag"] == pytest.approx(0.5)


def test_lateness_rejects_ragged_input():
    with pytest.raises(ValueError):
        stats.lateness([0.0], [0.0, 1.0], [1.0])


def test_open_loop_schedule_is_evenly_spaced():
    assert stats.open_loop_schedule(4, 1.0, start=10.0) == [10.0, 10.25, 10.5, 10.75]


def test_halves_drift_flags_a_slope():
    first, second, drift = stats.halves_drift([5.0, 5.0, 4.0, 4.0])
    assert (first, second) == (5.0, 4.0)
    assert drift == pytest.approx(-0.2)
    assert stats.halves_drift([1.0]) is None


# -- span self time -------------------------------------------------------------


def test_self_time_subtracts_children_once():
    spans = [
        {"id": 1, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 2, "parent": 1, "start": 1.0, "end": 4.0},
        {"id": 3, "parent": 1, "start": 3.0, "end": 5.0},  # overlaps 2
        {"id": 4, "parent": 1, "start": 8.0, "end": 12.0},  # runs past 1
        {"id": 5, "parent": 2, "start": 1.0, "end": 2.0},  # grandchild
    ]
    got = self_times(spans)
    assert got[1] == pytest.approx(10.0 - 4.0 - 2.0)
    assert got[2] == pytest.approx(2.0)
    assert got[3] == pytest.approx(2.0)
    assert got[5] == pytest.approx(1.0)


def test_tracer_records_parents_and_ops():
    tr = Tracer()
    with tr.span("outer", op="req-1"):
        with tr.span("inner"):
            pass
    outer, = tr.by_name("outer")
    inner, = tr.by_name("inner")
    assert inner["parent"] == outer["id"] and inner["op"] == "req-1"
    assert outer["start"] <= inner["start"] <= inner["end"] <= outer["end"]


def test_wrap_handler_tags_spans_with_the_request_id():
    tr = Tracer()

    class Server:
        def handle_get_feed_skeleton(self, params, headers):
            with tr.span("serving.skeleton"):
                return 200, {"feed": []}

    server = Server()
    tr.wrap_handler(server)
    assert server.handle_get_feed_skeleton({}, {"x-perfbench-id": "tick3"}) == (200, {"feed": []})
    handler, = tr.by_name("server.handler")
    skeleton, = tr.by_name("serving.skeleton")
    assert handler["op"] == skeleton["op"] == "tick3"
    assert skeleton["parent"] == handler["id"]


# -- result line ----------------------------------------------------------------


def test_manifest_metrics_follow_the_trace_flag(tmp_path):
    (tmp_path / "BENCHMARK.json").write_text(json.dumps({
        "end_to_end": [{"name": "setup_s", "unit": "s"}],
        "per_layer": [{"name": "spark.jobs_per_op", "unit": "count"}],
    }))
    assert run._manifest_metrics(str(tmp_path), 0) == {"setup_s": "s"}
    assert run._manifest_metrics(str(tmp_path), 1) == {"spark.jobs_per_op": "count"}
    assert run._manifest_metrics(str(tmp_path / "missing"), 0) is None


def test_every_workload_prints_the_manifest_metrics():
    # the workloads hand the worker the same keys, so one result stands
    # for all three
    result = {"setup_s": 20.0, "latency_ms": 500.0, "throughput": 2.5,
              "per_op": (3, 69), "layers": {"server.handler_p50_ms": (400.0, "ms")}}
    stub = SimpleNamespace(report={"session_start_s": 6.0, "warmup_s": 8.0},
                           jvm_peak_rss_mb=lambda: 1500.0)
    session = worker.Run.session_metrics(stub)
    for trace in (0, 1):
        r = SimpleNamespace(tracer=object() if trace else None, report={})
        got = worker._metrics(r, result, session)
        assert {k: m["unit"] for k, m in got.items()} == run._manifest_metrics(ROOT, trace)
        assert r.report.get("layers", {}) == (
            {"server.handler_p50_ms": {"value": 400.0, "unit": "ms"}} if trace else {})


# -- feed_ingest reference model --------------------------------------------------


def _post(uri, minute, text="spark", **kw):
    p = dict(uri=uri, cid=f"c-{uri}", text=text, images=None, labels=[],
             replyParent=None, langs=["en"],
             createdAt=inputs.BASE_TIME + dt.timedelta(minutes=minute))
    p.update(kw)
    return p


def test_accepts_covers_every_leg():
    assert inputs.accepts({"inputRegex": "spark"}, _post("a", 0, "SPARK!"))
    assert not inputs.accepts({"inputRegex": "rust", "invertRegex": "python"},
                              _post("a", 0, "rust python"))
    assert not inputs.accepts({"lang": "ja"}, _post("a", 0))
    assert not inputs.accepts({"imageOnly": "imageOnly"}, _post("a", 0))
    assert inputs.accepts({"imageOnly": "imageOnly"}, _post("a", 0, images=[]))
    assert not inputs.accepts({"imageOnly": "textOnly"},
                              _post("a", 0, images=[{"alt": ""}]))
    assert not inputs.accepts({"labelDisable": True}, _post("a", 0, labels=["x"]))
    assert not inputs.accepts({"replyDisable": True}, _post("a", 0, replyParent="p"))
    alt = _post("a", 0, "nothing", images=[{"alt": "a cat"}])
    assert inputs.accepts({"inputRegex": "cat", "includeAltText": True}, alt)
    assert not inputs.accepts({"inputRegex": "cat"}, alt)


def _model(cap, init=100):
    m = inputs.IngestModel([("k", "feed-k", {"inputRegex": "spark", "limitCount": cap})])
    m.INIT_POST = init
    return m


def test_model_dedups_and_ignores_redeliveries():
    m = _model(cap=10)
    a, b = _post("a", 1), _post("b", 2)
    assert {k: len(v) for k, v in m.tick([a, a, b]).items()} == {"k": 2}
    assert m.tick([a, b]) == {}
    assert len(m.rows()) == 2
    assert m.accepted == [3, 2]  # pairs before dedup, per tick


def test_model_retention_keeps_newest_and_sets_a_floor():
    m = _model(cap=2)
    m.tick([_post("a", 1), _post("b", 2)])
    m.tick([_post("c", 3)])
    assert {r[0] for r in m.rows()} == {"b", "c"}
    # at its cap, a late post older than the oldest kept one is dropped
    assert m.tick([_post("late", 0)]) == {}
    assert m.rewritten == [0, 1, 0]


def test_model_first_run_truncates_to_init_post():
    m = _model(cap=100, init=2)
    m.tick([_post("a", 1), _post("b", 2), _post("c", 3)])
    assert {r[0] for r in m.rows()} == {"b", "c"}
    assert m.truncated["k"]
    # the truncation point is a floor for later late posts
    assert m.tick([_post("late", 0), _post("d", 4)]).keys() == {"k"}
    assert {r[0] for r in m.rows()} == {"b", "c", "d"}


def test_ingest_batches_repeat_for_a_seed():
    h1, h2 = [], []
    b1 = [inputs.ingest_batch(7, t, 50, h1) for t in range(3)]
    b2 = [inputs.ingest_batch(7, t, 50, h2) for t in range(3)]
    assert b1 == b2
    redelivered = sum(1 for p in b1[2] if "/t2x" not in p["uri"])
    assert 0 < redelivered < 50
