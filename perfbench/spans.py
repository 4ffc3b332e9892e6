"""Spans recorded from outside the engine, around calls into its layers.

A span has a name, a start, an end, a parent and the request or tick id
it belongs to. Spans stay in memory and are written out once, when the
run ends. Every span runs its Spark work under a job group of its own,
so the jobs and tasks it caused are read back from the status tracker
afterwards; a span's counts include its children's.
"""

from __future__ import annotations

import functools
import itertools
import json
import statistics
import threading
import time
from contextlib import contextmanager

_GROUP_KEY = "spark.jobGroup.id"


def self_times(spans):
    """Self time of every span: its duration minus the part of its
    interval that its direct children cover (overlapping children are
    counted once). Spans are dicts with ``id``, ``parent``, ``start``
    and ``end``; returns ``{id: seconds}``."""
    children = {}
    for s in spans:
        if s.get("parent") is not None:
            children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start"], s["end"]
        covered, cur_lo, cur_hi = 0.0, None, None
        for c in sorted(children.get(s["id"], []), key=lambda c: c["start"]):
            a, b = max(lo, c["start"]), min(hi, c["end"])
            if b <= a:
                continue
            if cur_hi is None or a > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = a, b
            else:
                cur_hi = max(cur_hi, b)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (hi - lo) - covered
    return out


def p50_ms(spans):
    """Median duration of ``spans`` in milliseconds."""
    if not spans:
        return float("nan")
    return statistics.median([(s["end"] - s["start"]) * 1000 for s in spans])


class Tracer:
    """In-memory span recorder. ``sc`` is the SparkContext whose job
    groups tag each span's jobs; without one, spans carry no counts."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self):
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name, op=None):
        stack = self._stack()
        parent = stack[-1] if stack else None
        rec = {
            "id": next(self._ids),
            "name": name,
            "parent": parent["id"] if parent else None,
            "op": op if op is not None else (parent["op"] if parent else None),
        }
        prev_group = None
        if self.sc is not None:
            prev_group = self.sc.getLocalProperty(_GROUP_KEY)
            self.sc.setJobGroup(f"perfbench-{rec['id']}", name)
        stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            if self.sc is not None:
                self.sc.setLocalProperty(_GROUP_KEY, prev_group)
            with self._lock:
                self.spans.append(rec)

    def wrap(self, name, fn):
        """``fn`` with every call recorded as a span named ``name``."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def wrap_method(self, obj, method, name):
        """Replace ``obj.method`` on this instance with a traced call."""
        setattr(obj, method, self.wrap(name, getattr(obj, method)))

    def wrap_handler(self, server, name="server.handler"):
        """Trace ``server.handle_get_feed_skeleton`` on this instance as a
        span named ``name`` whose op is the request's ``X-Perfbench-Id``
        header, so a client-side record can find its server-side span."""
        handler = server.handle_get_feed_skeleton

        def traced(params, headers):
            with self.span(name, op=headers.get("x-perfbench-id")):
                return handler(params, headers)

        server.handle_get_feed_skeleton = traced

    def proxy(self, obj, prefix, methods):
        """A stand-in for ``obj`` that records a span named
        ``prefix.method`` around each of ``methods`` and passes every
        other attribute through; for objects handed to a constructor."""
        return _Proxy(obj, prefix, self, set(methods))

    def count_jobs(self):
        """Attach ``jobs`` and ``tasks`` to every span, children's
        included. Waits for Spark's listener bus to drain first so the
        last jobs' completion events are in."""
        if self.sc is None:
            return
        from py4j.protocol import Py4JError

        try:
            self.sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
        except Py4JError:  # not reachable in this Spark build: settle by time
            time.sleep(1.0)
        tracker = self.sc.statusTracker()
        own = {}
        for s in self.spans:
            jobs = list(tracker.getJobIdsForGroup(f"perfbench-{s['id']}"))
            tasks = 0
            for j in jobs:
                info = tracker.getJobInfo(j)
                for sid in info.stageIds if info else []:
                    st = tracker.getStageInfo(sid)
                    tasks += st.numCompletedTasks if st else 0
            own[s["id"]] = (len(jobs), tasks)
        kids = {}
        for s in self.spans:
            kids.setdefault(s["parent"], []).append(s["id"])

        def total(i):
            j, t = own.get(i, (0, 0))
            for k in kids.get(i, []):
                kj, kt = total(k)
                j, t = j + kj, t + kt
            return j, t

        for s in self.spans:
            s["jobs"], s["tasks"] = total(s["id"])

    def by_name(self, name):
        return [s for s in self.spans if s["name"] == name]

    def dump(self, path):
        selfs = self_times(self.spans)
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                json.dump({**s, "self": selfs[s["id"]]}, f)
                f.write("\n")


class _Proxy:
    def __init__(self, obj, prefix, tracer, methods):
        self._obj, self._prefix, self._tracer, self._methods = obj, prefix, tracer, methods

    def __getattr__(self, name):
        attr = getattr(self._obj, name)
        if name in self._methods:
            return self._tracer.wrap(f"{self._prefix}.{name}", attr)
        return attr
