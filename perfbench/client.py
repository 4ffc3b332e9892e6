"""HTTP load client for feed_serve, run as its own process.

Usage: python3 perfbench/client.py PLAN.json OUT.json

The plan names the server port, the request list (path, whether it
needs the bearer token, expected JSON body) and three phases: a
closed-loop warm-up, an open loop at a fixed rate, and a closed loop on
``conns`` connections. Every response is compared with its expected
body. Times are ``time.monotonic()`` seconds, which every process on the
machine shares.
"""

from __future__ import annotations

import http.client
import itertools
import json
import queue
import sys
import threading
import time

from stats import open_loop_schedule


class Client:
    def __init__(self, plan):
        self.port = plan["port"]
        self.token = plan["token"]
        self.requests = plan["requests"]
        self._next = itertools.count()
        self._lock = threading.Lock()

    def take(self):
        with self._lock:
            i = next(self._next)
        return i, self.requests[i % len(self.requests)]

    def send(self, rid, req):
        path, private, expected = req
        headers = {"X-Perfbench-Id": rid}
        if private:
            headers["Authorization"] = f"Bearer {self.token}"
        conn = http.client.HTTPConnection("127.0.0.1", self.port, timeout=60)
        try:
            conn.request("GET", path, headers=headers)
            resp = conn.getresponse()
            raw = resp.read()
            status = resp.status
        finally:
            conn.close()
        try:
            ok = status == 200 and json.loads(raw) == expected
        except ValueError:
            ok = False
        return status, ok

    def closed(self, phase, conns, deadline=None, count=None):
        """``conns`` connections each sending its next request as soon as
        the previous one is answered, until ``deadline`` or until
        ``count`` requests were sent."""
        out = []
        sent = itertools.count()

        def loop():
            while True:
                if deadline is not None and time.monotonic() >= deadline:
                    return
                if count is not None and next(sent) >= count:
                    return
                i, req = self.take()
                t = time.monotonic()
                status, ok = self.send(f"{phase}-{i}", req)
                out.append([t, t, time.monotonic(), status, ok, f"{phase}-{i}"])

        threads = [threading.Thread(target=loop) for _ in range(conns)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        return sorted(out)

    def open(self, phase, conns, due):
        """Send one request at each due time on up to ``conns``
        connections; a request whose connections are all busy waits in
        the queue and is timed from its due time all the same."""
        q = queue.Queue()
        for d in due:
            q.put(d)
        out = []

        def loop():
            while True:
                try:
                    d = q.get_nowait()
                except queue.Empty:
                    return
                pause = d - time.monotonic()
                if pause > 0:
                    time.sleep(pause)
                i, req = self.take()
                t = time.monotonic()
                status, ok = self.send(f"{phase}-{i}", req)
                out.append([d, t, time.monotonic(), status, ok, f"{phase}-{i}"])

        threads = [threading.Thread(target=loop) for _ in range(conns)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        return sorted(out)


def main(plan_path, out_path):
    with open(plan_path) as f:
        plan = json.load(f)
    c = Client(plan)
    conns = plan["conns"]
    warm = c.closed("warm", conns, count=plan["warmup_requests"])
    start = time.monotonic() + 0.05
    due = open_loop_schedule(plan["rate"], plan["open_seconds"], start)
    opened = c.open("open", conns, due)
    closed_start = time.monotonic()
    closed_end = closed_start + plan["closed_seconds"]
    closed = c.closed("closed", conns, deadline=closed_end)
    with open(out_path, "w") as f:
        json.dump(
            {
                "warm": warm,
                "open": opened,
                "open_start": start,
                "closed": closed,
                "closed_start": closed_start,
                "closed_end": closed_end,
            },
            f,
        )


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2])
