"""Open-loop NGSI load generator and broker-side collector.

Plays the context broker's two roles, each in its own process: the
generator POSTs flat single-entity NGSI notifications to the engine's
receiver on a fixed schedule, and the collector takes the entity
updates the engine's HTTP sink sends back.  Every event k is due at a fixed time and carries the
temperature ``VALUE_BASE - k``, so temperatures fall strictly for every
entity and a window minimum names the newest event in its window.
"""

from __future__ import annotations

import http.client
import json
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import numpy as np

VALUE_BASE = 1_000_000


def event_of(value: float) -> int:
    return VALUE_BASE - int(round(value))


def entity_draw(seed: int, n_events: int, n_ids: int) -> np.ndarray:
    """Skewed (Zipf-like, s=0.8) entity index per event, from the seed."""
    rng = np.random.default_rng(seed)
    w = 1.0 / np.arange(1, n_ids + 1) ** 0.8
    perm = rng.permutation(n_ids)
    return perm[rng.choice(n_ids, n_events, p=w / w.sum())]


def payload(entity: str, value: float) -> bytes:
    attrs = {"temperature": value, "pressure": 1013.0, "humidity": 40.0}
    ent = {"id": entity, "type": "Node"}
    for name, v in attrs.items():
        ent[name] = {"type": "Float", "value": v, "metadata": {}}
    return json.dumps({"data": [ent], "subscriptionId": "perfbench"}).encode()


class Collector:
    """Broker stand-in for the sink: records (time, entity, value) per
    update POST, answers 204, and sets ``first`` on the first update."""

    def __init__(self, first):
        self.arrivals: list[tuple[float, str, float]] = []
        self.first = first
        self._lock = threading.Lock()
        collector = self

        class Handler(BaseHTTPRequestHandler):
            def do_POST(self):  # noqa: N802 (http.server API)
                t = time.time()
                body = self.rfile.read(int(self.headers.get("Content-Length", 0)))
                entity = self.path.split("/")[3]
                value = float(json.loads(body)["temperature_min"]["value"])
                with collector._lock:
                    collector.arrivals.append((t, entity, value))
                    if len(collector.arrivals) == 1:
                        collector.first.set()
                self.send_response(204)
                self.end_headers()

            def log_message(self, *args):
                pass

        self.server = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
        self.server.daemon_threads = True
        self.port = self.server.server_port
        self._thread = threading.Thread(target=self.server.serve_forever, daemon=True)
        self._thread.start()

    def close(self) -> None:
        self.server.shutdown()
        self.server.server_close()
        self._thread.join(timeout=10)


class Schedule:
    """Due times for an open loop: the base rate until warm-up ends, then
    ``phases`` of (rate, seconds) back to back.  ``next()`` hands out
    events in due order to whichever sender thread asks."""

    def __init__(self, base_rate: float, phases: list[tuple[float, float]], max_events: int):
        self.base_rate = base_rate
        self.phases = phases
        self.max_events = max_events
        self.k = 0
        self.due = time.time() + 0.2
        self.warm_end: float | None = None
        self.bounds: list[tuple[float, float, float]] = []  # (rate, start, end)
        self._lock = threading.Lock()

    def end_warmup(self, t: float) -> None:
        with self._lock:
            start = max(t, self.due)
            self.warm_end = start
            for rate, secs in self.phases:
                self.bounds.append((rate, start, start + secs))
                start += secs

    def next(self) -> tuple[int, float] | None:
        with self._lock:
            if self.k >= self.max_events:
                return None
            due = self.due
            rate = self.base_rate
            if self.warm_end is not None:
                for r, a, b in self.bounds:
                    if due < b:
                        if r == 0:  # a pause: resume at the next phase
                            due, rate = b, None
                            continue
                        rate = r if due >= a else self.base_rate
                        break
                else:
                    return None
            k = self.k
            self.k += 1
            self.due = due + 1.0 / rate
            return k, due


def collect(conn, first) -> None:
    """Collector process entry.  Protocol: -> ("port", p); <- "finish";
    -> ("arrivals", [(time, entity, value), ...])."""
    collector = Collector(first)
    conn.send(("port", collector.port))
    conn.recv()
    collector.close()
    conn.send(("arrivals", list(collector.arrivals)))
    conn.close()


def run(conn, first, receiver_port: int, seed: int, n_ids: int, threads: int,
        base_rate: float, phases: list, warm_timeout: float) -> None:
    """Generator process entry: send on schedule with ``threads`` senders
    and report over ``conn``.  Warm-up ends when the collector sets
    ``first``.  Protocol: <- "go"; -> ("warm", t or None);
    -> ("sent", accepted); <- "finish"; -> ("records", dict)."""
    conn.recv()
    max_events = int(base_rate * warm_timeout + sum(r * s for r, s in phases)) + 1
    ids = entity_draw(seed, max_events, n_ids)
    sched = Schedule(base_rate, phases, max_events)
    # one row per event: due, send start, send end, HTTP status (0 = error)
    rec = np.zeros((max_events, 4))

    def sender() -> None:
        while True:
            nxt = sched.next()
            if nxt is None:
                return
            k, due = nxt
            wait = due - time.time()
            if wait > 0:
                time.sleep(wait)
            start = time.time()
            status = 0
            try:
                c = http.client.HTTPConnection("127.0.0.1", receiver_port, timeout=5)
                c.request("POST", "/notify", payload(f"Node{ids[k]}", VALUE_BASE - k),
                          {"Content-Type": "application/json",
                           "Fiware-Service": "perfbench", "Fiware-ServicePath": "/"})
                status = c.getresponse().status
                c.close()
            except OSError:
                pass
            rec[k] = (due, start, time.time(), status)

    pool = [threading.Thread(target=sender, daemon=True) for _ in range(threads)]
    for t in pool:
        t.start()
    warm = first.wait(warm_timeout)
    sched.end_warmup(time.time())
    conn.send(("warm", sched.warm_end if warm else None))
    for t in pool:
        t.join()
    n = sched.k
    conn.send(("sent", int(((rec[:n, 3] >= 200) & (rec[:n, 3] < 300)).sum())))
    conn.recv()
    conn.send(("records", {
        "events": rec[:n],
        "ids": ids[:n],
        "warm_end": sched.warm_end,
        "bounds": sched.bounds,
    }))
    conn.close()
