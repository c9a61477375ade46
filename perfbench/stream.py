"""The ``ngsi_stream`` workload: Orion notifications over HTTP through the
keyed 5 s/2 s sliding-window minimum and back to the broker over HTTP.

Pipeline under test (the reference Example2 path):
``NgsiHttpReceiver`` -> ``orion_http`` source -> ``streaming_window_min``
-> ``to_ngsi_update_json`` + ``entity_update_url`` -> ``write_http``
(1 s trigger) -> the collector process.

Schedule, open loop: the base rate until the first envelope reaches the
collector (warm-up, counted as set-up), the rungs of ``RUNGS``, a pause
that lets their backlog drain, then the base rate for the measured
window.  The rungs come first so that the base window sees a stream past
its start-up transients.  Delivery delay runs from an event's due time
to the first envelope naming it.
"""

from __future__ import annotations

import datetime as dt
import json
import multiprocessing
import os
import statistics
import time

import numpy as np

import loadgen
from spans import group_counters

BASE_RATE = 100.0
RUNGS = ((200.0, 2.0), (300.0, 4.0))  # (events/s, seconds)
PAUSE_S = 2.0
N_IDS = 200
GEN_THREADS = 4
LATENCY_LIMIT_MS = 15_000.0  # p90 delivery limit a rung must meet
LATE_LIMIT_MS = 250.0  # p99 generator lateness a rung may show
PROGRESS_STEPS = ("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")


def _pct(xs, q: float) -> float:
    return float(np.percentile(np.asarray(xs, dtype=float), q)) if len(xs) else float("nan")


def _epoch(ts: str) -> float:
    return dt.datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


class Pipeline:
    """Receiver, streaming query and generator process of one stream run."""

    def __init__(self, spark, workdir: str, seed: int, phases: list):
        from pyspark.sql import functions as F

        from fiware_cosmos_orion_flink_connector_examples_spark.operators import ngsi
        from fiware_cosmos_orion_flink_connector_examples_spark.sources.ngsi_http import (
            NgsiHttpReceiver,
            register_orion_source,
        )
        from fiware_cosmos_orion_flink_connector_examples_spark.streaming import jobs
        from fiware_cosmos_orion_flink_connector_examples_spark.streaming.sinks import write_http

        self.spool = os.path.join(workdir, "spool")
        self.query = None
        register_orion_source(spark)
        self.receiver = NgsiHttpReceiver(self.spool, port=0).start()
        mp = multiprocessing.get_context("spawn")
        first = mp.Event()
        self.conn, child = mp.Pipe()
        self.sink_conn, sink_child = mp.Pipe()
        self.collector = mp.Process(target=loadgen.collect, args=(sink_child, first), name="collector")
        self.gen = mp.Process(
            name="load generator",
            target=loadgen.run,
            args=(child, first, self.receiver.port, seed, N_IDS, GEN_THREADS, BASE_RATE, phases, 90.0),
        )
        self.procs = (self.collector, self.gen)
        for p in self.procs:
            p.start()
        try:
            collector_port = self._recv(self.sink_conn, self.collector, 30)
            notes = spark.readStream.format("orion_http").option("spool_dir", self.spool).load()
            mins = jobs.streaming_window_min(notes)
            envelopes = mins.select(
                ngsi.to_ngsi_update_json(F.col("temperature_min"), "temperature_min", "Float").alias("content"),
                ngsi.entity_update_url(f"http://127.0.0.1:{collector_port}/v2/entities/", F.col("id")).alias("url"),
                F.lit("application/json").alias("content_type"),
                F.lit("POST").alias("method"),
            )
            self.query = write_http(envelopes, os.path.join(workdir, "ckpt"), trigger_secs=1)
        except BaseException:
            self.close()
            raise

    def _recv(self, conn, proc, timeout: float):
        deadline = time.time() + timeout
        while not conn.poll(0.25):
            if not proc.is_alive():
                raise RuntimeError(f"{proc.name} exited early")
            if self.query is not None and not self.query.isActive:
                raise RuntimeError(f"streaming query stopped: {self.query.exception()}")
            if time.time() > deadline:
                raise TimeoutError("no message from the load generator")
        return conn.recv()[1]

    def progress(self) -> list[dict]:
        return [json.loads(p.json) for p in self.query.recentProgress]

    def drive(self) -> dict:
        """Run the schedule, wait until every accepted event is consumed,
        and return the generator's records plus Spark's progress."""
        self.conn.send("go")
        warm_end = self._recv(self.conn, self.gen, 120)
        if warm_end is None:
            raise RuntimeError("no envelope reached the collector during warm-up")
        accepted = self._recv(self.conn, self.gen, 120)
        deadline = time.time() + 45
        while sum(p["numInputRows"] for p in self.progress()) < accepted:
            if time.time() > deadline or not self.query.isActive:
                raise RuntimeError("stream did not consume every accepted event")
            time.sleep(0.2)
        self.sink_conn.send("finish")
        arrivals = self._recv(self.sink_conn, self.collector, 60)
        self.conn.send("finish")
        rec = self._recv(self.conn, self.gen, 60)
        rec["arrivals"] = arrivals
        rec["accepted"] = accepted
        rec["progress"] = self.progress()
        rec["run_id"] = self.query.runId
        return rec

    def close(self) -> None:
        if self.query is not None:
            self.query.stop()
        self.receiver.stop()
        for p in self.procs:
            p.join(timeout=5)
            if p.is_alive():
                p.kill()
                p.join()


def analyse(rec: dict, spark=None, tracer=None) -> dict:
    """Delivery, ladder, correctness and per-layer figures of one drive."""
    ev, ids, arrivals = rec["events"], rec["ids"], rec["arrivals"]
    ok = (ev[:, 3] >= 200) & (ev[:, 3] < 300)
    first: dict[int, float] = {}
    unmatched = 0
    per_pair: dict[tuple[str, float], int] = {}
    newest_seen: dict[str, int] = {}
    for t, entity, value in arrivals:
        k = loadgen.event_of(value)
        if not (0 <= k < len(ev)) or not ok[k] or f"Node{ids[k]}" != entity:
            unmatched += 1
            continue
        first[k] = min(first.get(k, t), t)
        per_pair[(entity, value)] = per_pair.get((entity, value), 0) + 1
        newest_seen[entity] = max(newest_seen.get(entity, -1), k)
    newest_sent: dict[str, int] = {}
    for k in np.nonzero(ok)[0]:
        newest_sent[f"Node{ids[k]}"] = int(k)
    stale = sum(1 for e, k in newest_sent.items() if newest_seen.get(e) != k)
    consumed = sum(p["numInputRows"] for p in rec["progress"])
    wrong = unmatched + stale + (consumed != rec["accepted"])

    def phase(a: float, b: float, whole_cycles: bool = False) -> dict:
        if whole_cycles:
            # keep events due between the first and last micro-batch start
            # in the window: whole trigger cycles, so the window's phase
            # against the batch clock does not bias the delays
            inside = [s for s in starts if a <= s <= b]
            if len(inside) >= 2:
                a, b = inside[0], inside[-1]
        ks = np.nonzero((ev[:, 0] >= a) & (ev[:, 0] < b))[0]
        delays = [1000 * (first[k] - ev[k, 0]) for k in ks if k in first]
        late = 1000 * (ev[ks, 1] - ev[ks, 0])
        return {"a": a, "b": b, "n": len(ks), "delays": delays, "late_p99": _pct(late, 99),
                "accepted": int(ok[ks].sum()),
                "span": max(ev[ks, 2].max() - a, b - a) if len(ks) else b - a}

    starts = [_epoch(p["timestamp"]) for p in rec["progress"]]
    bounds = sorted((r, a, b) for r, a, b in rec["bounds"] if r > 0)
    base = phase(*bounds[0][1:], whole_cycles=True)
    sustained = 0.0
    rungs = {}
    for rate, a, b in bounds:
        p = base if rate == bounds[0][0] else phase(a, b)
        p90 = _pct(p["delays"], 90) if p["delays"] else float("inf")
        kept_up = p90 <= LATENCY_LIMIT_MS and p["accepted"] == p["n"]
        rungs[rate] = {"late_p99_ms": p["late_p99"], "p90_ms": p90,
                       "on_schedule": bool(p["late_p99"] <= LATE_LIMIT_MS),
                       "kept_up": bool(kept_up)}
        if kept_up:
            # achieved rate: events accepted over the time the rung took to
            # send; below the offered rate when ingest holds the sender back
            sustained = p["accepted"] / p["span"]
    on_schedule = [r for r, v in rungs.items() if v["on_schedule"] and v["kept_up"]]

    # per-layer figures from Spark's progress reports (non-empty batches)
    busy = [p for p in rec["progress"] if p["numInputRows"] > 0]
    dur = {s: [p["durationMs"].get(s, 0) for p in busy] for s in PROGRESS_STEPS}
    batch_ms = [p["durationMs"].get("triggerExecution", 0) for p in busy]
    ends = [s + p["durationMs"].get("triggerExecution", 0) / 1000 for s, p in zip(starts, rec["progress"])]
    acc_times = np.sort(ev[ok, 2])
    backlog, consumed_before = [], 0
    for s, p in zip(starts, rec["progress"]):
        backlog.append(int(np.searchsorted(acc_times, s)) - consumed_before)
        consumed_before += p["numInputRows"]
    state = [sum(o.get("numRowsTotal", 0) for o in p.get("stateOperators", [])) for p in busy]
    state_b = [sum(o.get("memoryUsedBytes", 0) for o in p.get("stateOperators", [])) for p in busy]
    post_ms = 1000 * (ev[:, 2] - ev[:, 1])

    batch_of = []
    for t, _, _ in arrivals:
        i = next((j for j, (s, e) in enumerate(zip(starts, ends)) if s <= t <= e + 0.05), -1)
        batch_of.append(rec["progress"][i]["batchId"] if i >= 0 else -1)
    spans_by_batch: dict[int, list[float]] = {}
    for (t, _, _), b in zip(arrivals, batch_of):
        spans_by_batch.setdefault(b, []).append(t)
    sink_spans = [1000 * (max(v) - min(v)) for b, v in spans_by_batch.items() if b >= 0]
    n_posts = len(arrivals)
    layers = {
        "receiver.post_p50_ms": _pct(post_ms, 50),
        "receiver.post_p99_ms": _pct(post_ms, 99),
        "receiver.rejected": float((~ok).sum()),
        "receiver.spool_bytes": float(rec.get("spool_bytes", 0)),
        "gen.late_p99_ms": base["late_p99"],
        "gen.late_p99_top_ms": rungs[bounds[-1][0]]["late_p99_ms"],
        "stream.latest_offset_ms": statistics.median(dur["latestOffset"]) if busy else 0.0,
        "stream.get_batch_ms": statistics.median(dur["getBatch"]) if busy else 0.0,
        "stream.query_planning_ms": statistics.median(dur["queryPlanning"]) if busy else 0.0,
        "stream.add_batch_ms": statistics.median(dur["addBatch"]) if busy else 0.0,
        "stream.wal_commit_ms": statistics.median(dur["walCommit"]) if busy else 0.0,
        "stream.commit_offsets_ms": statistics.median(dur["commitOffsets"]) if busy else 0.0,
        "stream.batch_ms": statistics.median(batch_ms) if busy else 0.0,
        "stream.batches": float(len(busy)),
        "stream.backlog_rows": float(max(backlog) if backlog else 0),
        "stream.state_rows": statistics.median(state) if state else 0.0,
        "stream.state_bytes": statistics.median(state_b) if state_b else 0.0,
        "sink.posts": float(n_posts),
        "sink.posts_per_batch": n_posts / max(len(busy), 1),
        "sink.useful_ratio": len(per_pair) / max(n_posts, 1),
        "sink.duplicates": float(n_posts - len(per_pair)),
        "sink.batch_span_ms": statistics.median(sink_spans) if sink_spans else 0.0,
        "ladder.highest_rung": max(on_schedule, default=0.0),
    }
    if spark is not None:
        c = group_counters(spark.sparkContext, rec["run_id"])
        layers["stream.tasks_per_batch"] = c["tasks"] / max(len(busy), 1)
        layers["stream.shuffle_bytes"] = float(c["shuffle_bytes"])
    if tracer is not None and tracer.enabled:
        _record_spans(tracer, rec, ev, ok, ids, arrivals, batch_of)
    return {
        "delays": base["delays"],
        "base_window": _cycles(starts, *bounds[0][1:]),
        "sustained": sustained,
        "rungs": rungs,
        "layers": layers,
        "wrong": int(wrong),
        "checks": {"unmatched_envelopes": unmatched, "stale_entities": stale,
                   "consumed": consumed, "accepted": rec["accepted"]},
        "attempted": int(len(ev)),
        "failed": int((~ok).sum()) + max(rec["accepted"] - consumed, 0),
    }


def _cycles(starts: list[float], a: float, b: float) -> tuple[float, float, int]:
    """Whole trigger cycles for the window [a, b]: from the first to the
    last micro-batch start inside it or, when batches are too slow for
    two starts inside, the starts that cover it.  Returns (start, end,
    micro-batches started in between)."""
    inside = [s for s in starts if a <= s <= b]
    if len(inside) >= 2:
        a, b = inside[0], inside[-1]
    else:
        a = max((s for s in starts if s <= a), default=a)
        b = min((s for s in starts if s >= b), default=b)
    return a, b, sum(a <= s < b for s in starts)


def _record_spans(tracer, rec, ev, ok, ids, arrivals, batch_of) -> None:
    for p in rec["progress"]:
        t = _epoch(p["timestamp"])
        total = p["durationMs"].get("triggerExecution", 0) / 1000
        sid = tracer.add("stream.batch", t, t + total, batchId=p["batchId"],
                         rows=p["numInputRows"])
        for step in PROGRESS_STEPS:
            d = p["durationMs"].get(step, 0) / 1000
            tracer.add(f"stream.{step}", t, t + d, parent=sid, batchId=p["batchId"])
            t += d
    for k in range(len(ev)):
        tracer.add("gen.post", ev[k, 1], ev[k, 2], event=k, due=ev[k, 0],
                   entity=f"Node{ids[k]}", status=int(ev[k, 3]))
    for (t, entity, value), b in zip(arrivals, batch_of):
        tracer.add("sink.arrival", t, t, batchId=b, entity=entity,
                   event=loadgen.event_of(value))


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


def drive_once(spark, workdir: str, seed: int, phases: list) -> dict:
    pipe = Pipeline(spark, workdir, seed, phases)
    try:
        rec = pipe.drive()
        rec["spool_bytes"] = _dir_bytes(pipe.spool)
        return rec
    finally:
        pipe.close()


def run(ctx, spark) -> dict:
    phases = [*RUNGS, (0.0, PAUSE_S), (BASE_RATE, float(ctx.seconds))]
    rec = drive_once(spark, os.path.join(ctx.run_dir, "stream"), ctx.seed, phases)
    setup_s = rec["warm_end"] - ctx.t_process
    t0 = time.perf_counter()
    res = analyse(rec, spark, ctx.tracer)
    if ctx.trace:
        res["layers"]["trace.overhead_ms"] = 1000 * (time.perf_counter() - t0)
    ctx.log(f"rungs={res['rungs']} checks={res['checks']} delays={len(res['delays'])} "
            f"batch_ms={res['layers']['stream.batch_ms']}")
    res["layers"].update({
        "delivery_p50_ms": _pct(res["delays"], 50),
        "delivery_p90_ms": _pct(res["delays"], 90),
        "sustained_events_per_s": res["sustained"],
    })
    return {
        "metrics": {"setup_s": setup_s},
        "layers": res["layers"],
        "attempted": res["attempted"],
        "failed": res["failed"],
        "wrong": res["wrong"],
        "checked": len(rec["arrivals"]),
        # wall-time window of the base rate and the micro-batches in it: the
        # engine's work per event falls as batches grow, so CPU is counted
        # per micro-batch
        "cpu_window": res["base_window"],
    }


def baseline_single_thread(ctx, spark) -> dict[str, float]:
    """Warm-up and the base-rate window only, at ``local[1]``."""
    phases = [(BASE_RATE, float(ctx.seconds))]
    rec = drive_once(spark, os.path.join(ctx.run_dir, "stream_local1"), ctx.seed, phases)
    res = analyse(rec)
    lay = res["layers"]
    return {
        "local1.delivery_p50_ms": _pct(res["delays"], 50),
        "local1.stream.batch_ms": lay["stream.batch_ms"],
        "local1.stream.add_batch_ms": lay["stream.add_batch_ms"],
    }
