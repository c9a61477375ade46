"""Streaming tests: the orion_http spool source → watermarked window
aggs → memory/HTTP sinks, the receiver end-to-end, and the stateful
sessionizer vs its batch twin.

Processing-time nondeterminism is removed by fixture timestamps
(SURVEY.md §5) and availableNow/processAllAvailable triggers.
"""

from __future__ import annotations

import http.server
import json
import os
import threading
import time

import pytest
from pyspark.sql import functions as F

from fiware_cosmos_orion_flink_connector_examples_spark.sources.ngsi_http import (
    NgsiHttpReceiver,
    register_orion_source,
)
from fiware_cosmos_orion_flink_connector_examples_spark.streaming import jobs
from fiware_cosmos_orion_flink_connector_examples_spark.streaming.sinks import (
    http_sink_batch,
)
from tests.fixtures import flat_payload, flat_sequence


def _write_spool(tmp_path, rows):
    spool = tmp_path / "spool"
    spool.mkdir()
    with open(spool / "000.jsonl", "w") as f:
        for ts, payload, *_ in rows:
            f.write(
                json.dumps(
                    {
                        "payload": payload,
                        "service": "demo",
                        "servicePath": "/test",
                        "ts": ts.replace(tzinfo=__import__("datetime").timezone.utc).timestamp(),
                    }
                )
                + "\n"
            )
    return str(spool)


def _orion_stream(spark, spool):
    """The notification stream the examples and the benchmark read."""
    register_orion_source(spark)
    return spark.readStream.format("orion_http").option("spool_dir", str(spool)).load()


def _run_to_end(writer):
    """Run a query until the spool is drained, including the no-data
    batch that emits the windows its watermark closed, then stop it.
    (``orion_http`` has no AvailableNow support, so an ``availableNow``
    trigger runs one batch and never that no-data batch.)"""
    q = writer.trigger(processingTime="100 milliseconds").start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return q


def test_spool_stream_matches_batch(spark, tmp_path):
    """The SAME pipeline function runs on the stream and on a batch DF;
    results must agree (Structured Streaming unification)."""
    rows = flat_sequence(20)
    spool = _write_spool(tmp_path, rows)
    stream = _orion_stream(spark, spool)
    out = jobs.streaming_window_min(stream)
    _run_to_end(
        out.writeStream.format("memory")
        .queryName("t_spool_min")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
    )
    got = {
        (r.window_start, r.id): r.temperature_min
        for r in spark.sql("select * from t_spool_min").collect()
    }
    batch_df = spark.createDataFrame(
        [(ts, p) for ts, p, _ in rows], "ts timestamp, payload string"
    )
    exp = {
        (r.window_start, r.id): r.temperature_min
        for r in jobs.streaming_window_min(batch_df).collect()
    }
    # append mode emits exactly the windows the final watermark closed:
    # window_end (= start + 5s) ≤ max_event_ts - 10s watermark delay
    assert got
    for k, v in got.items():
        assert exp[k] == v
    import datetime as dt

    max_ts = max(ts for ts, _, _ in rows).replace(tzinfo=None)
    closed = {
        k
        for k in exp
        if k[0] + dt.timedelta(seconds=5) <= max_ts - dt.timedelta(seconds=10)
    }
    assert set(got) == closed


def test_orion_http_source_end_to_end(spark, tmp_path):
    """Full O1 path: HTTP POST → receiver spool → custom Python
    DataSource → windowed min → memory sink.  A body that is not a
    notification is answered 400, one declaring more than
    MAX_BODY_BYTES 413, and neither reaches the spool."""
    import http.client
    import urllib.error
    import urllib.request

    from fiware_cosmos_orion_flink_connector_examples_spark.sources.ngsi_http import (
        MAX_BODY_BYTES,
    )

    spool = str(tmp_path / "http_spool")
    receiver = NgsiHttpReceiver(spool, port=0).start()
    try:
        for _, payload, _ in flat_sequence(10):
            req = urllib.request.Request(
                f"http://127.0.0.1:{receiver.port}/notify",
                data=payload.encode(),
                headers={
                    "Content-Type": "application/json",
                    "Fiware-Service": "demo",
                    "Fiware-ServicePath": "/test",
                },
            )
            urllib.request.urlopen(req, timeout=5)
        malformed = urllib.request.Request(
            f"http://127.0.0.1:{receiver.port}/notify",
            data=b'{"subscriptionId": "x"}',
            headers={"Content-Type": "application/json"},
        )
        with pytest.raises(urllib.error.HTTPError) as err:
            urllib.request.urlopen(malformed, timeout=5)
        assert err.value.code == 400
        # the oversized POST only declares its length: the receiver
        # must answer from the header alone, without reading a body
        conn = http.client.HTTPConnection("127.0.0.1", receiver.port, timeout=5)
        conn.putrequest("POST", "/notify")
        conn.putheader("Content-Length", str(MAX_BODY_BYTES + 1))
        conn.endheaders()
        assert conn.getresponse().status == 413
        conn.close()
        spooled = []
        for f in sorted(os.listdir(spool)):
            with open(os.path.join(spool, f)) as fh:
                spooled += fh.read().splitlines()
        assert len(spooled) == 10
        deadline = time.time() + 10
        while time.time() < deadline:
            if os.path.isdir(spool) and any(f.endswith(".jsonl") for f in os.listdir(spool)):
                time.sleep(0.2)
                break
        register_orion_source(spark)
        stream = spark.readStream.format("orion_http").option("spool_dir", spool).load()
        out = jobs.streaming_window_min(stream, watermark="0 seconds")
        q = (
            out.writeStream.format("memory")
            .queryName("t_http_min")
            .outputMode("update")
            .trigger(availableNow=True)
            .option("checkpointLocation", str(tmp_path / "ckpt2"))
            .start()
        )
        q.awaitTermination(60)
        rows = spark.sql("select * from t_http_min").collect()
        assert rows, "HTTP-notified records should reach the sink"
        assert all(r.id == "R1" for r in rows)
        # service headers rode along into the spool
        with open(os.path.join(spool, sorted(os.listdir(spool))[0])) as f:
            rec = json.loads(f.readline())
        assert rec["service"] == "demo" and rec["servicePath"] == "/test"
    finally:
        receiver.stop()


_OUTSIDE_PROBE = """
import sys
sys.path.insert(0, {repo!r})
from fiware_cosmos_orion_flink_connector_examples_spark.session import get_spark
from fiware_cosmos_orion_flink_connector_examples_spark.sources.ngsi_http import (
    register_orion_source,
)
spark = get_spark(app_name="outside-probe", cpus=1)
register_orion_source(spark)
stream = spark.readStream.format("orion_http").option("spool_dir", {spool!r}).load()
q = (
    stream.writeStream.format("memory").queryName("probe")
    .trigger(availableNow=True).option("checkpointLocation", {ckpt!r}).start()
)
q.awaitTermination(120)
print("PROBE_ROWS", spark.sql("select count(*) n from probe").first().n)
spark.stop()
"""


def test_orion_source_runs_outside_repo_root(tmp_path):
    """A driver started outside the repo root with no PYTHONPATH reads
    the spool: the Python workers that plan and read ``orion_http``
    must not need to import this package."""
    import subprocess
    import sys
    from pathlib import Path

    repo = Path(__file__).resolve().parent.parent
    spool = _write_spool(tmp_path, flat_sequence(5))
    probe = tmp_path / "probe.py"
    probe.write_text(
        _OUTSIDE_PROBE.format(repo=str(repo), spool=spool, ckpt=str(tmp_path / "ckpt"))
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    proc = subprocess.run(
        [sys.executable, str(probe)],
        cwd=str(tmp_path),
        env=env,
        capture_output=True,
        text=True,
        timeout=180,
    )
    assert "PROBE_ROWS 5" in proc.stdout, proc.stderr[-4000:]


def test_orion_source_subscription_pushdown(spark, tmp_path):
    """P1: attrs projection + condition filter applied in the reader."""
    rows = flat_sequence(6)
    spool = _write_spool(tmp_path, rows)
    register_orion_source(spark)
    stream = (
        spark.readStream.format("orion_http")
        .option("spool_dir", spool)
        .option("attrs", "pressure")
        .option("condition", "pressure")
        .load()
    )
    from fiware_cosmos_orion_flink_connector_examples_spark.operators import ngsi

    ents = ngsi.flatten_entities(ngsi.parse_notifications(stream))
    proj = ents.select(
        ngsi.attr_value("entity", "pressure").alias("pressure"),
        ngsi.attr_value("entity", "temperature").alias("temperature"),
    )
    q = (
        proj.writeStream.format("memory")
        .queryName("t_pushdown")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt3"))
        .start()
    )
    q.awaitTermination(60)
    out = spark.sql("select * from t_pushdown").collect()
    assert len(out) == 6
    assert all(r.pressure is not None for r in out)
    assert all(r.temperature is None for r in out)  # projected away at ingest


class _CapturingHandler(http.server.BaseHTTPRequestHandler):
    captured: list = []

    def do_POST(self):  # noqa: N802
        n = int(self.headers.get("Content-Length", 0))
        type(self).captured.append((self.path, self.rfile.read(n).decode()))
        self.send_response(200)
        self.end_headers()

    def log_message(self, *a):
        pass


def test_http_sink_round_trip(spark, tmp_path):
    """O10: sink envelopes are POSTed to their per-record URLs
    (Example2's OrionSink write-back)."""
    server = http.server.ThreadingHTTPServer(("127.0.0.1", 0), _CapturingHandler)
    port = server.server_port
    threading.Thread(target=server.serve_forever, daemon=True).start()
    try:
        rows = flat_sequence(10)
        batch_df = spark.createDataFrame(
            [(ts, p) for ts, p, _ in rows], "ts timestamp, payload string"
        )
        env = jobs.sink_envelopes(
            jobs.streaming_window_min(batch_df), f"http://127.0.0.1:{port}/v2/entities/"
        )
        http_sink_batch(env, 0)
        assert _CapturingHandler.captured
        path, body = _CapturingHandler.captured[0]
        assert path == "/v2/entities/R1/attrs"
        doc = json.loads(body)
        assert doc["temperature_min"]["type"] == "Float"
    finally:
        server.shutdown()


def test_http_sink_sends_newest_window_last(spark, tmp_path):
    """Per entity, the sink sends its envelopes in window order and
    skips one equal to the previous send: the broker ends on the newest
    window's min, with non-monotone temperatures too, and no two
    consecutive POSTs to one URL carry the same content."""
    import datetime as dt
    import random

    from fiware_cosmos_orion_flink_connector_examples_spark.streaming.sinks import write_http
    from tests.fixtures import T0, expected_sliding_windows

    rng = random.Random(7)
    rows, events = [], []
    for i in range(20):
        ts = T0 + dt.timedelta(seconds=i)
        for eid in ("R1", "R2", "R3"):
            temp = float(rng.randint(18, 53))
            rows.append((ts, flat_payload(temp, 1.0, eid)))
            events.append((ts, eid, temp))
    spool = _write_spool(tmp_path, rows)
    newest: dict[str, tuple] = {}
    for (start, eid), temps in expected_sliding_windows(events).items():
        newest[eid] = max(newest.get(eid, (start, min(temps))), (start, min(temps)))

    server = http.server.ThreadingHTTPServer(("127.0.0.1", 0), _CapturingHandler)
    _CapturingHandler.captured = []
    threading.Thread(target=server.serve_forever, daemon=True).start()
    try:
        env = jobs.sink_envelopes(
            jobs.streaming_window_min(_orion_stream(spark, spool)),
            f"http://127.0.0.1:{server.server_port}/v2/entities/",
        )
        q = write_http(env, str(tmp_path / "ckpt_ordered"))
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    finally:
        server.shutdown()
    sent: dict[str, list[str]] = {}
    for path, body in _CapturingHandler.captured:
        sent.setdefault(path, []).append(body)
    assert set(sent) == {f"/v2/entities/{e}/attrs" for e in newest}
    for eid, (_, expected) in newest.items():
        bodies = sent[f"/v2/entities/{eid}/attrs"]
        assert json.loads(bodies[-1])["temperature_min"]["value"] == expected
        assert all(a != b for a, b in zip(bodies, bodies[1:])), bodies


def test_streaming_bloom_decontamination_matches_batch(spark, tmp_path):
    """Stream/batch unification for the bloom decontamination prune:
    the SAME fitted bloom words drive a Structured Streaming ingest
    filter (stream-static broadcast-join probes + left-semi verify are
    all streaming-legal) and must flag exactly the docs the batch
    operator flags.  The streaming gram generator is the per-row
    ``shingles()`` array form — the batch ``shingle_rows`` window form
    is not streaming-legal, but both produce the same distinct gram
    set per doc (their documented contract)."""
    from fiware_cosmos_orion_flink_connector_examples_spark.operators import dedup

    shared = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    train_rows = [(i, f"{shared} tr{i}a tr{i}b") for i in range(12)]
    eval_rows = [(100 + i, f"{shared} ev{i}x ev{i}y") for i in range(4)] + [
        (200 + i, " ".join(f"clean{i}w{j}" for j in range(12))) for i in range(4)
    ]
    train = spark.createDataFrame(train_rows, ["doc_id", "text"])
    ev_batch = spark.createDataFrame(eval_rows, ["doc_id", "text"])

    expected = {
        (r.doc_id, r.n_shared_grams)
        for r in dedup.ngram_contamination(train, ev_batch, "doc_id", n=8).collect()
    }
    assert expected, "shared 8-grams must contaminate the planted eval docs"

    # fit the bloom once (batch), reuse its words on the stream
    dedup.ngram_contamination_bloom(
        train, ev_batch, "doc_id", n=8, cache_key=("unif", "t")
    ).collect()
    words = dedup._BLOOM_CACHE.get(("unif", "t", "bloom", 8, 1 << 20, 4, "text", "doc_id"))
    assert words is not None

    spool = tmp_path / "docspool"
    spool.mkdir()
    with open(spool / "docs.jsonl", "w") as f:
        for doc_id, text in eval_rows:
            f.write(json.dumps({"doc_id": doc_id, "text": text}) + "\n")
    stream = spark.readStream.schema("doc_id long, text string").json(str(spool))
    grams = stream.select(
        "doc_id", F.explode(dedup.shingles("text", n=8, distinct=True)).alias("gram")
    )
    cand = dedup.bloom_probe_filter(grams, words)
    tr_grams = dedup.shingle_rows(train, "doc_id", "text", 8, distinct=False).select(
        "gram"
    )
    flagged = (
        cand.join(tr_grams, "gram", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared_grams"))
    )
    q = (
        flagged.writeStream.format("memory")
        .queryName("t_stream_bloom")
        .outputMode("complete")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt_bloom"))
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.doc_id, r.n_shared_grams)
        for r in spark.sql("select * from t_stream_bloom").collect()
    }
    assert got == expected


def test_streaming_dedup(spark, tmp_path):
    rows = flat_sequence(5)
    # duplicate every payload
    dup = rows + rows
    spool = _write_spool(tmp_path, dup)
    stream = _orion_stream(spark, spool)
    out = jobs.streaming_dedup(stream, ["payload"])
    q = (
        out.writeStream.format("memory")
        .queryName("t_dedup")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt4"))
        .start()
    )
    q.awaitTermination(60)
    assert spark.sql("select count(*) n from t_dedup").first().n == 5


def test_sessionize_stream_matches_batch(spark, tmp_path):
    """The streaming sessionizer (native session_window state) vs its
    independent lag + running-sum batch twin."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    evs = []
    eid = 0
    for user in (1, 2):
        for burst in range(3):
            base = t0 + dt.timedelta(minutes=10 * burst)
            for i in range(4):
                evs.append((eid, base + dt.timedelta(seconds=5 * i), user, float(10 * user + i)))
                eid += 1
    # sentinel far in the future pushes the watermark past every session
    evs.append((eid, t0 + dt.timedelta(hours=2), 99, 0.0))
    spool = tmp_path / "evspool"
    spool.mkdir()
    with open(spool / "a.jsonl", "w") as f:
        for e, ts, u, v in evs:
            f.write(
                json.dumps(
                    {
                        "event_id": e,
                        "ts": ts.replace(tzinfo=dt.timezone.utc).timestamp(),
                        "user_id": u,
                        "value": v,
                    }
                )
                + "\n"
            )
    stream = (
        spark.readStream.schema("event_id long, ts double, user_id long, value double")
        .json(str(spool))
        .selectExpr("user_id", "timestamp_seconds(ts) AS ts", "value")
    )
    out = jobs.sessionize(stream, gap_secs=30.0)
    q = (
        out.writeStream.format("memory")
        .queryName("t_sessions")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt5"))
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.user_id, r.session_start, r.session_end, r.n_events, r.sum_value)
        for r in spark.sql("select * from t_sessions").collect()
    }
    batch_events = spark.createDataFrame(
        [(u, ts, v) for _, ts, u, v in evs], "user_id long, ts timestamp, value double"
    )
    exp_all = {
        (r.user_id, r.session_start, r.session_end, r.n_events, r.sum_value)
        for r in jobs.sessionize_batch(batch_events, gap_secs=30.0).collect()
    }
    # streaming emits sessions the watermark closed; the sentinel's own
    # session (and any session the final watermark didn't pass) may be open
    exp_closed = {s for s in exp_all if s[0] in (1, 2)}
    assert got == exp_closed


def _jvm_stderr(request) -> str:
    """What the JVM wrote to stderr since pytest last read it.  The JVM
    inherits pytest's global fd capture, not a test's ``capfd``."""
    capman = request.config.pluginmanager.getplugin("capturemanager")
    if capman is None or not capman.is_globally_capturing():
        return ""
    return capman.read_global_capture().err


def test_dual_sink_multi_consumer(spark, tmp_path, capfd, request):
    """Example2's multi-consumer DAG: one stream feeds the HTTP sink AND
    the console print (Example2.scala:42,45).  Stopping the query as
    soon as the first update lands, mid-batch, must not kill the stream
    thread with a ``StackOverflowError``."""
    from fiware_cosmos_orion_flink_connector_examples_spark.streaming.sinks import (
        write_http_and_console,
    )

    server = http.server.ThreadingHTTPServer(("127.0.0.1", 0), _CapturingHandler)
    _CapturingHandler.captured = []
    threading.Thread(target=server.serve_forever, daemon=True).start()
    try:
        rows = flat_sequence(6)
        spool = _write_spool(tmp_path, rows)
        stream = _orion_stream(spark, spool)
        env = jobs.sink_envelopes(
            jobs.streaming_window_min(stream),
            f"http://127.0.0.1:{server.server_port}/v2/entities/",
        )
        _jvm_stderr(request)
        q = write_http_and_console(env, str(tmp_path / "ckpt_dual"))
        deadline = time.time() + 30
        while time.time() < deadline and not _CapturingHandler.captured:
            time.sleep(0.05)
        q.stop()
        assert _CapturingHandler.captured, "HTTP consumer must receive updates"
        out = capfd.readouterr()
        assert "temperature_min" in out.out, "console consumer must print content"
        time.sleep(1)  # let the stopped stream thread finish logging
        err = out.err + capfd.readouterr().err + _jvm_stderr(request)
        assert "StackOverflowError" not in err, err[-4000:]
        assert q.exception() is None
    finally:
        server.shutdown()


def test_stream_stream_join(spark, tmp_path):
    """Watermarked stream-stream inner join: NGSI temperature stream ⋈
    pressure stream on (entity, window-aligned time)."""
    import datetime as dt

    rows = flat_sequence(10)
    spool = _write_spool(tmp_path, rows)
    from fiware_cosmos_orion_flink_connector_examples_spark.operators import ngsi

    def side(attr):
        s = _orion_stream(spark, spool)
        ents = ngsi.flatten_entities(ngsi.parse_notifications(s))
        return ents.select(
            ngsi.entity_id("entity").alias(f"id_{attr}"),
            F.col("ts").alias(f"ts_{attr}"),
            ngsi.attr_value("entity", attr).alias(attr),
        ).withWatermark(f"ts_{attr}", "10 seconds")

    t, p = side("temperature"), side("pressure")
    joined = t.join(
        p,
        (F.col("id_temperature") == F.col("id_pressure"))
        & (F.col("ts_temperature") == F.col("ts_pressure")),
    ).select("id_temperature", "ts_temperature", "temperature", "pressure")
    q = (
        joined.writeStream.format("memory")
        .queryName("t_ssjoin")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt_ss"))
        .start()
    )
    q.awaitTermination(120)
    out = spark.sql("select * from t_ssjoin").collect()
    assert len(out) == 10  # every notification carries both attrs at same ts
    exp = {(ts.replace(tzinfo=None), temp) for ts, _, temp in rows}
    assert {(r.ts_temperature, r.temperature) for r in out} == exp
    assert all(r.pressure is not None for r in out)


def test_source_backpressure_maxbatchrows(spark, tmp_path):
    """maxBatchRows caps records per micro-batch without losing data."""
    from fiware_cosmos_orion_flink_connector_examples_spark.sources.ngsi_http import (
        OrionHttpStreamReader,
    )

    rows = flat_sequence(10)
    spool = _write_spool(tmp_path, rows)
    # unit: each read takes at most the budget and ends where the next starts
    r = OrionHttpStreamReader({"spool_dir": spool, "maxBatchRows": "3"})
    offset, sizes = r.initialOffset(), []
    for _ in range(5):
        batch, end = r.read(offset)
        batch = list(batch)
        assert list(r.readBetweenOffsets(offset, end)) == batch
        sizes.append(len(batch))
        offset = end
    assert sizes == [3, 3, 3, 1, 0]
    assert offset == {"fname": "000.jsonl", "line": 10}
    # e2e: rate-limited stream still delivers ALL records across
    # multiple micro-batches.  (availableNow would snapshot ONE bounded
    # offset and stop at 3 rows — a continuous trigger is required.)
    register_orion_source(spark)
    stream = (
        spark.readStream.format("orion_http")
        .option("spool_dir", spool)
        .option("maxBatchRows", "3")
        .load()
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("t_bp")
        .outputMode("append")
        .trigger(processingTime="1 seconds")
        .option("checkpointLocation", str(tmp_path / "ckpt_bp"))
        .start()
    )
    deadline = time.time() + 60
    while time.time() < deadline and spark.sql("select count(*) n from t_bp").first().n < 10:
        time.sleep(0.5)
    time.sleep(0.5)
    batches = [q.recentProgress[i].numInputRows for i in range(len(q.recentProgress))]
    q.stop()
    assert spark.sql("select count(*) n from t_bp").first().n == 10
    assert max(b for b in batches if b) <= 3  # every batch respected the cap


def test_source_leaves_partial_line_for_next_read(tmp_path):
    """A spool line still being written (no trailing newline yet) is
    not read: the read ends before it and the next read takes it once
    it is complete."""
    from fiware_cosmos_orion_flink_connector_examples_spark.sources.ngsi_http import (
        OrionHttpStreamReader,
    )

    spool = _write_spool(tmp_path, flat_sequence(3))
    path = os.path.join(spool, "000.jsonl")
    with open(path) as f:
        lines = f.read().splitlines(keepends=True)
    with open(path, "w") as f:
        f.writelines(lines[:2])
        f.write(lines[2][: len(lines[2]) // 2])
    r = OrionHttpStreamReader({"spool_dir": spool})
    batch, end = r.read(r.initialOffset())
    assert len(list(batch)) == 2 and end == {"fname": "000.jsonl", "line": 2}
    batch, again = r.read(end)
    assert list(batch) == [] and again == end
    with open(path, "a") as f:
        f.write(lines[2][len(lines[2]) // 2 :])
    batch, end = r.read(end)
    assert [row[0] for row in batch] == [flat_sequence(3)[2][1]]
    assert end == {"fname": "000.jsonl", "line": 3}


def test_sessionizer_on_rocksdb_state_store(spark, tmp_path):
    """The stateful sessionizer runs on the RocksDB state store
    provider (disk-backed state for high-cardinality keys)."""
    import datetime as dt
    from fiware_cosmos_orion_flink_connector_examples_spark.session import (
        enable_rocksdb_state_store,
    )

    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    enable_rocksdb_state_store(spark)
    try:
        t0 = dt.datetime(2024, 1, 1)
        evs = [(i, t0 + dt.timedelta(seconds=i * 5), 1, float(i)) for i in range(4)]
        evs.append((99, t0 + dt.timedelta(hours=2), 99, 0.0))  # watermark pusher
        spool = tmp_path / "rdb_spool"
        spool.mkdir()
        with open(spool / "a.jsonl", "w") as f:
            for e, ts, u, v in evs:
                f.write(
                    json.dumps(
                        {
                            "event_id": e,
                            "ts": ts.replace(tzinfo=dt.timezone.utc).timestamp(),
                            "user_id": u,
                            "value": v,
                        }
                    )
                    + "\n"
                )
        stream = (
            spark.readStream.schema("event_id long, ts double, user_id long, value double")
            .json(str(spool))
            .selectExpr("user_id", "timestamp_seconds(ts) AS ts", "value")
        )
        out = jobs.sessionize(stream, gap_secs=30.0)
        q = (
            out.writeStream.format("memory")
            .queryName("t_rdb_sessions")
            .outputMode("append")
            .trigger(availableNow=True)
            .option("checkpointLocation", str(tmp_path / "ckpt_rdb"))
            .start()
        )
        q.awaitTermination(120)
        got = spark.sql("select * from t_rdb_sessions").collect()
        assert len(got) == 1 and got[0].n_events == 4 and got[0].sum_value == 6.0
    finally:
        if prev:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
        else:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")


def test_orion_source_checkpoint_restart_exactly_once(spark, tmp_path):
    """Stop → append new data → restart from the same checkpoint: every
    record delivered exactly once (the spool-offset replay contract)."""
    import datetime as dt

    spool = tmp_path / "restart_spool"
    spool.mkdir()

    def write_batch(fname, payloads):
        with open(spool / fname, "w") as f:
            for i, p in enumerate(payloads):
                f.write(
                    json.dumps(
                        {"payload": p, "service": "", "servicePath": "",
                         "ts": dt.datetime(2024, 1, 1).timestamp() + i}
                    ) + "\n"
                )

    out_dir = str(tmp_path / "restart_out")

    def run_once():
        register_orion_source(spark)
        stream = spark.readStream.format("orion_http").option("spool_dir", str(spool)).load()
        q = (
            stream.select("payload")
            .writeStream.format("parquet")  # memory sink can't recover checkpoints
            .outputMode("append")
            .trigger(availableNow=True)
            .option("path", out_dir)
            .option("checkpointLocation", str(tmp_path / "ckpt_restart"))
            .start()
        )
        q.awaitTermination(60)

    write_batch("000.jsonl", [f"first-{i}" for i in range(5)])
    run_once()
    first = [r.payload for r in spark.read.parquet(out_dir).collect()]
    assert sorted(first) == [f"first-{i}" for i in range(5)]
    # new data arrives while the query is down
    write_batch("001.jsonl", [f"second-{i}" for i in range(4)])
    run_once()
    allrows = [r.payload for r in spark.read.parquet(out_dir).collect()]
    assert sorted(allrows) == sorted(
        [f"first-{i}" for i in range(5)] + [f"second-{i}" for i in range(4)]
    ), "restart must deliver new records exactly once and old ones never again"


def test_http_sink_retries_transient_failure(spark):
    """O10 at-least-once: a 500 on the first attempt is retried; a 400
    is a client error and is raised after one attempt."""
    from pyspark.sql import Row

    from fiware_cosmos_orion_flink_connector_examples_spark.streaming.sinks import (
        SinkPostError,
        post_envelopes,
    )

    def serve(status):
        class Handler(http.server.BaseHTTPRequestHandler):
            seen: dict = {}

            def do_POST(self):
                n = int(self.headers.get("Content-Length", 0))
                body = self.rfile.read(n).decode()
                k = type(self).seen
                k[body] = k.get(body, 0) + 1
                self.send_response(status(k[body]))
                self.end_headers()

            def log_message(self, *a):
                pass

        server = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Handler)
        threading.Thread(target=server.serve_forever, daemon=True).start()
        rows = [
            Row(content=f"c{i}", url=f"http://127.0.0.1:{server.server_port}/x",
                content_type="text/plain", method="POST")
            for i in range(3)
        ]
        return server, Handler.seen, rows

    # fail every first attempt
    server, seen, rows = serve(lambda attempt: 500 if attempt == 1 else 200)
    try:
        assert post_envelopes(rows) == 3
        assert all(n == 2 for n in seen.values()), seen
    finally:
        server.shutdown()

    server, seen, rows = serve(lambda attempt: 400)
    try:
        for row in rows:
            with pytest.raises(SinkPostError) as err:
                post_envelopes([row])
            assert err.value.status == 400
        assert seen == {f"c{i}": 1 for i in range(3)}, seen
    finally:
        server.shutdown()


def test_watermark_drops_late_data(spark, tmp_path):
    """Late-data semantics: an event older than the watermark horizon
    arriving in a later batch is excluded from (already-emitted) append
    results — the watermark contract the reference never had to define
    (Flink 1.9 processing-time windows, SURVEY §2.2)."""
    import datetime as dt

    spool = tmp_path / "late_spool"
    spool.mkdir()
    t0 = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)

    def write(fname, recs):
        with open(spool / fname, "w") as f:
            for off, temp in recs:
                f.write(
                    json.dumps(
                        {
                            "payload": flat_payload(temp, 1.0),
                            "service": "",
                            "servicePath": "",
                            "ts": (t0 + dt.timedelta(seconds=off)).timestamp(),
                        }
                    )
                    + "\n"
                )

    out_dir = str(tmp_path / "late_out")

    def run_once():
        stream = _orion_stream(spark, spool)
        res = jobs.streaming_window_min(stream, watermark="5 seconds")
        _run_to_end(
            res.writeStream.format("parquet")
            .outputMode("append")
            .option("path", out_dir)
            .option("checkpointLocation", str(tmp_path / "late_ckpt"))
        )

    # batch 1: events at t+0..t+2 (min 20) then t+30 pushes the
    # watermark to t+25, closing and emitting the early windows
    write("000.jsonl", [(0, 20.0), (1, 25.0), (2, 30.0), (30, 99.0)])
    run_once()
    first = {
        (r.window_start, r.temperature_min)
        for r in spark.read.parquet(out_dir).collect()
    }
    assert any(v == 20.0 for _, v in first), "early windows should have emitted min=20"
    # batch 2: a LATE event at t+1 with temp 5 — behind the watermark,
    # must NOT re-open or change the already-emitted windows
    write("001.jsonl", [(1, 5.0)])
    run_once()
    after = {
        (r.window_start, r.temperature_min)
        for r in spark.read.parquet(out_dir).collect()
    }
    assert after == first, "late event behind the watermark must be dropped"


def test_windowed_state_recovers_across_restart(spark, tmp_path):
    """Stateful recovery: a (key, window) whose events span TWO runs of
    the query must aggregate across both — the state store, not just
    offsets, survives the restart."""
    import datetime as dt

    spool = tmp_path / "state_spool"
    spool.mkdir()
    t0 = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)

    def write(fname, recs):
        with open(spool / fname, "w") as f:
            for off, temp in recs:
                f.write(
                    json.dumps(
                        {
                            "payload": flat_payload(temp, 1.0),
                            "service": "",
                            "servicePath": "",
                            "ts": (t0 + dt.timedelta(seconds=off)).timestamp(),
                        }
                    )
                    + "\n"
                )

    out_dir = str(tmp_path / "state_out")

    def run_once():
        stream = _orion_stream(spark, spool)
        res = jobs.streaming_window_min(stream, watermark="5 seconds")
        return _run_to_end(
            res.writeStream.format("parquet")
            .outputMode("append")
            .option("path", out_dir)
            .option("checkpointLocation", str(tmp_path / "state_ckpt"))
        )

    # run 1, at 32 shuffle partitions: two events in the window starting
    # t0 (temps 30, 25); the watermark stays below the window end, so
    # nothing emits yet
    write("000.jsonl", [(0, 30.0), (1, 25.0)])
    session_partitions = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    try:
        run_once()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", session_partitions)
    # run 2 (fresh query, same checkpoint, back in the session's 8
    # partitions): a lower temp in the SAME window + a late-clock event
    # that closes it.  The state keeps the checkpoint's 32 partitions.
    write("001.jsonl", [(2, 20.0), (30, 99.0)])
    q = run_once()
    assert session_partitions == "8"
    assert q.lastProgress["stateOperators"][0]["numShufflePartitions"] == 32
    rows = spark.read.parquet(out_dir).collect()
    by_window = {r.window_start: r.temperature_min for r in rows}
    target = t0.replace(tzinfo=None)  # epoch-aligned window at t0
    assert by_window.get(target) == 20.0, (
        "window spanning the restart must see events from BOTH runs "
        f"(got {by_window})"
    )


def test_stream_static_dimension_join(spark, tmp_path):
    """Stream-static enrichment (the streaming form of
    events_enriched_topk's claim): each micro-batch joins the fact
    stream to a static dimension table — broadcast per batch, the
    stream side never shuffles for the dimension join."""
    rows = flat_sequence(8)
    spool = _write_spool(tmp_path, rows)
    stream = _orion_stream(spark, spool)
    from fiware_cosmos_orion_flink_connector_examples_spark.operators import ngsi

    nodes = ngsi.project_temp_nodes(
        ngsi.flatten_entities(ngsi.parse_notifications(stream))
    )
    dim = spark.createDataFrame(
        [("R1", "lab", 2), ("R9", "attic", 5)], ["id", "room_kind", "floor"]
    )
    enriched = nodes.join(F.broadcast(dim), "id", "left")
    q = (
        enriched.writeStream.format("memory")
        .queryName("t_stream_static")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt_ss"))
        .start()
    )
    q.awaitTermination(60)
    out = spark.sql("select * from t_stream_static").collect()
    assert len(out) == 8
    assert all(r.room_kind == "lab" and r.floor == 2 for r in out)  # R1 matched


def test_stream_asof_enrichment_matches_batch(spark, tmp_path):
    """Streaming as-of enrichment: window functions are unsupported on
    streaming DataFrames, so the idiomatic lift of
    operators/temporal.asof_join is per-micro-batch application inside
    foreachBatch (each batch is a plain DataFrame; the static right
    side broadcasts).  Result over all batches must equal the batch
    as-of join over the same rows — including NULL payloads for left
    rows with no right state yet (how='left')."""
    import json as _json

    from fiware_cosmos_orion_flink_connector_examples_spark.operators.temporal import (
        asof_join,
    )

    events = [(i, f"2024-01-01T00:00:{i:02d}", i % 3) for i in range(12)]
    spool = tmp_path / "ev"
    spool.mkdir()
    half = len(events) // 2
    for fi, chunk in enumerate([events[:half], events[half:]]):
        with open(spool / f"{fi}.jsonl", "w") as f:
            for eid, ts, uid in chunk:
                f.write(_json.dumps({"event_id": eid, "ts": ts, "user_id": uid}) + "\n")

    schema = "event_id BIGINT, ts STRING, user_id BIGINT"
    right = spark.createDataFrame(
        [
            (0, "2024-01-01T00:00:00", "bronze"),
            (0, "2024-01-01T00:00:06", "silver"),
            (1, "2024-01-01T00:00:04", "gold"),
            (2, "2024-01-01T00:00:30", "late"),
        ],
        ["user_id", "rts", "tier"],
    ).withColumn("rts", F.to_timestamp("rts"))

    out_dir = str(tmp_path / "enriched")

    def enrich(batch_df, _batch_id):
        asof_join(
            batch_df,
            right,
            on="user_id",
            left_ts="ts",
            right_ts="rts",
            payload_cols=["tier"],
            how="left",
        ).write.mode("append").parquet(out_dir)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .json(str(spool))
        .withColumn("ts", F.to_timestamp("ts"))
    )
    q = (
        stream.writeStream.foreachBatch(enrich)
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt_asof"))
        .start()
    )
    q.awaitTermination(60)

    got = {
        (r.event_id, r.tier) for r in spark.read.parquet(out_dir).collect()
    }
    batch = (
        spark.read.schema(schema)
        .json(str(spool))
        .withColumn("ts", F.to_timestamp("ts"))
    )
    want = {
        (r.event_id, r.tier)
        for r in asof_join(
            batch, right, on="user_id", left_ts="ts", right_ts="rts",
            payload_cols=["tier"], how="left",
        ).collect()
    }
    assert got == want
    # spot semantics: user 0 flips bronze→silver at :06; user 2 never matches
    by_id = dict(got)
    assert by_id[0] == "bronze" and by_id[6] == "silver"
    assert by_id[2] is None and by_id[5] is None and by_id[8] is None


def test_incremental_hourly_rollup_matches_batch(spark, tmp_path):
    """maintain_hourly_rollup across micro-batches (overlapping hours,
    late rows included) must equal the one-shot batch rollup."""
    import json as _json

    from fiware_cosmos_orion_flink_connector_examples_spark.sources import layout

    rows = [
        # hour 10 then hour 11, second file revisits hour 10 (late data)
        {"event_id": 1, "ts": "2024-03-01T10:05:00", "event_type": "a", "value": 1.0},
        {"event_id": 2, "ts": "2024-03-01T10:15:00", "event_type": "b", "value": 2.0},
        {"event_id": 3, "ts": "2024-03-01T11:01:00", "event_type": "a", "value": 4.0},
    ], [
        {"event_id": 4, "ts": "2024-03-01T10:59:00", "event_type": "a", "value": 8.0},
        {"event_id": 5, "ts": "2024-03-01T12:00:00", "event_type": "b", "value": 16.0},
    ]
    src = tmp_path / "roll_src"
    src.mkdir()
    for i, chunk in enumerate(rows):
        (src / f"{i}.jsonl").write_text("\n".join(_json.dumps(r) for r in chunk))

    schema = "event_id BIGINT, ts STRING, event_type STRING, value DOUBLE"
    table = str(tmp_path / "rollup_table")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .json(str(src))
        .withColumn("ts", F.to_timestamp("ts"))
    )
    q = (
        stream.writeStream.foreachBatch(jobs.maintain_hourly_rollup(table))
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt_roll"))
        .start()
    )
    q.awaitTermination(120)

    got = {
        (r.hour, r.event_type): (r.n_events, r.sum_value)
        for r in layout.snapshot_read(spark, table).collect()
    }
    batch = (
        spark.read.schema(schema)
        .json(str(src))
        .withColumn("ts", F.to_timestamp("ts"))
        .groupBy(F.date_trunc("hour", "ts").alias("hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("s"))
    )
    want = {(r.hour, r.event_type): (r.n, r.s) for r in batch.collect()}
    assert got == want
    assert len(got) == 4  # (10,a) (10,b) (11,a) (12,b)


def test_stream_redact_and_quality_matches_batch(spark, tmp_path):
    """Batch/stream unification for the round-4 text ops: the same
    redact_pii + quality_score column exprs run unchanged under
    readStream and agree with the batch result row-for-row."""
    from fiware_cosmos_orion_flink_connector_examples_spark.operators import text as T

    docs = [
        (1, "reach me at a@b.co or +1 (555) 010-7 ok"),
        (2, "plain text with the a and of to in is it words"),
        (3, "short"),
    ]
    spool = tmp_path / "docspool"
    spool.mkdir()
    with open(spool / "d.jsonl", "w") as f:
        for i, t in docs:
            f.write(json.dumps({"doc_id": i, "text": t}) + "\n")

    def transform(df):
        rules = T.quality_rules("text")
        return df.select(
            "doc_id",
            T.redact_pii("text").alias("clean"),
            T.quality_score("text").alias("q"),
            *(c.alias(nm) for nm, c in rules.items()),
        ).filter(F.col("q") > 0.0)

    stream = (
        spark.readStream.schema("doc_id long, text string").json(str(spool))
    )
    q = (
        transform(stream)
        .writeStream.format("memory")
        .queryName("t_redact")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt_redact"))
        .start()
    )
    q.awaitTermination(60)
    got = {tuple(r) for r in spark.sql("select * from t_redact").collect()}
    batch = spark.createDataFrame(docs, "doc_id long, text string")
    exp = {tuple(r) for r in transform(batch).collect()}
    assert got == exp and len(exp) == 3
    assert all(r[1].count("<EMAIL>") == 1 and "<PHONE>" in r[1] for r in got if r[0] == 1)
    # the rule columns (quality_rules, round 5) ride the same map-only
    # plan: streaming-legal by construction, equal row-for-row above


def test_streaming_funnel_matches_batch(spark, tmp_path):
    """Stateful funnel vs the batch stage logic: an availableNow replay
    of a history must reach exactly the stages the batch funnel
    computes, and a second micro-batch must resume from state (a
    purchase arriving later completes stage 3 without re-emitting
    stages 1-2)."""
    import datetime as dt

    from fiware_cosmos_orion_flink_connector_examples_spark.streaming import jobs

    t0 = dt.datetime(2024, 1, 1)

    def ev(sec, user, etype):
        return {"ts": (t0 + dt.timedelta(seconds=sec)).replace(
            tzinfo=dt.timezone.utc).timestamp(), "user_id": user, "event_type": etype}

    # u1: full funnel in order; u2: click BEFORE signup (stage 2 never
    # reached); u3: signup+click, purchase arrives in batch 2
    batch1 = [
        ev(0, 1, "signup"), ev(10, 1, "click"), ev(20, 1, "purchase"),
        ev(0, 2, "click"), ev(10, 2, "signup"), ev(20, 2, "purchase"),
        ev(0, 3, "signup"), ev(15, 3, "click"),
    ]
    batch2 = [ev(40, 3, "purchase")]
    spool = tmp_path / "fspool"
    spool.mkdir()
    with open(spool / "b1.jsonl", "w") as f:
        for e in batch1:
            f.write(json.dumps(e) + "\n")

    out_dir = str(tmp_path / "funnel_out")

    def drain():
        # file sink (not memory): the second drain must RECOVER from the
        # checkpoint, which the memory sink does not support
        stream = (
            spark.readStream.schema("ts double, user_id long, event_type string")
            .json(str(spool))
            .selectExpr("user_id", "timestamp_seconds(ts) AS ts", "event_type")
        )
        q = (
            jobs.streaming_funnel(stream)
            .writeStream.format("json")
            .option("path", out_dir)
            .outputMode("append")
            .trigger(availableNow=True)
            .option("checkpointLocation", str(tmp_path / "ckpt_funnel"))
            .start()
        )
        q.awaitTermination(120)
        return {
            (r.user_id, r.stage, r.step)
            for r in spark.read.schema(
                "user_id long, stage int, step string, reached_ts timestamp"
            ).json(out_dir).collect()
        }

    got1 = drain()
    assert got1 == {
        (1, 1, "signup"), (1, 2, "click_after_signup"), (1, 3, "purchase_after_click"),
        (2, 1, "signup"),           # click preceded signup; purchase needs a click
        (3, 1, "signup"), (3, 2, "click_after_signup"),
    }

    with open(spool / "b2.jsonl", "w") as f:
        for e in batch2:
            f.write(json.dumps(e) + "\n")
    got2 = drain() - got1  # same checkpoint: resumes state, only b2 is new
    assert got2 == {(3, 3, "purchase_after_click")}, got2


def test_sessionize_fractional_microsecond_timestamps(spark, tmp_path):
    """Regression: stateful ops must emit µs-exact timestamps — real
    event times carry fractional µs, and a pandas Timestamp built from
    float seconds lands on ns precision that Arrow refuses to truncate
    to Spark's timestamp[us] (the funnel_live example surfaced this)."""
    import datetime as dt

    rows = []
    base = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp()
    for i in range(4):
        rows.append({"user_id": 1, "ts": base + i * 2 + 0.778549, "value": 1.0})
    rows.append({"user_id": 9, "ts": base + 7200, "value": 0.0})  # watermark push
    spool = tmp_path / "fracspool"
    spool.mkdir()
    with open(spool / "a.jsonl", "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    stream = (
        spark.readStream.schema("user_id long, ts double, value double")
        .json(str(spool))
        .selectExpr("user_id", "timestamp_seconds(ts) AS ts", "value")
    )
    q = (
        jobs.sessionize(stream, gap_secs=30.0)
        .writeStream.format("memory")
        .queryName("t_frac_sessions")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt_frac"))
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("select * from t_frac_sessions").collect()
    assert len(got) == 1 and got[0].n_events == 4
    # the fractional microseconds survive the round-trip exactly
    assert got[0].session_start.microsecond == 778549


def test_streaming_span_decontamination_matches_batch(spark, tmp_path):
    """Span-level decontamination is per-doc (the only cross-doc input
    is the STATIC eval gram set), so an ingest stream cut doc-by-doc in
    foreachBatch must equal the batch operator regardless of how the
    corpus splits into micro-batches — pinned here with one file per
    trigger (3 micro-batches).  This is the streaming-legality story
    for remove_contaminated_spans: no global window, no cross-batch
    state; the repeated-span variant (global per-gram min) deliberately
    has NO streaming form."""
    from fiware_cosmos_orion_flink_connector_examples_spark.operators import dedup

    bench = "q1 q2 q3 q4 q5 q6 q7 q8 q9"
    eval_df = spark.createDataFrame([(1000, bench)], ["doc_id", "text"])
    train_rows = [
        (1, f"a1 a2 {bench} a3"),
        (2, " ".join(f"b{j}" for j in range(12))),
        (3, f"{bench} c1 c2"),
        (4, "q2 q3 q4 q5 q6 q7 q8 q9 d1"),  # overlapping suffix gram
        (5, "e1 e2 e3"),
        (6, f"f1 {bench} f2 {bench}"),
    ]
    batch_df = spark.createDataFrame(train_rows, ["doc_id", "text"])
    expected = {
        tuple(r)
        for r in dedup.remove_contaminated_spans(
            batch_df, eval_df, "doc_id", n=8
        ).collect()
    }
    assert any(r[2] > 0 for r in expected), "fixture must contaminate"

    spool = tmp_path / "trainspool"
    spool.mkdir()
    for i in range(3):  # 3 files -> 3 micro-batches at maxFilesPerTrigger=1
        with open(spool / f"part{i}.jsonl", "w") as f:
            for doc_id, text in train_rows[i * 2 : i * 2 + 2]:
                f.write(json.dumps({"doc_id": doc_id, "text": text}) + "\n")
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .json(str(spool))
    )
    got: list[tuple] = []

    def cut_batch(batch, _bid):
        got.extend(
            tuple(r)
            for r in dedup.remove_contaminated_spans(
                batch, eval_df, "doc_id", n=8
            ).collect()
        )

    q = (
        stream.writeStream.foreachBatch(cut_batch)
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt_spancut"))
        .start()
    )
    q.awaitTermination(120)
    assert set(got) == expected
    assert len(got) == len(train_rows)


def test_streaming_transitions_matches_batch(spark, tmp_path):
    """Stateful pair emission vs the batch lag window: an availableNow
    replay must emit exactly the batch transition pairs, and a second
    micro-batch must resume from state (the cross-batch pair uses the
    carried last_state, with no re-emission of history)."""
    import datetime as dt

    from fiware_cosmos_orion_flink_connector_examples_spark.operators.temporal import (
        transition_counts,
    )
    from fiware_cosmos_orion_flink_connector_examples_spark.streaming import jobs

    t0 = dt.datetime(2024, 1, 1)

    def ev(sec, eid, user, etype):
        return {"ts": (t0 + dt.timedelta(seconds=sec)).replace(
            tzinfo=dt.timezone.utc).timestamp(), "event_id": eid,
            "user_id": user, "event_type": etype}

    batch1 = [
        ev(0, 0, 1, "view"), ev(10, 1, 1, "click"), ev(20, 2, 1, "view"),
        ev(5, 3, 2, "signup"), ev(5, 4, 2, "click"),   # ts tie -> event_id order
        ev(0, 5, 3, "error"),                          # single event: no pair yet
    ]
    batch2 = [ev(40, 6, 3, "view"), ev(50, 7, 1, "purchase")]
    spool = tmp_path / "tspool"
    spool.mkdir()
    with open(spool / "b1.jsonl", "w") as f:
        for e in batch1:
            f.write(json.dumps(e) + "\n")
    out_dir = str(tmp_path / "trans_out")

    def drain():
        stream = (
            spark.readStream.schema(
                "ts double, event_id long, user_id long, event_type string"
            )
            .json(str(spool))
            .selectExpr(
                "user_id", "timestamp_seconds(ts) AS ts", "event_id", "event_type"
            )
        )
        q = (
            jobs.streaming_transitions(stream)
            .writeStream.format("json")
            .option("path", out_dir)
            .outputMode("append")
            .trigger(availableNow=True)
            .option("checkpointLocation", str(tmp_path / "ckpt_trans"))
            .start()
        )
        q.awaitTermination(120)
        rows = spark.read.schema(
            "user_id long, prev_state string, next_state string"
        ).json(out_dir).collect()
        out = {}
        for r in rows:
            k = (r.prev_state, r.next_state)
            out[k] = out.get(k, 0) + 1
        return out

    got1 = drain()
    assert got1 == {
        ("view", "click"): 1, ("click", "view"): 1,  # u1
        ("signup", "click"): 1,                      # u2 tie broken by event_id
    }

    with open(spool / "b2.jsonl", "w") as f:
        for e in batch2:
            f.write(json.dumps(e) + "\n")
    got2 = drain()
    # cross-batch pairs resumed from carried state: u3 error->view, u1 view->purchase
    assert got2 == {
        ("view", "click"): 1, ("click", "view"): 1, ("signup", "click"): 1,
        ("error", "view"): 1, ("view", "purchase"): 1,
    }

    # full-history replay == batch lag window
    all_events = [(e["event_id"], e["user_id"], e["event_type"], e["ts"])
                  for e in batch1 + batch2]
    batch_df = spark.createDataFrame(
        all_events, "event_id long, user_id long, event_type string, sec double"
    ).selectExpr("event_id", "user_id", "event_type",
                 "timestamp_seconds(sec) AS ts")
    want = {
        (r.prev_state, r.next_state): r.n
        for r in transition_counts(
            batch_df, "user_id", "ts", "event_type", "event_id"
        ).collect()
    }
    assert got2 == want


def test_streaming_locf_matches_batch(spark, tmp_path):
    """Streaming gap-fill vs the batch resample: an availableNow replay
    must emit exactly the batch LOCF grid minus each key's final
    (still-open) bin; a second micro-batch closes bins carried from
    checkpointed state, including the gap rows."""
    import datetime as dt

    from fiware_cosmos_orion_flink_connector_examples_spark.operators.temporal import (
        resample_locf,
    )
    from fiware_cosmos_orion_flink_connector_examples_spark.streaming import jobs

    t0 = dt.datetime(2024, 1, 1)

    def ev(sec, eid, user, value):
        return {"ts": (t0 + dt.timedelta(seconds=sec)).replace(
            tzinfo=dt.timezone.utc).timestamp(), "event_id": eid,
            "user_id": user, "value": value}

    # 10 s bins. u1: bins 0 (two events, last wins), 3 — gap bins 1,2
    # carried; u2: single bin so far (nothing closed in batch 1)
    batch1 = [
        ev(1, 0, 1, 5.0), ev(8, 1, 1, 7.0), ev(35, 2, 1, 9.0),
        ev(12, 3, 2, 3.5),
    ]
    batch2 = [ev(61, 4, 1, 1.0), ev(43, 5, 2, 4.5)]
    spool = tmp_path / "lspool"
    spool.mkdir()
    with open(spool / "b1.jsonl", "w") as f:
        for e in batch1:
            f.write(json.dumps(e) + "\n")
    out_dir = str(tmp_path / "locf_out")

    def drain():
        stream = (
            spark.readStream.schema(
                "ts double, event_id long, user_id long, value double"
            )
            .json(str(spool))
            .selectExpr(
                "user_id", "timestamp_seconds(ts) AS ts", "event_id", "value"
            )
        )
        q = (
            jobs.streaming_locf(stream, step_secs=10)
            .writeStream.format("json")
            .option("path", out_dir)
            .outputMode("append")
            .trigger(availableNow=True)
            .option("checkpointLocation", str(tmp_path / "ckpt_locf"))
            .start()
        )
        q.awaitTermination(120)
        return {
            (r.user_id, r.bin_ts): (r.value_locf, r.is_observed)
            for r in spark.read.schema(
                "user_id long, bin_ts long, value_locf double, is_observed boolean"
            ).json(out_dir).collect()
        }

    base = int(t0.replace(tzinfo=dt.timezone.utc).timestamp())  # bin-aligned
    got1 = drain()
    assert got1 == {
        (1, base + 0): (7.0, True),    # last-in-bin wins
        (1, base + 10): (7.0, False),  # carried
        (1, base + 20): (7.0, False),  # carried
        # u1 bin 30 still open; u2 bin 10 still open
    }

    with open(spool / "b2.jsonl", "w") as f:
        for e in batch2:
            f.write(json.dumps(e) + "\n")
    got2 = drain()

    # full-history replay == batch resample minus each key's final bin
    all_events = [(e["event_id"], e["user_id"], e["value"], e["ts"])
                  for e in batch1 + batch2]
    batch_df = spark.createDataFrame(
        all_events, "event_id long, user_id long, value double, sec double"
    ).selectExpr("event_id", "user_id", "value",
                 "timestamp_seconds(sec) AS ts")
    full = resample_locf(batch_df, "user_id", "ts", "value",
                         id_col="event_id", step_secs=10)
    import pyspark.sql.functions as SF

    last_bin = full.groupBy("user_id").agg(SF.max("bin_ts").alias("bin_ts"))
    want = {
        (r.user_id, r.bin_ts): (r.value_locf, r.is_observed)
        for r in full.join(last_bin, ["user_id", "bin_ts"], "left_anti").collect()
    }
    assert got2 == want
    assert {(2, base + 10), (2, base + 20), (2, base + 30)} <= set(got2)  # u2 closed+gaps


def test_streaming_cep_matches_batch(spark, tmp_path):
    """Streaming CEP vs the batch pattern query: an availableNow replay
    (per-batch event-time sort) must emit exactly the batch matches,
    and a cross-batch purchase resumes from checkpointed signup state."""
    import datetime as dt

    from fiware_cosmos_orion_flink_connector_examples_spark.plans.extensions import (
        events_cep_signup_purchase,
    )
    from fiware_cosmos_orion_flink_connector_examples_spark.streaming import jobs

    t0 = dt.datetime(2024, 1, 1)
    rows, eid = [], 0

    def ev(user, hours, etype):
        nonlocal eid
        rows.append({"ts": (t0 + dt.timedelta(hours=hours)).replace(
            tzinfo=dt.timezone.utc).timestamp(), "event_id": eid,
            "user_id": user, "event_type": etype})
        eid += 1

    ev(1, 0, "signup"); ev(1, 2, "purchase")                     # match b1
    ev(2, 0, "signup"); ev(2, 1, "error"); ev(2, 2, "purchase")  # rejected
    ev(4, 0, "signup"); ev(4, 30, "purchase")                    # past bound
    ev(3, 0, "signup")                                           # completes in b2
    batch1, batch2 = rows[:], []
    rows = batch2
    ev(3, 5, "purchase")                                         # match b2
    spool = tmp_path / "cspool"
    spool.mkdir()
    out_dir = str(tmp_path / "cep_out")

    def write(name, evs):
        with open(spool / name, "w") as f:
            for e in evs:
                f.write(json.dumps(e) + "\n")

    def drain():
        stream = (
            spark.readStream.schema(
                "ts double, event_id long, user_id long, event_type string"
            )
            .json(str(spool))
            .selectExpr(
                "user_id", "timestamp_seconds(ts) AS ts", "event_id", "event_type"
            )
        )
        q = (
            jobs.streaming_cep_signup_purchase(stream)
            .writeStream.format("json")
            .option("path", out_dir)
            .outputMode("append")
            .trigger(availableNow=True)
            .option("checkpointLocation", str(tmp_path / "ckpt_cep"))
            .start()
        )
        q.awaitTermination(120)
        return {
            r.user_id: (r.signup_ts, r.purchase_ts, r.latency_us)
            for r in spark.read.schema(
                "user_id long, signup_ts long, purchase_ts long, latency_us long"
            ).json(out_dir).collect()
        }

    write("b1.jsonl", batch1)
    got1 = drain()
    assert set(got1) == {1}
    write("b2.jsonl", batch2)
    got2 = drain()
    assert set(got2) == {1, 3}

    # full-history replay == the batch CEP query on the same events
    import os, shutil, tempfile
    tmp = tempfile.mkdtemp()
    try:
        spark.createDataFrame(
            [(e["event_id"], e["user_id"], e["event_type"], e["ts"])
             for e in batch1 + batch2],
            "event_id long, user_id long, event_type string, sec double",
        ).selectExpr(
            "event_id", "timestamp_seconds(sec) AS ts", "user_id", "event_type",
            "1.0 AS value", "'{}' AS props",
        ).write.mode("overwrite").parquet(os.path.join(tmp, "events.parquet"))
        want = {
            r.user_id: (r.signup_ts, r.purchase_ts, r.latency_us)
            for r in events_cep_signup_purchase(spark, tmp).collect()
        }
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    assert got2 == want


def test_streaming_dau_wau_matches_batch(spark, tmp_path):
    """Stateful DAU/WAU twin (VERDICT r7 #4): after draining a history
    the per-day counts equal exact batch engagement (python-replicated
    distinct sets), and a second micro-batch RESUMES from state —
    counts grow, never reset."""
    import datetime as dt

    from fiware_cosmos_orion_flink_connector_examples_spark.streaming import jobs

    t0 = dt.datetime(2024, 3, 1, 12, 0, tzinfo=dt.timezone.utc)

    def ev(day, minute, user):
        return {
            "ts": (t0 + dt.timedelta(days=day, minutes=minute)).timestamp(),
            "user_id": user,
        }

    batch1 = [ev(0, 1, 1), ev(0, 2, 2), ev(0, 3, 2), ev(1, 1, 1), ev(3, 5, 3)]
    batch2 = [ev(3, 6, 1), ev(9, 1, 2)]  # day 3 gains a user; day 9 new

    def expected(evs):
        dau: dict = {}
        wau: dict = {}
        for e in evs:
            day = dt.datetime.fromtimestamp(
                e["ts"], dt.timezone.utc
            ).date()
            dau.setdefault(day, set()).add(e["user_id"])
            for k in range(7):
                wau.setdefault(day + dt.timedelta(days=k), set()).add(
                    e["user_id"]
                )
        return {
            d.isoformat(): (
                len(dau[d]),
                len(wau[d]),
                round(len(dau[d]) / len(wau[d]), 6),
            )
            for d in dau
        }

    spool = tmp_path / "dwspool"
    spool.mkdir()
    with open(spool / "b1.jsonl", "w") as f:
        for e in batch1:
            f.write(json.dumps(e) + "\n")
    stream = (
        spark.readStream.schema("ts double, user_id long")
        .json(str(spool))
        .selectExpr("timestamp_seconds(ts) AS ts", "user_id")
    )
    q = (
        jobs.streaming_dau_wau(stream)
        .writeStream.format("memory")
        .queryName("t_dau_wau")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt_dw"))
        .start()
    )
    try:
        q.processAllAvailable()

        def current():
            best: dict = {}
            for r in spark.sql("select * from t_dau_wau").collect():
                cur = best.get(r.day)
                if cur is None or (r.wau, r.dau) > (cur.wau, cur.dau):
                    best[r.day] = r
            # report days holding only trailing-window contributions
            # (dau=0) are dashboard-upsert noise, not engagement days
            return {
                d: (r.dau, r.wau, r.stickiness)
                for d, r in best.items()
                if r.dau > 0
            }

        assert current() == expected(batch1)
        with open(spool / "b2.jsonl", "w") as f:
            for e in batch2:
                f.write(json.dumps(e) + "\n")
        q.processAllAvailable()
        assert current() == expected(batch1 + batch2)
    finally:
        q.stop()


def test_streaming_dau_wau_replay_equals_batch_query(spark, tmp_path):
    """availableNow-style replay of the REAL sf0.001 events history ==
    the registered batch events_dau_wau output, row for row — the same
    twin contract the funnel/CEP/LOCF jobs carry."""
    from fiware_cosmos_orion_flink_connector_examples_spark.plans.registry import (
        QUERIES,
    )
    from fiware_cosmos_orion_flink_connector_examples_spark.sources.tables import (
        load_table,
    )
    from fiware_cosmos_orion_flink_connector_examples_spark.streaming import jobs

    sf = "/root/testdata/sf0.001"
    want = {
        (r.day, r.dau, r.wau, r.stickiness)
        for r in QUERIES["events_dau_wau"].fn(spark, sf).collect()
    }

    spool = tmp_path / "dw_replay"
    spool.mkdir()
    ev = load_table(spark, sf, "events").selectExpr(
        "cast(ts as double) AS ts", "user_id"
    )
    ev.coalesce(1).write.json(str(spool / "hist"))
    stream = (
        spark.readStream.schema("ts double, user_id long")
        .json(str(spool / "hist"))
        .selectExpr("timestamp_seconds(ts) AS ts", "user_id")
    )
    q = (
        jobs.streaming_dau_wau(stream)
        .writeStream.format("memory")
        .queryName("t_dw_replay")
        .outputMode("update")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt_dwr"))
        .start()
    )
    q.awaitTermination(120)
    best: dict = {}
    for r in spark.sql("select * from t_dw_replay").collect():
        cur = best.get(r.day)
        if cur is None or (r.wau, r.dau) > (cur.wau, cur.dau):
            best[r.day] = r
    got = {
        (d, r.dau, r.wau, r.stickiness)
        for d, r in best.items()
        if r.dau > 0
    }
    assert got == want and len(want) > 0


def test_streaming_hll_daily_replay_equals_batch_sketch(spark, tmp_path):
    """availableNow replay of the sf0.001 events history: per-day HLL
    estimates equal the batch events_hll_mergeable_daily per-day rows
    EXACTLY (same lgConfigK => same registers), making the sketch
    rollup's incremental story a pinned contract, not a claim."""
    from fiware_cosmos_orion_flink_connector_examples_spark.plans.registry import (
        QUERIES,
    )
    from fiware_cosmos_orion_flink_connector_examples_spark.sources.tables import (
        load_table,
    )
    from fiware_cosmos_orion_flink_connector_examples_spark.streaming import jobs

    sf = "/root/testdata/sf0.001"
    want = {
        (r.day, r.distinct_est)
        for r in QUERIES["events_hll_mergeable_daily"].fn(spark, sf).collect()
        if r.day != "ALL"
    }
    spool = tmp_path / "hll_replay"
    spool.mkdir()
    load_table(spark, sf, "events").selectExpr(
        "cast(ts as double) AS ts", "user_id"
    ).coalesce(1).write.json(str(spool / "hist"))
    stream = (
        spark.readStream.schema("ts double, user_id long")
        .json(str(spool / "hist"))
        .selectExpr("timestamp_seconds(ts) AS ts", "user_id")
    )
    q = (
        jobs.streaming_hll_daily(stream)
        .writeStream.format("memory")
        .queryName("t_hll_replay")
        .outputMode("complete")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt_hllr"))
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.day, r.distinct_est)
        for r in spark.sql("select * from t_hll_replay").collect()
    }
    assert got == want and len(want) > 0


def test_streaming_hash_dedup_replay_equals_batch(spark, tmp_path):
    """Streaming banded near-dup twin: an availableNow replay of a
    fingerprint history emits EXACTLY the batch hash_dup_pairs set,
    and a second micro-batch finds a cross-batch pair from carried
    bucket state."""
    import random

    from fiware_cosmos_orion_flink_connector_examples_spark.operators.dedup import (
        hash_dup_pairs,
    )
    from fiware_cosmos_orion_flink_connector_examples_spark.streaming import jobs

    rng = random.Random(5)
    rows = []
    for i in range(40):
        h = rng.getrandbits(64)
        rows.append((i, h - (1 << 64) if h >= 1 << 63 else h))
    for i in range(40, 60):  # near-dups of earlier hashes
        src = rows[i - 40][1] & ((1 << 64) - 1)
        for _ in range(rng.randint(0, 6)):
            src ^= 1 << rng.randrange(64)
        rows.append((i, src - (1 << 64) if src >= 1 << 63 else src))
    batch_df = spark.createDataFrame(rows, "media_id long, phash long")
    want = {
        (r.d1, r.d2, r.hamming)
        for r in hash_dup_pairs(batch_df, "media_id", max_hamming=6).collect()
    }
    assert want  # fixture really contains near-dups

    # split the history: an item whose only partner sits in batch 1
    # arrives in batch 2 — the carried-state case
    b1, b2 = rows[:50], rows[50:]
    spool = tmp_path / "hashspool"
    spool.mkdir()

    def write(name, rs):
        with open(spool / name, "w") as f:
            for i, h in rs:
                f.write(json.dumps({"media_id": i, "phash": h}) + "\n")

    write("b1.jsonl", b1)
    stream = spark.readStream.schema("media_id long, phash long").json(str(spool))
    q = (
        jobs.streaming_hash_dedup(stream)
        .writeStream.format("memory")
        .queryName("t_hash_dedup")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_hd"))
        .start()
    )
    try:
        q.processAllAvailable()
        got1 = {
            (r.d1, r.d2, r.hamming)
            for r in spark.sql("select * from t_hash_dedup").collect()
        }
        want1 = {
            (r.d1, r.d2, r.hamming)
            for r in hash_dup_pairs(
                spark.createDataFrame(b1, "media_id long, phash long"),
                "media_id", max_hamming=6,
            ).collect()
        }
        assert got1 == want1
        write("b2.jsonl", b2)
        q.processAllAvailable()
        got2 = {
            (r.d1, r.d2, r.hamming)
            for r in spark.sql("select * from t_hash_dedup").collect()
        }
        assert got2 == want
        # at least one pair strictly straddles the batches
        b2_ids = {i for i, _ in b2}
        assert any((d1 not in b2_ids) and (d2 in b2_ids) for d1, d2, _ in got2)
    finally:
        q.stop()


def test_streaming_quality_gate_matches_batch(spark, tmp_path):
    """Stream/batch unification for model-based quality filtering: the
    weight map trained batch-side (quantized BY THE ENGINE) drives a
    map-only streaming gate whose availableNow replay emits exactly
    the batch classifier's rows — n_tokens, label, and nb_score all
    bit-equal (integer-picounit sums are summation-order-free, so the
    two physical shapes cannot drift)."""
    from fiware_cosmos_orion_flink_connector_examples_spark.operators import text

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    expected = {
        (r.doc_id, r.n_tokens, r.label, r.nb_score)
        for r in text.nb_quality_scores(docs).collect()
    }
    labels = {lab for _, _, lab, _ in expected}
    assert 1 in labels and -1 in labels, "fixture must span both extremes"

    weight_rows, oov_q = text.nb_quality_weight_map(docs)
    assert weight_rows, "trained vocabulary must be non-empty"

    spool = tmp_path / "qgate_spool"
    spool.mkdir()
    with open(spool / "docs.jsonl", "w") as f:
        for r in docs.collect():
            f.write(json.dumps({"doc_id": r.doc_id, "text": r.text}) + "\n")
    stream = spark.readStream.schema("doc_id long, text string").json(str(spool))
    gated = jobs.streaming_quality_gate(stream, weight_rows, oov_q)
    q = (
        gated.writeStream.format("memory")
        .queryName("t_stream_qgate")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.doc_id, r.n_tokens, r.label, r.nb_score)
        for r in spark.sql("SELECT * FROM t_stream_qgate").collect()
    }
    assert got == expected


def test_streaming_quality_gate_threshold_and_empty_model(spark, tmp_path):
    """min_score adds a pass_gate routing column without filtering,
    and an empty weight map (no labeled training tokens) degrades to
    the constant OOV score instead of failing."""
    from fiware_cosmos_orion_flink_connector_examples_spark.streaming.jobs import (
        streaming_quality_gate,
    )

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "delta epsilon zeta")],
        "doc_id long, text string",
    )
    out = streaming_quality_gate(docs, [], 0, min_score=0.5)
    rows = {(r.doc_id, r.nb_score, r.pass_gate) for r in out.collect()}
    assert rows == {(1, 0.0, False), (2, 0.0, False)}


def test_streaming_hash_dedup_idempotent_redelivery(spark, tmp_path):
    """Review finding (round 8): an exact (id, hash) re-arrival — the
    at-least-once case (source re-listed, item re-crawled unchanged) —
    must neither re-emit already-emitted pairs nor duplicate bucket
    state; a genuinely NEW item afterwards still pairs normally."""
    from fiware_cosmos_orion_flink_connector_examples_spark.streaming import jobs

    base = 0x0123456789ABCDEF
    rows1 = [(1, base), (2, base ^ 0b11)]  # hamming 2 pair
    spool = tmp_path / "redeliver"
    spool.mkdir()

    def write(name, rs):
        with open(spool / name, "w") as f:
            for i, h in rs:
                f.write(json.dumps({"media_id": i, "phash": h}) + "\n")

    write("b1.jsonl", rows1)
    stream = spark.readStream.schema("media_id long, phash long").json(str(spool))
    q = (
        jobs.streaming_hash_dedup(stream)
        .writeStream.format("memory")
        .queryName("t_hash_redeliver")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_rd"))
        .start()
    )
    try:
        q.processAllAvailable()
        got = [tuple(r) for r in spark.sql("select * from t_hash_redeliver").collect()]
        assert sorted(got) == [(1, 2, 2)]
        # redeliver the SAME rows: nothing new may be emitted
        write("b2.jsonl", rows1)
        q.processAllAvailable()
        got = [tuple(r) for r in spark.sql("select * from t_hash_redeliver").collect()]
        assert sorted(got) == [(1, 2, 2)], "redelivery re-emitted pairs"
        # a new near-dup still matches against (non-duplicated) state
        write("b3.jsonl", [(3, base ^ 0b100)])
        q.processAllAvailable()
        got = sorted(
            tuple(r) for r in spark.sql("select * from t_hash_redeliver").collect()
        )
        assert got == [(1, 2, 2), (1, 3, 1), (2, 3, 3)]
    finally:
        q.stop()


def test_streaming_dau_wau_evicts_closed_days(spark, tmp_path):
    """The EventTimeTimeout must (a) leave the same final per-day
    counts as the exact python replication for every dau>0 day, and
    (b) DROP closed-day state — after a multi-week replay the
    state-store row count is bounded by the active horizon, not the
    days seen."""
    import datetime as dt

    from fiware_cosmos_orion_flink_connector_examples_spark.streaming import jobs

    t0 = dt.datetime(2024, 3, 1, 12, 0, tzinfo=dt.timezone.utc)

    def ev(day, minute, user):
        return {
            "ts": (t0 + dt.timedelta(days=day, minutes=minute)).timestamp(),
            "user_id": user,
        }

    # three weeks of activity, then a far-future straggler whose batch
    # advances the watermark past every earlier day's day_end + 7d
    weeks = [
        [ev(d, m, u) for d in range(w * 7, w * 7 + 7) for m, u in ((1, d % 5), (2, 7))]
        for w in range(3)
    ]
    tail = [ev(40, 1, 99)]

    def expected(evs):
        dau: dict = {}
        wau: dict = {}
        for e in evs:
            day = dt.datetime.fromtimestamp(e["ts"], dt.timezone.utc).date()
            dau.setdefault(day, set()).add(e["user_id"])
            for k in range(7):
                wau.setdefault(day + dt.timedelta(days=k), set()).add(
                    e["user_id"]
                )
        return {
            d.isoformat(): (len(dau[d]), len(wau[d]))
            for d in dau
        }

    spool = tmp_path / "dwb_spool"
    spool.mkdir()
    for i, batch in enumerate(weeks + [tail]):
        p = spool / f"{chr(97 + i)}.jsonl"
        with open(p, "w") as f:
            for e in batch:
                f.write(json.dumps(e) + "\n")
        # the file source orders batches by modification time; force
        # distinct, increasing mtimes so the replay arrives in event
        # order (files written in the same instant tie otherwise)
        os.utime(p, (1_000_000 + i, 1_000_000 + i))
    stream = (
        spark.readStream.schema("ts double, user_id long")
        .option("maxFilesPerTrigger", 1)
        .json(str(spool))
        .selectExpr("timestamp_seconds(ts) AS ts", "user_id")
    )
    q = (
        jobs.streaming_dau_wau(stream)
        .writeStream.format("memory")
        .queryName("t_dwb")
        .outputMode("update")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt_dwb"))
        .start()
    )
    q.awaitTermination(180)

    best: dict = {}
    for r in spark.sql("select * from t_dwb").collect():
        cur = best.get(r.day)
        if cur is None or (r.wau, r.dau) > (cur.wau, cur.dau):
            best[r.day] = r
    got = {d: (r.dau, r.wau) for d, r in best.items()}
    assert got == expected([e for b in weeks + [tail] for e in b])

    # without eviction the state would hold EVERY report day ever seen
    # (21 event days + trailing contributions + the straggler ≈ 34
    # keys); the timeout must have evicted everything whose
    # day_end + 7d fell behind the final batch's watermark
    n_days_seen = len(
        {
            (
                dt.datetime.fromtimestamp(e["ts"], dt.timezone.utc).date()
                + dt.timedelta(days=k)
            )
            for b in weeks + [tail]
            for e in b
            for k in range(7)
        }
    )
    state_rows = q.lastProgress["stateOperators"][0]["numRowsTotal"]
    assert n_days_seen >= 30
    assert state_rows <= 12, (state_rows, n_days_seen)


def test_streaming_curation_gate_matches_batch_capstone(spark, tmp_path):
    """VERDICT r8 #7: the chained live gate (exact first-seen text
    dedup -> NB quality filter) replayed in doc_id order equals the
    batch corpus_curate_nb's PRE-DRAW survivor set row-for-row —
    weights trained batch-side on the deduped corpus, exactly as the
    capstone trains."""
    from fiware_cosmos_orion_flink_connector_examples_spark.operators import (
        dedup,
        text,
    )
    from fiware_cosmos_orion_flink_connector_examples_spark.streaming import jobs

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "source", "lang", "text"
    )
    keep = dedup.exact_dedup(docs, ["text"], "doc_id").select(
        F.col("keep_id").alias("doc_id")
    )
    kept = docs.join(keep, "doc_id")
    scores = text.nb_quality_scores(kept)
    want = {
        (r.source, r.doc_id, r.lang, r.nb_score)
        for r in kept.select("source", "doc_id", "lang")
        .join(
            scores.filter(F.col("nb_score") >= 0.0).select("doc_id", "nb_score"),
            "doc_id",
        )
        .collect()
    }
    assert want, "fixture must have survivors"

    weight_rows, oov_q = text.nb_quality_weight_map(kept)

    # two doc_id-ordered files so first-seen-wins crosses a batch edge
    rows = sorted(docs.collect(), key=lambda r: r.doc_id)
    half = rows[len(rows) // 2].doc_id
    spool = tmp_path / "cur_spool"
    spool.mkdir()
    for i, (name, chunk) in enumerate(
        (
            ("a.jsonl", [r for r in rows if r.doc_id < half]),
            ("b.jsonl", [r for r in rows if r.doc_id >= half]),
        )
    ):
        with open(spool / name, "w") as f:
            for r in chunk:
                f.write(
                    json.dumps(
                        {
                            "doc_id": r.doc_id,
                            "source": r.source,
                            "lang": r.lang,
                            "text": r.text,
                        }
                    )
                    + "\n"
                )
        # distinct increasing mtimes: batch order must follow doc_id
        # order for the first-seen == min-id contract
        os.utime(spool / name, (1_000_000 + i, 1_000_000 + i))
    stream = (
        spark.readStream.schema(
            "doc_id long, source string, lang string, text string"
        )
        .option("maxFilesPerTrigger", 1)
        .json(str(spool))
    )
    q = (
        jobs.streaming_curation_gate(stream, weight_rows, oov_q)
        .writeStream.format("memory")
        .queryName("t_curation_gate")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt_cur"))
        .start()
    )
    q.awaitTermination(180)
    got = {
        (r.source, r.doc_id, r.lang, r.nb_score)
        for r in spark.sql("select * from t_curation_gate").collect()
    }
    assert got == want


def test_streaming_rule_gate_matches_batch_cards(spark, tmp_path):
    """Stream/batch unification for the rule cards: streaming_rule_gate
    applies the SAME with_gopher_rules / with_c4_rules the batch
    queries select, so an availableNow replay must emit the exact
    union of text_gopher_rules x text_c4_rules rows, and rules_pass
    must equal gopher_pass AND c4_keep row-for-row."""
    from fiware_cosmos_orion_flink_connector_examples_spark.plans.registry import (
        QUERIES,
    )

    sf = "/root/testdata/sf0.001"
    g = {r.doc_id: r for r in QUERIES["text_gopher_rules"].fn(spark, sf).collect()}
    c = {r.doc_id: r for r in QUERIES["text_c4_rules"].fn(spark, sf).collect()}
    assert set(g) == set(c)
    expected = {
        (
            did,
            g[did].n_words,
            g[did].gopher_pass,
            c[did].n_lines_kept,
            c[did].kept_char_frac,
            c[did].c4_keep,
            g[did].gopher_pass and c[did].c4_keep,
        )
        for did in g
    }

    docs = spark.read.parquet(f"{sf}/documents.parquet").select("doc_id", "text")
    spool = tmp_path / "rgate_spool"
    spool.mkdir()
    with open(spool / "docs.jsonl", "w") as f:
        for r in docs.collect():
            f.write(json.dumps({"doc_id": r.doc_id, "text": r.text}) + "\n")
    stream = spark.readStream.schema("doc_id long, text string").json(str(spool))
    gated = jobs.streaming_rule_gate(stream)
    q = (
        gated.writeStream.format("memory")
        .queryName("t_stream_rgate")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (
            r.doc_id,
            r.n_words,
            r.gopher_pass,
            r.n_lines_kept,
            r.kept_char_frac,
            r.c4_keep,
            r.rules_pass,
        )
        for r in spark.sql("SELECT * FROM t_stream_rgate").collect()
    }
    assert got == expected


def test_streaming_decontaminate_gate_matches_batch_checker(spark, tmp_path):
    """Stream/batch unification for decontamination: the stateless
    gate's contaminated projection (n_shared_grams > 0) must equal
    dedup.ngram_contamination row-for-row on an availableNow replay,
    and every clean doc must emit with n_shared_grams = 0."""
    from pyspark.sql import functions as SF

    from fiware_cosmos_orion_flink_connector_examples_spark.operators import dedup

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet").filter(
        SF.col("text").isNotNull()
    )
    ev = docs.filter(SF.col("doc_id") % 10 == 0)
    tr = docs.filter(SF.col("doc_id") % 10 != 0)
    expected = {
        (r["doc_id"], r["n_shared_grams"])
        for r in dedup.ngram_contamination(ev, tr, "doc_id", n=8).collect()
    }
    assert expected, "fixture must produce at least one contaminated doc"

    spool = tmp_path / "decon_spool"
    spool.mkdir()
    with open(spool / "docs.jsonl", "w") as f:
        for r in tr.select("doc_id", "text").collect():
            f.write(json.dumps({"doc_id": r.doc_id, "text": r.text}) + "\n")
    stream = spark.readStream.schema("doc_id long, text string").json(str(spool))
    gated = jobs.streaming_decontaminate_gate(stream, ev, n=8)
    q = (
        gated.writeStream.format("memory")
        .queryName("t_stream_decon")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM t_stream_decon").collect()
    # every train doc emits exactly once
    assert len(rows) == tr.count()
    got = {(r.doc_id, r.n_shared_grams) for r in rows if r.n_shared_grams > 0}
    assert got == expected
