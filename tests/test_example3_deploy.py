"""Example3 deployment smoke (DEPLOY.md, reference README:347-418):
run examples/example3.py as a REAL subprocess — its own driver JVM,
exactly what spark-submit does in client mode — against a mock broker,
and assert the full loop: NGSI notification in → windowed min → HTTP
write-back to <broker>/v2/entities/<id>/attrs.

The only code delta vs example2 is the --broker flag (Example3.scala:13
— environment addressing is configuration), which this test overrides
to the mock's address."""

from __future__ import annotations

import http.server
import json
import os
import signal
import socket
import subprocess
import sys
import threading
import time
import urllib.request
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
from tests.fixtures import flat_payload  # noqa: E402


class _BrokerHandler(http.server.BaseHTTPRequestHandler):
    captured: list = []

    def do_POST(self):  # noqa: N802
        n = int(self.headers.get("Content-Length", 0))
        type(self).captured.append((self.path, self.rfile.read(n).decode()))
        self.send_response(204)
        self.end_headers()

    def log_message(self, *a):
        pass


def _free_port() -> int:
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


def test_example3_smoke_against_mock_broker(tmp_path):
    _BrokerHandler.captured = []
    broker = http.server.ThreadingHTTPServer(("127.0.0.1", 0), _BrokerHandler)
    threading.Thread(target=broker.serve_forever, daemon=True).start()
    notify_port = _free_port()
    proc = subprocess.Popen(
        [
            sys.executable,
            str(REPO / "examples" / "example3.py"),
            "--port",
            str(notify_port),
            "--spool",
            str(tmp_path / "spool"),
            "--broker",
            f"http://127.0.0.1:{broker.server_port}",
        ],
        cwd=str(REPO),
        stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT,
    )
    stop = threading.Event()

    def pump():
        # keep notifying until the pipeline's write-back lands; retries
        # cover the receiver's startup window
        i = 0
        while not stop.is_set():
            body = flat_payload(20.0 + (i % 7), 700.0 + i)
            req = urllib.request.Request(
                f"http://127.0.0.1:{notify_port}/notify",
                data=body.encode(),
                headers={
                    "Content-Type": "application/json",
                    "Fiware-Service": "demo",
                    "Fiware-ServicePath": "/test",
                },
            )
            try:
                urllib.request.urlopen(req, timeout=2)
            except OSError:
                pass
            i += 1
            stop.wait(0.5)

    pumper = threading.Thread(target=pump, daemon=True)
    pumper.start()
    try:
        deadline = time.time() + 150
        while time.time() < deadline and not _BrokerHandler.captured:
            if proc.poll() is not None:
                out = proc.stdout.read().decode(errors="replace")
                pytest.fail(f"example3 exited early rc={proc.returncode}:\n{out[-4000:]}")
            time.sleep(0.5)
        assert _BrokerHandler.captured, "no write-back reached the mock broker"
        path, body = _BrokerHandler.captured[0]
        assert path.startswith("/v2/entities/") and path.endswith("/attrs")
        doc = json.loads(body)
        assert doc["temperature_min"]["type"] == "Float"
        assert isinstance(doc["temperature_min"]["value"], (int, float))
    finally:
        stop.set()
        proc.send_signal(signal.SIGINT)  # run_until_interrupt's clean path
        try:
            proc.wait(30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(10)
        broker.shutdown()


_SUBMIT_PROBE = """
import json, sys
sys.path.insert(0, {repo!r})
from fiware_cosmos_orion_flink_connector_examples_spark.session import get_spark
spark = get_spark(app_name="submit-probe", cpus=8)
print("PROBE " + json.dumps({{
    "master": spark.sparkContext.master,
    "partitions": spark.conf.get("spark.sql.shuffle.partitions"),
    "broadcast": spark.conf.get("spark.sql.autoBroadcastJoinThreshold"),
    "checkpoint_manager": spark.conf.get("spark.sql.streaming.checkpointFileManagerClass"),
}}))
spark.stop()
"""


def test_spark_submit_master_and_partitions_survive(spark, tmp_path):
    """DEPLOY.md §4: what a launcher submits reaches the session — the
    master, the partition count and any conf ``get_spark`` has a default
    for; ``get_spark`` picks local[cpus], one shuffle partition per core
    and the FileSystem checkpoint manager only when no launcher set them
    (the 8-core test session)."""
    import pyspark

    from fiware_cosmos_orion_flink_connector_examples_spark.session import (
        CHECKPOINT_MANAGER_CONF,
        LOCAL_CHECKPOINT_MANAGER,
    )

    assert spark.conf.get("spark.sql.shuffle.partitions") == "8"
    assert spark.sparkContext.defaultParallelism == 8
    assert spark.conf.get(CHECKPOINT_MANAGER_CONF) == LOCAL_CHECKPOINT_MANAGER
    submitted_manager = (
        "org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager"
    )
    probe = tmp_path / "probe.py"
    probe.write_text(_SUBMIT_PROBE.format(repo=str(REPO)))
    submit = Path(pyspark.__file__).parent / "bin" / "spark-submit"
    proc = subprocess.run(
        [
            str(submit),
            "--master", "local[2]",
            "--conf", "spark.sql.shuffle.partitions=7",
            "--conf", "spark.sql.autoBroadcastJoinThreshold=1m",
            "--conf", f"{CHECKPOINT_MANAGER_CONF}={submitted_manager}",
            str(probe),
        ],
        cwd=str(tmp_path),
        capture_output=True,
        text=True,
        timeout=180,
    )
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("PROBE ")]
    assert proc.returncode == 0 and lines, proc.stderr[-4000:]
    assert json.loads(lines[-1][len("PROBE "):]) == {
        "master": "local[2]",
        "partitions": "7",
        "broadcast": "1m",
        "checkpoint_manager": submitted_manager,
    }


def test_example_exits_cleanly_on_sigint(tmp_path):
    """Ctrl-C stops a running example: the query and the receiver are
    stopped and the script exits 0, with no Py4J traceback."""
    proc = subprocess.Popen(
        [sys.executable, "-u", str(REPO / "examples" / "example1.py"),
         "--port", "0", "--spool", str(tmp_path / "spool")],
        cwd=str(REPO),
        env={**os.environ, "SPARK_GRAFT_DRIVER_MEM": "1g"},
        stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT,
        text=True,
    )
    out: list[str] = []
    threading.Thread(target=lambda: out.extend(proc.stdout), daemon=True).start()
    try:
        deadline = time.time() + 150
        port = None
        while time.time() < deadline and not any("Batch:" in ln for ln in out):
            assert proc.poll() is None, "".join(out)[-4000:]
            listening = [ln for ln in out if ln.startswith("listening for NGSI notifications on :")]
            if listening and port is None:
                port = int(listening[0].split(":")[1].split(",")[0])
            if port is not None:
                req = urllib.request.Request(
                    f"http://127.0.0.1:{port}/notify",
                    data=flat_payload(21.0, 700.0).encode(),
                    headers={"Content-Type": "application/json"},
                )
                urllib.request.urlopen(req, timeout=5)
            time.sleep(1)
        assert any("Batch:" in ln for ln in out), "".join(out)[-4000:]
        proc.send_signal(signal.SIGINT)
        assert proc.wait(60) == 0, "".join(out)[-4000:]
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait(10)
    text = "".join(out)
    assert "Traceback" not in text and "Py4JError" not in text, text[-4000:]
