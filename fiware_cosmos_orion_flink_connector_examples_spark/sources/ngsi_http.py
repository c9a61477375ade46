"""NGSI-v2 HTTP notification source (O1) — the reference's
``OrionSource``: an embedded HTTP server whose POST bodies become
stream records (`env.addSource(new OrionSource(9001))`,
Example1.scala:16-17; README.md:93-94,122).

Spark-first architecture, two layers:

1. ``NgsiHttpReceiver`` — a tiny threaded HTTP server that SPOOLS each
   accepted POST body (plus Fiware-Service / Fiware-ServicePath headers
   and an arrival timestamp) to a JSON-lines spool directory; oversized
   and non-notification bodies are refused (413 / 400).  Push-based HTTP
   has no replayable offsets, so durability comes from the spool: one
   file per drain interval, append-only, fsync'd before rotation.
2. ``OrionHttpDataSource`` — a Spark 4 Python Data Source
   (``spark.dataSource.register``) whose stream reader tails the spool
   with (file, line) offsets → restart-safe, exactly-once into the
   checkpoint.  ``spark.readStream.format("orion_http")``.

Subscription-style pushdown (P1, curl_SubscribeToEntityNotifications.sh:11-25):
``option("attrs", "temperature,pressure")`` projects attributes at
ingest; ``option("condition", "temperature")`` drops notifications
whose data lacks the condition attribute — both applied in the reader
before rows reach the engine, mirroring Orion's server-side
filter/projection.

At cluster scale the receiver would sit behind a load balancer writing
to shared storage (or Kafka) — the reader side is unchanged; local
mode runs receiver and reader in one process.
"""

from __future__ import annotations

import json
import os
import sys
import threading
import time
from dataclasses import dataclass
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from pyspark import cloudpickle
from pyspark.sql.datasource import DataSource, DataSourceStreamReader, InputPartition
from pyspark.sql.types import (
    StringType,
    StructField,
    StructType,
    TimestampType,
)

NOTIFICATION_ROW_SCHEMA = StructType(
    [
        StructField("payload", StringType()),
        StructField("service", StringType()),
        StructField("servicePath", StringType()),
        StructField("ts", TimestampType()),
    ]
)


# Largest notification body the receiver accepts: a POST declaring a
# longer body is answered 413 before any of it is read.
MAX_BODY_BYTES = 1 << 20

# Spool file rotation interval: one file per second of arrivals.
ROTATE_SECS = 1.0


def _is_notification(body: bytes) -> bool:
    """True iff ``body`` is an NGSI-v2 notification: a JSON object
    carrying a ``data`` list."""
    try:
        doc = json.loads(body)
    except ValueError:
        return False
    return isinstance(doc, dict) and isinstance(doc.get("data"), list)


class NgsiHttpReceiver:
    """Threaded HTTP server spooling NGSI notifications to JSON-lines
    files (one line per accepted POST: {payload, service, servicePath,
    ts}).  A body over ``MAX_BODY_BYTES`` is answered 413 and one that
    is not a notification 400; neither is spooled."""

    def __init__(self, spool_dir: str, port: int = 9001):
        self.spool_dir = spool_dir
        self.port = port
        os.makedirs(spool_dir, exist_ok=True)
        self._lock = threading.Lock()
        self._server: ThreadingHTTPServer | None = None
        self._thread: threading.Thread | None = None

    def _write(self, record: dict) -> None:
        # one file per rotate window keeps files small and append-atomic;
        # name is monotonically ordered so the reader can tail in order
        with self._lock:
            fname = os.path.join(
                self.spool_dir, f"{int(time.time() / ROTATE_SECS)}-{os.getpid()}.jsonl"
            )
            with open(fname, "a", encoding="utf-8") as f:
                f.write(json.dumps(record) + "\n")
                f.flush()
                os.fsync(f.fileno())

    def start(self) -> "NgsiHttpReceiver":
        receiver = self

        class Handler(BaseHTTPRequestHandler):
            def do_POST(self):  # noqa: N802 (http.server API)
                try:
                    length = int(self.headers.get("Content-Length", 0))
                except ValueError:
                    length = 0  # unreadable length: an empty body, refused below
                if length > MAX_BODY_BYTES:
                    self.send_response(413)
                    self.end_headers()
                    self.close_connection = True
                    return
                body = self.rfile.read(max(length, 0))
                if not _is_notification(body):
                    self.send_response(400)
                    self.end_headers()
                    return
                receiver._write(
                    {
                        "payload": body.decode("utf-8", errors="replace"),
                        "service": self.headers.get("Fiware-Service", ""),
                        "servicePath": self.headers.get("Fiware-ServicePath", ""),
                        "ts": time.time(),
                    }
                )
                self.send_response(200)
                self.end_headers()

            def log_message(self, *args):  # silence per-request stderr noise
                pass

        self._server = ThreadingHTTPServer(("127.0.0.1", self.port), Handler)
        self.port = self._server.server_port  # resolves port=0 to the bound port
        self._thread = threading.Thread(target=self._server.serve_forever, daemon=True)
        self._thread.start()
        return self

    def stop(self) -> None:
        if self._server:
            self._server.shutdown()
            self._server.server_close()


@dataclass
class _SpoolOffset:
    """Stream offset = position in the ordered spool: (file name, line
    count consumed within it).  Files sort lexicographically by rotate
    window, so (fname, line) is a total order."""

    fname: str
    line: int

    def to_dict(self) -> dict:
        return {"fname": self.fname, "line": self.line}

    @staticmethod
    def from_dict(d: dict) -> "_SpoolOffset":
        return _SpoolOffset(d["fname"], d["line"])


class _SpoolPartition(InputPartition):
    def __init__(self, files: list[tuple[str, int, int]], spool_dir: str, opts: dict):
        self.files = files  # (fname, start_line, end_line_exclusive; -1 = EOF)
        self.spool_dir = spool_dir
        self.opts = opts


class OrionHttpStreamReader(DataSourceStreamReader):
    def __init__(self, schema: StructType, options: dict):
        # Spark lower-cases DataSource option keys before delivery
        options = {k.lower(): v for k, v in options.items()}
        self.spool_dir = options.get("spool_dir") or options.get("path")
        if not self.spool_dir:
            raise ValueError("orion_http source requires option spool_dir (or path)")
        self.attrs = [a for a in (options.get("attrs") or "").split(",") if a]
        self.condition = [c for c in (options.get("condition") or "").split(",") if c]
        # backpressure: cap records admitted per micro-batch (the
        # maxFilesPerTrigger / maxOffsetsPerTrigger analog) — keeps
        # batch latency bounded under notification bursts
        self.max_batch_rows = int(options.get("maxbatchrows", 0)) or None

    def initialOffset(self) -> dict:
        self._last_start = _SpoolOffset("", 0)
        return self._last_start.to_dict()

    def _spool_files(self) -> list[str]:
        try:
            return sorted(f for f in os.listdir(self.spool_dir) if f.endswith(".jsonl"))
        except FileNotFoundError:
            return []

    def latestOffset(self) -> dict:
        # The Python DataSource API has no latestOffset(start, limit)
        # form, so maxBatchRows is applied by walking forward from the
        # last planned position (updated by every partitions() call; the
        # runner may call latestOffset before initialOffset, so None ⇒
        # walk from zero).  On checkpoint restart the first bounded
        # offsets can trail the committed start — Spark then plans a few
        # empty batches until the walk passes it; no loss, no dupes.
        files = self._spool_files()
        if not files:
            return _SpoolOffset("", 0).to_dict()
        if self.max_batch_rows is not None:
            start = self._last_start or _SpoolOffset("", 0)
            end = self._bounded_offset(start, files)
            self._last_start = end
            return end.to_dict()
        last = files[-1]
        with open(os.path.join(self.spool_dir, last), "rb") as f:
            n_lines = sum(1 for _ in f)
        return _SpoolOffset(last, n_lines).to_dict()

    _last_start: _SpoolOffset | None = None

    def _bounded_offset(self, start: "_SpoolOffset", files: list[str]) -> "_SpoolOffset":
        budget = self.max_batch_rows
        end = start
        for fname in files:
            if start.fname and fname < start.fname:
                continue
            skip = start.line if fname == start.fname else 0
            with open(os.path.join(self.spool_dir, fname), "rb") as f:
                n_lines = sum(1 for _ in f)
            take = min(max(n_lines - skip, 0), budget)
            end = _SpoolOffset(fname, skip + take)
            budget -= take
            if budget <= 0:
                break
        return end

    def partitions(self, start: dict, end: dict):
        s, e = _SpoolOffset.from_dict(start), _SpoolOffset.from_dict(end)
        self._last_start = e  # next latestOffset() walks forward from here
        work: list[tuple[str, int, int]] = []
        for fname in self._spool_files():
            if fname < s.fname or fname > e.fname or (not e.fname):
                continue
            start_line = s.line if fname == s.fname else 0
            end_line = e.line if fname == e.fname else -1
            if end_line == -1 or end_line > start_line:
                work.append((fname, start_line, end_line))
        opts = {"attrs": self.attrs, "condition": self.condition}
        return [_SpoolPartition(work, self.spool_dir, opts)]

    def commit(self, end: dict) -> None:
        pass  # spool retained; offset progress lives in the checkpoint

    def read(self, partition: _SpoolPartition):
        import datetime as dt

        attrs = partition.opts["attrs"]
        condition = partition.opts["condition"]
        for fname, start_line, end_line in partition.files:
            path = os.path.join(partition.spool_dir, fname)
            with open(path, encoding="utf-8") as f:
                for i, line in enumerate(f):
                    if i < start_line or (end_line != -1 and i >= end_line):
                        continue
                    rec = json.loads(line)
                    payload = rec["payload"]
                    if attrs or condition:
                        payload = _apply_subscription(payload, attrs, condition)
                        if payload is None:
                            continue
                    yield (
                        payload,
                        rec.get("service", ""),
                        rec.get("servicePath", ""),
                        dt.datetime.fromtimestamp(rec["ts"], dt.timezone.utc).replace(
                            tzinfo=None
                        ),
                    )


def _apply_subscription(payload: str, attrs: list[str], condition: list[str]) -> str | None:
    """P1 pushdown: keep only subscribed attributes; drop notifications
    not triggered by a condition attribute.  Mirrors Orion's
    subscription semantics (notification.attrs / subject.condition.attrs)."""
    try:
        doc = json.loads(payload)
    except (ValueError, TypeError):
        return None
    data = doc.get("data")
    if not isinstance(data, list):
        return None
    out_entities = []
    for ent in data:
        if not isinstance(ent, dict):
            continue
        if condition and not any(c in ent for c in condition):
            continue
        if attrs:
            ent = {
                k: v for k, v in ent.items() if k in ("id", "type") or k in attrs
            }
        out_entities.append(ent)
    if not out_entities:
        return None
    doc["data"] = out_entities
    return json.dumps(doc)


class OrionHttpDataSource(DataSource):
    """``spark.readStream.format("orion_http").option("spool_dir", dir)``.

    Options: spool_dir (required), attrs, condition (P1 pushdown)."""

    @classmethod
    def name(cls) -> str:
        return "orion_http"

    def schema(self) -> StructType:
        return NOTIFICATION_ROW_SCHEMA

    def streamReader(self, schema: StructType) -> OrionHttpStreamReader:
        return OrionHttpStreamReader(schema, dict(self.options))


def register_orion_source(spark) -> None:
    """Register ``orion_http`` with the session.  The source's classes
    are pickled by value, so the Python workers that plan and read the
    stream need not import this package: a driver launched outside the
    repo root with no ``PYTHONPATH`` still reads the spool."""
    cloudpickle.register_pickle_by_value(sys.modules[__name__])
    spark.dataSource.register(OrionHttpDataSource)
