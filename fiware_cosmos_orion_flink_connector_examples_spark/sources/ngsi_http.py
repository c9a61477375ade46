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
   checkpoint.  ``spark.readStream.format("orion_http")``.  It is a
   simple stream reader: the query's long-lived source runner on the
   driver reads each batch's lines and hands them to the JVM with the
   plan, so a micro-batch starts no Python worker task.  A Python
   worker task costs ~230 ms of CPU in its start-up alone, more than
   reading a second of notifications; the stream planned one read
   partition per batch anyway, so no read parallelism is lost.

Delivery: every accepted notification enters exactly one committed
micro-batch, and a batch replayed after a restart reads the same lines.
Through the HTTP sink (``streaming/sinks.py``, which POSTs from the
driver too) the reference path is at-least-once per micro-batch, with
one idempotent POST per (entity, window).

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

import datetime as dt
import json
import os
import sys
import threading
import time
from collections.abc import Iterator
from dataclasses import dataclass
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from pyspark import cloudpickle
from pyspark.sql.datasource import DataSource, SimpleDataSourceStreamReader
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


class OrionHttpStreamReader(SimpleDataSourceStreamReader):
    """Tails the spool from the long-lived Python source runner on the
    driver: ``read`` returns the rows after an offset together with the
    offset that ends them, and Spark ships those rows to the JVM as
    Arrow with the batch plan.  A micro-batch therefore starts no
    Python worker task, and one runner process serves the whole query;
    ``readBetweenOffsets`` replays a checkpointed batch after a
    restart."""

    def __init__(self, options: dict):
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
        return _SpoolOffset("", 0).to_dict()

    def read(self, start: dict) -> tuple[Iterator[tuple], dict]:
        rows, end = self._scan(_SpoolOffset.from_dict(start), None)
        return iter(rows), end.to_dict()

    def readBetweenOffsets(self, start: dict, end: dict) -> Iterator[tuple]:
        rows, _ = self._scan(_SpoolOffset.from_dict(start), _SpoolOffset.from_dict(end))
        return iter(rows)

    def commit(self, end: dict) -> None:
        pass  # spool retained; offset progress lives in the checkpoint

    def _spool_files(self) -> list[str]:
        try:
            return sorted(f for f in os.listdir(self.spool_dir) if f.endswith(".jsonl"))
        except FileNotFoundError:
            return []

    def _scan(
        self, start: _SpoolOffset, stop: _SpoolOffset | None
    ) -> tuple[list[tuple], _SpoolOffset]:
        """Rows of the spool lines after ``start``: up to ``stop`` when
        given, else at most ``max_batch_rows`` lines.  Only lines ending
        in a newline count — the receiver may be mid-write — so the
        scan halts at a partial line and the next read resumes there.
        Returns the rows and the offset just past the last line taken."""
        budget = self.max_batch_rows if stop is None else None
        rows: list[tuple] = []
        end = start
        for fname in self._spool_files():
            if fname < start.fname:
                continue
            if stop is not None and fname > stop.fname:
                break
            skip = start.line if fname == start.fname else 0
            last = stop.line if stop is not None and fname == stop.fname else None
            with open(os.path.join(self.spool_dir, fname), "rb") as f:
                for i, line in enumerate(f):
                    if i < skip:
                        continue
                    if i == last or budget == 0 or not line.endswith(b"\n"):
                        return rows, end
                    end = _SpoolOffset(fname, i + 1)
                    if budget is not None:
                        budget -= 1
                    row = self._row(line)
                    if row is not None:
                        rows.append(row)
        return rows, end

    def _row(self, line: bytes) -> tuple | None:
        """One spool line as a (payload, service, servicePath, ts) row,
        or None when the subscription pushdown drops it."""
        rec = json.loads(line)
        payload = rec["payload"]
        if self.attrs or self.condition:
            payload = _apply_subscription(payload, self.attrs, self.condition)
            if payload is None:
                return None
        ts = dt.datetime.fromtimestamp(rec["ts"], dt.timezone.utc).replace(tzinfo=None)
        return payload, rec.get("service", ""), rec.get("servicePath", ""), ts


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

    def simpleStreamReader(self, schema: StructType) -> OrionHttpStreamReader:
        return OrionHttpStreamReader(dict(self.options))


def register_orion_source(spark) -> None:
    """Register ``orion_http`` with the session.  The source's classes
    are pickled by value, so the Python workers that plan and read the
    stream need not import this package: a driver launched outside the
    repo root with no ``PYTHONPATH`` still reads the spool."""
    cloudpickle.register_pickle_by_value(sys.modules[__name__])
    spark.dataSource.register(OrionHttpDataSource)
