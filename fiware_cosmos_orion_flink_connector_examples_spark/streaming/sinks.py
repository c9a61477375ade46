"""Sinks: HTTP write-back (O10, the reference's ``OrionSink``) and
console (O11).

Reference semantics: each record carries (content, url, content_type,
method) — ``OrionSinkObject`` (Example2.scala:35-42); the sink POSTs /
PUTs / PATCHes content to url (`README.md:322-327`).

Implementation: ``foreachBatch`` collects the micro-batch once and the
driver sends it.  A micro-batch of the reference stream holds at most
one envelope per (entity, window) — a few hundred small rows — so
sending from executors bought no throughput: it cost one Python worker
task per partition, each spending ~230 ms of CPU on start-up alone,
and the partitions raced each other to the broker.  From the driver,
envelopes are grouped by url and sent in ``window_end`` order when the
envelope carries that column, so the broker's last write for an entity
is its newest window's value, as the Flink sink's one-subtask-per-key
pane order gives; an envelope equal to the previous one sent to its url
is skipped, and one connection per host serves the whole batch.

Delivery guarantee: at-least-once per micro-batch, with one
idempotent POST per (entity, window).  A batch is sent before Spark
commits it, so a batch that failed, or was cut short by a stop, is sent
again in full on restart; each POST overwrites the entity's attribute
with its window's value, so a resend leaves the broker as it was.
"""

from __future__ import annotations

import http.client
from urllib.parse import urlsplit

from pyspark.sql import DataFrame, Row


# Per-request timeout (s) and retries after the first attempt.
POST_TIMEOUT_S = 5.0
POST_RETRIES = 2


class SinkPostError(Exception):
    """The broker refused an envelope (4xx) or kept failing it (5xx)."""

    def __init__(self, method: str, url: str, status: int):
        super().__init__(f"{method} {url}: HTTP {status}")
        self.status = status


def collect_envelopes(batch_df: DataFrame) -> list[Row]:
    """The micro-batch's envelopes in one ``collect()``, in ``window_end``
    order when the envelopes carry that column."""
    rows = batch_df.collect()
    if "window_end" in batch_df.columns:
        rows.sort(key=lambda r: r["window_end"])
    return rows


def post_envelopes(rows: list[Row]) -> int:
    """Send each envelope's content to its url with its method, per url
    in the order given, skipping an envelope equal to the previous one
    sent to the same url.  Returns the number of requests sent.  Only a
    5xx, connection or timeout error is retried; a 4xx is raised after
    one attempt."""
    by_url: dict[str, list[Row]] = {}
    for r in rows:
        by_url.setdefault(r["url"], []).append(r)
    conns: dict[tuple[str, str], http.client.HTTPConnection] = {}
    sent = 0
    try:
        for url, envelopes in by_url.items():
            prev = None
            for r in envelopes:
                key = (r["content"], r["method"], r["content_type"])
                if key != prev:
                    _send(conns, url, r)
                    sent += 1
                prev = key
    finally:
        for conn in conns.values():
            conn.close()
    return sent


def _send(conns: dict, url: str, row: Row) -> None:
    parts = urlsplit(url)
    target = (parts.path or "/") + (f"?{parts.query}" if parts.query else "")
    host = (parts.scheme, parts.netloc)
    for attempt in range(POST_RETRIES + 1):
        conn = conns.get(host)
        if conn is None:
            cls = http.client.HTTPSConnection if parts.scheme == "https" else http.client.HTTPConnection
            conn = conns[host] = cls(parts.netloc, timeout=POST_TIMEOUT_S)
        try:
            conn.request(
                row["method"],
                target,
                body=row["content"].encode("utf-8"),
                headers={"Content-Type": row["content_type"]},
            )
            resp = conn.getresponse()
            resp.read()
        except (OSError, http.client.HTTPException) as exc:  # connection or timeout
            conn.close()
            del conns[host]
            error: Exception = exc
        else:
            if resp.status < 400:
                return
            error = SinkPostError(row["method"], url, resp.status)
            if resp.status < 500:
                raise error
        if attempt == POST_RETRIES:
            raise error


def http_sink_batch(batch_df: DataFrame, batch_id: int) -> None:
    """foreachBatch hook: send the micro-batch from the driver."""
    post_envelopes(collect_envelopes(batch_df))


def write_http(df: DataFrame, checkpoint_dir: str, trigger_secs: float | None = None):
    """Attach the HTTP sink to a streaming DataFrame of sink envelopes.
    ``trigger_secs`` is the P2 throttling analog (Orion subscription
    ``throttling: 5`` ≙ ProcessingTime trigger).

    Every sink here runs in ``update`` output mode: it re-POSTs a
    (key, window) row whenever a micro-batch changes it — the closest
    match to Flink's per-pane emission (Example1.scala:27-28); with
    ``append`` a windowed agg would only reach the broker after the
    watermark closes the window."""
    w = (
        df.writeStream.foreachBatch(http_sink_batch)
        .outputMode("update")
        .option("checkpointLocation", checkpoint_dir)
    )
    if trigger_secs:
        w = w.trigger(processingTime=f"{int(trigger_secs)} seconds")
    return w.start()


def write_http_and_console(df: DataFrame, checkpoint_dir: str):
    """Example2's multi-consumer DAG (the same stream feeds OrionSink
    AND print, Example2.scala:42,45): both consumers read the one
    collected micro-batch — one source scan, two sinks."""

    def both(batch_df: DataFrame, batch_id: int) -> None:
        rows = collect_envelopes(batch_df)
        bar = "-" * 43
        print(f"{bar}\nBatch: {batch_id}\n{bar}", *(r["content"] for r in rows), sep="\n", flush=True)
        post_envelopes(rows)

    return (
        df.writeStream.foreachBatch(both)
        .outputMode("update")
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def write_console(df: DataFrame):
    """O11: console sink, coalesced to one writer so output interleaves
    deterministically (the reference's ``.print().setParallelism(1)``)."""
    return df.coalesce(1).writeStream.outputMode("update").format("console").start()
