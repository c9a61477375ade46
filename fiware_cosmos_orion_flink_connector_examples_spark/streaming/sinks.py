"""Sinks: HTTP write-back (O10, the reference's ``OrionSink``) and
console (O11).

Reference semantics: each record carries (content, url, content_type,
method) — ``OrionSinkObject`` (Example2.scala:35-42); the sink POSTs /
PUTs / PATCHes content to url (`README.md:322-327`).  Delivery is
fire-and-forget there; we provide at-least-once via foreachBatch (a
retried batch re-sends — pair with PATCH upserts for idempotence,
SURVEY.md §7 'hard parts' #5).

Implementation: ``foreachBatch`` → ``foreachPartition`` → one new
stdlib ``urllib`` connection per row (no driver collect; N partitions
post in parallel, the Flink sink's parallelism knob ≙ partition count).
"""

from __future__ import annotations

import urllib.error
import urllib.request
from collections.abc import Iterator

from pyspark.sql import DataFrame


# Per-request timeout (s) and retries after the first attempt.
POST_TIMEOUT_S = 5.0
POST_RETRIES = 2


def post_partition(rows: Iterator) -> None:
    """Executor-side worker: POST each row's content to its url.
    Row contract: content, url, content_type, method columns.  Only a
    5xx, connection or timeout error is retried."""
    for row in rows:
        data = row["content"].encode("utf-8")
        req = urllib.request.Request(
            row["url"],
            data=data,
            method=row["method"],
            headers={"Content-Type": row["content_type"]},
        )
        for attempt in range(POST_RETRIES + 1):
            try:
                with urllib.request.urlopen(req, timeout=POST_TIMEOUT_S):
                    break
            except (urllib.error.URLError, ConnectionError, TimeoutError) as exc:
                if attempt == POST_RETRIES or getattr(exc, "code", 500) < 500:
                    raise


def http_sink_batch(batch_df: DataFrame, batch_id: int) -> None:
    """foreachBatch hook: fan the micro-batch out over its partitions."""
    batch_df.foreachPartition(post_partition)


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
    AND print, Example2.scala:42,45): one foreachBatch persists the
    micro-batch, then both consumers read the cached result — one
    source scan, two sinks, exactly the reference's fan-out."""

    def both(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.persist()
        try:
            batch_df.select("content").show(truncate=False)  # O12 projection
            batch_df.foreachPartition(post_partition)
        finally:
            batch_df.unpersist()

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
