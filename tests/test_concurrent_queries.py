"""Multi-query concurrent scheduling (VERDICT r1 #8): the five example
pipelines run as CONCURRENT streaming queries in ONE SparkSession —
the reference runs each Flink job separately; Spark's scheduler
multiplexes them — and they must stay isolated: independent progress,
independent state/checkpoints, and stopping one must not disturb the
rest.
"""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from fiware_cosmos_orion_flink_connector_examples_spark.sources.ngsi_http import (
    register_orion_source,
)
from fiware_cosmos_orion_flink_connector_examples_spark.streaming import jobs
from fiware_cosmos_orion_flink_connector_examples_spark.operators.ngsi import (
    attr_value,
    entity_id,
    flatten_entities,
    parse_notifications,
    project_temp_nodes,
)
from tests.fixtures import flat_sequence


def _spool_write(spool_dir, rows, name):
    spool_dir.mkdir(exist_ok=True)
    with open(spool_dir / name, "w") as f:
        for ts, payload, *_ in rows:
            f.write(
                json.dumps(
                    {
                        "payload": payload,
                        "service": "demo",
                        "servicePath": "/test",
                        "ts": ts.replace(
                            tzinfo=__import__("datetime").timezone.utc
                        ).timestamp(),
                    }
                )
                + "\n"
            )


def _start(df, name, tmp_path, mode="update"):
    return (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .option("checkpointLocation", str(tmp_path / f"ckpt_{name}"))
        .trigger(processingTime="500 milliseconds")
        .start()
    )


def test_five_concurrent_queries_progress_and_isolate(spark, tmp_path):
    spool = tmp_path / "spool"
    rows = flat_sequence(18)  # one time-ordered sequence, fed in two parts
    _spool_write(spool, rows[:12], "000.jsonl")
    register_orion_source(spark)
    stream = spark.readStream.format("orion_http").option("spool_dir", str(spool)).load()

    nodes = project_temp_nodes(flatten_entities(parse_notifications(stream)))
    q_min = _start(jobs.streaming_window_min(stream), "cc_min", tmp_path)
    q_avg = _start(jobs.streaming_window_avg(stream), "cc_avg", tmp_path)
    q_dedup = _start(jobs.streaming_dedup(stream, ["payload"]), "cc_dedup", tmp_path, mode="append")
    q_attrs = _start(
        flatten_entities(parse_notifications(stream)).select(
            entity_id().alias("id"),
            attr_value("entity", "pressure").alias("pressure"),
        ),
        "cc_attrs",
        tmp_path,
        mode="append",
    )
    q_nodes = _start(nodes.select("id", "temperature"), "cc_nodes", tmp_path, mode="append")
    queries = [q_min, q_avg, q_dedup, q_attrs, q_nodes]
    try:
        for q in queries:
            q.processAllAvailable()
        # distinct runIds: five independent query lifecycles in one session
        assert len({q.id for q in queries}) == 5
        counts = {
            n: spark.sql(f"select count(*) c from {n}").first().c
            for n in ["cc_min", "cc_avg", "cc_dedup", "cc_attrs", "cc_nodes"]
        }
        assert all(c > 0 for c in counts.values()), counts
        # every query reports its own progress (scheduler gave each a turn)
        assert all(q.recentProgress for q in queries)

        # isolation: stop ONE query, feed more data — the others advance
        stopped_rows = counts["cc_dedup"]
        q_dedup.stop()
        _spool_write(spool, rows[12:], "001.jsonl")
        for q in [q_min, q_avg, q_attrs, q_nodes]:
            q.processAllAvailable()
        after = {
            n: spark.sql(f"select count(*) c from {n}").first().c
            for n in ["cc_min", "cc_avg", "cc_attrs", "cc_nodes"]
        }
        assert after["cc_attrs"] > counts["cc_attrs"]
        assert after["cc_nodes"] > counts["cc_nodes"]
        assert after["cc_min"] >= counts["cc_min"]
        # the stopped query's sink did not move
        assert spark.sql("select count(*) c from cc_dedup").first().c == stopped_rows
        assert all(q.isActive for q in [q_min, q_avg, q_attrs, q_nodes])
        assert not q_dedup.isActive
    finally:
        for q in queries:
            if q.isActive:
                q.stop()
