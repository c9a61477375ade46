"""Golden tests: the reference jobs (``streaming/jobs.py``) on
deterministic NGSI fixtures as batch DataFrames, compared against an
independent plain-Python oracle (FIXTURES.md 'Golden-test recipe')."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from fiware_cosmos_orion_flink_connector_examples_spark.operators import ngsi
from fiware_cosmos_orion_flink_connector_examples_spark.streaming import jobs
from tests.fixtures import (
    bus_sequence,
    expected_sliding_windows,
    flat_payload,
    flat_sequence,
)


def _by_window(df, key, value):
    """{(window_start epoch seconds, key): value} of a windowed job."""
    rows = df.select(F.col("window_start").cast("long").alias("ws"), key, value).collect()
    return {(r.ws, r[key]): r[value] for r in rows}


@pytest.fixture(scope="module")
def flat_df(spark):
    rows = [(ts, payload) for ts, payload, _ in flat_sequence()]
    return spark.createDataFrame(rows, "ts timestamp, payload string")


@pytest.fixture(scope="module")
def bus_df(spark):
    rows = [(ts, payload) for ts, payload, _, _ in bus_sequence()]
    return spark.createDataFrame(rows, "ts timestamp, payload string")


def test_parse_and_flatten(spark, flat_df):
    ents = ngsi.flatten_entities(ngsi.parse_notifications(flat_df))
    rows = ents.select(
        ngsi.entity_id("entity").alias("id"),
        ngsi.entity_type("entity").alias("etype"),
        ngsi.attr_value("entity", "temperature").alias("temp"),
        ngsi.attr_value("entity", "humidity").alias("hum"),
    ).collect()
    assert len(rows) == 30
    assert all(r.id == "R1" and r.etype == "Node" for r in rows)
    assert all(r.hum == 40.0 for r in rows)
    expected_temps = [t for _, _, t in flat_sequence()]
    assert [r.temp for r in rows] == expected_temps


def test_missing_attribute_policy(spark):
    """Reference throws NoSuchElementException on a missing attr
    (Example1.scala:23); our documented policy is null-and-filter."""
    df = spark.createDataFrame([(flat_payload(20.0, 1.0),)], "payload string")
    ents = ngsi.flatten_entities(ngsi.parse_notifications(df))
    vals = ents.select(ngsi.attr_value("entity", "nope").alias("v")).collect()
    assert vals[0].v is None
    # one record lands in 2 or 3 overlapping 5s/2s windows depending on
    # where its timestamp falls within the slide (t mod 2 < 1 → 3 else 2)
    assert jobs.streaming_window_min(df.withColumn("ts", F.current_timestamp())).count() in (2, 3)


def test_example1_golden(spark, flat_df):
    got = _by_window(jobs.streaming_window_min(flat_df), "id", "temperature_min")
    exp = {
        k: min(vs)
        for k, vs in expected_sliding_windows(
            [(ts, "R1", t) for ts, _, t in flat_sequence()]
        ).items()
    }
    assert got == exp


def test_example4_golden(spark, flat_df):
    got = _by_window(jobs.streaming_window_avg(flat_df), "id", "temperature_avg")
    exp = {
        k: sum(vs) / len(vs)
        for k, vs in expected_sliding_windows(
            [(ts, "R1", t) for ts, _, t in flat_sequence()]
        ).items()
    }
    assert set(got) == set(exp)
    assert all(abs(got[k] - exp[k]) < 1e-9 for k in exp)


def test_example5_golden(spark, bus_df):
    got = _by_window(jobs.streaming_window_bus_min(bus_df), "name", "price_min")
    rows = []
    for ts, _, p1, p2 in bus_sequence():
        rows.append((ts, "BusCompany1", p1))
        rows.append((ts, "BusCompany2", p2))
    exp = {k: min(vs) for k, vs in expected_sliding_windows(rows).items()}
    assert got == exp


def test_example2_sink_envelope(spark, flat_df):
    mins = jobs.streaming_window_min(flat_df)
    out = jobs.sink_envelopes(mins, "http://localhost:1026/v2/entities/").collect()
    assert all(r.url.startswith("http://localhost:1026/v2/entities/R1/attrs") for r in out)
    assert all(r.method == "POST" and r.content_type == "application/json" for r in out)
    # content byte-compatible with Example2.scala:50's hand-built string
    one = out[0].content
    assert one.startswith('{"temperature_min": { "value":') and one.endswith(', "type": "Float"}}')
    parsed = json.loads(one)
    assert parsed["temperature_min"]["type"] == "Float"


def test_example5_schedule_arrays(spark, bus_df):
    """Array-of-int navigation (schedule.morning: [7,9,11],
    curl_Notification.sh:24-26)."""
    buses = ngsi.explode_buses(ngsi.flatten_entities(ngsi.parse_notifications(bus_df)))
    r = buses.filter(F.col("name") == "BusCompany1").select("schedule.morning").first()
    assert r.morning == [7, 9, 11]


def test_parse_fuzz_roundtrip(spark):
    """Hypothesis-style fuzz (fixed seed): arbitrary attribute values —
    unicode strings, nested objects, numbers, nulls, arrays — survive
    the parse layer; numeric values cast-on-read exactly, non-numerics
    null out (the documented policy)."""
    import random

    rng = random.Random(99)
    payloads, expected = [], []
    for i in range(60):
        kind = rng.choice(["num", "str", "obj", "arr", "null"])
        if kind == "num":
            v = round(rng.uniform(-1e4, 1e4), 3)
            expected.append(v)
        elif kind == "str":
            v = rng.choice(["héllo wörld", "日本語", "", "'; DROP TABLE--", "\\\" quo\\\"te"])
            expected.append(None)
        elif kind == "obj":
            v = {"nested": {"deep": [1, 2, {"k": "v"}]}}
            expected.append(None)
        elif kind == "arr":
            v = [rng.random() for _ in range(3)]
            expected.append(None)
        else:
            v = None
            expected.append(None)
        entity = {"id": f"E{i}", "type": "Node", "attr": {"type": "Any", "value": v, "metadata": {}}}
        payloads.append(json.dumps({"data": [entity], "subscriptionId": "s"}, ensure_ascii=False))
    df = spark.createDataFrame([(p,) for p in payloads], "payload string")
    ents = ngsi.flatten_entities(ngsi.parse_notifications(df, ts_col=None))
    rows = ents.select(
        ngsi.entity_id("entity").alias("id"),
        ngsi.attr_value("entity", "attr").alias("v"),
    ).collect()
    assert len(rows) == 60
    got = {r.id: r.v for r in rows}
    for i, exp in enumerate(expected):
        if exp is None:
            assert got[f"E{i}"] is None, (i, got[f"E{i}"])
        else:
            assert abs(got[f"E{i}"] - exp) < 1e-9, (i, got[f"E{i}"], exp)


def test_pruned_parse_matches_map_parse(spark):
    """P1 pushdown (pruned struct schema) must project the same
    Temp_Node rows as the dynamic-MAP parse on the same payloads."""
    payloads = [
        ('{"data":[{"id":"R1","type":"Node",'
         '"temperature":{"type":"Float","value":21.5,"metadata":{}},'
         '"pressure":{"type":"Float","value":720,"metadata":{}}}],'
         '"subscriptionId":"s1"}',),
        ('{"data":[{"id":"R2","type":"Node",'
         '"pressure":{"type":"Float","value":700,"metadata":{}}}],'
         '"subscriptionId":"s1"}',),  # no temperature -> dropped by both
    ]
    raw = spark.createDataFrame(payloads, "payload string")
    full = ngsi.project_temp_nodes(
        ngsi.flatten_entities(ngsi.parse_notifications(raw, ts_col=None))
    )
    pruned = ngsi.project_temp_nodes(
        ngsi.flatten_entities(
            ngsi.parse_notifications(raw, ts_col=None, attrs=["temperature"])
        )
    )
    assert sorted(map(tuple, full.select("id", "temperature").collect())) == sorted(
        map(tuple, pruned.select("id", "temperature").collect())
    ) == [("R1", 21.5)]
