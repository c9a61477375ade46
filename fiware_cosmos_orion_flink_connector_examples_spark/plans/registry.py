"""Query registry — the single source of truth behind __spark_entry__.py.

Every implemented operator from SURVEY.md §2 gets a named QuerySpec:
a PySpark callable ``(spark, sf_dir) -> DataFrame`` plus (where
SQL-expressible) a DuckDB oracle string over the same parquet tables.
Column names/aliases MUST match between the two — the driver sorts
columns by name and hashes values.

Conventions for cross-engine hash stability:
  * timestamps → epoch-second BIGINT (or ISO strings), never raw ts
  * sum/avg of doubles → ROUND(x, 4) on both sides (float summation
    order differs between engines; min/max/count stay exact)
  * every computed column explicitly aliased on both sides
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fiware_cosmos_orion_flink_connector_examples_spark.operators import ngsi
from fiware_cosmos_orion_flink_connector_examples_spark.operators.windows import (
    sliding_window_agg,
)
from fiware_cosmos_orion_flink_connector_examples_spark.sources.tables import load_table


@dataclass(frozen=True)
class QuerySpec:
    """One declared query: Spark impl + optional DuckDB oracle SQL."""

    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None = None
    doc: str = ""
    tags: tuple[str, ...] = field(default_factory=tuple)


QUERIES: dict[str, QuerySpec] = {}


def register(name: str, oracle: str | None = None, doc: str = "", tags: tuple[str, ...] = ()):
    def deco(fn):
        QUERIES[name] = QuerySpec(fn=fn, oracle=oracle, doc=doc or (fn.__doc__ or ""), tags=tags)
        return fn

    return deco


# The driver's CORRECTNESS artifact checks the FIRST 50 entries of
# queries() in dict order.  Rounds 3–4 hand-pinned the 50-window here,
# which twice let just-committed queries miss the round's check (VERDICT
# r4 #1 / ADVICE r4).  The rotation is now COMPUTED at export time from
# the committed CORRECTNESS_r*.json artifacts themselves:
#
#   1. CHANGED_LAST_ROUND — oracle-bearing queries physically rewritten
#      since their last driver proof (hand-declared; physical-change
#      detection can't be automated).  Rows-only (no_oracle) queries are
#      deliberately NOT fronted when changed: their driver row carries
#      only a row count, while their real check (pytest fixture/recall
#      equality) runs locally every commit — not worth displacing a
#      stale hash proof.
#   2. Never driver-checked — no passing row in ANY artifact, whether
#      registered in a prior round (the r4 gap this rotation exists to
#      close) or this one: a query ships WITH its driver proof, never a
#      round behind it (the exact defect VERDICT r4 #1 flagged twice).
#   3. Ascending last-green round (least-recently-proved first), ties by
#      registration order.
#
# Window arithmetic this round (r16): emptied at round start (r15's
# entries are artifact history now — CORRECTNESS_r15.json landed fully
# green: 45 hash-pass + 5 rows-only by design, 0 failures); repopulated
# below as round-16 rewrites of oracle-bearing queries land, plus the
# never-checked round-16 registrations + the least-recently-green
# r11/r12 tail (TPC-H Q8/Q12/Q13/Q15/Q17/Q19/Q21/Q22, the
# window-function family, the dedup family — expected per VERDICT r15
# #8).  Everything outside the window holds a recent proof, so no
# proof ages past ~3 rounds before rotation re-proves it.
CHANGED_LAST_ROUND: tuple[str, ...] = (
    # both serve from the shared search index fixture; the hybrid's
    # vector leg now serves from the one ANN index format
    "hybrid_rrf_served_topk",
    "phrase_index_served_equals",
)


def _round_history() -> dict[str, int]:
    """query name -> most recent round with a passing driver row.

    Reads the committed CORRECTNESS_r*.json artifacts at the repo root.
    A row passes if it hash-matched, or (for by-design rows-only
    queries) produced rows with err == "no_oracle".  Failed rows do not
    count — a query that failed its last window sorts as if never
    proved since its previous green round.
    """
    import json
    import re
    from pathlib import Path

    repo = Path(__file__).resolve().parents[2]
    hist: dict[str, int] = {}
    for p in sorted(repo.glob("CORRECTNESS_r*.json")):
        m = re.search(r"r(\d+)", p.stem)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            data = json.loads(p.read_text())
        except (OSError, ValueError):
            continue
        for name, row in data.items():
            ok = row.get("hash_match") is True or (
                row.get("err") == "no_oracle" and row.get("spark_rows") is not None
            )
            if ok:
                hist[name] = max(hist.get(name, 0), rnd)
    return hist


_ORDER_CACHE: list[str] | None = None


def ordered_query_names() -> list[str]:
    """All registered query names, driver-window rotation first."""
    global _ORDER_CACHE
    if _ORDER_CACHE is not None:
        return _ORDER_CACHE
    names = list(QUERIES)
    idx = {n: i for i, n in enumerate(names)}
    hist = _round_history()
    front = [n for n in CHANGED_LAST_ROUND if n in QUERIES]
    in_front = set(front)

    def key(n: str) -> tuple[int, int, int]:
        if n not in hist:
            return (0, 0, idx[n])  # never driver-checked: first
        return (1, hist[n], idx[n])  # least-recently-green first

    rest = sorted((n for n in names if n not in in_front), key=key)
    _ORDER_CACHE = front + rest
    return _ORDER_CACHE


def query_map() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: QUERIES[name].fn for name in ordered_query_names()}


def oracle_sql_map() -> dict[str, str]:
    return {
        name: QUERIES[name].oracle
        for name in ordered_query_names()
        if QUERIES[name].oracle is not None
    }


# Plan modules that register queries on import; loaded at the bottom of
# this module (circular-import safe: by then `register` is defined).
_PLAN_MODULES = ("relational", "extensions")


def _load_plan_modules() -> None:
    import importlib

    for mod in _PLAN_MODULES:
        importlib.import_module(
            f"fiware_cosmos_orion_flink_connector_examples_spark.plans.{mod}"
        )


# ---------------------------------------------------------------------------
# Reference-surface queries (SURVEY.md §2.1) on the events table —
# events is the batch twin of the NGSI stream (FIXTURES.md §B):
# user_id ≙ entity id, value ≙ temperature, ts ≙ notification time.
# ---------------------------------------------------------------------------

# DuckDB replica of Spark's epoch-aligned sliding window expansion
# (size 5 s, slide 2 s ⇒ each row in ceil(5/2)=3 windows), in exact
# integer microsecond arithmetic: for k in 0..2,
#   ws_us = floor(epoch_us/2e6)*2e6 - k*2e6, keep if ws_us + 5e6 > epoch_us.
_WINDOW_EXPANSION = """
    SELECT ((epoch_us(ts) // 2000000) * 2000000 - s.k * 2000000) AS ws_us, e.*
    FROM events e CROSS JOIN (VALUES (0), (1), (2)) s(k)
    WHERE ((epoch_us(ts) // 2000000) * 2000000 - s.k * 2000000) + 5000000 > epoch_us(ts)
"""


@register(
    "ngsi_window_min",
    oracle=f"""
    SELECT (ws_us // 1000000) AS window_start, user_id, min(value) AS min_value
    FROM ({_WINDOW_EXPANSION})
    GROUP BY 1, 2
    """,
    doc="Example1 semantics: keyed 5s/2s sliding-window min "
    "(Example1.scala:26-28) mapped onto events(user_id, ts, value).",
    tags=("reference", "window", "O4", "O5", "O6"),
)
def ngsi_window_min(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return sliding_window_agg(
        ev, "ts", ["user_id"], [F.min("value").alias("min_value")]
    )


@register(
    "ngsi_window_avg",
    oracle=f"""
    SELECT (ws_us // 1000000) AS window_start, user_id,
           round(avg(value), 4) AS avg_value, count(*) AS n_events
    FROM ({_WINDOW_EXPANSION})
    GROUP BY 1, 2
    """,
    doc="Example4 semantics: the custom incremental AverageAggregate "
    "(accumulator=(sum,count), add/merge/getResult, Example4.scala:39-49) "
    "is exactly Spark's partial+final avg; built-in F.avg.",
    tags=("reference", "window", "O7"),
)
def ngsi_window_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return sliding_window_agg(
        ev,
        "ts",
        ["user_id"],
        [
            F.round(F.avg("value"), 4).alias("avg_value"),
            F.count(F.lit(1)).alias("n_events"),
        ],
    )


@register(
    "ngsi_parse_project",
    oracle="""
    SELECT CAST(user_id AS VARCHAR) AS id, count(*) AS n_obs,
           min(value) AS min_value, max(value) AS max_value
    FROM events GROUP BY 1
    """,
    doc="O1-O3 parse path: synthesize each event as a full NGSI-v2 "
    "notification payload, run parse_notifications → flatten_entities → "
    "attr_value cast-on-read (Example1.scala:21-25), aggregate per entity. "
    "The oracle computes directly on events — parse must be a faithful "
    "roundtrip (identity) for the hashes to match.  Parses with the P1 "
    "attrs-projection pushdown (pruned struct schema, not the full attrs "
    "MAP): 2.37 s → 1.05 s at sf0.1, same hash (VERDICT r2 #5).",
    tags=("reference", "ngsi", "O1", "O2", "O3", "P1"),
)
def ngsi_parse_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events", spread=True)
    payload = F.concat(
        F.lit('{"data":[{"id":"'),
        F.col("user_id").cast("string"),
        F.lit('","type":"Node","temperature":{"type":"Float","value":'),
        F.col("value").cast("string"),
        F.lit(',"metadata":{}}}],"subscriptionId":"sub1"}'),
    )
    raw = ev.select(payload.alias("payload"))
    nodes = ngsi.project_temp_nodes(
        ngsi.flatten_entities(
            ngsi.parse_notifications(raw, ts_col=None, attrs=["temperature"])
        )
    )
    return nodes.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_obs"),
        F.min("temperature").alias("min_value"),
        F.max("temperature").alias("max_value"),
    )


@register(
    "ngsi_json_props",
    oracle="""
    SELECT CAST(json_extract_string(props, '$.k') AS INTEGER) AS k,
           count(*) AS n, round(sum(value), 4) AS sum_value
    FROM events GROUP BY 1
    """,
    doc="O13 nested/JSON navigation (Example5.scala:21-24) on the "
    "events.props dynamic column: get_json_object cast-on-read, then agg.",
    tags=("reference", "json", "O13"),
)
def ngsi_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.select(
            # try_cast: malformed props must null out, not throw (ANSI)
            F.get_json_object("props", "$.k").try_cast("int").alias("k"),
            "value",
        )
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 4).alias("sum_value"))
    )


@register(
    "ngsi_sink_envelope",
    oracle="""
    WITH mins AS (
      SELECT user_id, min(value) AS min_value FROM events GROUP BY 1
    )
    SELECT '{"value_min": { "value":' || CAST(min_value AS VARCHAR) || ', "type": "Float"}}' AS content,
           'http://localhost:1026/v2/entities/' || CAST(user_id AS VARCHAR) || '/attrs' AS url
    FROM mins
    """,
    doc="O8+O9 sink serialization: per-key min → hand-built NGSI update "
    "JSON (byte-compatible with Example2.scala:49-51) + per-record URL "
    "(Example2.scala:35-38).",
    tags=("reference", "sink", "O8", "O9"),
)
def ngsi_sink_envelope(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    mins = ev.groupBy("user_id").agg(F.min("value").alias("min_value"))
    return mins.select(
        ngsi.to_ngsi_update_json(F.col("min_value"), "value_min", "Float").alias("content"),
        ngsi.entity_update_url(
            "http://localhost:1026/v2/entities/", F.col("user_id").cast("string")
        ).alias("url"),
    )


_load_plan_modules()
