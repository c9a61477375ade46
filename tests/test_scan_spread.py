"""Scale-adaptive scan spread (tables._scan_spread, guide §2.5).

The driver's testdata ships each table as ONE parquet file with ONE row
group, so every scan plans as a single task and row-local heavy
projections serialize onto one core of local[N].  load_table adds one
round-robin exchange when (and only when) the file's byte-split count is
below the session's default parallelism — an input-derived decision that
never fires at production scale.  These tests pin:

  1. the spread fires for a large single-split file (one hash
     exchange on the table's unique key, width = defaultParallelism);
  2. filter/column pushdown still reaches the parquet scan through it;
  3. it does NOT fire when the scan already splits at least as wide as
     the session (maxPartitionBytes small enough);
  4. it does NOT fire below the size floor, and a floor of 0 disables it;
  5. results are identical with the spread on and off (row order aside).
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from fiware_cosmos_orion_flink_connector_examples_spark.sources import tables
from fiware_cosmos_orion_flink_connector_examples_spark.sources.tables import (
    load_table,
)

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


def test_spread_fires_and_pushdown_survives(spark, monkeypatch):
    monkeypatch.setattr(tables, "SPREAD_MIN_BYTES", 1)
    df = load_table(spark, SF, "lineitem", spread=True).filter(
        F.col("l_returnflag") == "R"
    ).select("l_orderkey", "l_extendedprice")
    plan = _plan(df)
    # known tables spread via hash on a SYNTHETIC xxhash64 key (no
    # round-robin sort-before-repartition cost; retry-deterministic by
    # content; never satisfies a downstream join's clustering)
    assert "Exchange" in plan and "xxhash64(l_orderkey" in plan
    # predicate and column pruning push THROUGH the repartition
    assert "l_returnflag,R" in plan.replace("(", "").replace(")", "") or (
        "EqualTo(l_returnflag,R)" in plan
    )
    read = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "l_shipdate" not in read
    # spread width follows the session, not a constant
    assert df.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism


def test_no_spread_when_scan_already_wide(spark, monkeypatch):
    monkeypatch.setattr(tables, "SPREAD_MIN_BYTES", 1)
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    # 4 KB splits: ceil(size/mpb) >= defaultParallelism → input-derived
    # condition says the scan is already wide; no exchange added.
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(4 * 1024))
    try:
        plan = _plan(load_table(spark, SF, "lineitem", spread=True))
        assert "Exchange" not in plan
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)


@pytest.mark.parametrize("floor", [0, 64 * 1024 * 1024])
def test_no_spread_below_floor_or_disabled(spark, monkeypatch, floor):
    monkeypatch.setattr(tables, "SPREAD_MIN_BYTES", floor)
    plan = _plan(load_table(spark, SF, "lineitem", spread=True))
    assert "Exchange" not in plan


def test_spread_is_opt_in_per_call_site(spark, monkeypatch):
    # Interleaved A/B showed the spread only pays where the consumer
    # does heavy row-local work before its first shuffle; the default
    # load is therefore unchanged (no exchange) even above the floor.
    monkeypatch.setattr(tables, "SPREAD_MIN_BYTES", 1)
    assert "Exchange" not in _plan(load_table(spark, SF, "lineitem"))


def test_results_identical_with_and_without_spread(spark, monkeypatch):
    monkeypatch.setattr(tables, "SPREAD_MIN_BYTES", 1)
    agg_on = (
        load_table(spark, SF, "orders", spread=True)
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n"),
            # cents-quantized sum: order-free under any partitioning,
            # matching how every registered query sums money
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("s"),
        )
        .orderBy("o_orderstatus")
        .collect()
    )
    monkeypatch.setattr(tables, "SPREAD_MIN_BYTES", 0)
    agg_off = (
        load_table(spark, SF, "orders", spread=True)
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n"),
            # cents-quantized sum: order-free under any partitioning,
            # matching how every registered query sums money
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("s"),
        )
        .orderBy("o_orderstatus")
        .collect()
    )
    assert agg_on == agg_off
