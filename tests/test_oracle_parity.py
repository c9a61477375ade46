"""Mirror of the driver's t2 gate: every registered query with an
oracle must hash-match DuckDB on the shared parquet tables.  Runs at
sf0.001 by default (fast); set PARITY_SF_DIR=/root/testdata/sf0.01 to
run at the driver's correctness scale."""

from __future__ import annotations

import os

import pytest

from fiware_cosmos_orion_flink_connector_examples_spark.plans.registry import QUERIES
from tests.oracle import compare, duckdb_connection

SF_DIR = os.environ.get("PARITY_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="module")
def con():
    c = duckdb_connection(SF_DIR)
    yield c
    c.close()


ORACLE_QUERIES = [name for name, spec in QUERIES.items() if spec.oracle is not None]
ROWS_ONLY_QUERIES = [name for name, spec in QUERIES.items() if spec.oracle is None]

# FAST tier (VERDICT r17 #1): the default driver-window run checks the
# rotation FRONT of the registry — the same computed window the
# driver's own CORRECTNESS artifact samples (changed / never-proven /
# least-recently-green first), so the queries most in need of a local
# proof always get one.  The long tail carries the `slow` marker and
# runs in the builder's full-coverage stamps
# (`-m "slow or not slow"`).  Rows-only queries all stay fast — this
# sweep is their only oracle-shaped gate.
# Queries fronted through CHANGED_LAST_ROUND come on top of the 64, so
# fronting a rewritten query never pushes another out of the default run.
from fiware_cosmos_orion_flink_connector_examples_spark.plans.registry import (
    CHANGED_LAST_ROUND,
    ordered_query_names,
)

_FAST_FRONT = set(ordered_query_names()[: 64 + len(CHANGED_LAST_ROUND)])


@pytest.mark.parametrize(
    "name",
    [
        pytest.param(
            n, marks=() if n in _FAST_FRONT else (pytest.mark.slow,)
        )
        for n in ORACLE_QUERIES
    ],
)
def test_oracle_parity(spark, con, name):
    spec = QUERIES[name]
    df = spec.fn(spark, SF_DIR)
    problems = compare(df, con, spec.oracle)
    assert not problems, f"{name}: " + "; ".join(problems)


@pytest.mark.parametrize("name", ROWS_ONLY_QUERIES)
def test_rows_only_runs(spark, name):
    df = QUERIES[name].fn(spark, SF_DIR)
    assert df.count() >= 0
    assert len(df.schema.fields) > 0
