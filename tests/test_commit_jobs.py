"""Spark jobs per snapshot-log commit, counted without a clock: a keyed
write, a one-row merge and the incremental view sync of that merge
each run no more Spark jobs than the bounds below.  Job counts come
from a job group and ``statusTracker``, so the guard does not depend on
how busy the machine is."""

from __future__ import annotations

import uuid

from fiware_cosmos_orion_flink_connector_examples_spark.operators import ivm
from fiware_cosmos_orion_flink_connector_examples_spark.sources import layout

# The jobs each operation runs in this test's session: a rise means a
# commit path grew a Spark job.
MAX_JOBS = {"write_keyed": 2, "merge": 16, "view_sync": 25}


def _jobs(spark, fn) -> int:
    sc = spark.sparkContext
    group = f"commit-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_commit_jobs_do_not_rise(spark, tmp_path):
    src, view = str(tmp_path / "src"), str(tmp_path / "view")
    rows = spark.createDataFrame(
        [(i, "abcd"[i % 4], i) for i in range(20)], "k long, g string, x long"
    )
    got = {
        "write_keyed": _jobs(
            spark, lambda: layout.snapshot_write_keyed(spark, rows, src, "k", n_buckets=4)
        )
    }
    ivm.agg_view_create(spark, src, view, ["g"], ["x"], n_buckets=2)
    one = spark.createDataFrame([(3, "z", 99)], "k long, g string, x long")
    got["merge"] = _jobs(spark, lambda: layout.snapshot_merge(spark, src, one, "k"))
    got["view_sync"] = _jobs(
        spark, lambda: ivm.agg_view_sync(spark, src, view, ["g"], ["x"])
    )
    print("commit jobs:", got)
    assert {k: got[k] <= MAX_JOBS[k] for k in MAX_JOBS} == dict.fromkeys(
        MAX_JOBS, True
    ), got
