"""Phase profiler for a registered query: splits wall-clock into
(a) DataFrame construction (Python-side plan build, incl. any eager
collects/actions the query fn itself runs), (b) analysis+optimization+
physical planning (explain cost), and (c) noop execution — then counts
the Spark jobs the run submitted.  Each query runs twice: cold (fixture
and model caches empty) and warm (the serve surface); the warm run also
lists every job with its stage count and callsite — clock-free evidence
for fusing per-run probe/metadata jobs (guide §1 / §5 / §7.3).

Usage: python tools/profile_query.py q1 q2 ...  (env: SPARK_GRAFT_SF_DIR)
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

_REPO = str(Path(__file__).resolve().parents[1])
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from fiware_cosmos_orion_flink_connector_examples_spark.plans.registry import QUERIES
from fiware_cosmos_orion_flink_connector_examples_spark.session import get_spark


def _run(spark, sf_dir: str, name: str) -> tuple[dict, list[int]]:
    tracker = spark.sparkContext._jsc.sc().statusTracker()
    # job ids are global and monotonically increasing
    before = set(tracker.getJobIdsForGroup(None))
    t0 = time.perf_counter()
    df = QUERIES[name].fn(spark, sf_dir)
    t1 = time.perf_counter()
    df._jdf.queryExecution().executedPlan()  # analysis+opt+planning
    t2 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    t3 = time.perf_counter()
    new = sorted(j for j in tracker.getJobIdsForGroup(None) if j not in before)
    spark.catalog.clearCache()
    return {
        "build_s": round(t1 - t0, 3),
        "plan_s": round(t2 - t1, 3),
        "exec_s": round(t3 - t2, 3),
        "total_s": round(t3 - t0, 3),
        "jobs": len(new),
    }, new


def _print_jobs(spark, jobs: list[int]) -> None:
    tracker = spark.sparkContext._jsc.sc().statusTracker()
    for j in jobs:
        info = tracker.getJobInfo(j)
        if info.isEmpty():
            print(f"  job {j}: <gone>")
            continue
        stages = list(info.get().stageIds())
        # callsite comes from the first stage's details
        site = ""
        if stages:
            si = tracker.getStageInfo(stages[0])
            if not si.isEmpty():
                site = si.get().name()
        print(f"  job {j}: {len(stages)} stages | {site}", flush=True)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    names = sys.argv[1:]
    spark = get_spark(app_name="profile-query")
    spark.sparkContext.setLogLevel("ERROR")
    for warm in ("ngsi_window_min", "custom_udaf_geomean"):
        try:
            QUERIES[warm].fn(spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
        except Exception:
            pass
    out = {}
    for name in names:
        out[name] = {}
        for phase in ("cold", "warm"):
            out[name][phase], jobs = _run(spark, sf_dir, name)
            print(json.dumps({name: {phase: out[name][phase]}}), flush=True)
        _print_jobs(spark, jobs)  # the warm run's jobs
    print(json.dumps(out), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
