"""Generic interleaved A/B over an ENV toggle read per call.

Arms alternate INSIDE one session per repeat (the box-noise
discipline): arm "off" sets $AB_ENV=$AB_OFF, arm "on" sets
$AB_ENV=$AB_ON (default: off="0", on="1").  Use for any optimization
gated on an env var that the code reads per call
(SPARK_GRAFT_SCAN_SPREAD_MIN_BYTES, ...).

Usage: AB_ENV=SPARK_GRAFT_SCAN_SPREAD_MIN_BYTES AB_ON=262144 python tools/ab_env.py q1 q2
Env: SPARK_GRAFT_SF_DIR, AB_REPEATS (default 3), AB_ENV, AB_OFF, AB_ON.
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


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    repeats = int(os.environ.get("AB_REPEATS", "3"))
    env = os.environ["AB_ENV"]
    vals = {"off": os.environ.get("AB_OFF", "0"), "on": os.environ.get("AB_ON", "1")}
    names = sys.argv[1:]
    spark = get_spark(app_name="ab-env")
    spark.sparkContext.setLogLevel("ERROR")
    for warm in ("ngsi_window_min", "custom_udaf_geomean"):
        try:
            QUERIES[warm].fn(spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
        except Exception:
            pass
    runs: dict[str, dict[str, list[float]]] = {
        n: {"off": [], "on": []} for n in names
    }
    try:
        for _ in range(repeats):
            for arm in ("off", "on"):
                os.environ[env] = vals[arm]
                for name in names:
                    t0 = time.perf_counter()
                    QUERIES[name].fn(spark, sf_dir).write.format("noop").mode(
                        "overwrite"
                    ).save()
                    runs[name][arm].append(round(time.perf_counter() - t0, 3))
                    spark.catalog.clearCache()
    finally:
        os.environ.pop(env, None)
    print(
        json.dumps(
            {
                "env": env,
                "mins": {
                    n: {"off": min(v["off"]), "on": min(v["on"])}
                    for n, v in runs.items()
                },
                "runs": runs,
            }
        ),
        flush=True,
    )
    spark.stop()


if __name__ == "__main__":
    main()
