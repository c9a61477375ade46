"""Benchmark loop (driver contract): run headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS]; print the full per-query JSON record, then
a tiny totals-only {"metric": ..., "value": N, "n_failed": ...} record
LAST (the driver's bounded tail capture parses the final line).

Each query is fully materialized executor-side via the noop sink (no
driver collect — measures the distributed plan, not row transfer).

Usage: python bench.py [q1 q2 ...] — named queries time only those and
never write the BENCH_local.json sidecar.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

_REPO = str(Path(__file__).resolve().parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from fiware_cosmos_orion_flink_connector_examples_spark.plans.registry import QUERIES
from fiware_cosmos_orion_flink_connector_examples_spark.session import get_spark


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").split("sf")[-1]
    subset = sys.argv[1:]
    selected = {n: QUERIES[n] for n in subset} if subset else QUERIES
    spark = get_spark(app_name="bench")
    spark.sparkContext.setLogLevel("ERROR")

    timings: dict[str, float] = {}
    failures: dict[str, str] = {}
    # warm the JVM codegen AND the Python/Arrow worker pool before timing.
    # A warmup crash must not kill the run — the real loop re-raises
    # per-query and records the failure instead.
    for warm in ("ngsi_window_min", "custom_udaf_geomean"):
        try:
            QUERIES[warm].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        except Exception:
            pass

    repeats = int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "2"))
    for name, spec in selected.items():
        best = float("inf")
        try:
            for _ in range(repeats):  # min-of-N damps JIT/GC noise
                t0 = time.perf_counter()
                spec.fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
                best = min(best, time.perf_counter() - t0)
            timings[name] = round(best, 3)
        except Exception as exc:  # one broken query must not zero the artifact
            failures[name] = f"{type(exc).__name__}: {exc}"[:200]
            print(f"bench: {name} FAILED: {failures[name]}", file=sys.stderr)
        # operators that persist intermediates leave orphaned cache
        # entries behind once their plan object is dropped — clear so 68
        # queries × N repeats don't accumulate dead cached partitions
        spark.catalog.clearCache()

    total = round(sum(timings.values()), 3)
    # Key order matters: the driver's bounded TAIL capture of this line
    # truncated the HEAD in rounds 2 and 4 (parsed: null) — so the big
    # per-query map goes first and the headline totals go LAST, where the
    # tail capture is guaranteed to keep them (VERDICT r4 #1).
    result = {
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "unit": "sec",
    }
    if failures:
        result["failed"] = failures
        result["partial_total"] = total
    # Headline keys LAST so even a truncated-head capture keeps them.
    # A partial-suite sum must not be mistaken for a full-suite total
    # (ADVICE r4): on any failure the headline value is null and
    # n_failed says why; surviving timings stay in "queries".
    result["metric"] = "total_query_wall_clock"
    result["n_failed"] = len(failures)
    result["value"] = None if failures else total
    # Full artifact to a sidecar file too: the driver's bounded tail
    # capture truncated the single JSON line in round 2 (parsed: null),
    # so a durable on-disk copy guarantees the numbers survive.
    # Full sf0.1 suite ONLY: the sidecar is the driver/quiet-box record;
    # sf0.01 verify-loop and subset runs must not clobber it (it is
    # gitignored, so a clobbered record is unrecoverable).
    if not subset and isinstance(result["sf"], float) and abs(result["sf"] - 0.1) < 1e-9:
        try:
            Path(_REPO, "BENCH_local.json").write_text(
                json.dumps(result) + "\n"
            )
        except OSError:
            pass
    print(json.dumps(result), flush=True)
    # Per-query timings ALSO as many SMALL self-describing JSON lines
    # (VERDICT r17 #7, pre-authorized additions-only change): the
    # driver's bounded tail capture head-truncates the one big line, so
    # PERF_r*.json had per_query={} every round.  20 queries per line
    # keeps each line well under any sane capture bound; `part i/n`
    # makes partial captures self-evident.  The big line and the final
    # totals-only line are unchanged — consumers of the old contract
    # see exactly what they always saw.
    names = list(timings)
    chunk = 20
    n_parts = (len(names) + chunk - 1) // chunk
    for i in range(n_parts):
        part = {n: timings[n] for n in names[i * chunk : (i + 1) * chunk]}
        print(
            json.dumps(
                {
                    "metric": "per_query_wall_clock",
                    "part": i + 1,
                    "n_parts": n_parts,
                    "sf": result["sf"],
                    "unit": "sec",
                    "queries": part,
                }
            ),
            flush=True,
        )
    # FINAL line is a tiny totals-only record (VERDICT r5 #2): the
    # driver's bounded tail capture truncates the HEAD of the big
    # per-query line, leaving invalid JSON — this record is small
    # enough to always survive whole, so `parsed` is never null.
    # Per-query numbers live in the big line + BENCH_local.json.
    print(
        json.dumps(
            {
                "metric": "total_query_wall_clock",
                "value": result["value"],
                "unit": "sec",
                "sf": result["sf"],
                "n_queries": len(timings),
                "n_failed": len(failures),
            }
        ),
        flush=True,
    )
    spark.stop()


if __name__ == "__main__":
    main()
