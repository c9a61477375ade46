"""One benchmark run inside its own process; started by ``run.py``.

Argument: a JSON object with workload, seed, seconds, trace, t_process
(wall time at which the launcher started this process), root (the
checkout) and run_dir (this run's private directory).  Writes
``result.json`` into run_dir and, for traced runs, ``spans.json``.
"""

from __future__ import annotations

import json
import os
import sys
import time
from dataclasses import dataclass

from spans import Tracer

SF = 0.01  # scale factor of the generated tables


@dataclass
class Context:
    workload: str
    seed: int
    seconds: int
    trace: bool
    t_process: float
    run_dir: str
    tmp_dir: str
    cpus: int
    tracer: Tracer

    def log(self, msg: str) -> None:
        print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def start_session(cpus: int):
    from fiware_cosmos_orion_flink_connector_examples_spark.session import (
        ensure_engine_confs,
        get_spark,
    )

    spark = get_spark(app_name="perfbench", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    return ensure_engine_confs(spark)


def main(cfg: dict) -> None:
    sys.path.insert(0, cfg["root"])
    ctx = Context(
        workload=cfg["workload"], seed=cfg["seed"], seconds=cfg["seconds"],
        trace=bool(cfg["trace"]), t_process=cfg["t_process"], run_dir=cfg["run_dir"],
        tmp_dir=cfg["tmp_dir"], cpus=cfg["cpus"], tracer=Tracer(bool(cfg["trace"])),
    )
    import datagen

    sf_dir = datagen.write(os.path.join(ctx.run_dir, "tables"), ctx.seed, SF)
    t0 = time.time()
    with ctx.tracer.span("session.start"):
        spark = start_session(ctx.cpus)
    layers = {"session.start_s": time.time() - t0}
    if ctx.workload == "ngsi_stream":
        import stream as workload

        out = workload.run(ctx, spark)
    else:
        import batch as workload

        out = workload.run(ctx, spark, sf_dir)
    out["layers"] = {**layers, **out["layers"]}
    if ctx.trace:
        # single-threaded baseline of the same per-layer measurement
        spark.stop()
        spark = start_session(1)
        if ctx.workload == "ngsi_stream":
            out["layers"].update(workload.baseline_single_thread(ctx, spark))
        else:
            out["layers"].update(workload.baseline_single_thread(ctx, spark, sf_dir))
        ctx.tracer.write(os.path.join(ctx.run_dir, "spans.json"))
    ctx.log(f"measured {time.time() - ctx.t_process:.1f} s after process start")
    spark.stop()
    with open(os.path.join(ctx.run_dir, "result.json"), "w") as f:
        json.dump(out, f, default=float)


if __name__ == "__main__":
    main(json.loads(sys.argv[1]))
