"""Benchmark entry point.

    python3 perfbench/run.py --workload ngsi_stream --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  Each run gets a private directory
under ``.perfbench_run/`` (its TMPDIR, SPARK_LOCAL_DIRS, JVM temp dir,
generated tables, spool and checkpoints), which is removed on exit.  The
run itself happens in a child process (``worker.py``) so that its whole
process tree -- Python driver, JVM and Python workers -- can be sampled
for peak memory and CPU time, and stopped.  The last line on stdout is the result:
``{"correct", "attempted", "failed", "metrics"}``; with ``--trace 0`` the
metrics are the end-to-end ones, with ``--trace 1`` the per-layer ones.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "fiware_cosmos_orion_flink_connector_examples_spark"
WORKLOADS = ("ngsi_stream", "query_mix")
WALL_FIGURES = ("delivery_p50_ms", "delivery_p90_ms", "sustained_events_per_s",
                "query_p50_ms", "query_p90_ms", "queries_per_s", "suite_s")
TIMEOUT_S = 170
BENCHMARK = os.path.join(ROOT, "BENCHMARK.json")


def _session_procs(sid: int) -> dict[int, int]:
    """pid -> parent pid for the live processes in session ``sid``."""
    procs = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # fields[0] is state, [1] the parent pid, [3] the session id
        if int(fields[3]) == sid and fields[0] != "Z":
            procs[int(entry)] = int(fields[1])
    return procs


def _pss_bytes(procs: dict[int, int]) -> dict[str, int]:
    """Proportional set size per engine process ("pid command" -> bytes),
    so pages that forked Python workers share are counted once.

    Not measured: the load generator and collector (multiprocessing
    children), and a JVM child that has not yet exec'd the program it
    spawns -- it still shows the JVM's command line and address space."""
    cmds: dict[int, bytes] = {}
    for pid in procs:
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmds[pid] = f.read()
        except OSError:
            pass
    out: dict[str, int] = {}
    for pid, cmd in cmds.items():
        if b"multiprocessing" in cmd or (b"java" in cmd and cmds.get(procs[pid]) == cmd):
            continue
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        name = " ".join(c.decode(errors="replace") for c in cmd.split(b"\0")[:3])
                        out[f"{pid} {name[-60:]}"] = int(line.split()[1]) * 1024
                        break
        except OSError:
            pass
    return out


def _cpu_seconds(procs: dict[int, int]) -> float:
    """CPU time (user + system) of the engine's processes and of their
    children already reaped, skipping the multiprocessing children."""
    ticks = 0
    for pid in procs:
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                if b"multiprocessing" in f.read():
                    continue
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # fields[11:15]: utime, stime, cutime, cstime
        ticks += sum(int(x) for x in fields[11:15])
    return ticks / os.sysconf("SC_CLK_TCK")


class SessionSampler(threading.Thread):
    """Samples the worker session: peak memory, and CPU time as a
    (wall time, CPU seconds) series."""

    def __init__(self, sid: int):
        super().__init__(daemon=True)
        self.sid = sid
        self.peak = 0
        self.at_peak: dict[str, int] = {}
        self.cpu: list[tuple[float, float]] = []
        self._done = threading.Event()

    def run(self) -> None:
        # CPU every 0.1 s, so interpolating at a window's edges errs by a
        # few tenths of a CPU-second; PSS, which costs more to read, every 0.5 s
        n = 0
        while not self._done.wait(0.1):
            procs = _session_procs(self.sid)
            self.cpu.append((time.time(), _cpu_seconds(procs)))
            n += 1
            if n % 5 == 0:
                now = _pss_bytes(procs)
                if sum(now.values()) > self.peak:
                    self.peak, self.at_peak = sum(now.values()), now

    def cpu_between(self, t0: float, t1: float) -> float:
        """CPU seconds used between two wall times, interpolated."""
        import numpy as np

        ts, cs = zip(*self.cpu)
        return float(np.interp(t1, ts, cs) - np.interp(t0, ts, cs))

    def stop(self) -> None:
        self._done.set()
        self.join()


def _stop_session(sid: int) -> None:
    """Terminate every process left in the worker's session and wait."""
    for sig, wait in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        pids = list(_session_procs(sid))
        if not pids:
            return
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.time() + wait
        while _session_procs(sid) and time.time() < deadline:
            time.sleep(0.1)


def run_once(workload: str, seed: int, seconds: int, trace: bool) -> dict:
    run_dir = os.path.join(ROOT, ".perfbench_run", f"{os.getpid()}")
    tmp_dir = os.path.join(run_dir, "tmp")
    shutil.rmtree(run_dir, ignore_errors=True)  # left by a killed run with our pid
    for d in (tmp_dir, os.path.join(run_dir, "local")):
        os.makedirs(d)
    cpus = len(os.sched_getaffinity(0))
    env = dict(
        os.environ,
        TMPDIR=tmp_dir,
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"),
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp_dir} -XX:-UsePerfData",
        # A fixed, pre-touched driver heap: peak memory then shows what the
        # engine holds beyond the configured heap, not when G1 grew it.
        PYSPARK_SUBMIT_ARGS='--driver-java-options "-Xms1g -XX:+AlwaysPreTouch" pyspark-shell',
        PYTHONPATH=ROOT,
        PYSPARK_PYTHON=sys.executable,
        SPARK_GRAFT_DRIVER_MEM="1g",
        SPARK_GRAFT_CPUS=str(cpus),
    )
    cfg = {"workload": workload, "seed": seed, "seconds": seconds, "trace": trace,
           "root": ROOT, "run_dir": run_dir, "tmp_dir": tmp_dir, "cpus": cpus,
           "t_process": time.time()}
    log_path = os.path.join(run_dir, "worker.log")
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(
                [sys.executable, os.path.join(HERE, "worker.py"), json.dumps(cfg)],
                cwd=run_dir, env=env, stdout=log, stderr=subprocess.STDOUT,
                start_new_session=True,
            )
            sampler = SessionSampler(proc.pid)
            sampler.start()
            try:
                code = proc.wait(timeout=TIMEOUT_S - (time.time() - cfg["t_process"]))
            except subprocess.TimeoutExpired:
                code = None
            finally:
                _stop_session(proc.pid)
                proc.wait()
                sampler.stop()
        result_path = os.path.join(run_dir, "result.json")
        if code != 0 or not os.path.exists(result_path):
            with open(log_path, errors="replace") as f:
                sys.stderr.write(f.read()[-6000:])
            raise SystemExit(f"perfbench: worker failed (exit {code})")
        with open(log_path, errors="replace") as f:
            sys.stderr.writelines(line for line in f if line.startswith("[perfbench]"))
        with open(result_path) as f:
            out = json.load(f)
        out["metrics"]["peak_rss_mb"] = sampler.peak / 2**20
        t0, t1, n_ops = out["cpu_window"]
        if n_ops < 1:
            raise SystemExit("perfbench: no operation in the CPU window")
        out["metrics"]["cpu_ms_per_op"] = 1000 * sampler.cpu_between(t0, t1) / n_ops
        sys.stderr.write(f"[perfbench] run took {time.time() - cfg['t_process']:.1f} s\n")
        top = sorted(sampler.at_peak.items(), key=lambda kv: -kv[1])
        sys.stderr.write(f"[perfbench] memory at peak, {len(top)} processes (MB): "
                         + "; ".join(f"{k} {v / 2**20:.0f}" for k, v in top[:8]) + "\n")
        if trace:
            shutil.copy(os.path.join(run_dir, "spans.json"),
                        os.path.join(ROOT, ".perfbench_run", f"spans_{workload}_{seed}.json"))
        return out
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # on SIGTERM unwind through run_once's cleanup: stop the worker's
    # processes and remove the run directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)) or not os.path.isfile(BENCHMARK):
        raise SystemExit(f"perfbench: run from a checkout that holds {PACKAGE}/ and BENCHMARK.json")

    with open(BENCHMARK) as f:
        declared = json.load(f)["per_layer" if args.trace else "end_to_end"]
    out = run_once(args.workload, args.seed, args.seconds, bool(args.trace))
    # Every declared metric is reported.  A layer the workload does not
    # exercise reads 0, and so does a layer figure with no samples (NaN);
    # an end-to-end metric without a value fails the run.
    metrics = {}
    for m in declared:
        if args.trace:
            v = float(out["layers"].get(m["name"], 0.0))
            v = v if math.isfinite(v) else 0.0
        else:
            v = float(out["metrics"][m["name"]])
            if not math.isfinite(v):
                raise SystemExit(f"perfbench: {m['name']} has no samples")
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    for name, m in metrics.items():
        print(f"{args.workload:12s} {name:32s} {m['value']:14.4f} {m['unit']}")
    if not args.trace:
        # wall-time figures: reported, but too sensitive to a shared host
        # to gate on (they are per-layer metrics of the traced run)
        for name in WALL_FIGURES:
            if name in out["layers"]:
                print(f"{args.workload:12s} {name:32s} {out['layers'][name]:14.4f} (wall time)")
    print(f"{args.workload:12s} wrong_results {out['wrong']} failed {out['failed']} "
          f"of {out['attempted']} attempted, {out['checked']} results checked")
    result = {
        "correct": out["wrong"] == 0 and out["checked"] > 0,
        "attempted": int(out["attempted"]),
        "failed": int(out["failed"]),
        "metrics": metrics,
    }
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
