"""The ``query_mix`` workload: registered batch queries, run warm.

The fixed query list has three groups, each aimed at different layers:

* ``relational``: the five NGSI batch twins and six relational queries;
  JVM-only scan, shuffle and join work with no Python workers.
* ``corpus``: three queries whose time is Arrow/pandas UDF execution in
  ``operators.dedup``, ``functions.udaf`` and ``operators.multimodal``.
* ``lakehouse``: a capstone that builds snapshot tables and an
  incremental view (``sources.layout``, ``operators.ivm``) cold in the
  run's own temp dir during warm-up, and is then served warm.

The first pass is warm-up and counts as set-up; it also collects every
result for the correctness check.  Timed passes materialise each query
through the noop sink; a run makes as many whole passes as fit in its
window, at least one.
"""

from __future__ import annotations

import math
import os
import statistics
import time

from spans import group_counters

GROUPS = {
    "relational": (
        "ngsi_window_min",
        "ngsi_window_avg",
        "ngsi_parse_project",
        "ngsi_json_props",
        "ngsi_sink_envelope",
        "tpch_q1_pricing_summary",
        "tpch_q3_shipping_priority",
        "tpch_q5_region_revenue",
        "tpch_q18_large_volume",
        "join_anti_customers_no_orders",
        "window_rank_orders_per_customer",
    ),
    "corpus": (
        "dup_rate_by_source",
        "custom_udaf_geomean",
        "multimodal_decode_features",
    ),
    "lakehouse": ("incremental_view_capstone",),
}
QUERY_LIST = tuple(q for names in GROUPS.values() for q in names)
GROUP_OF = {q: g for g, names in GROUPS.items() for q in names}


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Runner:
    """Runs queries from the registry and records what each one did."""

    def __init__(self, spark, sf_dir: str, tracer):
        from fiware_cosmos_orion_flink_connector_examples_spark.plans.registry import QUERIES

        self.spark = spark
        self.sc = spark.sparkContext
        self.sf_dir = sf_dir
        self.tracer = tracer
        self.queries = QUERIES
        self.failed: list[str] = []
        self.attempted = 0
        self._group_seq = 0

    def _group(self, label: str) -> str:
        self._group_seq += 1
        gid = f"perfbench-{self._group_seq}-{label}"
        self.sc.setJobGroup(gid, label)
        return gid

    def run_plain(self, name: str) -> float | None:
        """Untraced: build, then materialise.  Returns seconds or None."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            _noop(self.queries[name].fn(self.spark, self.sf_dir))
        except Exception as exc:  # a failed query is counted, never fatal
            self.failed.append(f"{name}: {type(exc).__name__}: {str(exc)[:300]}")
            return None
        return time.perf_counter() - t0

    def run_layers(self, name: str, collect: bool = False) -> dict | None:
        """Traced: build, plan and execute as three spans, each in its own
        job group.  With ``collect`` the result rows come back instead of
        going to the noop sink."""
        self.attempted += 1
        rec = {"name": name, "group": GROUP_OF.get(name, "")}
        try:
            with self.tracer.span("query", query=name, group=rec["group"]) as qa:
                t0 = time.perf_counter()
                with self.tracer.span("plans.build") as a:
                    gid = self._group(f"{name}:build")
                    df = self.queries[name].fn(self.spark, self.sf_dir)
                    a.update(group_counters(self.sc, gid))
                    rec["build"] = a
                t1 = time.perf_counter()
                with self.tracer.span("spark.plan"):
                    df._jdf.queryExecution().executedPlan()
                t2 = time.perf_counter()
                with self.tracer.span("spark.exec") as a:
                    gid = self._group(f"{name}:exec")
                    if collect:
                        rec["columns"] = df.columns
                        rec["rows"] = [tuple(r) for r in df.collect()]
                    else:
                        _noop(df)
                    a.update(group_counters(self.sc, gid))
                    rec["exec"] = a
                t3 = time.perf_counter()
                rec.update(build_s=t1 - t0, plan_s=t2 - t1, exec_s=t3 - t2, total_s=t3 - t0)
                qa["total_s"] = rec["total_s"]
        except Exception as exc:  # a failed query is counted, never fatal
            self.failed.append(f"{name}: {type(exc).__name__}: {str(exc)[:300]}")
            return None
        finally:
            self.sc.setJobGroup("perfbench-idle", "idle")
        return rec


def _norm(v):
    import datetime as dt
    import decimal

    if isinstance(v, (dt.datetime, dt.date)):
        return v.isoformat()
    if isinstance(v, decimal.Decimal):
        return int(v) if v == v.to_integral_value() else float(v)
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if hasattr(v, "asDict"):
        return tuple(_norm(x) for x in v)
    return v


def _same(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if isinstance(a, (int, float)) and isinstance(b, (int, float)):
            return math.isclose(float(a), float(b), rel_tol=1e-9, abs_tol=1e-9)
    return a == b


def _sorted_table(cols: list[str], rows: list[tuple]) -> list[tuple]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_norm(r[i]) for i in order) for r in rows]
    return sorted(out, key=lambda t: tuple(str(x) for x in t))


def check_results(sf_dir: str, results: dict[str, dict], queries) -> dict[str, str]:
    """Compare each collected result with the query's DuckDB oracle (or,
    for a rows-only query, require rows).  Returns {query: problem}."""
    import duckdb

    from fiware_cosmos_orion_flink_connector_examples_spark.sources.tables import TABLE_NAMES

    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    wrong: dict[str, str] = {}
    for name, rec in results.items():
        oracle = queries[name].oracle
        if oracle is None:
            if not rec["rows"]:
                wrong[name] = "rows-only query returned no rows"
            continue
        tbl = con.sql(oracle).fetch_arrow_table()
        d_cols = list(tbl.schema.names)
        d_rows = list(zip(*[c.to_pylist() for c in tbl.columns])) if tbl.num_columns else []
        if sorted(d_cols) != sorted(rec["columns"]):
            wrong[name] = f"columns {sorted(rec['columns'])} != oracle {sorted(d_cols)}"
            continue
        s = _sorted_table(rec["columns"], rec["rows"])
        d = _sorted_table(d_cols, d_rows)
        if len(s) != len(d):
            wrong[name] = f"{len(s)} rows != oracle {len(d)}"
        elif not all(len(x) == len(y) and all(map(_same, x, y)) for x, y in zip(s, d)):
            wrong[name] = "values differ from oracle"
    con.close()
    return wrong


def _tree_size(root: str, prefix: str) -> tuple[int, int]:
    n_bytes = n_files = 0
    for entry in os.listdir(root):
        if not entry.startswith(prefix):
            continue
        for dirpath, _, files in os.walk(os.path.join(root, entry)):
            for f in files:
                n_files += 1
                n_bytes += os.path.getsize(os.path.join(dirpath, f))
    return n_bytes, n_files


def _pct(xs: list[float], q: float) -> float:
    return statistics.quantiles(xs, n=100, method="inclusive")[q - 1] if len(xs) > 1 else xs[0]


def _sum(recs: list[dict], key: str, sub: str | None = None, group: str | None = None) -> float:
    recs = [r for r in recs if group is None or r["group"] == group]
    return float(sum((r[key][sub] if sub else r[key]) for r in recs))


def _layer_metrics(recs: list[dict], prefix: str = "") -> dict[str, float]:
    """Sums over one traced pass."""
    m = {
        f"{prefix}plans.build_s": _sum(recs, "build_s"),
        f"{prefix}plans.build_jobs": _sum(recs, "build", "jobs"),
        f"{prefix}spark.plan_s": _sum(recs, "plan_s"),
        f"{prefix}spark.exec_s": _sum(recs, "exec_s"),
        f"{prefix}spark.exec_jobs": _sum(recs, "exec", "jobs"),
        f"{prefix}spark.exec_stages": _sum(recs, "exec", "stages"),
        f"{prefix}spark.exec_tasks": _sum(recs, "exec", "tasks"),
        f"{prefix}spark.shuffle_bytes": _sum(recs, "exec", "shuffle_bytes")
        + _sum(recs, "build", "shuffle_bytes"),
        f"{prefix}spark.spill_bytes": _sum(recs, "exec", "spill_bytes")
        + _sum(recs, "build", "spill_bytes"),
    }
    if not prefix:
        for g in GROUPS:
            m[f"{g}.build_s"] = _sum(recs, "build_s", group=g)
            m[f"{g}.plan_s"] = _sum(recs, "plan_s", group=g)
            m[f"{g}.exec_s"] = _sum(recs, "exec_s", group=g)
    return m


def _median_dicts(ds: list[dict[str, float]]) -> dict[str, float]:
    return {k: statistics.median(d[k] for d in ds) for k in ds[0]}


def _udf_profile(spark, out_dir: str) -> tuple[float, float]:
    """Python time and calls recorded by Spark's UDF profiler, then clear it."""
    import pstats

    os.makedirs(out_dir, exist_ok=True)
    spark.profile.dump(out_dir, type="perf")
    secs = calls = 0.0
    for f in os.listdir(out_dir):
        st = pstats.Stats(os.path.join(out_dir, f))
        secs += st.total_tt
        calls += st.total_calls
        os.remove(os.path.join(out_dir, f))
    spark.profile.clear(type="perf")
    return secs, calls


def run(ctx, spark, sf_dir: str) -> dict:
    """Set up, warm up, time passes for ``ctx.seconds``, then check results."""
    from fiware_cosmos_orion_flink_connector_examples_spark.sources.tables import (
        TABLE_NAMES,
        load_table,
    )

    tracer = ctx.tracer
    layers: dict[str, float] = {}
    with tracer.span("tables.load"):
        t0 = time.perf_counter()
        for t in TABLE_NAMES:
            load_table(spark, sf_dir, t)
        t1 = time.perf_counter()
        for t in TABLE_NAMES:
            load_table(spark, sf_dir, t)
        layers["tables.load_cold_s"] = t1 - t0
        layers["tables.load_warm_s"] = time.perf_counter() - t1

    runner = Runner(spark, sf_dir, tracer)
    collected: dict[str, dict] = {}
    with tracer.span("warmup"):
        for name in QUERY_LIST:
            rec = runner.run_layers(name, collect=True)
            if rec is not None:
                collected[name] = rec
    setup_s = time.time() - ctx.t_process
    layers["lakehouse.cold_build_jobs"] = sum(
        r["build"]["jobs"] for r in collected.values() if r["group"] == "lakehouse"
    )
    layers["layout.written_bytes"], layers["layout.written_files"] = _tree_size(
        ctx.tmp_dir, "sg_capstone_"
    )

    # Timed passes.  Traced runs interleave untraced and traced passes so
    # the difference of their medians is the tracing overhead.
    plain_passes: list[float] = []
    plain_query_s: list[float] = []
    traced: list[list[dict]] = []
    traced_passes: list[float] = []
    udf = []
    # As many whole passes as fit in the window, at least one (traced
    # runs: at least two untraced and two traced, interleaved).
    t_first = time.time()
    t_end = time.perf_counter() + ctx.seconds
    while (not plain_passes or time.perf_counter() + plain_passes[-1] <= t_end
           or (ctx.trace and len(traced) < 2)):
        def plain_pass() -> None:
            t = time.perf_counter()
            times = [runner.run_plain(q) for q in QUERY_LIST]
            plain_passes.append(time.perf_counter() - t)
            plain_query_s.extend(x for x in times if x is not None)

        def traced_pass() -> None:
            spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
            t = time.perf_counter()
            with tracer.span("pass", n=len(traced)):
                recs = [runner.run_layers(q) for q in QUERY_LIST]
            traced_passes.append(time.perf_counter() - t)
            spark.conf.unset("spark.sql.pyspark.udf.profiler")
            traced.append([r for r in recs if r is not None])
            udf.append(_udf_profile(spark, os.path.join(ctx.run_dir, "udf")))

        if not ctx.trace:
            plain_pass()
        elif len(traced) % 2:  # alternate which kind of pass goes first
            traced_pass()
            plain_pass()
        else:
            plain_pass()
            traced_pass()

    t_last = time.time()
    metrics = {"setup_s": setup_s}
    layers.update({
        "query_p50_ms": 1000 * statistics.median(plain_query_s),
        "query_p90_ms": 1000 * _pct(plain_query_s, 90),
        "queries_per_s": len(plain_query_s) / sum(plain_passes),
        "suite_s": statistics.median(plain_passes),
    })
    if ctx.trace:
        layers.update(_median_dicts([_layer_metrics(p) for p in traced]))
        layers["lakehouse.warm_build_jobs"] = statistics.median(
            _sum(p, "build", "jobs", group="lakehouse") for p in traced
        )
        layers["udf.python_s"] = statistics.median(u[0] for u in udf)
        layers["udf.calls"] = statistics.median(u[1] for u in udf)
        layers["trace.overhead_ms"] = 1000 * (
            statistics.median(traced_passes) - statistics.median(plain_passes)
        )
        layers["suite_traced_s"] = statistics.median(traced_passes)

    wrong = check_results(sf_dir, collected, runner.queries)
    ctx.log(f"passes={len(plain_passes)} query_runs={len(plain_query_s)} wrong={wrong} failed={runner.failed}")
    return {
        "metrics": metrics,
        "layers": layers,
        "attempted": runner.attempted,
        "failed": len(runner.failed),
        "wrong": len(wrong),
        "checked": len(collected),
        # wall-time window of the timed passes and the query runs in it
        "cpu_window": (t_first, t_last, len(plain_query_s) + sum(len(p) for p in traced)),
    }


def baseline_single_thread(ctx, spark, sf_dir: str) -> dict[str, float]:
    """The relational group once cold and once traced, at ``local[1]``."""
    runner = Runner(spark, sf_dir, ctx.tracer)
    for name in GROUPS["relational"]:
        runner.run_plain(name)
    with ctx.tracer.span("baseline.local1"):
        recs = [runner.run_layers(q) for q in GROUPS["relational"]]
    return _layer_metrics([r for r in recs if r is not None], prefix="local1.")
