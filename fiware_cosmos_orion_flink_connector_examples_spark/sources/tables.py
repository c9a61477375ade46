"""Batch parquet scans over the driver's testdata tables.

The reference has no file formats at all (its only source is the NGSI
HTTP feed, Example1.scala:17); parquet scans are the batch twin this
engine adds so every operator runs on the driver's TPC-H-ish tables
(TESTDATA.md).  Reads stay fully declarative so Catalyst gets column
pruning + predicate pushdown into the scan — at 100 TB that is the
difference between reading 2 columns and reading 11.
"""

from __future__ import annotations

import math
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimension tables small enough to broadcast at ANY scale factor (TPC-H
# region/nation are fixed-cardinality; supplier/part grow slowly).  Used
# by query plans to force broadcast joins instead of shuffles.
BROADCAST_DIMS = {"region", "nation"}

# Natural unique keys, used by the scan spread: hash-partitioning on a
# SYNTHETIC key derived from the unique key (pmod(xxhash64(key), 64·N),
# the guide §2.5 idiom) spreads rows evenly WITHOUT round-robin's local
# sort-before-repartition pass (which sorts every column of every row —
# measured ~4× the exchange cost on wide lineitem rows), is
# deterministic under task retry by construction (assignment depends
# only on row content, never input order), and — because the synthetic
# expression never equals a join/groupBy key — can never be mistaken by
# the planner for a partitioning that satisfies a downstream join's
# clustering (hash-partitioning directly on doc_id made AQE zip a
# SortMergeJoin whose other side had coalesced to a different partition
# count: "Can't zip RDDs with unequal numbers of partitions").
SPREAD_KEYS = {
    "lineitem": ("l_orderkey", "l_linenumber"),
    "orders": ("o_orderkey",),
    "customer": ("c_custkey",),
    "part": ("p_partkey",),
    "supplier": ("s_suppkey",),
    "documents": ("doc_id",),
    "embeddings": ("vec_id",),
    "events": ("event_id",),
}

# Scan-spread floor: files below this size stay single-task (spreading
# a 2 KB dimension table costs an exchange and 32 near-empty tasks for
# nothing).  Read at call time so tests can pin plan shapes with the
# spread off; <=0 disables spreading entirely.
SPREAD_MIN_BYTES = 256 * 1024


def _scan_spread(
    spark: SparkSession, df: DataFrame, file_path: str, name: str | None = None
) -> DataFrame:
    """Scale-adaptive scan parallelism (guide §2.5 input skew).

    The driver's testdata ships each table as ONE parquet file with ONE
    row group, so every scan plans as a single task and each "row-local,
    zero-exchange" projection above it serializes onto one core of
    local[N].  When the file's byte-split count (size /
    ``spark.sql.files.maxPartitionBytes``) is below the session's
    default parallelism, spread rows with one explicit exchange —
    hash-partitioned on a SYNTHETIC key derived from the table's unique
    key where one is declared (``pmod(xxhash64(key), 64·cores)``, see
    SPREAD_KEYS: retry-deterministic by content, no round-robin
    sort-before-repartition pass), plain round-robin otherwise — and
    result-neutral (every registered query is row-order independent;
    the oracle hashes sorted rows).

    At production scale the condition never fires: a table bigger than
    maxPartitionBytes × cores already scans wider than the cluster, so
    no exchange is added — this is an input-derived decision, not a
    local[32] constant.  Filter/column pushdown still reaches the scan
    (Catalyst pushes both through Repartition; pinned in
    tests/test_plan_shapes.py)."""
    floor = SPREAD_MIN_BYTES
    if floor <= 0:
        return df
    try:
        size = os.path.getsize(file_path)
    except OSError:
        return df
    if size < floor:
        return df
    raw = spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728b")
    try:
        mpb = int(str(raw).lower().rstrip("b"))
    except ValueError:
        mpb = 128 * 1024 * 1024
    cores = spark.sparkContext.defaultParallelism
    if math.ceil(size / max(mpb, 1)) >= cores:
        return df
    key = SPREAD_KEYS.get(name or "")
    if key:
        synth = F.pmod(F.xxhash64(*[F.col(c) for c in key]), F.lit(cores * 64))
        return df.repartition(cores, synth)
    return df.repartition(cores)


# Schema cache (round 17, guide §1/§5 driver fixed cost): every
# `spark.read.parquet(path)` pays driver-side datasource resolution +
# footer schema inference (~100-200 ms/call measured on this box —
# ~15x the cost of a schema-supplied read).  A bench run calls
# load_table hundreds of times over the SAME immutable files, so the
# inferred StructType is memoized keyed on file IDENTITY (path + size
# + mtime_ns; for directory-style parquet, the sorted (name, size,
# mtime_ns) of every entry).  This caches METADATA only — every
# invocation still plans and reads all row data from parquet; a
# rewritten file changes the key and re-infers.
_SCHEMA_CACHE: dict[tuple, object] = {}


def _file_identity(path: str) -> tuple:
    """Identity tuple of a parquet file or directory tree.  Directory
    identity is RECURSIVE (ADVICE r17: a non-recursive scandir missed
    in-place changes inside nested/partitioned layouts, which could
    serve a stale schema — and a supplied stale schema reads missing
    columns as NULL instead of failing): every file AND subdirectory
    contributes its relative path, size and mtime_ns.

    Conf invariant (ADVICE r17): the cache key deliberately omits
    inference-affecting session confs.  Sound here because (a)
    ``load_table`` unconditionally sets ``nanosAsLong`` before reading
    the one table (events) it matters for, so that table is only ever
    inferred under one conf value, and (b) ``read_parquet_cached``
    serves engine-WRITTEN parquet (indexes, keyed/snapshot tables),
    which this engine never writes with nanosecond timestamps.  A new
    caller inferring under a different inference-affecting conf must
    bypass or key the cache itself."""
    st = os.stat(path)
    if os.path.isdir(path):
        entries = []
        for root, dirs, files in os.walk(path):
            rel = os.path.relpath(root, path)
            for name in sorted(dirs) + sorted(files):
                s = os.stat(os.path.join(root, name))
                entries.append(
                    (os.path.join(rel, name), s.st_size, s.st_mtime_ns)
                )
        return (path, "dir", tuple(sorted(entries)))
    return (path, st.st_size, st.st_mtime_ns)


def read_parquet_cached(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` with the identity-keyed schema
    cache, for the engine's OWN parquet artifacts (keyed tables,
    serving indexes) as well as testdata: every uncached read pays
    driver-side datasource resolution + footer schema inference (and,
    for multi-file directories, a whole Spark JOB to merge footers),
    ~15× a schema-supplied read.  Metadata-only: the scan itself is
    unchanged, every invocation reads all row data; any file/dir change
    re-infers (recursive identity).  At 100 TB the same fix is "store
    schemas in the catalog" — inference cost scales with file COUNT,
    not data size."""
    try:
        key = _file_identity(path)
    except OSError:  # missing path: the reader raises its own error
        return spark.read.parquet(path)
    schema = _SCHEMA_CACHE.get(key)
    if schema is None:
        schema = _SCHEMA_CACHE[key] = spark.read.parquet(path).schema
    return spark.read.schema(schema).parquet(path)


def load_table(
    spark: SparkSession, sf_dir: str, name: str, spread: bool = False
) -> DataFrame:
    """Load one testdata table, normalizing timestamp physical types.

    The driver's parquet has shipped with two different timestamp
    encodings across rounds: TIMESTAMP(NANOS) (readable only via
    nanosAsLong → LongType ns) and timezone-naive TIMESTAMP(MICROS)
    (isAdjustedToUTC=false), which Spark 4 infers as TIMESTAMP_NTZ.
    Every downstream operator (window(), unix_micros(), unions with
    cast TIMESTAMP columns) expects session-local TimestampType, so we
    normalize both shapes here — the single choke point every batch
    plan loads through.  The session timezone is pinned to UTC first so
    the NTZ→LTZ cast preserves the wall clock as a UTC instant exactly
    like DuckDB's epoch() on the same naive parquet values, keeping the
    oracle hash-comparable.
    """
    path = f"{sf_dir}/{name}.parquet"
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = read_parquet_cached(spark, path)
    dtypes = dict(df.dtypes)
    if name == "events" and dtypes.get("ts") == "bigint":
        df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    ntz_cols = [c for c, t in dtypes.items() if t == "timestamp_ntz"]
    if ntz_cols:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        df = df.withColumns({c: F.col(c).cast("timestamp") for c in ntz_cols})
    if not spread:
        # Opt-in per call site: interleaved A/B at sf0.1 showed the
        # spread pays ONLY where the consumer does heavy row-local
        # work before its first shuffle (tokenize/regex/vector math);
        # queries whose first operation is already an exchange (joins,
        # groupBy-first pipelines) pay the extra pass for nothing
        # (+0.3-0.5 s each, 12 queries re-measured off/on interleaved).
        return df
    return _scan_spread(spark, df, path, name)


def load_tables(spark: SparkSession, sf_dir: str, names=TABLE_NAMES) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in names}


# Testdata tables are immutable for the life of a session, so exact
# rowcounts (used e.g. to size the IVF quantizer) are safe to memoize —
# one count() job per (app, sf_dir, table) instead of one per query run.
_ROWCOUNT_CACHE: dict[tuple[str, str, str], int] = {}


def table_rowcount(spark: SparkSession, sf_dir: str, name: str) -> int:
    key = (spark.sparkContext.applicationId, sf_dir, name)
    if key not in _ROWCOUNT_CACHE:
        _ROWCOUNT_CACHE[key] = load_table(spark, sf_dir, name).count()
    return _ROWCOUNT_CACHE[key]
