"""SparkSession builder tuned for this engine.

The reference runs a Flink mini-cluster (1 jobmanager + 1 taskmanager,
docker-compose.yml:13-34); our analog is local[N] with AQE on.  All
settings here also make sense on a real multi-executor cluster: AQE
handles skew/partition coalescing at 100 TB, and the broadcast
threshold keeps dimension-table joins shuffle-free.
"""

from __future__ import annotations

import functools
import os

from pyspark import SparkConf, SparkContext
from pyspark.sql import SparkSession


# The engine's defaults.  Each yields to a value the launcher passed.
_ENGINE_CONFS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.autoBroadcastJoinThreshold": "64m",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # driver testdata ships nanosecond parquet timestamps (events.ts)
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.ui.enabled": "false",
}

# Checkpoint manager for sessions whose checkpoints are on the local
# FS.  Spark's default, the FileContext manager, forks ~60 shells per
# micro-batch (readlink, chmod) on a Hadoop local FS without the native
# library; the FileSystem manager forks ~12.  It gives up only the
# atomic rename that a FileContext buys on a distributed store.
CHECKPOINT_MANAGER_CONF = "spark.sql.streaming.checkpointFileManagerClass"
LOCAL_CHECKPOINT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager"
)


def _launcher_conf() -> SparkConf:
    """The confs the driver JVM was launched with: spark-submit's
    ``--conf`` and spark-defaults.conf, or ``PYSPARK_SUBMIT_ARGS``.
    Launches the JVM when none runs yet, with the engine's driver heap;
    a heap in ``PYSPARK_SUBMIT_ARGS`` comes later on the command line
    and wins."""
    mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g")
    SparkContext._ensure_initialized(conf=SparkConf().set("spark.driver.memory", mem))
    return SparkConf()


def get_spark(
    app_name: str = "fiware-cosmos-orion-flink-connector-examples-spark",
    cpus: int | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's defaults.

    Whatever the launcher set wins.  Under ``spark-submit`` (which
    hands the driver its JVM through ``PYSPARK_GATEWAY_PORT``) the
    session keeps the submitted master; otherwise it runs local[cpus],
    cpus defaulting to $SPARK_GRAFT_CPUS (driver contract) else all
    cores.  Each ``_ENGINE_CONFS`` default applies only where the
    launcher passed no value.  Shuffle partitions default to the
    session's core count and, on a ``local[...]`` master, the
    checkpoint manager to ``LOCAL_CHECKPOINT_MANAGER``.
    """
    launched = _launcher_conf()
    builder = SparkSession.builder.appName(app_name)
    for key, value in _ENGINE_CONFS.items():
        if not launched.contains(key):
            builder = builder.config(key, value)
    if "PYSPARK_GATEWAY_PORT" not in os.environ:
        cpus_s = str(cpus) if cpus else os.environ.get("SPARK_GRAFT_CPUS", "*")
        builder = builder.master(f"local[{cpus_s}]")
    spark = builder.getOrCreate()
    sc = spark.sparkContext
    conf = sc.getConf()
    if not conf.contains("spark.sql.shuffle.partitions"):
        spark.conf.set("spark.sql.shuffle.partitions", str(sc.defaultParallelism))
    if sc.master.startswith("local") and not conf.contains(CHECKPOINT_MANAGER_CONF):
        spark.conf.set(CHECKPOINT_MANAGER_CONF, LOCAL_CHECKPOINT_MANAGER)
    return spark


def enable_rocksdb_state_store(spark: SparkSession) -> SparkSession:
    """Switch Structured Streaming state to the RocksDB provider —
    state spills to local disk instead of living on the JVM heap, the
    difference between O(heap) and O(disk) live keys for high-
    cardinality windowed/sessionized streams.  Runtime-settable; takes
    effect for newly started queries."""
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    spark.conf.set(
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true"
    )
    return spark


@functools.cache
def _package_zip() -> str:
    """Zip this package once per process into a private temp dir that
    is removed at interpreter exit."""
    import atexit
    import shutil
    import tempfile
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    root = os.path.dirname(pkg_dir)
    zdir = tempfile.mkdtemp(prefix="engine_pkg_")
    atexit.register(shutil.rmtree, zdir, True)
    zpath = os.path.join(zdir, "engine_pkg.zip")
    with zipfile.ZipFile(zpath, "w") as z:
        for dirpath, _, files in os.walk(pkg_dir):
            for fn in files:
                if fn.endswith(".py"):
                    full = os.path.join(dirpath, fn)
                    z.write(full, os.path.relpath(full, root))
    return zpath


def _ship_package(spark: SparkSession) -> None:
    """Make this package importable on executor Python workers.

    Workers spawn with PYTHONPATH from the environment, NOT the
    driver's runtime sys.path — a driver launched outside the repo can
    import the package (after sys.path.insert) while its pandas-UDF
    closures die on workers with ModuleNotFoundError (observed live).
    Shipping a zip via addPyFile is the standard fix and covers every
    Arrow/pandas stage."""
    if getattr(spark, "_engine_pkg_shipped", False):
        return
    spark.sparkContext.addPyFile(_package_zip())
    spark._engine_pkg_shipped = True


def ensure_engine_confs(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs this engine depends on to a session
    we did not build (the driver passes its own SparkSession to
    ``entry``/``queries``).  Only touches runtime-safe SQL confs, plus
    ships the package zip to executor Python workers.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    _ship_package(spark)
    return spark
