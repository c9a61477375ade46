"""load_table schema cache (tables._SCHEMA_CACHE, round 17, guide §1/§5).

Every `spark.read.parquet(path)` pays driver-side datasource resolution
plus footer schema inference (~100 ms/call measured); a bench run calls
load_table hundreds of times over the same immutable files.  The cache
memoizes the inferred StructType keyed on FILE IDENTITY (path + size +
mtime_ns; directory-style parquet folds every entry's (name, size,
mtime_ns)) — metadata only, the row data is planned and read from
parquet on every invocation.  These tests pin:

  1. cache on/off produce identical schemas AND identical row content;
  2. rewriting a file (new identity) invalidates — the new schema is
     picked up, never the stale one;
  3. directory-style parquet (Spark-written fixtures) participates and
     invalidates on overwrite.

The "off" arm of each comparison reads right after the cache is
cleared, so it is a cold inference compared against a cache hit.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import Row

from fiware_cosmos_orion_flink_connector_examples_spark.sources import tables

SF = "/root/testdata/sf0.001"


def test_cache_on_off_identical(spark):
    for name in ("orders", "events", "documents"):
        tables._SCHEMA_CACHE.clear()
        off = tables.load_table(spark, SF, name)  # cold inference
        on = tables.load_table(spark, SF, name)  # hit
        assert off.schema == on.schema
        key_col = off.columns[0]
        assert (
            off.orderBy(key_col).limit(5).collect()
            == on.orderBy(key_col).limit(5).collect()
        )


def test_rewritten_file_invalidates(spark, tmp_path):
    sf_dir = str(tmp_path)
    path = os.path.join(sf_dir, "documents.parquet")

    spark.createDataFrame([Row(doc_id=1, text="a")]).toPandas().to_parquet(path)
    first = tables.load_table(spark, sf_dir, "documents")
    assert set(first.columns) == {"doc_id", "text"}

    # rewrite with a DIFFERENT schema; ensure mtime_ns moves even on
    # coarse-grained filesystems
    time.sleep(0.01)
    spark.createDataFrame(
        [Row(doc_id=1, text="a", source="web")]
    ).toPandas().to_parquet(path)
    second = tables.load_table(spark, sf_dir, "documents")
    assert set(second.columns) == {"doc_id", "text", "source"}
    assert second.collect() == [Row(doc_id=1, text="a", source="web")]


def test_directory_parquet_invalidates_on_overwrite(spark, tmp_path):
    sf_dir = str(tmp_path)
    path = os.path.join(sf_dir, "orders.parquet")

    spark.createDataFrame([Row(o_orderkey=1)]).write.mode("overwrite").parquet(path)
    first = tables.load_table(spark, sf_dir, "orders")
    assert first.columns == ["o_orderkey"]

    time.sleep(0.01)
    spark.createDataFrame(
        [Row(o_orderkey=2, o_totalprice=1.5)]
    ).write.mode("overwrite").parquet(path)
    second = tables.load_table(spark, sf_dir, "orders")
    assert set(second.columns) == {"o_orderkey", "o_totalprice"}
    assert second.count() == 1


def test_read_parquet_cached_partitioned_dir(spark, tmp_path):
    """read_parquet_cached (round 18): a hive-partitioned directory —
    the keyed-table / serving-index shape — reads identically cold and
    from the cache (schema INCLUDING the partition column, and rows),
    and a rewrite INSIDE a partition subdirectory invalidates (the
    recursive identity fix, ADVICE r17: the old top-level-only scandir
    key missed nested changes)."""
    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [Row(k=1, v="a", _bucket=0), Row(k=2, v="b", _bucket=1)]
    )
    df.write.partitionBy("_bucket").mode("overwrite").parquet(path)

    tables._SCHEMA_CACHE.clear()
    off = tables.read_parquet_cached(spark, path)  # cold inference
    on = tables.read_parquet_cached(spark, path)  # hit
    assert off.schema == on.schema
    assert sorted(off.collect()) == sorted(on.collect())

    # rewrite ONE nested partition dir in place with an extra column:
    # identity must change and the new schema must be served
    time.sleep(0.01)
    spark.createDataFrame([Row(k=9, v="z", extra=1.0)]).write.mode(
        "overwrite"
    ).parquet(os.path.join(path, "_bucket=0"))
    fresh = tables.read_parquet_cached(spark, path)
    assert "extra" in fresh.columns


def test_incremental_manifest_resolution_equals_cold(spark, tmp_path):
    """snapshot_manifest's incremental resolution (round 18): resolving
    version N from a cached N-1 fold state must equal a cold full
    replay, across appends, an overwrite (truncate marker) and more
    appends."""
    from pyspark.sql import functions as F

    from fiware_cosmos_orion_flink_connector_examples_spark.sources import layout

    path = str(tmp_path / "snap")
    base = spark.range(40).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("pc")
    )
    layout.snapshot_commit(spark, base.filter("k % 4 = 0"), path,
                           mode="overwrite", stats_cols=["k"])
    for r in (1, 2):
        layout.snapshot_commit(spark, base.filter(f"k % 4 = {r}"), path,
                               mode="append")
    layout.snapshot_commit(spark, base.filter("k % 4 = 3"), path,
                           mode="overwrite")
    layout.snapshot_commit(spark, base.filter("k % 4 = 0"), path,
                           mode="append", stats_cols=["k"])
    v = layout.snapshot_latest_version(spark, path)
    warm = layout.snapshot_manifest(spark, path, v)  # incremental path
    layout._MANIFEST_CACHE.clear()
    cold = layout.snapshot_manifest(spark, path, v)  # full replay
    assert warm == cold
    # and the resolved table content matches the raw recomputation
    got = layout.snapshot_read(spark, path).agg(
        F.sum("pc").alias("s"), F.count(F.lit(1)).alias("n")
    ).collect()[0]
    want = base.filter("k % 4 in (3, 0)").agg(
        F.sum("pc").alias("s"), F.count(F.lit(1)).alias("n")
    ).collect()[0]
    assert got == want
