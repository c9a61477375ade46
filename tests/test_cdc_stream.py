"""The snapshot CDC feed as a native Structured Streaming source
(round 16, ``sources/cdc_stream.py``): version-offset checkpointing,
executor-side per-file partitions, feed parity with
``layout.snapshot_changes_feed``, and exactly-once across a
checkpointed restart."""

from __future__ import annotations

import pytest

from fiware_cosmos_orion_flink_connector_examples_spark.sources import (
    cdc_stream,
    layout,
)


def _kv(spark, rows, schema="k long, g string, x long"):
    return spark.createDataFrame(rows, schema)


UPD = "k long, g string, x long, _del boolean"


@pytest.fixture()
def table(spark, tmp_path):
    p = str(tmp_path / "t")
    layout.snapshot_write_keyed(
        spark, _kv(spark, [(1, "a", 5), (2, "b", 7), (3, "c", 2)]), p, "k",
        n_buckets=2,
    )
    layout.snapshot_merge(
        spark, p,
        _kv(spark, [(2, "b", 9, False), (3, None, None, True),
                    (4, "d", 1, False)], UPD),
        "k", delete_col="_del",
    )
    return p


def _drain(spark, path, ckpt, name, start=0):
    """Drain everything unconsumed into a set via foreachBatch (the
    memory sink cannot recover from a checkpoint; foreachBatch can)."""
    cdc_stream.register(spark)
    got: set = set()

    def sink(batch, batch_id):
        got.update(tuple(r) for r in batch.collect())

    q = (
        spark.readStream.format("snapshot_cdc")
        .option("startVersion", start)
        .load(path)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return got


def test_stream_matches_changes_feed_plus_bootstrap(spark, tmp_path, table):
    got = _drain(spark, table, str(tmp_path / "ck"), "cdc_t1")
    # bootstrap: v1's rows as inserts
    boot = {(1, "insert", r["k"], r["g"], r["x"])
            for r in layout.snapshot_read(spark, table, 1).collect()}
    feed = {
        (r["_version"], r["_change"], r["k"], r["g"], r["x"])
        for r in layout.snapshot_changes_feed(spark, table, 1).collect()
    }
    assert got == boot | feed
    assert (2, "delete", 3, "c", 2) in got  # deletes carry the OLD row
    assert not any(c == "update_pre" for _, c, *_ in got)


def test_checkpointed_restart_is_exactly_once(spark, tmp_path, table):
    ckpt = str(tmp_path / "ck")
    got1 = _drain(spark, table, ckpt, "cdc_r1")
    assert {v for v, *_ in got1} == {1, 2}

    # restart with NO new commits: nothing re-delivered
    got2 = _drain(spark, table, ckpt, "cdc_r2")
    assert got2 == set()

    # one new commit: ONLY its changes arrive on the next restart
    layout.snapshot_merge(
        spark, table,
        _kv(spark, [(1, "a", 50, False), (4, None, None, True)], UPD),
        "k", delete_col="_del",
    )
    got3 = _drain(spark, table, ckpt, "cdc_r3")
    assert got3 == {(3, "update", 1, "a", 50), (3, "delete", 4, "d", 1)}


def test_start_version_skips_bootstrap(spark, tmp_path, table):
    got = _drain(spark, table, str(tmp_path / "ck"), "cdc_s1", start=1)
    assert {v for v, *_ in got} == {2}


def test_feed_drives_downstream_aggregate(spark, tmp_path, table):
    """The point of the source: ANY streaming query can consume the
    commit log — a foreachBatch aggregate over the feed reconstructs
    the table's current per-group totals from changes alone."""
    import pyspark.sql.functions as F

    state: dict = {}

    def apply_batch(batch, batch_id):
        for r in batch.collect():
            if r["_change"] == "delete":
                state.pop(r["k"], None)
            else:
                state[r["k"]] = (r["g"], r["x"])

    cdc_stream.register(spark)
    q = (
        spark.readStream.format("snapshot_cdc")
        .load(table)
        .writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    expect = {
        r["k"]: (r["g"], r["x"])
        for r in layout.snapshot_read(spark, table).collect()
    }
    assert state == expect


def test_vacuumed_version_raises_rebootstrap_hint(spark, tmp_path):
    p = str(tmp_path / "t")
    layout.snapshot_write_keyed(spark, _kv(spark, [(1, "a", 5)]), p, "k")
    for i in range(3):
        layout.snapshot_merge(
            spark, p, _kv(spark, [(1, "a", 10 + i, False)], UPD), "k",
            delete_col="_del",
        )
    layout.vacuum_snapshots(spark, p, keep_last=1)
    cdc_stream.register(spark)
    q = (
        spark.readStream.format("snapshot_cdc")
        .option("startVersion", 0)
        .load(p)
        .writeStream.format("noop")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(Exception, match="vacuum|missing"):
        q.awaitTermination(120)
        if q.exception():
            raise q.exception()


def test_include_pre_images_enables_external_signed_ivm(spark, tmp_path, table):
    """includePreImages=true emits update_pre rows — an EXTERNAL
    consumer can then maintain its own aggregate with the signed
    algebra (insert/update +1, delete/update_pre -1) and land exactly
    on the table's current totals."""
    cdc_stream.register(spark)
    totals: dict = {}

    def apply_batch(batch, batch_id):
        for r in batch.collect():
            sign = 1 if r["_change"] in ("insert", "update") else -1
            n, s = totals.get(r["g"], (0, 0))
            n, s = n + sign, s + sign * (r["x"] or 0)
            if n == 0:
                totals.pop(r["g"], None)
            else:
                totals[r["g"]] = (n, s)

    q = (
        spark.readStream.format("snapshot_cdc")
        .option("includePreImages", "true")
        .load(table)
        .writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    import pyspark.sql.functions as F

    expect = {
        r["g"]: (r["n"], r["s"])
        for r in layout.snapshot_read(spark, table)
        .groupBy("g")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("x").alias("s"))
        .collect()
    }
    assert totals == expect


def test_hostile_table_path_space_plus_percent(spark, tmp_path):
    """Manifests record RAW Hadoop paths (never percent-encoded): a
    table under a directory containing a space, '+', AND a literal
    '%20' must stream correctly — percent-decoding the recorded file
    paths would resolve the wrong file (round-16 fix)."""
    import os

    base = str(tmp_path / "dir with+plus%20pct")
    os.makedirs(base)
    p = f"{base}/t"
    layout.snapshot_write_keyed(spark, _kv(spark, [(1, "a", 5)]), p, "k")
    layout.snapshot_merge(
        spark, p, _kv(spark, [(1, "a", 9, False), (2, "b", 3, False)], UPD),
        "k", delete_col="_del",
    )
    got = _drain(spark, p, str(tmp_path / "ck"), "cdc_hostile")
    assert got == {(1, "insert", 1, "a", 5), (2, "update", 1, "a", 9),
                   (2, "insert", 2, "b", 3)}


def test_unkeyed_table_bootstraps_from_v1(spark, tmp_path):
    """ADVICE r16: a table CREATED via plain snapshot_commit overwrite
    records change_mode='truncate' at v1 — the documented 'version 1
    streams as inserts' bootstrap must cover that shape too, plus
    subsequent appends as insert commits."""
    p = str(tmp_path / "unkeyed")
    layout.snapshot_commit(
        spark, _kv(spark, [(1, "a", 5), (2, "b", 7)]), p, mode="overwrite"
    )
    layout.snapshot_commit(
        spark, _kv(spark, [(3, "c", 2)]), p, mode="append"
    )
    got = _drain(spark, p, str(tmp_path / "ck"), "cdc_unkeyed")
    assert got == {(1, "insert", 1, "a", 5), (1, "insert", 2, "b", 7),
                   (2, "insert", 3, "c", 2)}


def test_backlog_drain_across_schema_evolution(spark, tmp_path):
    """ADVICE r16: the declared stream schema is the LATEST manifest's;
    a drain whose backlog spans a schema evolution must serve EVERY
    commit through that one schema — pre-evolution changelog files
    None-fill the later-added column instead of emitting short tuples."""
    p = str(tmp_path / "evo")
    layout.snapshot_write_keyed(
        spark, _kv(spark, [(1, "a", 5), (2, "b", 7)]), p, "k"
    )
    # v2: pre-evolution merge (old 3-column schema)
    layout.snapshot_merge(
        spark, p, _kv(spark, [(2, "b", 9, False)], UPD),
        "k", delete_col="_del",
    )
    # v3: evolution merge ADDS a column
    layout.snapshot_merge(
        spark, p,
        spark.createDataFrame(
            [(3, "c", 1, "note", False)],
            "k long, g string, x long, extra string, _del boolean",
        ),
        "k", delete_col="_del",
    )
    # the whole backlog (v1 bootstrap + v2 old-schema log + v3 new-schema
    # log) drains in ONE stream whose schema has `extra`
    got = _drain(spark, p, str(tmp_path / "ck"), "cdc_evo")
    assert got == {
        (1, "insert", 1, "a", 5, None),
        (1, "insert", 2, "b", 7, None),
        (2, "update", 2, "b", 9, None),
        (3, "insert", 3, "c", 1, "note"),
    }


def test_read_yields_record_batches(spark, tmp_path, table):
    """The executor read path is VECTORIZED: read(partition) yields
    pyarrow.RecordBatch objects (not per-row tuples), with the
    pre-image filter applied arrow-side and columns matching the
    declared (_version, _change, *table) schema."""
    import pyarrow as pa

    reader = cdc_stream.SnapshotCdcStreamReader(
        {"path": table},
        __import__("pyspark.sql.types", fromlist=["StructType"]).StructType.fromDDL(
            cdc_stream.SnapshotCdcDataSource(
                {"path": table}
            ).schema()
        ),
    )
    parts = reader.partitions({"version": 0}, {"version": reader.latestOffset()["version"]})
    assert parts, "expected at least one partition"
    rows = []
    for part in parts:
        for batch in reader.read(part):
            assert isinstance(batch, pa.RecordBatch)
            assert batch.schema.names[:2] == ["_version", "_change"]
            rows.extend(batch.to_pylist())
    assert not any(r["_change"] == "update_pre" for r in rows)
    # parity with the driver-level drain
    got = {(r["_version"], r["_change"], r["k"], r["g"], r["x"]) for r in rows}
    expect = _drain(spark, table, str(tmp_path / "ck"), "cdc_vec")
    assert got == expect


def test_start_timestamp_option(spark, tmp_path):
    """startTimestamp (round 17, the Delta startingTimestamp analog):
    the stream serves every commit at-or-after the given time — the
    cursor resolves to the newest earlier commit off the manifests'
    committed_at stamps.  Exclusive with startVersion."""
    import time

    p = str(tmp_path / "t")
    layout.snapshot_write_keyed(
        spark, _kv(spark, [(1, "a", 5), (2, "b", 7)]), p, "k", n_buckets=2
    )
    time.sleep(0.05)
    t_mid = time.time()
    time.sleep(0.05)
    layout.snapshot_merge(
        spark, p, _kv(spark, [(1, "a", 50, False)], UPD), "k",
        delete_col="_del",
    )
    cdc_stream.register(spark)
    got: set = set()

    def sink(batch, batch_id):
        got.update(tuple(r) for r in batch.collect())

    q = (
        spark.readStream.format("snapshot_cdc")
        .option("startTimestamp", str(t_mid))
        .load(p)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # only v2 (committed after t_mid) arrives — no bootstrap rows
    assert got == {(2, "update", 1, "a", 50)}

    with pytest.raises(Exception, match="exclusive"):
        (
            spark.readStream.format("snapshot_cdc")
            .option("startTimestamp", str(t_mid))
            .option("startVersion", 0)
            .load(p)
            .writeStream.format("noop")
            .option("checkpointLocation", str(tmp_path / "ck2"))
            .trigger(availableNow=True)
            .start()
            .awaitTermination(120)
        )


def _cdc_files(path, v):
    """(kind, files) the CDC planner names for commit ``v`` alone —
    called directly, no stream started."""
    reader = cdc_stream.SnapshotCdcStreamReader({"path": path})
    parts = reader.partitions({"version": v - 1}, {"version": v})
    return {p.kind for p in parts}, sorted(p.file for p in parts)


def _span_files(spark, path, v):
    span = layout.snapshot_span_delta_files(spark, path, v - 1, v)
    files = span["log_files"].get(v) or span["insert_files"].get(v) or []
    return sorted(cdc_stream._local(f) for f in files)


def test_change_readers_agree_on_every_commit_kind(spark, tmp_path):
    """The span reader (batch feed, view syncs) and the CDC stream's
    planner classify every commit kind the same way, version by
    version: merges and appends name the same delta files, the three
    compactions name nothing, and a restore raises in both."""
    p = str(tmp_path / "t")
    layout.snapshot_write_keyed(
        spark, _kv(spark, [(i, "abcd"[i % 4], i) for i in range(20)]), p, "k",
        n_buckets=4,
    )
    layout.snapshot_merge(spark, p, _kv(spark, [(100, "z", 1), (101, "z", 2)]), "k")
    layout.snapshot_merge(spark, p, _kv(spark, [(3, "q", 30), (7, "q", 70)]), "k")
    layout.snapshot_merge(spark, p, _kv(spark, [(5, "m", 50)]), "k", mode="mor")
    assert layout.compact_dv_buckets(spark, p) == 5
    assert layout.compact_files(spark, p, target_files=2) == 6
    assert layout.compact_metadata(spark, p) == 7
    assert layout.snapshot_restore(spark, p, version=3) == 8

    # v1, the keyed creation: the stream bootstraps it as inserts of its
    # files, the span reader has no delta to serve
    kinds, files = _cdc_files(p, 1)
    assert kinds == {"insert"}
    assert files == sorted(
        cdc_stream._local(f) for f in layout.snapshot_manifest(spark, p, 1)["files"]
    )
    with pytest.raises(ValueError):
        layout.snapshot_span_delta_files(spark, p, 0, 1)
    for v in (2, 3, 4):  # insert, update and merge-on-read merges
        kinds, files = _cdc_files(p, v)
        assert kinds == {"log"} and files, v
        assert files == _span_files(spark, p, v), v
    for v in (5, 6, 7):  # the three compactions
        assert _cdc_files(p, v) == (set(), []), v
        assert _span_files(spark, p, v) == [], v
    with pytest.raises(layout.SnapshotTruncateInFeed):
        _cdc_files(p, 8)
    with pytest.raises(layout.SnapshotTruncateInFeed):
        layout.snapshot_span_delta_files(spark, p, 7, 8)

    # a plain table's append is its own insert delta in both readers
    q = str(tmp_path / "plain")
    layout.snapshot_commit(spark, _kv(spark, [(1, "a", 1)]), q)
    layout.snapshot_commit(spark, _kv(spark, [(2, "b", 2)]), q, mode="append")
    kinds, files = _cdc_files(q, 2)
    assert kinds == {"insert"} and files == _span_files(spark, q, 2)
