"""Snapshot-table writer discipline: commits, time travel, isolation
and crash invisibility, stats-pruned scans, vacuum, keyed merges and
schema evolution."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_snapshot_commit_read_append_time_travel(spark, tmp_path):
    """Manifest commit log: overwrite/append versions, time travel to
    any retained version, O(1) latest-pointer resolution."""
    from fiware_cosmos_orion_flink_connector_examples_spark.sources import layout

    path = str(tmp_path / "snap")
    v1 = layout.snapshot_commit(
        spark, spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string"), path
    )
    v2 = layout.snapshot_commit(
        spark,
        spark.createDataFrame([(3, "c")], "k long, v string"),
        path,
        mode="append",
    )
    v3 = layout.snapshot_commit(
        spark, spark.createDataFrame([(9, "z")], "k long, v string"), path
    )
    assert (v1, v2, v3) == (1, 2, 3)
    assert layout.snapshot_latest_version(spark, path) == 3

    def rows(version=None):
        return {
            (r["k"], r["v"])
            for r in layout.snapshot_read(spark, path, version).collect()
        }

    assert rows() == {(9, "z")}
    assert rows(1) == {(1, "a"), (2, "b")}
    assert rows(2) == {(1, "a"), (2, "b"), (3, "c")}


def test_snapshot_isolation_and_crash_invisibility(spark, tmp_path):
    """A reader holding version N sees the SAME rows after later
    commits (immutable file list); a crash BEFORE the manifest rename
    (data + staged .tmp manifest only) is invisible — readers stay on
    the old version, the next commit takes the version number, and
    vacuum clears the stale stage.  A racing duplicate commit of the
    same version conflicts instead of clobbering."""
    import json
    from pathlib import Path as P

    import pytest as _pytest

    from fiware_cosmos_orion_flink_connector_examples_spark.sources import layout

    path = str(tmp_path / "snap")
    layout.snapshot_commit(
        spark, spark.createDataFrame([(1, "a")], "k long, v string"), path
    )
    reader_v1 = layout.snapshot_read(spark, path, 1)  # pinned file list
    layout.snapshot_commit(
        spark, spark.createDataFrame([(2, "b")], "k long, v string"), path
    )
    assert {(r["k"], r["v"]) for r in reader_v1.collect()} == {(1, "a")}

    # crash simulation: v3 data written and manifest STAGED at the
    # hidden .tmp name, never renamed into place — the only crash
    # window the protocol has
    data_dir = P(path) / "data" / "v3-crashed"
    spark.createDataFrame([(3, "c")], "k long, v string").write.parquet(str(data_dir))
    files = sorted(str(p) for p in data_dir.glob("part-*"))
    (P(path) / "._manifest_v3.json.tmp").write_text(
        json.dumps({"version": 3, "mode": "overwrite", "files": files, "schema": "{}"})
    )
    assert layout.snapshot_latest_version(spark, path) == 2
    assert {(r["k"], r["v"]) for r in layout.snapshot_read(spark, path).collect()} == {
        (2, "b")
    }
    # the NEXT commit takes v3; the crashed stage stays invisible and
    # its orphan data files are vacuum's job
    v = layout.snapshot_commit(
        spark, spark.createDataFrame([(4, "d")], "k long, v string"), path
    )
    assert v == 3 and {
        (r["k"], r["v"]) for r in layout.snapshot_read(spark, path).collect()
    } == {(4, "d")}
    # optimistic concurrency: a commit that lost the race to v3 raises
    with _pytest.raises(IOError, match="commit conflict"):
        layout._commit_manifest(spark, path, 3, {"version": 3, "files": []})
    out = layout.vacuum_snapshots(spark, path, keep_last=3)
    assert not (P(path) / "._manifest_v3.json.tmp").exists()
    assert out["deleted_files"] >= 2  # the crashed v3 orphans


def test_snapshot_vacuum_reclaims_orphans(spark, tmp_path):
    """vacuum_snapshots drops expired manifests and every data file no
    retained manifest references; retained versions stay readable."""
    import pytest as _pytest

    from fiware_cosmos_orion_flink_connector_examples_spark.sources import layout

    path = str(tmp_path / "snap")
    for i in range(4):  # v1..v4, each overwrite → v1-v3 files orphaned
        layout.snapshot_commit(
            spark, spark.createDataFrame([(i, f"v{i}")], "k long, v string"), path
        )
    out = layout.vacuum_snapshots(spark, path, keep_last=2)
    assert out["deleted_manifests"] == 2 and out["deleted_files"] >= 2
    assert {
        (r["k"], r["v"]) for r in layout.snapshot_read(spark, path).collect()
    } == {(3, "v3")}
    assert {
        (r["k"], r["v"]) for r in layout.snapshot_read(spark, path, 3).collect()
    } == {(2, "v2")}
    with _pytest.raises(Exception):
        layout.snapshot_read(spark, path, 1).collect()


def test_snapshot_merge_atomic_copy_on_write(spark, tmp_path):
    """Keyed snapshot MERGE: matched keys replaced / new inserted,
    untouched buckets carried BY REFERENCE (identical file paths in
    both manifests), pre-merge version still time-travelable, pinned
    readers unaffected, duplicate-key and wrong-key sources rejected."""
    import json
    from pathlib import Path as P

    import pytest as _pytest

    from fiware_cosmos_orion_flink_connector_examples_spark.sources import layout

    path = str(tmp_path / "ksnap")
    base = spark.createDataFrame(
        [(i, f"v{i}") for i in range(100)], "k long, v string"
    )
    assert layout.snapshot_write_keyed(spark, base, path, "k", n_buckets=8) == 1
    pinned = layout.snapshot_read(spark, path, 1)

    updates = spark.createDataFrame([(3, "CHANGED"), (777, "NEW")], "k long, v string")
    assert layout.snapshot_merge(spark, path, updates, "k") == 2

    got = {r["k"]: r["v"] for r in layout.snapshot_read(spark, path).collect()}
    expect = {i: f"v{i}" for i in range(100)}
    expect[3] = "CHANGED"
    expect[777] = "NEW"
    assert got == expect
    # pre-merge state intact: time travel AND the pinned reader
    v1 = {r["k"]: r["v"] for r in layout.snapshot_read(spark, path, 1).collect()}
    assert v1 == {i: f"v{i}" for i in range(100)}
    assert {r["k"]: r["v"] for r in pinned.collect()} == v1

    # copy-on-write by reference: only the MATCHED key's bucket is
    # rewritten (round 14 insert-aware COW: key 777 is brand new, so
    # its bucket gains an ADD file while its old files carry), and
    # every v1 file outside the rewritten bucket survives by path
    m1 = layout.snapshot_manifest(spark, path, 1)
    m2 = layout.snapshot_manifest(spark, path, 2)
    new_files = [f for f in m2["files"] if f not in m1["files"]]
    new_buckets = {m2["buckets"][f] for f in new_files}
    assert len(new_buckets) <= 2  # matched bucket + 777's insert bucket
    carried = set(m1["files"]) & set(m2["files"])
    rewritten = {b for b in new_buckets if any(
        m1["buckets"][f] == b for f in m1["files"] if f not in m2["files"]
    )}
    assert len(rewritten) <= 1  # only key 3's bucket lost files
    assert carried and all(m1["buckets"][f] not in rewritten for f in carried)
    # pure-insert merge: NOTHING is removed — every v2 file carries and
    # exactly the new key's add-files land (O(batch) commit writes)
    layout.snapshot_merge(
        spark, path, spark.createDataFrame([(888, "NEW2")], "k long, v string"), "k"
    )
    m3 = layout.snapshot_manifest(spark, path, 3)
    assert set(m2["files"]) <= set(m3["files"])
    got3 = {r["k"]: r["v"] for r in layout.snapshot_read(spark, path).collect()}
    assert got3[888] == "NEW2" and got3[3] == "CHANGED" and len(got3) == 102
    expect[888] = "NEW2"  # the insert-aware-COW row is table content now

    with _pytest.raises(ValueError, match="duplicate key"):
        layout.snapshot_merge(
            spark,
            path,
            spark.createDataFrame([(1, "a"), (1, "b")], "k long, v string"),
            "k",
        )
    with _pytest.raises(ValueError, match="keyed on 'k'"):
        layout.snapshot_merge(
            spark,
            path,
            spark.createDataFrame([(1, "a")], "wrong long, v string"),
            "wrong",
        )
    # a plain (non-keyed) snapshot table is rejected
    plain = str(tmp_path / "plain")
    layout.snapshot_commit(spark, base, plain)
    with _pytest.raises(ValueError, match="not a snapshot_write_keyed"):
        layout.snapshot_merge(spark, plain, updates, "k")
    # ...and the converse: a plain commit to a KEYED table is rejected
    # (it would drop the bucket map and break future merges)
    with _pytest.raises(ValueError, match="keyed"):
        layout.snapshot_commit(spark, updates, path)

    # vacuum reclaims superseded KEYED bucket files (they nest one
    # _bucket=<b> level deeper than flat commits)
    layout.snapshot_merge(
        spark, path, spark.createDataFrame([(3, "AGAIN")], "k long, v string"), "k"
    )
    out = layout.vacuum_snapshots(spark, path, keep_last=1)
    assert out["deleted_files"] >= 1
    got = {r["k"]: r["v"] for r in layout.snapshot_read(spark, path).collect()}
    expect[3] = "AGAIN"
    assert got == expect


def test_snapshot_scan_prunes_by_stats(spark, tmp_path):
    """File-skipping: per-file min/max stats recorded at commit prune
    non-overlapping files from a range scan, results identical to a
    filtered full read; files committed WITHOUT stats are kept
    conservatively."""
    from fiware_cosmos_orion_flink_connector_examples_spark.sources import layout

    path = str(tmp_path / "snap")
    # three disjoint ranges, one commit each → three stats-bearing file sets
    for lo in (0, 1000, 2000):
        layout.snapshot_commit(
            spark,
            spark.range(lo, lo + 100).select(F.col("id").alias("k")),
            path,
            mode="append",
            stats_cols=["k"],
        )
    df, n_read, n_total = layout.snapshot_scan(spark, path, "k", 1010, 1020)
    assert n_read < n_total
    got = sorted(r["k"] for r in df.collect())
    full = sorted(
        r["k"]
        for r in layout.snapshot_read(spark, path)
        .filter("k BETWEEN 1010 AND 1020")
        .collect()
    )
    assert got == full == list(range(1010, 1021))

    # a stats-less commit stays conservatively unpruned
    layout.snapshot_commit(
        spark,
        spark.range(5000, 5010).select(F.col("id").alias("k")),
        path,
        mode="append",
    )
    _, n_read2, n_total2 = layout.snapshot_scan(spark, path, "k", 1010, 1020)
    assert n_total2 > n_total and n_read2 > n_read  # new files kept


def test_snapshot_append_stream_exactly_once(spark, tmp_path):
    """The streaming append sink: one atomic commit per micro-batch,
    and a replayed batch_id is a no-op (the txnVersion watermark)."""
    import json as _json

    from fiware_cosmos_orion_flink_connector_examples_spark.sources import layout

    spool = tmp_path / "snap_spool"
    spool.mkdir()
    for i in range(3):
        with open(spool / f"b{i}.jsonl", "w") as f:
            for k in range(i * 10, i * 10 + 10):
                f.write(_json.dumps({"k": k}) + "\n")
    table = str(tmp_path / "snap_table")
    stream = spark.readStream.schema("k long").option("maxFilesPerTrigger", 1).json(
        str(spool)
    )
    sink = layout.snapshot_append_stream(table, "pipeA", stats_cols=["k"])
    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(r["k"] for r in layout.snapshot_read(spark, table).collect())
    assert got == list(range(30))
    v = layout.snapshot_latest_version(spark, table)
    assert v == 3  # one commit per micro-batch

    # retry replay: re-deliver the LAST batch id → no-op, no duplicates
    last_batch = spark.createDataFrame([(k,) for k in range(20, 30)], "k long")
    sink(last_batch, 2)
    assert layout.snapshot_latest_version(spark, table) == v
    got2 = sorted(r["k"] for r in layout.snapshot_read(spark, table).collect())
    assert got2 == list(range(30))
    # a genuinely NEW batch id appends
    sink(spark.createDataFrame([(99,)], "k long"), 3)
    assert 99 in {r["k"] for r in layout.snapshot_read(spark, table).collect()}

    # a SECOND app's low batch ids are NOT discarded (per-app txn
    # watermarks, the Delta txnAppId shape)
    sink_b = layout.snapshot_append_stream(table, "pipeB")
    sink_b(spark.createDataFrame([(500,)], "k long"), 0)
    assert 500 in {r["k"] for r in layout.snapshot_read(spark, table).collect()}
    # ...and an interleaved PLAIN append carries every watermark
    # forward, so a replay of pipeA's batch 3 is still a no-op
    layout.snapshot_commit(
        spark, spark.createDataFrame([(600,)], "k long"), table, mode="append"
    )
    before = layout.snapshot_latest_version(spark, table)
    sink(spark.createDataFrame([(99,)], "k long"), 3)
    assert layout.snapshot_latest_version(spark, table) == before
    ks = [r["k"] for r in layout.snapshot_read(spark, table).collect()]
    assert ks.count(99) == 1


def test_snapshot_merge_deletes_and_change_feed(spark, tmp_path):
    """WHEN MATCHED DELETE rides the same atomic commit as upserts,
    and snapshot_changes reconstructs the exact insert/update/delete
    feed between any two retained versions."""
    from fiware_cosmos_orion_flink_connector_examples_spark.sources import layout

    path = str(tmp_path / "ksnap")
    layout.snapshot_write_keyed(
        spark,
        spark.createDataFrame([(i, f"v{i}") for i in range(10)], "k long, v string"),
        path,
        "k",
        n_buckets=4,
    )
    updates = spark.createDataFrame(
        [
            (3, "CHANGED", False),
            (7, None, True),     # delete
            (99, "NEW", False),  # insert
            (55, None, True),    # delete of an ABSENT key: no-op
        ],
        "k long, v string, _del boolean",
    )
    layout.snapshot_merge(spark, path, updates, "k", delete_col="_del")

    got = {r["k"]: r["v"] for r in layout.snapshot_read(spark, path).collect()}
    expect = {i: f"v{i}" for i in range(10) if i != 7}
    expect[3] = "CHANGED"
    expect[99] = "NEW"
    assert got == expect
    assert "_del" not in layout.snapshot_read(spark, path).columns

    changes = {
        r["k"]: (r["_change"], r["v"])
        for r in layout.snapshot_changes(spark, path, 1, 2).collect()
    }
    assert changes == {
        3: ("update", "CHANGED"),
        7: ("delete", "v7"),
        99: ("insert", "NEW"),
    }


def test_snapshot_append_schema_evolution(spark, tmp_path):
    """Appending a frame with a NEW column evolves the table schema
    (old rows read NULL there), time travel shows the pre-evolution
    shape, and retyping an existing column is rejected."""
    import pytest as _pytest

    from fiware_cosmos_orion_flink_connector_examples_spark.sources import layout

    path = str(tmp_path / "snap")
    layout.snapshot_commit(
        spark, spark.createDataFrame([(1, "a")], "k long, v string"), path
    )
    layout.snapshot_commit(
        spark,
        spark.createDataFrame([(2, "b", 9.5)], "k long, v string, score double"),
        path,
        mode="append",
    )
    rows = {r["k"]: (r["v"], r["score"]) for r in layout.snapshot_read(spark, path).collect()}
    assert rows == {1: ("a", None), 2: ("b", 9.5)}
    assert [f.name for f in layout.snapshot_read(spark, path, 1).schema.fields] == [
        "k",
        "v",
    ]
    with _pytest.raises(ValueError, match="never retypes"):
        layout.snapshot_commit(
            spark,
            spark.createDataFrame([(3, 42)], "k long, v long"),
            path,
            mode="append",
        )


def test_snapshot_stats_and_scan_survive_evolution_and_timestamps(spark, tmp_path):
    """Review-r11 regressions pinned: (a) stats on a TIMESTAMP column
    serialize and prune (ISO-string bounds — lexicographic order is
    chronological); (b) a scan on a column added by schema evolution
    binds the manifest schema instead of crashing on a pre-evolution
    file's footer; (c) the change feed crosses the evolution boundary
    with typed NULLs for the added column."""
    import datetime as dt

    from fiware_cosmos_orion_flink_connector_examples_spark.sources import layout

    path = str(tmp_path / "snap")
    t0 = dt.datetime(2026, 3, 1, 0, 0, 0)
    for day in range(3):
        rows = [
            (day * 10 + i, t0 + dt.timedelta(days=day, hours=i)) for i in range(5)
        ]
        layout.snapshot_commit(
            spark,
            spark.createDataFrame(rows, "k long, ts timestamp"),
            path,
            mode="append",
            stats_cols=["ts"],
        )
    df, n_read, n_total = layout.snapshot_scan(
        spark, path, "ts", "2026-03-02 00:00:00", "2026-03-02 23:59:59"
    )
    assert n_read < n_total
    assert sorted(r["k"] for r in df.collect()) == [10, 11, 12, 13, 14]

    # (b) evolve with a new column, then scan on it
    layout.snapshot_commit(
        spark,
        spark.createDataFrame(
            [(100, t0, 7.5)], "k long, ts timestamp, score double"
        ),
        path,
        mode="append",
        stats_cols=["score"],
    )
    df2, _, _ = layout.snapshot_scan(spark, path, "score", 5.0, 10.0)
    assert [r["k"] for r in df2.collect()] == [100]

    # (c) CDF across the evolution boundary (non-keyed: pass key_col)
    feed = {
        r["k"]: (r["_change"], r["score"])
        for r in layout.snapshot_changes(spark, path, 3, 4, key_col="k").collect()
    }
    assert feed == {100: ("insert", 7.5)}
