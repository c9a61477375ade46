"""Round-17 snapshot-layer features (VERDICT r16 #1/#2).

* DELETION VECTORS / merge-on-read: ``snapshot_merge(mode="mor")``
  records matched keys' old rows as per-file position-delete sidecars
  instead of rewriting buckets; every reader anti-joins them away
  (``snapshot_read_files``); ``compact_files`` materializes them;
  COW merges of a DV'd bucket materialize that bucket's DVs; vacuum
  retains sidecars any retained version references.
* ``snapshot_restore(path, version)`` / ``catalog_restore``: rollback
  as a metadata-only new commit re-pinning the target version's
  resolved state.

Reference scope note: the reference repo has no storage layer (its
only sink is HTTP, Example2.scala:42); [ext] engine infrastructure.
"""

import pytest
from pyspark.sql import functions as F

from fiware_cosmos_orion_flink_connector_examples_spark.operators import ivm
from fiware_cosmos_orion_flink_connector_examples_spark.sources import layout

SRC = "k long, g string, x long"
UPD = "k long, g string, x long, _del boolean"


def _src(spark, rows):
    return spark.createDataFrame(rows, SRC)


def _upd(spark, rows):
    return spark.createDataFrame(rows, UPD)


def _rows(spark, path, version=None):
    return {
        (r["k"], r["g"], r["x"])
        for r in layout.snapshot_read(spark, path, version).collect()
    }


OPS = [
    # (updates, note) — a churny op stream: updates, deletes,
    # inserts, re-insert of a deleted key, repeat-update of one key
    ([(3, "a", 999, False), (7, "b", 777, False), (5, None, None, True)], "mix"),
    ([(3, "a", 111, False), (21, "c", 1, False)], "re-update + insert"),
    ([(5, "a", 555, False), (7, None, None, True)], "re-insert deleted key"),
]


def _apply_stream(spark, path, mode):
    layout.snapshot_write_keyed(
        spark, _src(spark, [(i, "ab"[i % 2], i * 10) for i in range(20)]),
        path, "k", n_buckets=4,
    )
    feeds = []
    for ops, _note in OPS:
        v = layout.snapshot_merge(
            spark, path, _upd(spark, ops), "k", delete_col="_del", mode=mode
        )
        feeds.append(
            sorted(
                (r["_change"], r["k"], r["g"], r["x"])
                for r in layout.snapshot_changes_feed(
                    spark, path, v - 1, v
                ).collect()
            )
        )
    return feeds


def test_mor_equals_cow_on_same_op_stream(spark, tmp_path):
    """The MOR path is INVISIBLE semantics: the same op stream applied
    mode='mor' and mode='cow' yields row-identical reads at every
    version AND identical per-commit changelogs (CDC consumers and
    incremental views cannot tell the difference)."""
    p_cow, p_mor = str(tmp_path / "cow"), str(tmp_path / "mor")
    feeds_cow = _apply_stream(spark, p_cow, "cow")
    feeds_mor = _apply_stream(spark, p_mor, "mor")
    assert feeds_cow == feeds_mor
    for v in (1, 2, 3, 4):
        assert _rows(spark, p_cow, v) == _rows(spark, p_mor, v), f"v{v}"
    # and the MOR table genuinely used deletion vectors
    m = layout.snapshot_manifest(spark, p_mor)
    assert m["dv"] and sum(m["dv_rows"].values()) > 0


def test_mor_write_amplification_is_o_batch(spark, tmp_path):
    """The headline: a 1-row update to a populated bucket REWRITES
    NOTHING — v1's files all carry forward, the commit adds only the
    batch's own (tiny) file plus a position sidecar."""
    p = str(tmp_path / "t")
    layout.snapshot_write_keyed(
        spark, _src(spark, [(i, "g", i) for i in range(1000)]), p, "k",
        n_buckets=2,
    )
    v1_files = set(layout.snapshot_manifest(spark, p, 1)["files"])
    layout.snapshot_merge(
        spark, p, _upd(spark, [(500, "g", -1, False)]), "k",
        delete_col="_del", mode="mor",
    )
    m = layout.snapshot_manifest(spark, p)
    assert v1_files <= set(m["files"]), "MOR must not remove v1 files"
    new = set(m["files"]) - v1_files
    assert len(new) == 1, "one appended batch file"
    assert sum(m["dv_rows"].values()) == 1, "one deleted position"
    assert _rows(spark, p) == {
        (i, "g", i) for i in range(1000) if i != 500
    } | {(500, "g", -1)}


def test_dv_respected_by_scan_lookup_and_ivm(spark, tmp_path):
    """Every reader honors deletion vectors: stats-pruned scans, bloom
    point lookups, and an incremental agg view synced across MOR
    commits stays ≡ recompute (changelog is the source of truth)."""
    src, view = str(tmp_path / "src"), str(tmp_path / "view")
    layout.snapshot_write_keyed(
        spark, _src(spark, [(i, "ab"[i % 2], i) for i in range(40)]),
        src, "k", n_buckets=4, stats_cols=["x"],
    )
    ivm.agg_view_create(spark, src, view, ["g"], ["x"])
    layout.snapshot_merge(
        spark, src,
        _upd(spark, [(10, "a", 1000, False), (11, None, None, True)]),
        "k", delete_col="_del", mode="mor",
    )
    ivm.agg_view_sync(spark, src, view, ["g"], ["x"])
    # scan: the deleted/updated rows' old images never surface
    df, _, _ = layout.snapshot_scan(spark, src, "x", 0, 10_000)
    got = {(r["k"], r["x"]) for r in df.collect()}
    assert (10, 1000) in got and (10, 10) not in got and (11, 11) not in got
    # view ≡ recompute over the live table
    recompute = {
        (r["g"], r["s"])
        for r in layout.snapshot_read(spark, src)
        .groupBy("g").agg(F.sum("x").alias("s")).collect()
    }
    served = {
        (r["g"], r["sum_x"])
        for r in ivm.agg_view_read(spark, view).select("g", "sum_x").collect()
    }
    assert served == recompute


def test_mor_auto_mode_thresholds(spark, tmp_path):
    """mode='auto' decides from exact probe counts: a needle update
    writes DVs, a backfill touching most rows rewrites (COW)."""
    p = str(tmp_path / "t")
    big = spark.range(2000).select(
        F.col("id").alias("k"), F.lit("g").alias("g"),
        (F.col("id") * 2).alias("x"),
    )
    layout.snapshot_write_keyed(spark, big, p, "k", n_buckets=4)
    layout.snapshot_merge(
        spark, p, _upd(spark, [(17, "g", 9, False)]), "k",
        delete_col="_del", mode="auto",
    )
    assert layout.snapshot_manifest(spark, p)["dv"], "needle → MOR"
    backfill = big.filter(F.col("k") < 1500).select(
        "k", "g", (F.col("x") + 1).alias("x")
    ).withColumn("_del", F.lit(False))
    layout.snapshot_merge(
        spark, p, backfill, "k", delete_col="_del", mode="auto"
    )
    m = layout.snapshot_manifest(spark, p)
    assert not m["dv"], "backfill → COW rewrite materializes the DVs too"
    assert layout.snapshot_read(spark, p).count() == 2000


def test_compact_materializes_dvs_and_vacuum_keeps_live_sidecars(
    spark, tmp_path
):
    """compact_files drops every DV (rows preserved); vacuum retains
    sidecars referenced by retained versions and reclaims them once
    the last referencing version expires."""
    p = str(tmp_path / "t")
    layout.snapshot_write_keyed(
        spark, _src(spark, [(i, "g", i) for i in range(30)]), p, "k",
        n_buckets=2,
    )
    layout.snapshot_merge(
        spark, p, _upd(spark, [(3, "g", -3, False), (4, None, None, True)]),
        "k", delete_col="_del", mode="mor",
    )
    dv_files = {
        f for lst in layout.snapshot_manifest(spark, p)["dv"].values()
        for f in lst
    }
    assert dv_files
    before = _rows(spark, p)
    # vacuum keeping v2 (the DV version): sidecars must survive
    layout.vacuum_snapshots(spark, p, keep_last=1)
    assert _rows(spark, p) == before
    layout.compact_files(spark, p)  # v3: materialize
    m = layout.snapshot_manifest(spark, p)
    assert not m["dv"] and not m["dv_rows"]
    assert _rows(spark, p) == before
    # now expire v2 → its sidecars are orphans and get reclaimed
    res = layout.vacuum_snapshots(spark, p, keep_last=1)
    assert res["deleted_files"] > 0
    import os

    for f in dv_files:
        assert not os.path.exists(f.replace("file:", "")), f
    assert _rows(spark, p) == before


def test_mor_key_fully_deleted_then_reinserted_is_insert(spark, tmp_path):
    """A key whose every stored row is position-deleted is NOT a match:
    re-inserting it records _change='insert' (not 'update' against a
    dead row) — the DV-aware probe contract."""
    p = str(tmp_path / "t")
    layout.snapshot_write_keyed(
        spark, _src(spark, [(1, "a", 1), (2, "b", 2)]), p, "k"
    )
    layout.snapshot_merge(
        spark, p, _upd(spark, [(1, None, None, True)]), "k",
        delete_col="_del", mode="mor",
    )
    v = layout.snapshot_merge(
        spark, p, _upd(spark, [(1, "a", 99, False)]), "k",
        delete_col="_del", mode="mor",
    )
    feed = [
        (r["_change"], r["k"])
        for r in layout.snapshot_changes_feed(spark, p, v - 1, v).collect()
    ]
    assert feed == [("insert", 1)]
    assert _rows(spark, p) == {(1, "a", 99), (2, "b", 2)}


def test_mor_with_schema_evolution_batch(spark, tmp_path):
    """A MOR merge whose batch ADDS a column evolves the schema exactly
    like COW: old files (and old positions) read NULL through the
    union schema, the DV anti-join still lands on the right rows."""
    p = str(tmp_path / "t")
    layout.snapshot_write_keyed(
        spark, _src(spark, [(1, "a", 1), (2, "b", 2)]), p, "k"
    )
    evolved = spark.createDataFrame(
        [(1, "a", 10, "note", False)],
        "k long, g string, x long, extra string, _del boolean",
    )
    layout.snapshot_merge(
        spark, p, evolved, "k", delete_col="_del", mode="mor"
    )
    got = {
        (r["k"], r["x"], r["extra"])
        for r in layout.snapshot_read(spark, p).collect()
    }
    assert got == {(1, 10, "note"), (2, 2, None)}


def test_snapshot_restore_roundtrip(spark, tmp_path):
    """Bad write → restore: reads equal the target version, time
    travel still serves the bad version, CDC raises across the
    restore (re-bootstrap signal), txn watermarks carry forward, and
    a restore across a schema evolution un-evolves."""
    p = str(tmp_path / "t")
    layout.snapshot_write_keyed(
        spark, _src(spark, [(1, "a", 1), (2, "b", 2)]), p, "k"
    )
    layout.snapshot_merge(
        spark, p, _upd(spark, [(3, "a", 3, False)]), "k", delete_col="_del",
        _txn_update={"app1": 7},
    )
    good = _rows(spark, p)
    # the bad write: evolves schema AND corrupts rows
    bad = spark.createDataFrame(
        [(1, "a", -999, "oops", False), (2, "b", -999, "oops", False)],
        "k long, g string, x long, extra string, _del boolean",
    )
    layout.snapshot_merge(spark, p, bad, "k", delete_col="_del")
    assert _rows(spark, p) != good
    v = layout.snapshot_restore(spark, p, 2)
    assert v == 4
    assert _rows(spark, p) == good
    assert _rows(spark, p, 3) != good  # bad version still time-travels
    # schema rolled back (un-evolved)
    assert "extra" not in layout.snapshot_read(spark, p).columns
    # txn carried FORWARD from the current version
    assert layout.snapshot_manifest(spark, p)["txn"] == {"app1": 7}
    # CDC across the restore raises the re-bootstrap signal
    with pytest.raises(layout.SnapshotTruncateInFeed):
        layout.snapshot_changes_feed(spark, p, 3, 4).collect()
    # a hash-driver-style check: restore-then-query ≡ querying v2
    assert _rows(spark, p) == _rows(spark, p, 2)
    # restores keep working after more commits (restore the restore away)
    layout.snapshot_merge(
        spark, p, _upd(spark, [(9, "z", 9, False)]), "k", delete_col="_del"
    )
    layout.snapshot_restore(spark, p, 3)
    assert _rows(spark, p) == _rows(spark, p, 3)


def test_snapshot_restore_rejects_vacuumed_and_out_of_range(spark, tmp_path):
    p = str(tmp_path / "t")
    layout.snapshot_write_keyed(spark, _src(spark, [(1, "a", 1)]), p, "k")
    for i in range(2, 6):
        layout.snapshot_merge(
            spark, p, _upd(spark, [(i, "b", i, False)]), "k",
            delete_col="_del",
        )
    layout.vacuum_snapshots(spark, p, keep_last=2)
    with pytest.raises(FileNotFoundError, match="expired"):
        layout.snapshot_restore(spark, p, 1)
    with pytest.raises(ValueError, match="out of range"):
        layout.snapshot_restore(spark, p, 99)


def test_restore_preserves_dv_state(spark, tmp_path):
    """Restoring TO a version that carried deletion vectors re-pins
    the sidecars too — the restored reads stay DV-filtered."""
    p = str(tmp_path / "t")
    layout.snapshot_write_keyed(
        spark, _src(spark, [(i, "g", i) for i in range(10)]), p, "k"
    )
    layout.snapshot_merge(
        spark, p, _upd(spark, [(5, None, None, True)]), "k",
        delete_col="_del", mode="mor",
    )
    v2 = _rows(spark, p)
    layout.compact_files(spark, p)  # v3 materializes DVs
    layout.snapshot_restore(spark, p, 2)
    m = layout.snapshot_manifest(spark, p)
    assert m["dv"], "restored manifest re-pins the sidecars"
    assert _rows(spark, p) == v2
    assert (5, "g", 5) not in _rows(spark, p)


def test_catalog_restore_repins_members(spark, tmp_path):
    """catalog_restore re-publishes an old root's member pins as a new
    root — one rename rolls the whole pipeline back."""
    a, b, cat = str(tmp_path / "a"), str(tmp_path / "b"), str(tmp_path / "cat")
    layout.snapshot_write_keyed(spark, _src(spark, [(1, "a", 1)]), a, "k")
    layout.snapshot_write_keyed(spark, _src(spark, [(1, "b", 10)]), b, "k")
    layout.catalog_commit(spark, cat, {"a": (a, 1), "b": (b, 1)})
    layout.snapshot_merge(
        spark, a, _upd(spark, [(1, "a", -1, False)]), "k", delete_col="_del"
    )
    layout.snapshot_merge(
        spark, b, _upd(spark, [(1, "b", -10, False)]), "k", delete_col="_del"
    )
    layout.catalog_commit(spark, cat, {"a": (a, 2), "b": (b, 2)})
    v3 = layout.catalog_restore(spark, cat, 1)
    assert v3 == 3
    got_a = {(r["k"], r["x"]) for r in layout.catalog_read(spark, cat, "a").collect()}
    got_b = {(r["k"], r["x"]) for r in layout.catalog_read(spark, cat, "b").collect()}
    assert got_a == {(1, 1)} and got_b == {(1, 10)}
    # member tables themselves still have their post-bad-write history
    assert _rows(spark, a) == {(1, "a", -1)}


def test_maintenance_report_surfaces_dv_and_restore(spark, tmp_path):
    p = str(tmp_path / "t")
    layout.snapshot_write_keyed(
        spark, _src(spark, [(i, "g", i) for i in range(8)]), p, "k",
        n_buckets=2,
    )
    layout.snapshot_merge(
        spark, p, _upd(spark, [(1, "g", -1, False), (2, "g", -2, False)]),
        "k", delete_col="_del", mode="mor",
    )
    rep = layout.maintenance_report(spark, p)
    assert rep["dv_rows_total"] == 2 and rep["n_dv_files"] >= 1
    assert rep["rollback"] == "snapshot_restore(path, version)"
    assert (
        "compact_dv_buckets(materialize deletion vectors)"
        in rep["recommendations"]
    )


def test_compact_dv_buckets_rewrites_only_dv_buckets(spark, tmp_path):
    """Targeted DV materialization: ONLY the buckets carrying deletion
    vectors rewrite — every other bucket's files carry forward, DVs
    are gone, rows preserved, and the commit is CDC-transparent (the
    feed skips it; an incremental view syncs across it)."""
    src, view = str(tmp_path / "t"), str(tmp_path / "v")
    # 8 buckets; MOR-touch keys land in a small subset of them
    layout.snapshot_write_keyed(
        spark, _src(spark, [(i, "ab"[i % 2], i) for i in range(200)]),
        src, "k", n_buckets=8,
    )
    from fiware_cosmos_orion_flink_connector_examples_spark.operators import (
        ivm,
    )

    ivm.agg_view_create(spark, src, view, ["g"], ["x"])
    layout.snapshot_merge(
        spark, src,
        _upd(spark, [(17, "a", -17, False), (18, None, None, True)]),
        "k", delete_col="_del", mode="mor",
    )
    before = _rows(spark, src)
    m2 = layout.snapshot_manifest(spark, src)
    assert m2["dv"]
    dv_buckets = {m2["buckets"][f] for f in m2["dv"]}
    untouched_files = {
        f for f in m2["files"] if m2["buckets"][f] not in dv_buckets
    }
    assert untouched_files, "fixture must leave some buckets DV-free"

    v = layout.compact_dv_buckets(spark, src)
    assert v == 3
    m3 = layout.snapshot_manifest(spark, src)
    assert not m3["dv"] and not m3["dv_rows"]
    assert untouched_files <= set(m3["files"]), "non-DV buckets untouched"
    assert _rows(spark, src) == before
    # CDC-transparent: the feed over the compaction span yields nothing
    assert layout.snapshot_changes_feed(spark, src, 2, 3).count() == 0
    # and a view sync across it stays ≡ recompute
    layout.snapshot_merge(
        spark, src, _upd(spark, [(300, "a", 300, False)]), "k",
        delete_col="_del",
    )
    ivm.agg_view_sync(spark, src, view, ["g"], ["x"])
    recompute = {
        (r["g"], r["s"])
        for r in layout.snapshot_read(spark, src)
        .groupBy("g").agg(F.sum("x").alias("s")).collect()
    }
    served = {
        (r["g"], r["sum_x"])
        for r in ivm.agg_view_read(spark, view).select("g", "sum_x").collect()
    }
    assert served == recompute
    # no-op on a DV-free table: no commit
    assert layout.compact_dv_buckets(spark, src) is None
    assert layout.snapshot_latest_version(spark, src) == 4


def test_compact_dv_buckets_keeps_stats_and_bloom(spark, tmp_path):
    """Rewritten buckets' files get fresh skipping stats + Bloom
    sidecars (declared metadata never silently lost)."""
    p = str(tmp_path / "t")
    layout.snapshot_write_keyed(
        spark, _src(spark, [(i, "g", i) for i in range(100)]), p, "k",
        n_buckets=2, stats_cols=["x"],
    )
    layout.compact_files(spark, p, bloom_cols=["x"])
    layout.snapshot_merge(
        spark, p, _upd(spark, [(5, "g", -5, False)]), "k",
        delete_col="_del", mode="mor",
    )
    layout.compact_dv_buckets(spark, p)
    m = layout.snapshot_manifest(spark, p)
    assert not m["dv"]
    for f in m["files"]:
        assert f in m["stats"], f
        assert f in m["bloom"], f
    # a point lookup through the refreshed metadata still prunes+reads
    df, kept, total = layout.snapshot_point_lookup(spark, p, "x", -5)
    assert [r["k"] for r in df.collect()] == [5]


def test_compact_dv_buckets_requires_keyed(spark, tmp_path):
    p = str(tmp_path / "t")
    layout.snapshot_commit(spark, _src(spark, [(1, "a", 1)]), p)
    with pytest.raises(ValueError, match="keyed"):
        layout.compact_dv_buckets(spark, p)


def test_timestamp_time_travel_and_restore(spark, tmp_path):
    """TIMESTAMP AS OF (round 17): every commit stamps committed_at;
    snapshot_version_at resolves the version live at a time,
    snapshot_read(timestamp=…) serves it, and
    snapshot_restore(timestamp=…) rolls back to it — 'undo everything
    since 02:00' without knowing version numbers."""
    import time

    p = str(tmp_path / "t")
    layout.snapshot_write_keyed(spark, _src(spark, [(1, "a", 1)]), p, "k")
    time.sleep(0.05)
    t_after_v1 = time.time()
    time.sleep(0.05)
    layout.snapshot_merge(
        spark, p, _upd(spark, [(2, "b", 2, False)]), "k", delete_col="_del"
    )
    time.sleep(0.05)
    t_after_v2 = time.time()
    time.sleep(0.05)
    layout.snapshot_merge(
        spark, p, _upd(spark, [(1, "a", -99, False)]), "k", delete_col="_del"
    )

    assert layout.snapshot_version_at(spark, p, t_after_v1) == 1
    assert layout.snapshot_version_at(spark, p, t_after_v2) == 2
    assert layout.snapshot_version_at(spark, p, time.time()) == 3
    # ISO-string form resolves too
    import datetime

    iso = datetime.datetime.fromtimestamp(t_after_v2).isoformat()
    assert layout.snapshot_version_at(spark, p, iso) == 2
    # reads
    assert _rows(spark, p, version=None) == {(1, "a", -99), (2, "b", 2)}
    got = {
        (r["k"], r["g"], r["x"])
        for r in layout.snapshot_read(spark, p, timestamp=t_after_v1).collect()
    }
    assert got == {(1, "a", 1)}
    with pytest.raises(ValueError, match="exclusive"):
        layout.snapshot_read(spark, p, version=1, timestamp=t_after_v1)
    with pytest.raises(ValueError, match="predates"):
        layout.snapshot_version_at(spark, p, t_after_v1 - 1000)
    # restore by timestamp ≡ restore by version
    layout.snapshot_restore(spark, p, timestamp=t_after_v2)
    assert _rows(spark, p) == _rows(spark, p, 2)
    with pytest.raises(ValueError, match="exactly one"):
        layout.snapshot_restore(spark, p)
    with pytest.raises(ValueError, match="exactly one"):
        layout.snapshot_restore(spark, p, 2, timestamp=t_after_v2)


def test_version_at_skips_vacuumed(spark, tmp_path):
    """Vacuumed versions don't resolve (their commit time is gone with
    them)."""
    import time

    p = str(tmp_path / "t")
    layout.snapshot_write_keyed(spark, _src(spark, [(1, "a", 1)]), p, "k")
    for i in range(2, 5):
        layout.snapshot_merge(
            spark, p, _upd(spark, [(i, "b", i, False)]), "k",
            delete_col="_del",
        )
    assert layout.snapshot_version_at(spark, p, time.time()) == 4
    layout.vacuum_snapshots(spark, p, keep_last=2)
    # v1/v2 expired: the earliest timestamp now resolvable is v3's
    assert layout.snapshot_version_at(spark, p, time.time()) == 4
    with pytest.raises(ValueError, match="predates"):
        layout.snapshot_version_at(spark, p, 0)


def test_catalog_restore_by_timestamp(spark, tmp_path):
    """Catalog roots stamp committed_at too: catalog_version_at
    resolves the coherent cross-table state live at a time, and
    catalog_restore(timestamp=…) re-publishes it."""
    import time

    a, cat = str(tmp_path / "a"), str(tmp_path / "cat")
    layout.snapshot_write_keyed(spark, _src(spark, [(1, "a", 1)]), a, "k")
    layout.catalog_commit(spark, cat, {"a": (a, 1)})
    time.sleep(0.05)
    t_mid = time.time()
    time.sleep(0.05)
    layout.snapshot_merge(
        spark, a, _upd(spark, [(1, "a", -1, False)]), "k", delete_col="_del"
    )
    layout.catalog_commit(spark, cat, {"a": (a, 2)})
    assert layout.catalog_version_at(spark, cat, t_mid) == 1
    assert layout.catalog_version_at(spark, cat, time.time()) == 2
    v3 = layout.catalog_restore(spark, cat, timestamp=t_mid)
    assert v3 == 3
    got = {
        (r["k"], r["x"])
        for r in layout.catalog_read(spark, cat, "a").collect()
    }
    assert got == {(1, 1)}
    with pytest.raises(ValueError, match="exactly one"):
        layout.catalog_restore(spark, cat)
    with pytest.raises(ValueError, match="predates"):
        layout.catalog_version_at(spark, cat, 0)


def test_changes_feed_by_timestamp(spark, tmp_path):
    """'Every change since 02:00': the feed's span can be bounded by
    commit time — from_timestamp resolves to the version live at that
    time (changes strictly after it), to_timestamp to the version
    live at the end time."""
    import time

    p = str(tmp_path / "t")
    layout.snapshot_write_keyed(spark, _src(spark, [(1, "a", 1)]), p, "k")
    time.sleep(0.05)
    t1 = time.time()
    time.sleep(0.05)
    layout.snapshot_merge(
        spark, p, _upd(spark, [(2, "b", 2, False)]), "k", delete_col="_del"
    )
    time.sleep(0.05)
    t2 = time.time()
    time.sleep(0.05)
    layout.snapshot_merge(
        spark, p, _upd(spark, [(3, "c", 3, False)]), "k", delete_col="_del"
    )
    got = {
        (r["_version"], r["_change"], r["k"])
        for r in layout.snapshot_changes_feed(
            spark, p, from_timestamp=t1
        ).collect()
    }
    assert got == {(2, "insert", 2), (3, "insert", 3)}
    got = {
        (r["_version"], r["k"])
        for r in layout.snapshot_changes_feed(
            spark, p, from_timestamp=t1, to_timestamp=t2
        ).collect()
    }
    assert got == {(2, 2)}
    with pytest.raises(ValueError, match="exclusive"):
        layout.snapshot_changes_feed(spark, p, 1, from_timestamp=t1)
    with pytest.raises(ValueError, match="required"):
        layout.snapshot_changes_feed(spark, p)


def test_compact_metadata_keeps_deletion_vectors(spark, tmp_path):
    """Collapsing the segment history re-adds the live files WITH their
    deletion vectors: a merge-on-read update's old row stays deleted,
    so each key keeps exactly one row."""
    p = str(tmp_path / "t")
    layout.snapshot_write_keyed(
        spark, _src(spark, [(i, "a", i) for i in range(8)]), p, "k", n_buckets=2
    )
    layout.snapshot_merge(
        spark, p, _upd(spark, [(3, "b", 30, False)]), "k",
        delete_col="_del", mode="mor",
    )
    before = _rows(spark, p)
    layout.compact_metadata(spark, p)
    assert layout.snapshot_manifest(spark, p)["dv"]
    assert _rows(spark, p) == before
    assert layout.snapshot_read(spark, p).count() == 8
