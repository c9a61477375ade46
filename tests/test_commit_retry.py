"""One optimistic-commit retry policy (``layout.optimistic_commit``):
a writer that loses the manifest rename to a foreign commit re-reads
and retries instead of failing, the retry is bounded, and only a
version conflict is retried."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from fiware_cosmos_orion_flink_connector_examples_spark.operators import ivm
from fiware_cosmos_orion_flink_connector_examples_spark.sources import layout


def _lose_next_rename(monkeypatch, path, foreign_commit):
    """Wrap ``_commit_manifest`` so the next commit to ``path`` loses
    its rename: ``foreign_commit()`` lands a real commit of the same
    version first.  Returns the list of losing versions."""
    real = layout._commit_manifest
    lost = []

    def racing(spark, base, version, manifest):
        if base.rstrip("/") == path and not lost:
            lost.append(version)
            foreign_commit()
        return real(spark, base, version, manifest)

    monkeypatch.setattr(layout, "_commit_manifest", racing)
    return lost


def _groups(rows):
    return {(r["g"], r["_n"], r["sum_x"]) for r in rows}


def _recompute(frame):
    return _groups(
        frame.groupBy("g")
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.sum(F.coalesce(F.col("x"), F.lit(0))).alias("sum_x"),
        )
        .collect()
    )


def test_agg_view_sync_retries_lost_rename(spark, tmp_path, monkeypatch):
    """A foreign commit (a compaction of the view) wins the rename the
    sync was about to make: the sync re-reads the view, re-merges its
    span on top and commits the next version."""
    source, view = str(tmp_path / "src"), str(tmp_path / "view")
    layout.snapshot_write_keyed(
        spark,
        spark.createDataFrame(
            [(i, "abc"[i % 3], i) for i in range(12)], "k long, g string, x long"
        ),
        source, "k",
    )
    ivm.agg_view_create(spark, source, view, ["g"], ["x"], n_buckets=2)
    layout.snapshot_merge(
        spark, source,
        spark.createDataFrame(
            [(0, "d", 50), (1, "a", 7)], "k long, g string, x long"
        ),
        "k",
    )
    lost = _lose_next_rename(
        monkeypatch, view, lambda: layout.compact_files(spark, view, target_files=1)
    )
    v, consumed = ivm.agg_view_sync(spark, source, view, ["g"], ["x"])
    assert lost == [2]  # the sync lost v2 to the compaction
    assert (v, consumed) == (3, 2)
    assert layout.snapshot_latest_version(spark, view) == 3
    assert _groups(ivm.agg_view_read(spark, view).collect()) == _recompute(
        layout.snapshot_read(spark, source)
    )


def test_two_sided_join_view_retries_lost_rename(spark, tmp_path, monkeypatch):
    """Two streams feed the two sides of one join view: side b's sync
    wins the view rename side a's sync was about to make, and side a
    retries (finding both spans consumed) instead of failing its
    micro-batch."""
    from fiware_cosmos_orion_flink_connector_examples_spark.streaming import jobs

    a, b, view = str(tmp_path / "a"), str(tmp_path / "b"), str(tmp_path / "v")
    layout.snapshot_write_keyed(
        spark,
        spark.createDataFrame(
            [(i, i % 3, i * 10) for i in range(9)], "k long, j long, x long"
        ),
        a, "k",
    )
    layout.snapshot_write_keyed(
        spark,
        spark.createDataFrame([(0, "x"), (1, "y"), (2, "z")], "j long, g string"),
        b, "j",
    )
    ivm.join_view_create(spark, a, b, view, "j", ["g"], ["x"], txn_app="jvr")
    sink_a = jobs.maintain_join_view(
        a, b, view, "k", "j", ["g"], ["x"], txn_app="jvr", side="a"
    )
    sink_b = jobs.maintain_join_view(
        a, b, view, "j", "j", ["g"], ["x"], txn_app="jvr", side="b"
    )
    b0 = spark.createDataFrame(
        [(0, "moved", False), (3, "three", False)], "j long, g string, _del boolean"
    )
    lost = _lose_next_rename(monkeypatch, view, lambda: sink_b(b0, 0))
    sink_a(
        spark.createDataFrame(
            [(0, 3, 77, False), (4, None, None, True)],
            "k long, j long, x long, _del boolean",
        ),
        0,
    )
    assert lost == [2]
    assert layout.snapshot_latest_version(spark, view) == 2  # b's sync only
    joined = layout.snapshot_read(spark, a).join(layout.snapshot_read(spark, b), "j")
    assert _groups(ivm.agg_view_read(spark, view).collect()) == _recompute(joined)


def test_agg_view_sink_retries_lost_source_rename(spark, tmp_path, monkeypatch):
    """A foreign commit to the SOURCE wins the rename the view sink's
    source merge was about to make: the merge re-reads and retries,
    the batch lands exactly once, and the view follows both commits."""
    from fiware_cosmos_orion_flink_connector_examples_spark.streaming import jobs

    source, view = str(tmp_path / "src"), str(tmp_path / "view")
    layout.snapshot_write_keyed(
        spark,
        spark.createDataFrame(
            [(i, "abc"[i % 3], i) for i in range(12)], "k long, g string, x long"
        ),
        source, "k",
    )
    ivm.agg_view_create(spark, source, view, ["g"], ["x"], n_buckets=2)
    sink = jobs.maintain_agg_view(source, view, "k", ["g"], ["x"])
    lost = _lose_next_rename(
        monkeypatch,
        source,
        lambda: layout.snapshot_merge(
            spark, source,
            spark.createDataFrame([(5, "d", 40)], "k long, g string, x long"),
            "k",
        ),
    )
    batch = spark.createDataFrame(
        [(0, "d", 50, False), (100, "a", 7, False), (1, None, None, True)],
        "k long, g string, x long, _del boolean",
    )
    sink(batch, 0)
    assert lost == [2]  # the merge lost v2 to the foreign commit
    assert layout.snapshot_latest_version(spark, source) == 3
    sink(batch, 0)  # a replay of the same batch id is absorbed
    assert layout.snapshot_latest_version(spark, source) == 3
    rows = {r["k"]: (r["g"], r["x"]) for r in layout.snapshot_read(spark, source).collect()}
    assert rows[0] == ("d", 50) and rows[100] == ("a", 7) and rows[5] == ("d", 40)
    assert 1 not in rows and len(rows) == 12
    assert _groups(ivm.agg_view_read(spark, view).collect()) == _recompute(
        layout.snapshot_read(spark, source)
    )


def test_commit_manifest_lost_rename_is_a_version_conflict(spark, tmp_path):
    path = str(tmp_path / "t")
    layout.snapshot_commit(spark, spark.createDataFrame([(1,)], "k long"), path)
    with pytest.raises(layout.SnapshotVersionConflict, match="commit conflict"):
        layout._commit_manifest(spark, path, 1, {"version": 1, "files": []})


def test_optimistic_commit_gives_up_after_the_attempt_limit():
    calls = []

    def attempt():
        calls.append(1)
        raise layout.SnapshotVersionConflict("foreign commit landed")

    with pytest.raises(layout.SnapshotVersionConflict, match="my_writer") as err:
        layout.optimistic_commit("my_writer", attempt)
    assert "foreign commit landed" in str(err.value)
    assert len(calls) == layout.COMMIT_ATTEMPTS


def test_optimistic_commit_does_not_retry_other_io_errors():
    calls = []

    def attempt():
        calls.append(1)
        raise IOError("disk full")

    with pytest.raises(IOError, match="disk full") as err:
        layout.optimistic_commit("my_writer", attempt)
    assert not isinstance(err.value, layout.SnapshotVersionConflict)
    assert len(calls) == 1


def test_optimistic_commit_returns_the_applied_result():
    outcomes = iter([layout.SnapshotVersionConflict("lost"),
                     layout.SnapshotTxnAlreadyApplied("won elsewhere")])

    def attempt():
        raise next(outcomes)

    assert layout.optimistic_commit("w", attempt, lambda: "applied") == "applied"
    assert layout.optimistic_commit("w", lambda: 7) == 7
