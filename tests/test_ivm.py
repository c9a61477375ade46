"""Incremental view maintenance (operators/ivm.py): a count/sum GROUP
BY view follows its source snapshot table commit-by-commit via CDC
post-images + update pre-images — never recomputing a group — and the
delta merge + consumed-source watermark are one atomic view commit
(exactly-once, the search_index_sync contract applied to aggregates).
"""

from __future__ import annotations

import random

import pyspark.sql.functions as F

from fiware_cosmos_orion_flink_connector_examples_spark.operators import ivm
from fiware_cosmos_orion_flink_connector_examples_spark.sources import layout


def _src(spark, rows):
    return spark.createDataFrame(rows, "k long, g string, x long")


def _recompute(spark, source, version=None):
    return {
        (r["g"], r["_n"], r["sum_x"])
        for r in layout.snapshot_read(spark, source, version)
        .groupBy("g")
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.sum(F.coalesce(F.col("x"), F.lit(0))).alias("sum_x"),
        )
        .collect()
    }


def _view(spark, view):
    return {
        (r["g"], r["_n"], r["sum_x"])
        for r in ivm.agg_view_read(spark, view).collect()
    }


def test_view_follows_inserts_updates_moves_deletes(spark, tmp_path):
    source, view = str(tmp_path / "src"), str(tmp_path / "view")
    base = [(i, "abc"[i % 3], i * 10) for i in range(30)]
    layout.snapshot_write_keyed(spark, _src(spark, base), source, "k")
    ivm.agg_view_create(spark, source, view, ["g"], ["x"], n_buckets=4)
    assert _view(spark, view) == _recompute(spark, source)

    # value update, GROUP-MOVING update, insert, delete — one commit
    upd = spark.createDataFrame(
        [
            (0, "a", 999, False),   # value update within group a
            (1, "c", 11, False),    # moves from b to c
            (100, "d", 7, False),   # insert, NEW group
            (2, None, None, True),  # delete
        ],
        "k long, g string, x long, _del boolean",
    )
    layout.snapshot_merge(spark, source, upd, "k", delete_col="_del")
    v, consumed = ivm.agg_view_sync(spark, source, view, ["g"], ["x"])
    assert v == 2 and consumed == 2
    assert _view(spark, view) == _recompute(spark, source)

    # replayed sync: nothing new — watermark absorbs it
    assert ivm.agg_view_sync(spark, source, view, ["g"], ["x"]) == (None, 2)


def test_group_reaching_zero_rows_is_deleted(spark, tmp_path):
    source, view = str(tmp_path / "src"), str(tmp_path / "view")
    layout.snapshot_write_keyed(
        spark, _src(spark, [(1, "solo", 5), (2, "big", 1), (3, "big", 2)]),
        source, "k",
    )
    ivm.agg_view_create(spark, source, view, ["g"], ["x"])
    dele = spark.createDataFrame(
        [(1, None, None, True)], "k long, g string, x long, _del boolean"
    )
    layout.snapshot_merge(spark, source, dele, "k", delete_col="_del")
    ivm.agg_view_sync(spark, source, view, ["g"], ["x"])
    got = _view(spark, view)
    assert got == {("big", 2, 3)}  # 'solo' is GONE, not a zero ghost


def test_multi_commit_span_one_sync(spark, tmp_path):
    source, view = str(tmp_path / "src"), str(tmp_path / "view")
    layout.snapshot_write_keyed(
        spark, _src(spark, [(i, "ab"[i % 2], i) for i in range(10)]), source, "k"
    )
    ivm.agg_view_create(spark, source, view, ["g"], ["x"])
    for j in range(3):  # three commits before one sync
        upd = spark.createDataFrame(
            [(j, "b", 1000 + j, False), (50 + j, "a", j, False)],
            "k long, g string, x long, _del boolean",
        )
        layout.snapshot_merge(spark, source, upd, "k", delete_col="_del")
    v, consumed = ivm.agg_view_sync(spark, source, view, ["g"], ["x"])
    assert consumed == 4
    assert _view(spark, view) == _recompute(spark, source)


def test_preimages_api_and_default_feed_shape(spark, tmp_path):
    source = str(tmp_path / "src")
    layout.snapshot_write_keyed(
        spark, _src(spark, [(1, "a", 10), (2, "b", 20)]), source, "k"
    )
    upd = spark.createDataFrame(
        [(1, "a", 11, False), (2, None, None, True), (3, "c", 30, False)],
        "k long, g string, x long, _del boolean",
    )
    layout.snapshot_merge(spark, source, upd, "k", delete_col="_del")
    pre = layout.snapshot_update_preimages(spark, source, 2)
    assert [(r["k"], r["g"], r["x"]) for r in pre.collect()] == [(1, "a", 10)]
    # the default feed stays the Delta CDF post-image shape: no
    # update_pre rows leak into consumers
    feed = layout.snapshot_changes_feed(spark, source, 1)
    kinds = {r["_change"] for r in feed.collect()}
    assert kinds == {"insert", "update", "delete"}
    # a no-op update records NO pre-image (same filter as the log)
    noop = spark.createDataFrame(
        [(3, "c", 30, False)], "k long, g string, x long, _del boolean"
    )
    layout.snapshot_merge(spark, source, noop, "k", delete_col="_del")
    assert layout.snapshot_update_preimages(spark, source, 3).count() == 0


def test_randomized_view_equals_recompute(spark, tmp_path):
    """Model-based: a seeded random op stream (inserts, value updates,
    group moves, deletes, multi-commit gaps) — after every sync the
    view equals a from-scratch recompute of the source."""
    rng = random.Random(20260816)
    source, view = str(tmp_path / "src"), str(tmp_path / "view")
    rows = {i: ("abcd"[i % 4], i) for i in range(40)}
    layout.snapshot_write_keyed(
        spark, _src(spark, [(k, g, x) for k, (g, x) in rows.items()]), source, "k"
    )
    ivm.agg_view_create(spark, source, view, ["g"], ["x"], n_buckets=4)
    next_key = 1000
    for _ in range(6):
        for _ in range(rng.randint(1, 2)):  # commits per sync
            batch = []
            for _ in range(rng.randint(1, 6)):
                op = rng.random()
                if op < 0.3 or not rows:  # insert
                    batch.append((next_key, rng.choice("abcde"), rng.randint(0, 99), False))
                    rows[next_key] = (batch[-1][1], batch[-1][2])
                    next_key += 1
                elif op < 0.7:  # update (possibly group-moving)
                    k = rng.choice(list(rows))
                    g, x = rng.choice("abcde"), rng.randint(0, 99)
                    batch.append((k, g, x, False))
                    rows[k] = (g, x)
                else:  # delete
                    k = rng.choice(list(rows))
                    batch.append((k, None, None, True))
                    del rows[k]
            dedup = {}
            for b in batch:  # merge rejects duplicate keys in one batch
                dedup[b[0]] = b
            layout.snapshot_merge(
                spark,
                source,
                spark.createDataFrame(
                    list(dedup.values()), "k long, g string, x long, _del boolean"
                ),
                "k",
                delete_col="_del",
            )
            # replay model state for keys both updated and deleted etc.
            for k, g, x, d in dedup.values():
                if d:
                    rows.pop(k, None)
                else:
                    rows[k] = (g, x)
        ivm.agg_view_sync(spark, source, view, ["g"], ["x"])
        assert _view(spark, view) == _recompute(spark, source)
    # final model cross-check: source matches the python model too
    got = {
        (r["k"], r["g"], r["x"])
        for r in layout.snapshot_read(spark, source).collect()
    }
    assert got == {(k, g, x) for k, (g, x) in rows.items()}


def test_maintain_agg_view_streaming_sink_exactly_once(spark, tmp_path):
    """maintain_agg_view: each micro-batch merges into the source
    (batch-id watermark) and the view follows the commit log — replays
    of either leg are absorbed, the final view equals a recompute."""
    from fiware_cosmos_orion_flink_connector_examples_spark.streaming import jobs

    source, view = str(tmp_path / "src"), str(tmp_path / "view")
    layout.snapshot_write_keyed(
        spark, _src(spark, [(i, "ab"[i % 2], i) for i in range(20)]), source, "k"
    )
    ivm.agg_view_create(spark, source, view, ["g"], ["x"], txn_app="s")
    sink = jobs.maintain_agg_view(source, view, "k", ["g"], ["x"], txn_app="s")

    b0 = spark.createDataFrame(
        [(0, "b", 100, False), (1, None, None, True), (50, "c", 7, False)],
        "k long, g string, x long, _del boolean",
    )
    b1 = spark.createDataFrame(
        [(2, "c", 5, False)], "k long, g string, x long, _del boolean"
    )
    sink(b0, 0)
    sink(b0, 0)  # immediate replay: source absorbed, view sync no-op
    sink(b1, 1)
    sink(b0, 0)  # stale replay after a later batch
    sink(spark.createDataFrame([], b0.schema), 2)  # empty: nothing moves
    assert layout.snapshot_latest_version(spark, source) == 3  # v1 + 2 merges
    assert _view(spark, view) == _recompute(spark, source)
    # replay left no double-applied deltas: totals for the moved keys
    got = {r["g"]: (r["_n"], r["sum_x"]) for r in ivm.agg_view_read(spark, view).collect()}
    assert got["c"] == (2, 12)


def test_distinct_view_follows_moves_and_deletes(spark, tmp_path):
    """Exact COUNT(DISTINCT) via the pair-view reduction: value moves
    and deletes adjust the count exactly (the case HLL sketches cannot
    handle), reads equal a from-scratch countDistinct."""
    source, view = str(tmp_path / "src"), str(tmp_path / "view")
    # g in {a,b}; x values deliberately shared across keys
    base = [(i, "ab"[i % 2], i % 5) for i in range(20)]
    layout.snapshot_write_keyed(spark, _src(spark, base), source, "k")
    ivm.distinct_view_create(spark, source, view, ["g"], "x")

    def recompute():
        return {
            (r["g"], r["nd"])
            for r in layout.snapshot_read(spark, source)
            .groupBy("g")
            .agg(F.countDistinct("x").alias("nd"))
            .collect()
        }

    def view_counts():
        return {
            (r["g"], r["n_distinct_x"])
            for r in ivm.distinct_view_read(spark, view, ["g"], "x").collect()
        }

    assert view_counts() == recompute()
    upd = spark.createDataFrame(
        [
            (0, "a", 99, False),    # value move: may retire a's only 0? (k=0 had x=0; k=10 also x=0 in a) — count logic decides
            (2, "a", 99, False),    # duplicate new value: distinct +0 beyond first
            (1, None, None, True),  # delete
            (100, "c", 7, False),   # new group
        ],
        "k long, g string, x long, _del boolean",
    )
    layout.snapshot_merge(spark, source, upd, "k", delete_col="_del")
    ivm.distinct_view_sync(spark, source, view, ["g"], "x")
    assert view_counts() == recompute()
    # delete the last row carrying a value: the pair row disappears,
    # the distinct count drops — sketch-impossible, exact here
    dele = spark.createDataFrame(
        [(100, None, None, True)], "k long, g string, x long, _del boolean"
    )
    layout.snapshot_merge(spark, source, dele, "k", delete_col="_del")
    ivm.distinct_view_sync(spark, source, view, ["g"], "x")
    assert view_counts() == recompute()
    assert ("c", 1) not in view_counts()  # group c is gone entirely


def test_extremes_view_survives_extremum_deletion(spark, tmp_path):
    """MIN/MAX off the pair view: deleting the rows that carry a
    group's current max retires its pair row, and the next value takes
    over — the case plain delta-IVM cannot maintain."""
    source, view = str(tmp_path / "src"), str(tmp_path / "view")
    base = [(1, "a", 10), (2, "a", 99), (3, "a", 99), (4, "b", 5)]
    layout.snapshot_write_keyed(spark, _src(spark, base), source, "k")
    ivm.distinct_view_create(spark, source, view, ["g"], "x")

    def extremes():
        return {
            (r["g"], r["min_x"], r["max_x"])
            for r in ivm.extremes_view_read(spark, view, ["g"], "x").collect()
        }

    assert extremes() == {("a", 10, 99), ("b", 5, 5)}
    # delete ONE of the two rows carrying 99: max must stay 99
    d1 = spark.createDataFrame(
        [(2, None, None, True)], "k long, g string, x long, _del boolean"
    )
    layout.snapshot_merge(spark, source, d1, "k", delete_col="_del")
    ivm.distinct_view_sync(spark, source, view, ["g"], "x")
    assert extremes() == {("a", 10, 99), ("b", 5, 5)}
    # delete the LAST 99: the pair dies, max falls back to 10
    d2 = spark.createDataFrame(
        [(3, None, None, True)], "k long, g string, x long, _del boolean"
    )
    layout.snapshot_merge(spark, source, d2, "k", delete_col="_del")
    ivm.distinct_view_sync(spark, source, view, ["g"], "x")
    assert extremes() == {("a", 10, 10), ("b", 5, 5)}


def test_long_backlog_sync_bounded_plan(spark, tmp_path):
    """VERDICT r14 #3: a view syncing across a 200+ commit backlog must
    build an O(1)-size plan (the span served from ONE changelog scan,
    not O(span) per-commit unions) and still equal a recompute.  The
    wall bound is deliberately generous — the old per-commit-union
    path died in driver plan analysis, not in small constants."""
    import time

    source, view = str(tmp_path / "src"), str(tmp_path / "view")
    layout.snapshot_write_keyed(
        spark, _src(spark, [(i, "ab"[i % 2], i) for i in range(20)]),
        source, "k", n_buckets=4,
    )
    ivm.agg_view_create(spark, source, view, ["g"], ["x"], n_buckets=4)
    # 210 commits: value updates, group moves, inserts, deletes cycling.
    # One-row merges are pure fixed overhead — drop shuffle width for
    # the commit loop so the backlog builds in test-suite time (the
    # subject under test is the SYNC, which runs at the suite width)
    old_shuffle = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "1")
    try:
        for j in range(210):
            m = j % 4
            if m == 0:
                rows = [(j % 20, "ab"[j % 2], 1000 + j, False)]
            elif m == 1:
                rows = [(j % 20, "cd"[j % 2], j, False)]  # group move
            elif m == 2:
                rows = [(10_000 + j, "e", j, False)]  # insert
            else:
                rows = [(10_000 + j - 1, None, None, True)]  # delete last
            layout.snapshot_merge(
                spark,
                source,
                spark.createDataFrame(
                    rows, "k long, g string, x long, _del boolean"
                ),
                "k",
                delete_col="_del",
            )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_shuffle)
    t0 = time.perf_counter()
    v, consumed = ivm.agg_view_sync(spark, source, view, ["g"], ["x"])
    elapsed = time.perf_counter() - t0
    assert consumed == 211
    assert _view(spark, view) == _recompute(spark, source)
    assert elapsed < 60, f"210-commit sync took {elapsed:.1f}s — span scan regressed"


def test_sync_guards_against_missing_preimages(spark, tmp_path):
    """ADVICE r14: a changelog written by pre-pre-image merge code
    (mixed-version writers) must FAIL the sync loudly instead of
    silently double-counting its updates into the view."""
    import pyarrow.parquet as pq
    import pytest

    source, view = str(tmp_path / "src"), str(tmp_path / "view")
    layout.snapshot_write_keyed(
        spark, _src(spark, [(1, "a", 10), (2, "b", 20)]), source, "k"
    )
    ivm.agg_view_create(spark, source, view, ["g"], ["x"])
    upd = spark.createDataFrame(
        [(1, "a", 11, False)], "k long, g string, x long, _del boolean"
    )
    layout.snapshot_merge(spark, source, upd, "k", delete_col="_del")
    # surgically strip the update_pre rows from the commit's changelog —
    # exactly what a writer predating the pre-image change produces
    import os

    files = layout.snapshot_manifest(spark, source, 2)["changelog"]
    for f in files:
        local = f.replace("file:", "")
        t = pq.read_table(local)
        stripped = t.filter(
            __import__("pyarrow").compute.not_equal(t["_change"], "update_pre")
        )
        pq.write_table(stripped, local + ".tmp")
        os.replace(local + ".tmp", local)
        # drop the Hadoop .crc sidecar — the rewritten bytes would fail
        # the local-FS checksum before the guard can even see the rows
        crc = os.path.join(
            os.path.dirname(local), "." + os.path.basename(local) + ".crc"
        )
        if os.path.exists(crc):
            os.remove(crc)
    with pytest.raises(ValueError, match="update pre-images"):
        ivm.agg_view_sync(spark, source, view, ["g"], ["x"])


def test_maintain_agg_view_default_txn_app_pairs_with_create(spark, tmp_path):
    """ADVICE r14: a view created with agg_view_create DEFAULTS must be
    maintainable by maintain_agg_view DEFAULTS — the first micro-batch
    used to raise 'carries no watermark' because the two txn_app
    defaults diverged."""
    from fiware_cosmos_orion_flink_connector_examples_spark.streaming import jobs

    source, view = str(tmp_path / "src"), str(tmp_path / "view")
    layout.snapshot_write_keyed(
        spark, _src(spark, [(1, "a", 10), (2, "b", 20)]), source, "k"
    )
    ivm.agg_view_create(spark, source, view, ["g"], ["x"])  # default txn_app
    sink = jobs.maintain_agg_view(source, view, "k", ["g"], ["x"])  # defaults
    batch = spark.createDataFrame(
        [(1, "b", 100, False)], "k long, g string, x long, _del boolean"
    )
    sink(batch, 0)  # must not raise
    assert _view(spark, view) == _recompute(spark, source)


def test_sync_loser_reports_winning_watermark(spark, tmp_path):
    """ADVICE r14: on SnapshotTxnAlreadyApplied the sync must report
    the watermark the WINNING sync consumed, not its own stale
    src_latest resolve."""
    source, view = str(tmp_path / "src"), str(tmp_path / "view")
    layout.snapshot_write_keyed(
        spark, _src(spark, [(1, "a", 10)]), source, "k"
    )
    ivm.agg_view_create(spark, source, view, ["g"], ["x"])
    upd = spark.createDataFrame(
        [(2, "b", 5, False)], "k long, g string, x long, _del boolean"
    )
    layout.snapshot_merge(spark, source, upd, "k", delete_col="_del")
    ivm.agg_view_sync(spark, source, view, ["g"], ["x"])  # winner consumed v2
    # replay (the loser's stale view of the world): must report v2
    assert ivm.agg_view_sync(spark, source, view, ["g"], ["x"]) == (None, 2)


# --- incremental JOIN views (round 15, VERDICT r14 #5) ----------------------


def _join_recompute(spark, a, b, join_col, group_cols, sum_col):
    j = layout.snapshot_read(spark, a).join(layout.snapshot_read(spark, b), join_col)
    return {
        (tuple(r[g] for g in group_cols), r["_n"], r["s"])
        for r in j.groupBy(*group_cols)
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.sum(F.coalesce(F.col(sum_col), F.lit(0))).alias("s"),
        )
        .collect()
    }


def _join_view(spark, view, group_cols, sum_col):
    return {
        (tuple(r[g] for g in group_cols), r["_n"], r[f"sum_{sum_col}"])
        for r in ivm.agg_view_read(spark, view).collect()
    }


def test_join_view_follows_both_sides(spark, tmp_path):
    """Delta-join rule dA x B_new + A_old x dB: fact updates/inserts/
    deletes, dimension attribute moves (regrouping EVERY matching fact
    row), dimension deletes (dropping joined rows), and simultaneous
    changes on BOTH sides before one sync — after every sync the view
    equals a from-scratch join recompute."""
    a, b, view = str(tmp_path / "a"), str(tmp_path / "b"), str(tmp_path / "v")
    # facts: k -> fk j, measure x.  dims: j -> region g (the group col
    # comes from the DIMENSION side — the cross-table case)
    facts = [(i, i % 4, i * 10) for i in range(20)]
    dims = [(j, "rs"[j % 2]) for j in range(4)]
    layout.snapshot_write_keyed(
        spark, spark.createDataFrame(facts, "k long, j long, x long"), a, "k",
        n_buckets=4,
    )
    # dimension keyed BY the join column -> its delta-side reads prune
    layout.snapshot_write_keyed(
        spark, spark.createDataFrame(dims, "j long, g string"), b, "j",
        n_buckets=2,
    )
    ivm.join_view_create(spark, a, b, view, "j", ["g"], ["x"], n_buckets=2)
    assert _join_view(spark, view, ["g"], "x") == _join_recompute(
        spark, a, b, "j", ["g"], "x"
    )

    # fact-side only: value update, fk MOVE, insert, delete
    upd_a = spark.createDataFrame(
        [
            (0, 0, 999, False),   # value update
            (1, 2, 11, False),    # fk move j 1 -> 2 (crosses g groups)
            (100, 3, 7, False),   # insert
            (2, None, None, True),  # delete
        ],
        "k long, j long, x long, _del boolean",
    )
    layout.snapshot_merge(spark, a, upd_a, "k", delete_col="_del")
    v, (ca, cb) = ivm.join_view_sync(spark, a, b, view, "j", ["g"], ["x"])
    assert (ca, cb) == (2, 1)
    assert _join_view(spark, view, ["g"], "x") == _join_recompute(
        spark, a, b, "j", ["g"], "x"
    )

    # dim-side only: attribute move (every j=3 fact regroups) + delete
    # of dim j=0 (all its joined facts leave the view)
    upd_b = spark.createDataFrame(
        [(3, "t", False), (0, None, True)], "j long, g string, _del boolean"
    )
    layout.snapshot_merge(spark, b, upd_b, "j", delete_col="_del")
    ivm.join_view_sync(spark, a, b, view, "j", ["g"], ["x"])
    assert _join_view(spark, view, ["g"], "x") == _join_recompute(
        spark, a, b, "j", ["g"], "x"
    )

    # BOTH sides before one sync, incl. a new fact matching a new dim
    # (the dA x dB corner the identity folds into dA x B_new)
    layout.snapshot_merge(
        spark, a,
        spark.createDataFrame(
            [(200, 9, 50, False), (3, 9, 1, False)],
            "k long, j long, x long, _del boolean",
        ),
        "k", delete_col="_del",
    )
    layout.snapshot_merge(
        spark, b,
        spark.createDataFrame([(9, "z", False)], "j long, g string, _del boolean"),
        "j", delete_col="_del",
    )
    ivm.join_view_sync(spark, a, b, view, "j", ["g"], ["x"])
    assert _join_view(spark, view, ["g"], "x") == _join_recompute(
        spark, a, b, "j", ["g"], "x"
    )

    # replay: nothing new, reports the consumed watermarks
    got = ivm.join_view_sync(spark, a, b, view, "j", ["g"], ["x"])
    assert got[0] is None and got[1] == (3, 3)


def test_avg_view_read_derives_from_existing_state(spark, tmp_path):
    source, view = str(tmp_path / "src"), str(tmp_path / "view")
    layout.snapshot_write_keyed(
        spark, _src(spark, [(1, "a", 10), (2, "a", 20), (3, "b", 7)]),
        source, "k",
    )
    ivm.agg_view_create(spark, source, view, ["g"], ["x"])
    got = {
        (r["g"], r["avg_x"])
        for r in ivm.avg_view_read(spark, view, ["x"]).collect()
    }
    assert got == {("a", 15.0), ("b", 7.0)}


def test_left_join_view_null_extension_flips(spark, tmp_path):
    """LEFT OUTER join view (round 15): unmatched facts survive
    null-extended; a dimension INSERT that starts matching them
    retracts the null-extended contributions and re-homes the rows
    (flip 0->positive), a dimension DELETE re-extends them (positive->0),
    partial dim deletes (2 rows -> 1) don't flip, and NULL join keys
    stay null-extended forever.  After every sync the view equals a
    from-scratch LEFT JOIN recompute."""
    a, b, view = str(tmp_path / "a"), str(tmp_path / "b"), str(tmp_path / "v")

    def recompute():
        j = layout.snapshot_read(spark, a).join(
            layout.snapshot_read(spark, b), "j", "left"
        )
        return {
            (r["g"], r["_n"], r["s"])
            for r in j.groupBy("g")
            .agg(
                F.count(F.lit(1)).alias("_n"),
                F.sum(F.coalesce(F.col("x"), F.lit(0))).alias("s"),
            )
            .collect()
        }

    def view_rows():
        return {
            (r["g"], r["_n"], r["sum_x"])
            for r in ivm.agg_view_read(spark, view).collect()
        }

    # facts: j in {0..5} plus one NULL-key fact; dim key 9 duplicated
    facts = [(i, i % 6, i * 10) for i in range(24)] + [(100, None, 7)]
    dims = [(0, "r"), (1, "s"), (2, "r"), (9, "dup"), (9, "dup")]
    # dims 3,4,5 ABSENT -> those facts are unmatched (null-extended)
    layout.snapshot_write_keyed(
        spark, spark.createDataFrame(facts, "k long, j long, x long"), a, "k",
        n_buckets=4,
    )
    # dim NOT keyed by a unique j (duplicate 9) -> keyed by synthetic id
    dim_rows = [(i, j, g) for i, (j, g) in enumerate(dims)]
    layout.snapshot_write_keyed(
        spark, spark.createDataFrame(dim_rows, "d long, j long, g string"),
        b, "d", n_buckets=2,
    )
    ivm.join_view_create(spark, a, b, view, "j", ["g"], ["x"], how="left")
    assert view_rows() == recompute()

    # dim INSERT matching previously-unmatched facts (flip 0->pos for
    # j=3) + dim DELETE of the only j=0 row (flip pos->0) + partial
    # delete of ONE j=9 dup (no flip) + attr move on j=1 (no flip)
    upd_b = spark.createDataFrame(
        [
            (10, 3, "t", False),   # insert: j=3 facts re-home to 't'
            (0, None, None, True),  # delete the only j=0 dim
            (3, None, None, True),  # delete ONE of two j=9 dups
            (1, 1, "moved", False),  # attr move, count unchanged
        ],
        "d long, j long, g string, _del boolean",
    )
    layout.snapshot_merge(spark, b, upd_b, "d", delete_col="_del")
    ivm.join_view_sync(spark, a, b, view, "j", ["g"], ["x"], how="left")
    assert view_rows() == recompute()

    # fact churn: insert unmatched, insert matched, move a fact from a
    # matched key to an unmatched one, delete the NULL-key fact
    upd_a = spark.createDataFrame(
        [
            (200, 7, 5, False),    # insert, no dim 7 -> null-extended
            (201, 1, 6, False),    # insert, matched
            (1, 4, 10, False),     # move j 1 -> 4 (matched -> unmatched)
            (100, None, None, True),  # delete the NULL-key fact
        ],
        "k long, j long, x long, _del boolean",
    )
    layout.snapshot_merge(spark, a, upd_a, "k", delete_col="_del")
    ivm.join_view_sync(spark, a, b, view, "j", ["g"], ["x"], how="left")
    assert view_rows() == recompute()

    # BOTH sides in one sync: dim re-insert of j=0 (flip 0->pos, must
    # also cover the fact inserted at j=0 in the SAME span) + that
    # fact insert + a dup-completing delete of the last j=9 row
    layout.snapshot_merge(
        spark, a,
        spark.createDataFrame(
            [(202, 0, 9, False)], "k long, j long, x long, _del boolean"
        ),
        "k", delete_col="_del",
    )
    layout.snapshot_merge(
        spark, b,
        spark.createDataFrame(
            [(20, 0, "back", False), (4, None, None, True)],
            "d long, j long, g string, _del boolean",
        ),
        "d", delete_col="_del",
    )
    ivm.join_view_sync(spark, a, b, view, "j", ["g"], ["x"], how="left")
    assert view_rows() == recompute()


def test_pruned_join_side_reads_only_touched_buckets(spark, tmp_path):
    """join_view_sync's dimension read opens only the buckets the
    delta's join keys hash to (file-level pruning, the 100 TB shape);
    a side not keyed by the join column falls back to a full pinned
    read."""
    b = str(tmp_path / "dims")
    rows = [(j, f"s{j}") for j in range(64)]
    layout.snapshot_write_keyed(
        spark, spark.createDataFrame(rows, "j long, g string"), b, "j",
        n_buckets=8,
    )
    total_files = len(layout.snapshot_manifest(spark, b)["files"])
    assert total_files >= 8
    delta = spark.createDataFrame([(3,)], "j long")
    pruned = ivm._pruned_join_side(spark, b, 1, "j", delta)
    assert 0 < len(pruned.inputFiles()) < total_files
    assert [r["g"] for r in pruned.filter("j = 3").collect()] == ["s3"]
    # not keyed by the join column -> honest full read
    full = ivm._pruned_join_side(spark, b, 1, "g", delta.select(F.lit("s3").alias("g")))
    assert len(full.inputFiles()) == total_files


def test_randomized_left_join_view_equals_recompute(spark, tmp_path):
    """Model-based stress of the LEFT join view algebra: a seeded
    random op stream drives BOTH sides (fact inserts/updates/moves/
    deletes; dimension inserts/attr-updates/deletes — every dim
    insert/delete is a potential 0<->positive match-count flip), with
    1-2 commits per side between syncs — after every sync the view
    equals a from-scratch LEFT JOIN recompute."""
    rng = random.Random(20260816)
    a, b, view = str(tmp_path / "a"), str(tmp_path / "b"), str(tmp_path / "v")
    facts = {i: (i % 8, i * 10) for i in range(30)}   # k -> (j, x)
    dims = {j: f"g{j}" for j in range(0, 8, 2)}       # only even j matched
    layout.snapshot_write_keyed(
        spark,
        spark.createDataFrame(
            [(k, j, x) for k, (j, x) in facts.items()], "k long, j long, x long"
        ),
        a, "k", n_buckets=4,
    )
    layout.snapshot_write_keyed(
        spark,
        spark.createDataFrame(list(dims.items()), "j long, g string"),
        b, "j", n_buckets=2,
    )
    ivm.join_view_create(spark, a, b, view, "j", ["g"], ["x"], how="left")

    def recompute():
        out = {}
        for k, (j, x) in facts.items():
            g = dims.get(j)  # None == null-extended
            n, s = out.get(g, (0, 0))
            out[g] = (n + 1, s + x)
        return {(g, n, s) for g, (n, s) in out.items()}

    def view_rows():
        return {
            (r["g"], r["_n"], r["sum_x"])
            for r in ivm.agg_view_read(spark, view).collect()
        }

    next_k = 1000
    for _ in range(6):
        for _ in range(rng.randint(1, 2)):  # fact commits
            batch = {}
            for _ in range(rng.randint(1, 5)):
                op = rng.random()
                if op < 0.35 or not facts:
                    j = rng.randint(0, 11)  # half the j-space unmatched
                    batch[next_k] = (j, rng.randint(0, 99), False)
                    next_k += 1
                elif op < 0.7:
                    k = rng.choice(list(facts))
                    batch[k] = (rng.randint(0, 11), rng.randint(0, 99), False)
                else:
                    k = rng.choice(list(facts))
                    batch[k] = (None, None, True)
            layout.snapshot_merge(
                spark, a,
                spark.createDataFrame(
                    [(k, j, x, d) for k, (j, x, d) in batch.items()],
                    "k long, j long, x long, _del boolean",
                ),
                "k", delete_col="_del",
            )
            for k, (j, x, d) in batch.items():
                if d:
                    facts.pop(k, None)
                else:
                    facts[k] = (j, x)
        for _ in range(rng.randint(0, 2)):  # dim commits
            batch = {}
            for _ in range(rng.randint(1, 3)):
                op = rng.random()
                if op < 0.4:
                    j = rng.randint(0, 11)
                    batch[j] = (f"new{j}", False)  # insert OR attr update
                elif op < 0.7 and dims:
                    j = rng.choice(list(dims))
                    batch[j] = (f"mv{rng.randint(0, 9)}", False)
                elif dims:
                    j = rng.choice(list(dims))
                    batch[j] = (None, True)
            if not batch:
                continue
            layout.snapshot_merge(
                spark, b,
                spark.createDataFrame(
                    [(j, g, d) for j, (g, d) in batch.items()],
                    "j long, g string, _del boolean",
                ),
                "j", delete_col="_del",
            )
            for j, (g, d) in batch.items():
                if d:
                    dims.pop(j, None)
                else:
                    dims[j] = g
        ivm.join_view_sync(spark, a, b, view, "j", ["g"], ["x"], how="left")
        assert view_rows() == recompute()


def test_randomized_full_join_view_equals_recompute(spark, tmp_path):
    """Model-based stress of the FULL OUTER join view: unmatched rows
    on EITHER side are maintained null-extended — fact churn re-homes
    across the NULL dimension group, dimension churn re-homes facts
    AND adds/removes its own unmatched output rows.  After every sync
    the view equals a from-scratch FULL JOIN recompute."""
    rng = random.Random(426)
    a, b, view = str(tmp_path / "a"), str(tmp_path / "b"), str(tmp_path / "v")
    facts = {i: (i % 8, i * 10) for i in range(24)}  # k -> (j, x)
    dims = {j: f"g{j}" for j in range(4, 12)}  # j 0-3 fact-only, 8-11 dim-only
    layout.snapshot_write_keyed(
        spark,
        spark.createDataFrame(
            [(k, j, x) for k, (j, x) in facts.items()], "k long, j long, x long"
        ),
        a, "k", n_buckets=4,
    )
    layout.snapshot_write_keyed(
        spark,
        spark.createDataFrame(list(dims.items()), "j long, g string"),
        b, "j", n_buckets=2,
    )
    ivm.join_view_create(spark, a, b, view, "j", ["g"], ["x"], how="full")

    def recompute():
        out = {}

        def add(g, x):
            n, s = out.get(g, (0, 0))
            out[g] = (n + 1, s + x)

        fact_js = set()
        for k, (j, x) in facts.items():
            if j is not None:
                fact_js.add(j)
            add(dims.get(j), x)  # None == unmatched fact
        for j, g in dims.items():
            if j not in fact_js:
                add(g, 0)  # unmatched dim row, A side null-extended
        return {(g, n, s) for g, (n, s) in out.items()}

    def view_rows():
        return {
            (r["g"], r["_n"], r["sum_x"])
            for r in ivm.agg_view_read(spark, view).collect()
        }

    assert view_rows() == recompute()
    next_k = 1000
    for _ in range(6):
        for _ in range(rng.randint(1, 2)):  # fact commits
            batch = {}
            for _ in range(rng.randint(1, 5)):
                op = rng.random()
                if op < 0.35 or not facts:
                    batch[next_k] = (rng.randint(0, 13), rng.randint(0, 99), False)
                    next_k += 1
                elif op < 0.7:
                    k = rng.choice(list(facts))
                    batch[k] = (rng.randint(0, 13), rng.randint(0, 99), False)
                else:
                    k = rng.choice(list(facts))
                    batch[k] = (None, None, True)
            layout.snapshot_merge(
                spark, a,
                spark.createDataFrame(
                    [(k, j, x, d) for k, (j, x, d) in batch.items()],
                    "k long, j long, x long, _del boolean",
                ),
                "k", delete_col="_del",
            )
            for k, (j, x, d) in batch.items():
                if d:
                    facts.pop(k, None)
                else:
                    facts[k] = (j, x)
        for _ in range(rng.randint(0, 2)):  # dim commits
            batch = {}
            for _ in range(rng.randint(1, 3)):
                op = rng.random()
                if op < 0.4:
                    j = rng.randint(0, 13)
                    batch[j] = (f"new{j}", False)
                elif op < 0.7 and dims:
                    j = rng.choice(list(dims))
                    batch[j] = (f"mv{rng.randint(0, 9)}", False)
                elif dims:
                    j = rng.choice(list(dims))
                    batch[j] = (None, True)
            if not batch:
                continue
            layout.snapshot_merge(
                spark, b,
                spark.createDataFrame(
                    [(j, g, d) for j, (g, d) in batch.items()],
                    "j long, g string, _del boolean",
                ),
                "j", delete_col="_del",
            )
            for j, (g, d) in batch.items():
                if d:
                    dims.pop(j, None)
                else:
                    dims[j] = g
        ivm.join_view_sync(spark, a, b, view, "j", ["g"], ["x"], how="full")
        assert view_rows() == recompute()


def test_feed_names_vacuumed_span_versions(spark, tmp_path):
    """A consumer tailing a span that vacuum already expired must get
    the descriptive re-bootstrap error, not a raw JVM read failure."""
    import pytest

    source = str(tmp_path / "src")
    layout.snapshot_write_keyed(
        spark, _src(spark, [(1, "a", 10)]), source, "k"
    )
    for j in range(3):
        layout.snapshot_merge(
            spark,
            source,
            spark.createDataFrame(
                [(10 + j, "b", j, False)], "k long, g string, x long, _del boolean"
            ),
            "k",
            delete_col="_del",
        )
    layout.vacuum_snapshots(spark, source, keep_last=1)
    with pytest.raises(FileNotFoundError, match="re-bootstrap"):
        layout.snapshot_changes_feed(spark, source, 1).collect()


def test_maintain_join_view_streaming_sink_exactly_once(spark, tmp_path):
    """maintain_join_view (round 16, VERDICT r15 #2): each micro-batch
    merges into the A side (batch-id watermark) and the join view
    follows BOTH commit logs — replays of either leg are absorbed,
    out-of-band B-side merges flow in on the next trigger, the final
    view equals a recompute of the full join."""
    from fiware_cosmos_orion_flink_connector_examples_spark.streaming import jobs

    a, b, view = str(tmp_path / "a"), str(tmp_path / "b"), str(tmp_path / "v")
    facts = [(i, (10, 20, 30)[i % 3], i) for i in range(12)]
    layout.snapshot_write_keyed(
        spark,
        spark.createDataFrame(facts, "k long, j long, x long"),
        a, "k",
    )
    layout.snapshot_write_keyed(
        spark,
        spark.createDataFrame(
            [(10, "x"), (20, "y"), (30, "z")], "j long, g string"
        ),
        b, "j", n_buckets=2,
    )
    ivm.join_view_create(spark, a, b, view, "j", ["g"], ["x"], txn_app="jv")
    sink = jobs.maintain_join_view(
        a, b, view, "k", "j", ["g"], ["x"], txn_app="jv"
    )

    def recompute():
        return {
            (r["g"], r["_n"], r["sum_x"])
            for r in layout.snapshot_read(spark, a)
            .join(layout.snapshot_read(spark, b), "j")
            .groupBy("g")
            .agg(
                F.count(F.lit(1)).alias("_n"),
                F.sum(F.coalesce(F.col("x"), F.lit(0))).alias("sum_x"),
            )
            .collect()
        }

    def served():
        return {
            (r["g"], r["_n"], r["sum_x"])
            for r in ivm.agg_view_read(spark, view).collect()
        }

    b0 = spark.createDataFrame(
        [(0, 20, 100, False), (1, None, None, True), (50, 30, 7, False)],
        "k long, j long, x long, _del boolean",
    )
    b1 = spark.createDataFrame(
        [(2, 10, 5, False)], "k long, j long, x long, _del boolean"
    )
    sink(b0, 0)
    sink(b0, 0)  # immediate replay: A merge absorbed, view sync no-op
    assert served() == recompute()
    # out-of-band B-side maintenance between triggers: a dim move +
    # a dim delete (drops every fact joined at j=30)
    layout.snapshot_merge(
        spark, b,
        spark.createDataFrame(
            [(10, "moved", False), (30, None, True)],
            "j long, g string, _del boolean",
        ),
        "j", delete_col="_del",
    )
    sink(b1, 1)  # next trigger picks the B-side span up too
    assert served() == recompute()
    sink(b0, 0)  # stale replay after a later batch
    sink(spark.createDataFrame([], b0.schema), 2)  # empty: nothing moves
    assert layout.snapshot_latest_version(spark, a) == 3  # v1 + 2 merges
    assert served() == recompute()


def test_maintain_join_view_e2e_structured_streaming(spark, tmp_path):
    """maintain_join_view under a REAL Structured Streaming query
    (availableNow, one micro-batch per spool file, durable
    checkpoint): the drained stream's view equals a batch recompute,
    and a checkpointed RESTART with no new input replays nothing —
    replay ≡ batch (the exactly-once e2e proof, matching
    test_maintain_agg_view_streaming_sink_exactly_once one level up
    the reality ladder)."""
    import json as _json

    from fiware_cosmos_orion_flink_connector_examples_spark.streaming import jobs

    a, b, view = str(tmp_path / "a"), str(tmp_path / "b"), str(tmp_path / "v")
    layout.snapshot_write_keyed(
        spark,
        spark.createDataFrame(
            [(1, 10, 5), (2, 20, 7), (3, 30, 2)], "k long, j long, x long"
        ),
        a, "k",
    )
    layout.snapshot_write_keyed(
        spark,
        spark.createDataFrame(
            [(10, "x"), (20, "y"), (30, "z")], "j long, g string"
        ),
        b, "j", n_buckets=2,
    )
    ivm.join_view_create(spark, a, b, view, "j", ["g"], ["x"], txn_app="jvE2E")

    spool = tmp_path / "spool"
    spool.mkdir()
    batches = [
        [(1, 20, 50, False), (4, 30, 9, False)],  # move k=1, insert k=4
        [(2, None, None, True), (5, 10, 3, False)],  # delete k=2, insert
    ]
    for i, rows in enumerate(batches):
        with open(spool / f"b{i}.jsonl", "w") as f:
            for k, j, x, d in rows:
                f.write(
                    _json.dumps({"k": k, "j": j, "x": x, "_del": d}) + "\n"
                )

    stream = (
        spark.readStream.schema("k long, j long, x long, _del boolean")
        .option("maxFilesPerTrigger", 1)
        .json(str(spool))
    )
    sink = jobs.maintain_join_view(
        a, b, view, "k", "j", ["g"], ["x"], txn_app="jvE2E"
    )

    def start():
        return (
            stream.writeStream.foreachBatch(sink)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )

    start().awaitTermination(120)
    assert layout.snapshot_latest_version(spark, a) == 3  # v1 + 2 batches

    def recompute():
        return {
            (r["g"], r["_n"], r["sum_x"])
            for r in layout.snapshot_read(spark, a)
            .join(layout.snapshot_read(spark, b), "j")
            .groupBy("g")
            .agg(
                F.count(F.lit(1)).alias("_n"),
                F.sum(F.coalesce(F.col("x"), F.lit(0))).alias("sum_x"),
            )
            .collect()
        }

    served = {
        (r["g"], r["_n"], r["sum_x"])
        for r in ivm.agg_view_read(spark, view).collect()
    }
    assert served == recompute()

    # checkpointed restart, no new input: nothing merges, nothing syncs
    va, vv = (
        layout.snapshot_latest_version(spark, a),
        layout.snapshot_latest_version(spark, view),
    )
    start().awaitTermination(120)
    assert layout.snapshot_latest_version(spark, a) == va
    assert layout.snapshot_latest_version(spark, view) == vv


def test_randomized_right_join_view_equals_recompute(spark, tmp_path):
    """Model-based stress of the RIGHT join wrapper (LEFT with the
    tables swapped internally): unmatched DIMENSION rows survive
    null-extended, fact churn flips them, and — round-16 twist — the
    fact table carries stats+bloom on the join column (compacted
    sorted-by-j), so every A_old read during sync goes through the
    tier-2 file-pruned path while the view stays exact."""
    rng = random.Random(20260817)
    a, b, view = str(tmp_path / "a"), str(tmp_path / "b"), str(tmp_path / "v")
    facts = {i: (i % 6, i * 10) for i in range(24)}   # k -> (j, x)
    dims = {j: f"g{j}" for j in range(0, 10)}         # j>=6 unmatched
    layout.snapshot_write_keyed(
        spark,
        spark.createDataFrame(
            [(k, j, x) for k, (j, x) in facts.items()], "k long, j long, x long"
        ),
        a, "k", n_buckets=2,
    )
    layout.compact_files(
        spark, a, sort_by="j", stats_cols=["j"], bloom_cols=["j"],
        max_records_per_file=6,
    )
    layout.snapshot_write_keyed(
        spark,
        spark.createDataFrame(list(dims.items()), "j long, g string"),
        b, "j", n_buckets=2,
    )
    ivm.join_view_create(spark, a, b, view, "j", ["g"], ["x"], how="right")

    def recompute():
        out = {}
        by_j: dict = {}
        for k, (j, x) in facts.items():
            by_j.setdefault(j, []).append(x)
        for j, g in dims.items():
            xs = by_j.get(j)
            n, s = out.get(g, (0, 0))
            if xs:
                out[g] = (n + len(xs), s + sum(xs))
            else:
                out[g] = (n + 1, s)  # null-extended dim row, x -> 0
        return {(g, n, s) for g, (n, s) in out.items()}

    def view_rows():
        return {
            (r["g"], r["_n"], r["sum_x"])
            for r in ivm.agg_view_read(spark, view).collect()
        }

    assert view_rows() == recompute()
    next_k = 1000
    for _ in range(6):
        for _ in range(rng.randint(1, 2)):  # fact commits
            batch = {}
            for _ in range(rng.randint(1, 4)):
                op = rng.random()
                if op < 0.35 or not facts:
                    batch[next_k] = (rng.randint(0, 12), rng.randint(0, 99), False)
                    next_k += 1
                elif op < 0.7:
                    k = rng.choice(list(facts))
                    batch[k] = (rng.randint(0, 12), rng.randint(0, 99), False)
                else:
                    k = rng.choice(list(facts))
                    batch[k] = (None, None, True)
            layout.snapshot_merge(
                spark, a,
                spark.createDataFrame(
                    [(k, j, x, d) for k, (j, x, d) in batch.items()],
                    "k long, j long, x long, _del boolean",
                ),
                "k", delete_col="_del",
            )
            for k, (j, x, d) in batch.items():
                if d:
                    facts.pop(k, None)
                else:
                    facts[k] = (j, x)
        for _ in range(rng.randint(0, 2)):  # dim commits
            batch = {}
            for _ in range(rng.randint(1, 3)):
                op = rng.random()
                if op < 0.4:
                    batch[rng.randint(0, 12)] = (f"new{rng.randint(0, 9)}", False)
                elif op < 0.7 and dims:
                    batch[rng.choice(list(dims))] = (f"mv{rng.randint(0, 9)}", False)
                elif dims:
                    batch[rng.choice(list(dims))] = (None, True)
            if not batch:
                continue
            layout.snapshot_merge(
                spark, b,
                spark.createDataFrame(
                    [(j, g, d) for j, (g, d) in batch.items()],
                    "j long, g string, _del boolean",
                ),
                "j", delete_col="_del",
            )
            for j, (g, d) in batch.items():
                if d:
                    dims.pop(j, None)
                else:
                    dims[j] = g
        ivm.join_view_sync(spark, a, b, view, "j", ["g"], ["x"], how="right")
        assert view_rows() == recompute()


def test_maintain_join_view_two_sided_streams(spark, tmp_path):
    """One sink per side (side='a' fact stream, side='b' dimension
    stream), interleaved micro-batches with replays on both: each
    merges its own table under its own per-side watermark, both drive
    the same sync, and the final view equals the full-join recompute."""
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
        spark.createDataFrame(
            [(0, "x"), (1, "y"), (2, "z")], "j long, g string"
        ),
        b, "j", n_buckets=2,
    )
    ivm.join_view_create(spark, a, b, view, "j", ["g"], ["x"], txn_app="jv2s")
    sink_a = jobs.maintain_join_view(
        a, b, view, "k", "j", ["g"], ["x"], txn_app="jv2s", side="a"
    )
    sink_b = jobs.maintain_join_view(
        a, b, view, "j", "j", ["g"], ["x"], txn_app="jv2s", side="b"
    )

    def recompute():
        return {
            (r["g"], r["_n"], r["sum_x"])
            for r in layout.snapshot_read(spark, a)
            .join(layout.snapshot_read(spark, b), "j")
            .groupBy("g")
            .agg(
                F.count(F.lit(1)).alias("_n"),
                F.sum(F.coalesce(F.col("x"), F.lit(0))).alias("sum_x"),
            )
            .collect()
        }

    def served():
        return {
            (r["g"], r["_n"], r["sum_x"])
            for r in ivm.agg_view_read(spark, view).collect()
        }

    fa0 = spark.createDataFrame(
        [(0, 2, 77, False), (20, 5, 9, False)],
        "k long, j long, x long, _del boolean",
    )
    db0 = spark.createDataFrame(
        [(0, "moved", False), (5, "five", False), (1, None, True)],
        "j long, g string, _del boolean",
    )
    sink_a(fa0, 0)
    assert served() == recompute()
    sink_b(db0, 0)          # batch id 0 again — DIFFERENT side, own watermark
    assert served() == recompute()
    sink_a(fa0, 0)          # replay side a: absorbed
    sink_b(db0, 0)          # replay side b: absorbed
    assert layout.snapshot_latest_version(spark, a) == 2
    assert layout.snapshot_latest_version(spark, b) == 2
    sink_b(
        spark.createDataFrame(
            [(2, None, True)], "j long, g string, _del boolean"
        ),
        1,
    )
    assert served() == recompute()


def test_topk_view_read_exact_under_deletes(spark, tmp_path):
    """topk_view_read serves per-group exact top-k off the maintained
    pair view: a value-moving update re-ranks, and deleting the
    current maximum's LAST row promotes the next value — the case
    top-k sketches cannot undo."""
    source, view = str(tmp_path / "src"), str(tmp_path / "view")
    base = [(1, "a", 10), (2, "a", 20), (3, "a", 30), (4, "a", 30),
            (5, "b", 7), (6, "b", 9)]
    layout.snapshot_write_keyed(spark, _src(spark, base), source, "k")
    ivm.distinct_view_create(spark, source, view, ["g"], "x")

    def topk(k=2):
        return {
            (r["g"], r["x"], r["_n"], r["rank"])
            for r in ivm.topk_view_read(spark, view, ["g"], "x", k).collect()
        }

    assert topk() == {("a", 30, 2, 1), ("a", 20, 1, 2),
                      ("b", 9, 1, 1), ("b", 7, 1, 2)}

    # delete ONE of the two rows at a's max: 30 stays rank 1 (count 1)
    layout.snapshot_merge(
        spark, source,
        spark.createDataFrame([(3, None, None, True)],
                              "k long, g string, x long, _del boolean"),
        "k", delete_col="_del",
    )
    ivm.distinct_view_sync(spark, source, view, ["g"], "x")
    assert ("a", 30, 1, 1) in topk()

    # delete the LAST row at 30 → 20 promotes to rank 1
    layout.snapshot_merge(
        spark, source,
        spark.createDataFrame([(4, None, None, True)],
                              "k long, g string, x long, _del boolean"),
        "k", delete_col="_del",
    )
    ivm.distinct_view_sync(spark, source, view, ["g"], "x")
    assert topk() == {("a", 20, 1, 1), ("a", 10, 1, 2),
                      ("b", 9, 1, 1), ("b", 7, 1, 2)}

    # value-moving update re-ranks b: 7 -> 99 takes rank 1
    layout.snapshot_merge(
        spark, source,
        spark.createDataFrame([(5, "b", 99, False)],
                              "k long, g string, x long, _del boolean"),
        "k", delete_col="_del",
    )
    ivm.distinct_view_sync(spark, source, view, ["g"], "x")
    assert topk(1) == {("a", 20, 1, 1), ("b", 99, 1, 1)}


def test_quantile_view_read_exact_under_churn(spark, tmp_path):
    """quantile_view_read = PERCENTILE_DISC off the pair view: exact
    against a direct percentile over the live source rows, including
    after deletes (the case mergeable sketches cannot subtract)."""
    source, view = str(tmp_path / "src"), str(tmp_path / "view")
    base = [(i, "ab"[i % 2], (i * 7) % 50) for i in range(40)]
    layout.snapshot_write_keyed(spark, _src(spark, base), source, "k")
    ivm.distinct_view_create(spark, source, view, ["g"], "x")

    def recompute():
        return {
            (r["g"], r["p50_x"], r["p90_x"])
            for r in layout.snapshot_read(spark, source)
            .groupBy("g")
            .agg(
                F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY x)").alias("p50_x"),
                F.expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY x)").alias("p90_x"),
            )
            .collect()
        }

    def served():
        return {
            (r["g"], r["p50_x"], r["p90_x"])
            for r in ivm.quantile_view_read(
                spark, view, ["g"], "x", [0.5, 0.9]
            ).collect()
        }

    assert served() == recompute()
    # churn: delete a run of rows (shifting both percentiles), move one
    # value, insert duplicates of an existing value (row-weighting)
    upd = spark.createDataFrame(
        [(i, None, None, True) for i in range(0, 12)]
        + [(13, "b", 49, False), (100, "a", 14, False), (101, "a", 14, False)],
        "k long, g string, x long, _del boolean",
    )
    layout.snapshot_merge(spark, source, upd, "k", delete_col="_del")
    ivm.distinct_view_sync(spark, source, view, ["g"], "x")
    assert served() == recompute()

    import pytest as _pytest

    with _pytest.raises(ValueError, match="prob"):
        ivm.quantile_view_read(spark, view, ["g"], "x", [0.0])


def test_quantile_view_read_exact_integer_boundaries(spark, tmp_path):
    """ADVICE r16: p·n thresholds where the double product rounds up
    past the mathematical integer (p=0.55·100 → 55.000000000000004,
    p=0.07·100) must still pick the exact PERCENTILE_DISC value — the
    reader computes ceil in integer arithmetic off p's decimal digits."""
    source, view = str(tmp_path / "src"), str(tmp_path / "view")
    # one group, 100 rows with distinct values 1..100 so the p-th
    # percentile_disc is literally round-up(p*100)
    base = [(i, "g", i + 1) for i in range(100)]
    layout.snapshot_write_keyed(spark, _src(spark, base), source, "k")
    ivm.distinct_view_create(spark, source, view, ["g"], "x")

    row = ivm.quantile_view_read(
        spark, view, ["g"], "x", [0.55, 0.07, 0.01, 1.0]
    ).collect()[0]
    assert row["p55_x"] == 55  # NOT 56 (double ceil overshoot)
    assert row["p7_x"] == 7
    assert row["p1_x"] == 1
    assert row["p100_x"] == 100


def test_quantile_view_read_names_and_single_pass(spark, tmp_path):
    """Fractional-percent probs get collision-free names derived from
    the full decimal repr; probs that WOULD collide raise; and the plan
    runs ONE window pass no matter how many probs are requested."""
    import pytest as _pytest

    source, view = str(tmp_path / "src"), str(tmp_path / "view")
    layout.snapshot_write_keyed(
        spark, _src(spark, [(i, "g", i) for i in range(1, 9)]), source, "k"
    )
    ivm.distinct_view_create(spark, source, view, ["g"], "x")

    df = ivm.quantile_view_read(spark, view, ["g"], "x", [0.5, 0.504, 0.125])
    assert set(df.columns) == {"g", "p50_x", "p50_4_x", "p12_5_x"}

    # 0.5 and 0.504 used to both round to "p50_x" — now distinct; a
    # genuine duplicate still raises instead of an ambiguous self-join
    with _pytest.raises(ValueError, match="duplicate"):
        ivm.quantile_view_read(spark, view, ["g"], "x", [0.5, 0.50])

    # constant window passes regardless of len(probs): Catalyst keeps
    # the two specs (ordered _cum + per-group _tot) as two Window
    # nodes over ONE sort — the count must not grow with the probs
    plan1 = ivm.quantile_view_read(
        spark, view, ["g"], "x", [0.5]
    )._jdf.queryExecution().optimizedPlan().toString()
    plan8 = ivm.quantile_view_read(
        spark, view, ["g"], "x",
        [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8],
    )._jdf.queryExecution().optimizedPlan().toString()
    assert plan1.count("Window") == plan8.count("Window") == 2
    assert "Join" not in plan8  # no per-prob join chain


def test_agg_view_sync_across_source_schema_evolution(spark, tmp_path):
    """A source merge that ADDS an unrelated column mid-span must not
    disturb the view sync: the span reads through the latest schema
    (missing columns NULL) and the view stays exact."""
    source, view = str(tmp_path / "src"), str(tmp_path / "view")
    layout.snapshot_write_keyed(
        spark, _src(spark, [(i, "ab"[i % 2], i) for i in range(10)]), source, "k"
    )
    ivm.agg_view_create(spark, source, view, ["g"], ["x"])
    # pre-evolution merge (old schema) — first commit of the span
    layout.snapshot_merge(
        spark, source,
        spark.createDataFrame(
            [(1, None, None, True), (2, "c", 5, False)],
            "k long, g string, x long, _del boolean",
        ),
        "k", delete_col="_del",
    )
    # evolution merge ADDS an unrelated column in the SAME span — the
    # span now mixes changelog files of two schemas and must read
    # through the latest one (missing columns NULL)
    layout.snapshot_merge(
        spark, source,
        spark.createDataFrame(
            [(0, "b", 100, "note", False), (50, "c", 7, "new", False)],
            "k long, g string, x long, extra string, _del boolean",
        ),
        "k", delete_col="_del",
    )
    v, consumed = ivm.agg_view_sync(spark, source, view, ["g"], ["x"])
    assert v is not None and consumed == 3
    assert _view(spark, view) == _recompute(spark, source)


def test_randomized_composite_key_join_view_equals_recompute(spark, tmp_path):
    """COMPOSITE equi-join keys (round 17, VERDICT r16 #3): a
    two-column key ["j1", "j2"] through join_view_create/sync, inner
    AND left maintained side-by-side off the same churn — facts keyed
    by their own PK (so neither side is co-keyed by the tuple), dims
    carrying duplicate (j1, j2) tuples (join multiplicity > 1), NULL
    in either component never matching (and surviving null-extended
    under LEFT).  After every sync both views equal a from-scratch
    recompute."""
    rng = random.Random(20260818)
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    vi, vl = str(tmp_path / "vi"), str(tmp_path / "vl")
    # facts: k -> (j1, j2, x); j1 in 0..3 / None, j2 in 0..2 / None
    facts = {
        i: (i % 4, i % 3, i * 10) for i in range(24)
    }
    facts[100] = (None, 1, 7)  # NULL component from the start
    # dims: d -> (j1, j2, g); tuple (0, 0) duplicated on purpose
    dims = {
        0: (0, 0, "g0"), 1: (0, 0, "g0dup"), 2: (1, 1, "g1"),
        3: (2, 2, "g2"), 4: (3, 0, "g3"), 5: (None, 2, "gnull"),
    }
    layout.snapshot_write_keyed(
        spark,
        spark.createDataFrame(
            [(k, *v) for k, v in facts.items()],
            "k long, j1 long, j2 long, x long",
        ),
        a, "k", n_buckets=2,
    )
    layout.snapshot_write_keyed(
        spark,
        spark.createDataFrame(
            [(d, *v) for d, v in dims.items()],
            "d long, j1 long, j2 long, g string",
        ),
        b, "d", n_buckets=2,
    )
    jc = ["j1", "j2"]
    ivm.join_view_create(spark, a, b, vi, jc, ["g"], ["x"], how="inner")
    ivm.join_view_create(spark, a, b, vl, jc, ["g"], ["x"], how="left")

    def recompute(how):
        out: dict = {}

        def add(g, x):
            n, s = out.get(g, (0, 0))
            out[g] = (n + 1, s + x)

        for _k, (j1, j2, x) in facts.items():
            matched = False
            if j1 is not None and j2 is not None:
                for _d, (dj1, dj2, g) in dims.items():
                    if dj1 == j1 and dj2 == j2:
                        add(g, x)
                        matched = True
            if not matched and how == "left":
                add(None, x)
        return {(g, n, s) for g, (n, s) in out.items()}

    def served(view):
        return {
            (r["g"], r["_n"], r["sum_x"])
            for r in ivm.agg_view_read(spark, view).collect()
        }

    next_k, next_d = 1000, 100
    for _ in range(5):
        # fact commits: insert / move (incl. to-NULL component) / delete
        batch = {}
        for _ in range(rng.randint(1, 5)):
            op = rng.random()
            if op < 0.35 or not facts:
                batch[next_k] = (
                    rng.choice([0, 1, 2, 3, None]),
                    rng.choice([0, 1, 2, None]),
                    rng.randint(0, 99), False,
                )
                next_k += 1
            elif op < 0.7:
                k = rng.choice(list(facts))
                batch[k] = (
                    rng.choice([0, 1, 2, 3, None]),
                    rng.choice([0, 1, 2, None]),
                    rng.randint(0, 99), False,
                )
            else:
                k = rng.choice(list(facts))
                batch[k] = (None, None, None, True)
        layout.snapshot_merge(
            spark, a,
            spark.createDataFrame(
                [(k, *v) for k, v in batch.items()],
                "k long, j1 long, j2 long, x long, _del boolean",
            ),
            "k", delete_col="_del",
        )
        for k, (j1, j2, x, d) in batch.items():
            if d:
                facts.pop(k, None)
            else:
                facts[k] = (j1, j2, x)
        # dim commits: insert (possibly duplicating a live tuple) /
        # tuple-move / delete — every one a potential match-count flip
        if rng.random() < 0.8:
            batch = {}
            for _ in range(rng.randint(1, 3)):
                op = rng.random()
                if op < 0.4:
                    batch[next_d] = (
                        rng.choice([0, 1, 2, 3]),
                        rng.choice([0, 1, 2]),
                        f"g{next_d}", False,
                    )
                    next_d += 1
                elif op < 0.7 and dims:
                    d = rng.choice(list(dims))
                    batch[d] = (
                        rng.choice([0, 1, 2, 3, None]),
                        rng.choice([0, 1, 2]),
                        f"mv{rng.randint(0, 9)}", False,
                    )
                elif dims:
                    d = rng.choice(list(dims))
                    batch[d] = (None, None, None, True)
            layout.snapshot_merge(
                spark, b,
                spark.createDataFrame(
                    [(d, *v) for d, v in batch.items()],
                    "d long, j1 long, j2 long, g string, _del boolean",
                ),
                "d", delete_col="_del",
            )
            for d, (j1, j2, g, dl) in batch.items():
                if dl:
                    dims.pop(d, None)
                else:
                    dims[d] = (j1, j2, g)
        ivm.join_view_sync(spark, a, b, vi, jc, ["g"], ["x"], how="inner")
        ivm.join_view_sync(spark, a, b, vl, jc, ["g"], ["x"], how="left")
        assert served(vi) == recompute("inner")
        assert served(vl) == recompute("left")


def test_join_view_rejects_bad_join_cols(spark, tmp_path):
    import pytest as _pytest

    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    layout.snapshot_write_keyed(
        spark, _src(spark, [(1, "a", 1)]), a, "k"
    )
    layout.snapshot_write_keyed(
        spark, _src(spark, [(1, "b", 2)]), b, "k"
    )
    with _pytest.raises(ValueError, match="distinct column names"):
        ivm.join_view_create(
            spark, a, b, str(tmp_path / "v"), ["g", "g"], ["k"], []
        )
    with _pytest.raises(ValueError, match="distinct column names"):
        ivm.join_view_create(spark, a, b, str(tmp_path / "v"), [], ["k"], [])


def test_pair_view_readers_over_join_view(spark, tmp_path):
    """Pair-view readers over a JOIN view (round 17, VERDICT r16 #6):
    a join view grouped by (g, value) IS pair-view state over the
    joined frame — distinct/extremes/top-k/percentiles serve exact
    answers over a MAINTAINED two-table join, staying ≡ recompute
    under churn on both sides (deletes included — the cases sketches
    cannot subtract)."""
    a, b, view = str(tmp_path / "a"), str(tmp_path / "b"), str(tmp_path / "v")
    facts = {i: (i % 4, (i * 7) % 10) for i in range(40)}  # k -> (j, x)
    dims = {j: f"g{j % 2}" for j in range(4)}              # j -> g
    layout.snapshot_write_keyed(
        spark,
        spark.createDataFrame(
            [(k, j, x) for k, (j, x) in facts.items()],
            "k long, j long, x long",
        ),
        a, "k", n_buckets=2,
    )
    layout.snapshot_write_keyed(
        spark,
        spark.createDataFrame(list(dims.items()), "j long, g string"),
        b, "j", n_buckets=2,
    )
    # the pair trick: group by (g, x) — x is the VALUE column
    ivm.join_view_create(spark, a, b, view, "j", ["g", "x"], [])

    def joined_rows():
        out = []
        for _k, (j, x) in facts.items():
            g = dims.get(j)
            if g is not None:
                out.append((g, x))
        return out

    def check():
        rows = joined_rows()
        by_g: dict = {}
        for g, x in rows:
            by_g.setdefault(g, []).append(x)
        # distinct
        got = {
            (r["g"], r["n_distinct_x"])
            for r in ivm.distinct_view_read(spark, view, ["g"], "x").collect()
        }
        assert got == {(g, len(set(xs))) for g, xs in by_g.items()}
        # extremes
        got = {
            (r["g"], r["min_x"], r["max_x"])
            for r in ivm.extremes_view_read(spark, view, ["g"], "x").collect()
        }
        assert got == {(g, min(xs), max(xs)) for g, xs in by_g.items()}
        # top-2 distinct values
        got = {
            (r["g"], r["x"], r["rank"])
            for r in ivm.topk_view_read(spark, view, ["g"], "x", 2).collect()
        }
        expect = set()
        for g, xs in by_g.items():
            for rank, v in enumerate(sorted(set(xs), reverse=True)[:2], 1):
                expect.add((g, v, rank))
        assert got == expect
        # exact median over JOINED ROWS (row-weighted, PERCENTILE_DISC)
        got = {
            (r["g"], r["p50_x"])
            for r in ivm.quantile_view_read(
                spark, view, ["g"], "x", [0.5]
            ).collect()
        }
        expect = set()
        for g, xs in by_g.items():
            s = sorted(xs)
            expect.add((g, s[(len(s) + 1) // 2 - 1]))
        assert got == expect

    check()
    # churn: fact deletes (kill a value entirely), value moves, dim
    # move (re-homes every matched fact to another group), dim delete
    layout.snapshot_merge(
        spark, a,
        spark.createDataFrame(
            [(0, None, None, True), (7, 1, 99, False), (41, 2, 3, False)],
            "k long, j long, x long, _del boolean",
        ),
        "k", delete_col="_del",
    )
    facts.pop(0)
    facts[7] = (1, 99)
    facts[41] = (2, 3)
    ivm.join_view_sync(spark, a, b, view, "j", ["g", "x"], [])
    check()
    layout.snapshot_merge(
        spark, b,
        spark.createDataFrame(
            [(1, "gmoved", False), (3, None, True)],
            "j long, g string, _del boolean",
        ),
        "j", delete_col="_del",
    )
    dims[1] = "gmoved"
    dims.pop(3)
    ivm.join_view_sync(spark, a, b, view, "j", ["g", "x"], [])
    check()
