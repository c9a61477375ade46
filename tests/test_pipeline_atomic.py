"""Catalog-level multi-table transactions: N arbitrary snapshot
tables + index roots pinned under ONE renamed catalog root — a source
merge, an agg-view sync, and a search-index sync publish as one atomic
unit, and readers resolving through the catalog can never observe a
partial pipeline.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from fiware_cosmos_orion_flink_connector_examples_spark.operators import (
    pipeline,
    text,
)
from fiware_cosmos_orion_flink_connector_examples_spark.sources import layout

DOCS = [
    (1, "hash join wins", "web", 14),
    (2, "sort merge join", "web", 15),
    (3, "hash join hash join", "book", 19),
    (4, "nothing relevant", "book", 16),
    (5, "hash join", "web", 9),
]
SCHEMA = "doc_id long, text string, source string, n_chars long"


def _legs(paths):
    """Source + count/sum view + search index, the three-member shape."""
    return [
        pipeline.source_leg(
            "source", paths["source"], "doc_id", n_buckets=2,
            txn_app="pipeline-src",
        ),
        pipeline.agg_view_leg(
            "view", paths["view"], "source", ["source"], ["n_chars"],
            txn_app="pipeline-view",
        ),
        pipeline.search_index_leg(
            "search", paths["index"], "source", n_buckets=2,
            txn_app="pipeline-idx",
        ),
    ]


def _create(spark, tmp_path):
    cat = str(tmp_path / "cat")
    paths = {
        "source": str(tmp_path / "src"),
        "view": str(tmp_path / "view"),
        "index": str(tmp_path / "idx"),
    }
    pipeline.pipeline_create_legs(
        spark, cat, _legs(paths), {"source": spark.createDataFrame(DOCS, SCHEMA)}
    )
    return cat, paths


def _state(spark, cat):
    """Everything a catalog reader can see: pins + view contents +
    phrase counts at the pinned index root."""
    res = layout.catalog_resolve(spark, cat)
    view_rows = {
        (r["source"], r["_n"], r["sum_n_chars"])
        for r in layout.snapshot_read(
            spark,
            res["tables"]["view"]["path"],
            res["tables"]["view"]["version"],
        )
        .drop("_gkey")
        .collect()
    }
    phrase = {
        tuple(r)
        for r in text.phrase_count_from_index(
            spark,
            res["tables"]["search"]["path"],
            ["hash", "join"],
            root_version=res["tables"]["search"]["version"],
        ).collect()
    }
    n_src = layout.snapshot_read(
        spark,
        res["tables"]["source"]["path"],
        res["tables"]["source"]["version"],
    ).count()
    return res, view_rows, phrase, n_src


BATCH = [
    # rewrite doc 2's text (gains the phrase) and move it to 'book'
    (2, "hash join now", "book", 13, False),
    # delete doc 3 (loses 2 occurrences)
    (3, None, None, None, True),
    # insert doc 6
    (6, "hash join again", "new", 15, False),
]
BATCH_SCHEMA = SCHEMA + ", _del boolean"


def _apply(spark, cat, paths, crash=False, batch_id=1, rows=BATCH):
    return pipeline.pipeline_apply_legs(
        spark,
        cat,
        _legs(paths),
        {"source": spark.createDataFrame(rows, BATCH_SCHEMA)},
        batch_id,
        _crash_before_publish=crash,
    )


def test_crash_before_publish_serves_old_root_then_retry_completes(
    spark, tmp_path
):
    cat, paths = _create(spark, tmp_path)
    res0, view0, phrase0, n0 = _state(spark, cat)
    assert res0["version"] == 1 and n0 == 5
    assert phrase0 == {(1, 1), (3, 2), (5, 1)}

    with pytest.raises(RuntimeError, match="injected crash"):
        _apply(spark, cat, paths, crash=True)

    # every sub-commit LANDED (dangling) ...
    assert layout.snapshot_latest_version(spark, paths["source"]) > res0[
        "tables"
    ]["source"]["version"]
    assert layout.index_root_latest(spark, paths["index"]) > res0["tables"][
        "search"
    ]["version"]
    # ... but the catalog still serves the ENTIRE old pipeline coherently
    res1, view1, phrase1, n1 = _state(spark, cat)
    assert res1["version"] == 1
    assert (view1, phrase1, n1) == (view0, phrase0, n0)

    # retry of the SAME batch id completes every leg and publishes once
    v = _apply(spark, cat, paths, crash=False)
    assert v == 2
    res2, view2, phrase2, n2 = _state(spark, cat)
    assert n2 == 5  # -1 delete +1 insert
    assert phrase2 == {(1, 1), (2, 1), (5, 1), (6, 1)}
    # view equals a recompute of the PINNED source
    expect = {
        (r["source"], r["n"], r["s"])
        for r in layout.snapshot_read(
            spark, paths["source"], res2["tables"]["source"]["version"]
        )
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("n_chars").alias("s"))
        .collect()
    }
    assert view2 == expect

    # replayed publish of the same batch id: no new root
    assert _apply(spark, cat, paths, crash=False, batch_id=1) == 2


def test_catalog_read_and_kind_guard(spark, tmp_path):
    cat, paths = _create(spark, tmp_path)
    assert layout.catalog_read(spark, cat, "source").count() == 5
    with pytest.raises(ValueError, match="kind"):
        layout.catalog_read(spark, cat, "search")


def test_catalog_vacuum_protects_pinned_chain(spark, tmp_path):
    cat, paths = _create(spark, tmp_path)
    _apply(spark, cat, paths, batch_id=1)
    _apply(
        spark, cat, paths, batch_id=2,
        rows=[(7, "hash join once more", "new", 19, False)],
    )
    assert layout.index_root_latest(spark, cat) == 3
    out = layout.catalog_vacuum(spark, cat, keep_last=1)
    assert out["deleted_roots"] == 2
    # the retained root's whole chain still reads coherently
    res, view_rows, phrase, n_src = _state(spark, cat)
    assert res["version"] == 3 and n_src == 6
    assert (7, 1) in phrase
    # expired catalog roots are gone
    with pytest.raises(FileNotFoundError):
        layout.index_root_resolve(spark, cat, 1)
    # source versions below the retained pin are expired
    with pytest.raises((FileNotFoundError, ValueError)):
        layout.snapshot_manifest(spark, paths["source"], 1)


def test_foreign_catalog_commit_conflicts_cleanly(spark, tmp_path):
    cat, paths = _create(spark, tmp_path)
    res = layout.catalog_resolve(spark, cat)
    pins = {
        name: (t["path"], t["version"], t["kind"])
        for name, t in res["tables"].items()
    }
    layout.catalog_commit(spark, cat, pins)  # foreign root lands
    with pytest.raises(layout.SnapshotVersionConflict):
        layout.catalog_commit(spark, cat, pins, expected_version=res["version"])
