"""PIPELINE-ATOMIC lakehouse transactions: one batch drives N member
tables — sources, incremental views (count/sum, distinct, two-table
JOIN views, views OVER views), versioned search/ANN indexes — and ALL
results publish as ONE catalog root rename (``layout.catalog_commit``).
A reader resolving tables through the catalog can never see a batch's
source rows without every derived member's matching delta.

The member set is DECLARATIVE.  A pipeline is a list of LEG specs —

    source_leg("docs", path, key_col="doc_id")
    agg_view_leg("by_src", path, source="docs", group_cols=[...], ...)
    distinct_view_leg("uniq", path, source="docs", ...)
    join_view_leg("joined", path, a="facts", b="dims", join_col=...)
    search_index_leg("search", path, source="docs")
    ann_index_leg("ann", path, source="vecs", centroids=[...])

— bootstrapped once with ``pipeline_create_legs`` and advanced
batch-by-batch with ``pipeline_apply_legs``.  Legs are synced in
DEPENDENCY ORDER (a join view may read another view as its dimension
side — the feature-store cascade — because every maintained view is
itself a keyed snapshot table with its own CDC).  There is one API: a
fixed shape such as source + count/sum view + search index is just a
three-leg list, and ``streaming.jobs.maintain_pipeline_legs`` is its
``foreachBatch`` sink.

The two-level guarantee, composed from pieces that already hold it:

  * each LEG is individually exactly-once — a source merge keys a txn
    watermark by batch id, a view sync's watermark is the consumed
    source version (``ivm.agg_view_sync`` / ``ivm.join_view_sync``),
    an index sync's root watermark is its consumed cursor — so a
    crashed/replayed batch re-runs every leg as a no-op or a
    completion, never a double-apply;
  * the CATALOG rename is the only publish — sub-commits that land
    before it are unreferenced (readers still see the previous
    coherent root), and the root's own txn watermark (batch id)
    absorbs a replayed publish.

Crash anywhere ⇒ previous root serves; retry ⇒ the same batch id
completes the remaining legs and publishes.  Single-pipeline-writer
ownership is assumed for the MEMBER tables (the standard lakehouse
job-owns-its-tables contract).  Foreign writers to the catalog ROOT
are absorbed by ``layout.optimistic_commit`` around the publish
(``SnapshotVersionConflict`` → re-read the root, retry the rename).
Cross-member coherence is CHECKED, not assumed: every consumer leg
reports the source version it consumed, and a disagreement (a
foreign writer violating the member contract mid-apply) re-syncs the
laggards up to 3 passes before raising.

``examples/lakehouse_pipeline.py`` shows the upgrade from a per-step
exactly-once chain to pipeline-atomic.

Reference scope note: the reference repo (226 lines of Flink demo
Scala) has no storage layer; [ext] infrastructure for the mandated
training-data pipeline surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from fiware_cosmos_orion_flink_connector_examples_spark.operators import ivm
from fiware_cosmos_orion_flink_connector_examples_spark.sources import layout

_VIEW_APP = "pipeline-view"
_SRC_APP = "pipeline-src"
_IDX_APP = "pipeline-idx"
_CAT_APP = "pipeline"


# --- leg constructors --------------------------------------------------------
#
# A leg is a plain dict: {"kind", "name", "path", ...kind fields,
# "txn_app"}.  Constructors exist so call sites read declaratively and
# defaults live in one place; pipeline_create_legs / pipeline_apply_legs
# accept the dicts directly (a hand-rolled dict with the same fields is
# equally valid — there is no hidden state).


def source_leg(
    name: str,
    path: str,
    key_col: str,
    n_buckets: int = 8,
    delete_col: str | None = "_del",
    txn_app: str | None = None,
) -> dict:
    """A keyed snapshot SOURCE table — the member batches merge into.
    ``delete_col`` names the boolean delete flag honored when present
    in a batch (default ``_del``; None disables)."""
    return {
        "kind": "source",
        "name": name,
        "path": path.rstrip("/"),
        "key_col": key_col,
        "n_buckets": n_buckets,
        "delete_col": delete_col,
        "txn_app": txn_app or f"{_SRC_APP}.{name}",
    }


def agg_view_leg(
    name: str,
    path: str,
    source: str,
    group_cols: list[str],
    sum_cols: list[str],
    n_buckets: int = 8,
    txn_app: str | None = None,
) -> dict:
    """An incremental count/sum view over member ``source`` — which may
    itself be a VIEW leg (view-over-view cascade: this view tails the
    parent view's own CDC)."""
    return {
        "kind": "agg_view",
        "name": name,
        "path": path.rstrip("/"),
        "source": source,
        "group_cols": list(group_cols),
        "sum_cols": list(sum_cols),
        "n_buckets": n_buckets,
        "txn_app": txn_app or f"{_VIEW_APP}.{name}",
    }


def distinct_view_leg(
    name: str,
    path: str,
    source: str,
    group_cols: list[str],
    distinct_col: str,
    n_buckets: int = 8,
    txn_app: str | None = None,
) -> dict:
    """An exact COUNT(DISTINCT) pair view over member ``source``."""
    return {
        "kind": "distinct_view",
        "name": name,
        "path": path.rstrip("/"),
        "source": source,
        "group_cols": list(group_cols),
        "distinct_col": distinct_col,
        "n_buckets": n_buckets,
        "txn_app": txn_app or f"{_VIEW_APP}.{name}",
    }


def join_view_leg(
    name: str,
    path: str,
    a: str,
    b: str,
    join_col: str | list[str],
    group_cols: list[str],
    sum_cols: list[str],
    how: str = "inner",
    n_buckets: int = 8,
    txn_app: str | None = None,
) -> dict:
    """An incremental JOIN view over members ``a`` and ``b`` (either
    may be a view leg — the cascade case).  ``how`` ∈ {inner, left,
    right, full}.  ``join_col`` is one column or a list (COMPOSITE
    equi-join key) — passed through to ``join_view_create``
    / ``join_view_sync`` verbatim."""
    return {
        "kind": "join_view",
        "name": name,
        "path": path.rstrip("/"),
        "a": a,
        "b": b,
        "join_col": join_col,
        "group_cols": list(group_cols),
        "sum_cols": list(sum_cols),
        "how": how,
        "n_buckets": n_buckets,
        "txn_app": txn_app or f"{_VIEW_APP}.{name}",
    }


def search_index_leg(
    name: str,
    path: str,
    source: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 8,
    txn_app: str | None = None,
) -> dict:
    """A versioned combined search index (BM25/doclen/positions) tailing
    member ``source``'s CDC.  ``source`` must be a source leg (an index
    over a view's text column is not a meaningful shape)."""
    return {
        "kind": "search_index",
        "name": name,
        "path": path.rstrip("/"),
        "source": source,
        "id_col": id_col,
        "text_col": text_col,
        "n_buckets": n_buckets,
        "txn_app": txn_app or f"{_IDX_APP}.{name}",
    }


def ann_index_leg(
    name: str,
    path: str,
    source: str,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    txn_app: str | None = None,
) -> dict:
    """A versioned IVF ANN index tailing member ``source``'s CDC —
    adds assign to the FROZEN ``centroids`` (train them upfront, e.g.
    ``similarity.kmeans_fit``; retraining is a separate atomic rebuild,
    not a pipeline leg)."""
    return {
        "kind": "ann_index",
        "name": name,
        "path": path.rstrip("/"),
        "source": source,
        "centroids": [list(c) for c in centroids],
        "id_col": id_col,
        "vec_col": vec_col,
        "txn_app": txn_app or f"{_IDX_APP}.{name}",
    }


def _ordered_legs(legs: list[dict]) -> list[dict]:
    """Dependency order: sources, then views topologically (a view over
    a view syncs after its parent), then indexes.  Raises on unknown
    member references and dependency cycles."""
    by_name = {leg["name"]: leg for leg in legs}
    if len(by_name) != len(legs):
        raise ValueError("pipeline legs: duplicate member names")

    def deps(leg: dict) -> list[str]:
        if leg["kind"] == "join_view":
            return [leg["a"], leg["b"]]
        if leg["kind"] == "source":
            return []
        return [leg["source"]]

    for leg in legs:
        for d in deps(leg):
            if d not in by_name:
                raise ValueError(
                    f"pipeline legs: member {leg['name']!r} references "
                    f"unknown member {d!r}"
                )

    ordered: list[dict] = []
    done: set[str] = set()
    visiting: set[str] = set()

    def visit(name: str) -> None:
        if name in done:
            return
        if name in visiting:
            raise ValueError(f"pipeline legs: dependency cycle at {name!r}")
        visiting.add(name)
        for d in deps(by_name[name]):
            visit(d)
        visiting.discard(name)
        done.add(name)
        ordered.append(by_name[name])

    # indexes last (they tail the PUBLISHED pin, so their cursor math
    # wants every upstream leg settled first); sources/views by topo
    for leg in legs:
        if leg["kind"] not in ("search_index", "ann_index"):
            visit(leg["name"])
    for leg in legs:
        visit(leg["name"])
    return ordered


def _view_sync(spark, leg: dict, paths: dict) -> tuple[int | None, dict]:
    """Run one view leg's incremental sync; returns (new view version
    or None, {parent member: consumed version})."""
    if leg["kind"] == "agg_view":
        v, consumed = ivm.agg_view_sync(
            spark, paths[leg["source"]], leg["path"],
            leg["group_cols"], leg["sum_cols"], txn_app=leg["txn_app"],
        )
        return v, {leg["source"]: consumed}
    if leg["kind"] == "distinct_view":
        v, consumed = ivm.distinct_view_sync(
            spark, paths[leg["source"]], leg["path"],
            leg["group_cols"], leg["distinct_col"], txn_app=leg["txn_app"],
        )
        return v, {leg["source"]: consumed}
    v, (ca, cb) = ivm.join_view_sync(
        spark, paths[leg["a"]], paths[leg["b"]], leg["path"],
        leg["join_col"], leg["group_cols"], leg["sum_cols"],
        txn_app=leg["txn_app"], how=leg["how"],
    )
    return v, {leg["a"]: ca, leg["b"]: cb}


def _ann_sync(
    spark, leg: dict, source_path: str, cursor: int
) -> tuple[int | None, int]:
    """Tail the source CDC from ``cursor`` and apply the net per-key
    change to the versioned IVF index — upserts re-assign to the frozen
    root centroids, deletes drop rows — as ONE atomic root publish
    whose txn watermark is the consumed source version (monotone, so a
    replayed span is absorbed).  The ANN twin of
    ``text.search_index_sync``.  Returns (root version | None,
    consumed source version)."""
    from pyspark.sql.window import Window

    from fiware_cosmos_orion_flink_connector_examples_spark.operators import (
        similarity as _sim,
    )

    feed, cur = layout.snapshot_tail(spark, source_path, cursor=cursor)
    if feed is None:
        return None, cur
    id_col, vec_col = leg["id_col"], leg["vec_col"]
    w = Window.partitionBy(id_col).orderBy(F.desc("_version"))
    last = (
        feed.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    ups = last.filter(
        (F.col("_change") != "delete") & F.col(vec_col).isNotNull()
    ).select(id_col, vec_col)
    dels = last.filter(F.col("_change") == "delete").select(id_col)
    v = _sim.ann_index_add(
        spark, ups, leg["path"],
        txn_app=leg["txn_app"], txn_id=cur, delete_ids=dels,
    )
    return v, cur


def pipeline_create_legs(
    spark,
    catalog_path: str,
    legs: list[dict],
    initial: dict[str, DataFrame],
) -> int:
    """Bootstrap a declarative pipeline: write each source leg's
    ``initial[name]`` frame as a keyed snapshot table, materialize
    every view leg from its parent members' CURRENT versions (in
    dependency order, so a view over a view sees its parent built),
    build every index leg from its source's current contents, and
    publish catalog root v1 pinning ALL members.  Returns the catalog
    version (1)."""
    from fiware_cosmos_orion_flink_connector_examples_spark.operators import (
        similarity as _sim,
        text as _text,
    )

    ordered = _ordered_legs(legs)
    pins: dict = {}
    paths = {leg["name"]: leg["path"] for leg in legs}
    for leg in ordered:
        kind, name, path = leg["kind"], leg["name"], leg["path"]
        if kind == "source":
            if name not in initial:
                raise ValueError(
                    f"pipeline_create_legs: no initial frame for source "
                    f"leg {name!r}"
                )
            v = layout.snapshot_write_keyed(
                spark, initial[name], path, leg["key_col"],
                n_buckets=leg["n_buckets"],
            )
            pins[name] = (path, v)
        elif kind == "agg_view":
            v = ivm.agg_view_create(
                spark, paths[leg["source"]], path,
                leg["group_cols"], leg["sum_cols"],
                txn_app=leg["txn_app"], n_buckets=leg["n_buckets"],
            )
            pins[name] = (path, v)
        elif kind == "distinct_view":
            v = ivm.distinct_view_create(
                spark, paths[leg["source"]], path,
                leg["group_cols"], leg["distinct_col"],
                txn_app=leg["txn_app"], n_buckets=leg["n_buckets"],
            )
            pins[name] = (path, v)
        elif kind == "join_view":
            v = ivm.join_view_create(
                spark, paths[leg["a"]], paths[leg["b"]], path,
                leg["join_col"], leg["group_cols"], leg["sum_cols"],
                txn_app=leg["txn_app"], n_buckets=leg["n_buckets"],
                how=leg["how"],
            )
            pins[name] = (path, v)
        elif kind == "search_index":
            src = layout.snapshot_read(spark, paths[leg["source"]])
            root_v = _text.search_index_write(
                src.select(leg["id_col"], leg["text_col"]),
                path,
                id_col=leg["id_col"],
                text_col=leg["text_col"],
                n_buckets=leg["n_buckets"],
            )
            pins[name] = (path, root_v, "index_root")
        elif kind == "ann_index":
            src = layout.snapshot_read(spark, paths[leg["source"]])
            root_v = _sim.ann_index_write(
                src.filter(F.col(leg["vec_col"]).isNotNull()).select(
                    leg["id_col"], leg["vec_col"]
                ),
                path,
                leg["centroids"],
                id_col=leg["id_col"],
                vec_col=leg["vec_col"],
            )
            pins[name] = (path, root_v, "index_root")
        else:
            raise ValueError(f"pipeline_create_legs: unknown leg kind {kind!r}")
    # no watermark on the bootstrap root: the first applied batch may
    # carry ANY id (Structured Streaming starts at batch 0) — replay
    # protection begins with the first pipeline_apply_legs stamp
    return layout.catalog_commit(spark, catalog_path, pins)


def pipeline_apply_legs(
    spark,
    catalog_path: str,
    legs: list[dict],
    batches: dict[str, DataFrame],
    batch_id: int,
    _crash_before_publish: bool = False,
    _crash_after_leg: str | None = None,
) -> int:
    """Apply one batch set through every member and publish ONE new
    catalog root: each source leg MERGEs its ``batches[name]`` frame
    (batch-id watermark), each view leg syncs incrementally off its
    parents' CDC (consumed-version watermarks, dependency order — a
    view over a view consumes the parent's FRESH commit in the same
    pass), each index leg tails its source from the last PUBLISHED
    pin, then ``catalog_commit`` renames the new root.  Idempotent
    under replay of the same ``batch_id`` at every leg and at the
    root; a foreign root writer is absorbed by re-resolve-and-retry;
    ``_crash_before_publish`` / ``_crash_after_leg`` are the
    crash-injection hooks the atomicity pytests use (the latter raises
    right after the NAMED leg's merge/sync completes — the crash
    matrix drives it through every leg boundary).  Returns the
    published catalog version."""
    ordered = _ordered_legs(legs)
    cat = layout.catalog_resolve(spark, catalog_path)
    paths = {}
    for leg in legs:
        member = cat["tables"].get(leg["name"])
        if member is None:
            raise ValueError(
                f"pipeline_apply_legs: catalog {catalog_path} has no member "
                f"{leg['name']!r} — bootstrap with pipeline_create_legs"
            )
        paths[leg["name"]] = member["path"]

    # 1. source merges (each absorbs its own replay)
    for leg in ordered:
        if leg["kind"] != "source":
            continue
        batch = batches.get(leg["name"])
        if batch is None:
            continue
        delete_col = leg["delete_col"]
        if delete_col is not None and delete_col not in batch.columns:
            delete_col = None
        try:
            layout.snapshot_merge(
                spark, paths[leg["name"]], batch, leg["key_col"],
                delete_col=delete_col,
                _txn_update={leg["txn_app"]: batch_id},
            )
        except layout.SnapshotTxnAlreadyApplied:
            pass  # replayed batch — the source already has it
        if _crash_after_leg == leg["name"]:
            raise RuntimeError(
                f"pipeline_apply_legs: injected crash after leg {leg['name']!r}"
            )

    # 2. views + indexes, with the cross-member coherence check: every
    # consumer reports the source version it consumed; a disagreement
    # (foreign member writer mid-apply) re-syncs laggards, then raises.
    pins: dict = {}
    for _pass in range(3):
        consumed_by: dict[str, set[int]] = {}
        for leg in ordered:
            name, kind, path = leg["name"], leg["kind"], paths[leg["name"]]
            if kind == "source":
                continue
            if kind in ("agg_view", "distinct_view", "join_view"):
                v, consumed = _view_sync(spark, leg, paths)
                if v is None:
                    v = layout.snapshot_latest_version(spark, path)
                pins[name] = (path, v)
                for parent, cv in consumed.items():
                    consumed_by.setdefault(parent, set()).add(int(cv))
            else:
                published = cat["tables"][name]
                src_path = paths[leg["source"]]
                # cursor = the source version the last PUBLISHED root
                # pinned — a crash after this sync but before the
                # publish re-tails the same span; the index root's own
                # watermark absorbs the replay
                cursor = cat["tables"][leg["source"]]["version"]
                if kind == "search_index":
                    from fiware_cosmos_orion_flink_connector_examples_spark.operators import (  # noqa: E501
                        text as _text,
                    )

                    root_v, cur = _text.search_index_sync(
                        spark, src_path, path, cursor=cursor,
                        id_col=leg["id_col"], text_col=leg["text_col"],
                        txn_app=leg["txn_app"],
                    )
                else:
                    root_v, cur = _ann_sync(spark, leg, src_path, cursor)
                if root_v is None:
                    root_v = max(published["version"],
                                 layout.index_root_latest(spark, path))
                pins[name] = (path, root_v, "index_root")
                consumed_by.setdefault(leg["source"], set()).add(int(cur))
            if _crash_after_leg == name:
                raise RuntimeError(
                    f"pipeline_apply_legs: injected crash after leg {name!r}"
                )
        # pin every source member at the version its consumers consumed
        # (the coherent cross-member cut); un-consumed members pin at
        # their current latest
        coherent = True
        for leg in legs:
            if leg["kind"] != "source":
                continue
            name, path = leg["name"], paths[leg["name"]]
            seen = consumed_by.get(name, set())
            if len(seen) > 1:
                coherent = False  # foreign writer mid-apply — resync
            pins[name] = (
                path,
                max(seen) if seen else layout.snapshot_latest_version(spark, path),
            )
        # view members may also be consumed (view-over-view): every
        # child must have consumed exactly the parent view's pinned
        # version — a disagreement (between children, or child vs pin)
        # means the parent moved mid-apply; the resync pass settles it
        src_names = {leg["name"] for leg in legs if leg["kind"] == "source"}
        for name, seen in consumed_by.items():
            if name in src_names:
                continue  # source pins come FROM `seen` above
            if len(seen) > 1 or next(iter(seen)) != pins[name][1]:
                coherent = False
        if coherent:
            break
    else:
        raise IOError(
            "pipeline_apply_legs: member versions kept moving across 3 "
            "sync passes — a foreign writer is violating the "
            "single-pipeline-writer member contract"
        )

    if _crash_before_publish:
        raise RuntimeError(
            "pipeline_apply_legs: injected crash before catalog publish"
        )

    # 3. one root rename, absorbing replays (txn watermark) and foreign
    # ROOT writers (re-resolve-and-retry).  catalog_commit REPLACES the
    # member set, so members the catalog holds beyond this pipeline's
    # legs (another tool's tables, a foreign member added mid-apply)
    # CARRY FORWARD at their resolved pins — the retry never silently
    # drops a foreign member (lost-update guard).
    def publish() -> int:
        root = layout.catalog_resolve(spark, catalog_path)
        merged = {
            name: (t["path"], t["version"], t["kind"])
            for name, t in root["tables"].items()
            if name not in pins
        }
        merged.update(pins)
        return layout.catalog_commit(
            spark, catalog_path, merged,
            _txn_update={_CAT_APP: batch_id},
            expected_version=root["version"],
        )

    return layout.optimistic_commit(
        "pipeline_apply_legs", publish,
        lambda: layout.index_root_latest(spark, catalog_path),
    )
