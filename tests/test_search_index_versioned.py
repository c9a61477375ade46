"""Round-14 VERSIONED combined search index (VERDICT r13 directives #2
and #3): BM25 + phrase sub-tables as snapshot tables under ONE atomic
index root — a reader can never see half an ingest, crash recovery is
re-run, deletes are real merge deletes, and ingest is exactly-once
under replay via root txn watermarks.
Reference scope note: the reference repo's only sink is HTTP
(Example2.scala:42); this is [ext] index-maintenance infrastructure.
"""

import pytest
from pyspark.sql import functions as F

from fiware_cosmos_orion_flink_connector_examples_spark.operators import text
from fiware_cosmos_orion_flink_connector_examples_spark.sources import layout

DOCS = [
    (1, "hash join hash join builds a hash table"),
    (2, "sort merge join shuffles both sides"),
    (3, "broadcast hash join skips the shuffle"),
    (4, "window functions rank rows"),
    (5, "hash partitioning routes rows by key"),
]


def _docs(spark, rows=DOCS):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _qterms(spark, terms=("hash", "join")):
    return spark.createDataFrame(
        [(0, t) for t in terms], "query_id int, term string"
    )


def _bm25_set(spark, path):
    return {
        (r["query_id"], r["doc_id"], r["score_q12"])
        for r in text.bm25_from_index(spark, path, _qterms(spark)).collect()
    }


def _phrase_set(spark, path, phrase=("hash", "join")):
    return {
        tuple(r)
        for r in text.phrase_count_from_index(spark, path, list(phrase)).collect()
    }


def test_versioned_index_equals_from_corpus(spark, tmp_path):
    """Served BM25 scores and phrase counts off the index are
    row-identical to the from-corpus scorer and the row-local phrase
    counter over the same corpus — the root changes the commit
    protocol, never the math."""
    from tests.test_retrieval_round12 import _rowlocal_counts

    idx = str(tmp_path / "idx")
    docs = _docs(spark)
    text.search_index_write(docs, idx, n_buckets=4)
    assert layout.index_root_latest(spark, idx) == 1
    assert _bm25_set(spark, idx) == {
        (r["query_id"], r["doc_id"], r["score_q12"])
        for r in text.bm25_scores(docs, _qterms(spark)).collect()
    }
    want = {tuple(r) for r in _rowlocal_counts(docs, ["hash", "join"]).collect()}
    assert _phrase_set(spark, idx) == want and want
    # query model (streaming serving artifact) rides the same tables
    m = text.bm25_query_model(spark, idx, _qterms(spark))
    assert m["n_docs"] == 5 and dict(m["terms"])["hash"] == 3
    # a directory with no index root is refused, not read as empty
    with pytest.raises(ValueError, match="no search index root"):
        text.bm25_from_index(spark, str(tmp_path), _qterms(spark))


def test_versioned_ingest_delete_equal_scratch_rebuild(spark, tmp_path):
    """Incremental maintenance ≡ from-scratch rebuild of the final
    corpus: a changed doc's DROPPED terms disappear (real deletes, no
    tf=0 ghosts on the pinned read), a new doc appears, a deleted doc
    vanishes from BOTH posting tables and doclen."""
    idx, rebuilt = str(tmp_path / "idx"), str(tmp_path / "rebuilt")
    text.search_index_write(_docs(spark), idx, n_buckets=4)
    # doc 2 loses every original term; doc 6 is new
    batch = _docs(
        spark, [(2, "hash join once more"), (6, "new doc about hash join")]
    )
    text.search_index_ingest(spark, batch, idx)
    text.search_index_delete(spark, _docs(spark, [(4, "x")]).select("doc_id"), idx)

    final_rows = [r for r in DOCS if r[0] not in (2, 4)] + [
        (2, "hash join once more"),
        (6, "new doc about hash join"),
    ]
    text.search_index_write(_docs(spark, final_rows), rebuilt, n_buckets=4)
    assert _bm25_set(spark, idx) == _bm25_set(spark, rebuilt)
    assert _phrase_set(spark, idx) == _phrase_set(spark, rebuilt)
    # cross-table TIME TRAVEL: root v1 serves the ORIGINAL corpus
    # (both the phrase and the BM25 paths pin all sub-tables at once)
    original = str(tmp_path / "original")
    text.search_index_write(_docs(spark), original, n_buckets=4)
    v1_phrase = {
        tuple(r)
        for r in text.phrase_count_from_index(
            spark, idx, ["hash", "join"], root_version=1
        ).collect()
    }
    assert v1_phrase == _phrase_set(spark, original)
    v1_bm25 = {
        (r["query_id"], r["doc_id"], r["score_q12"])
        for r in text.bm25_from_index(
            spark, idx, _qterms(spark), root_version=1
        ).collect()
    }
    assert v1_bm25 == _bm25_set(spark, original)
    # dropped terms are REALLY gone (not filtered ghosts): 'merge' was
    # only in doc 2's old text
    root = layout.index_root_resolve(spark, idx)
    postings = layout.snapshot_read(
        spark, f"{idx}/postings", version=root["tables"]["postings"]
    )
    assert postings.filter(F.col("term") == "merge").count() == 0
    assert postings.filter(F.col("doc_id") == 4).count() == 0


def test_crash_between_submerges_readers_see_old_index(spark, tmp_path, monkeypatch):
    """THE r13 #2 done-criterion: kill the ingest between sub-table
    merges — readers still serve the OLD consistent index (root
    unmoved; the dangling postings version is unreferenced), then
    re-running the ingest completes it and equals a scratch rebuild."""
    idx, rebuilt = str(tmp_path / "idx"), str(tmp_path / "rebuilt")
    text.search_index_write(_docs(spark), idx, n_buckets=4)
    pre_bm25, pre_phrase = _bm25_set(spark, idx), _phrase_set(spark, idx)

    real_merge = layout.snapshot_merge
    state = {"n": 0}

    def dying_merge(*a, **kw):
        state["n"] += 1
        if state["n"] == 2:  # postings landed, doclen about to — die
            raise RuntimeError("injected crash between sub-table merges")
        return real_merge(*a, **kw)

    batch = _docs(spark, [(2, "hash join once more"), (6, "hash join new doc")])
    monkeypatch.setattr(layout, "snapshot_merge", dying_merge)
    with pytest.raises(RuntimeError, match="injected crash"):
        text.search_index_ingest(spark, batch, idx, txn_app="sync", txn_id=1)
    monkeypatch.undo()

    # the postings sub-table HAS a dangling v2, but the root still pins v1
    assert layout.snapshot_latest_version(spark, f"{idx}/postings") == 2
    root = layout.index_root_resolve(spark, idx)
    assert root["version"] == 1 and root["tables"]["postings"] == 1
    # readers: byte-for-byte the pre-crash index
    assert _bm25_set(spark, idx) == pre_bm25
    assert _phrase_set(spark, idx) == pre_phrase

    # recovery = re-run the same ingest (same txn id): completes
    v = text.search_index_ingest(spark, batch, idx, txn_app="sync", txn_id=1)
    assert v == 2
    final_rows = [r for r in DOCS if r[0] != 2] + [
        (2, "hash join once more"),
        (6, "hash join new doc"),
    ]
    text.search_index_write(_docs(spark, final_rows), rebuilt, n_buckets=4)
    assert _bm25_set(spark, idx) == _bm25_set(spark, rebuilt)
    assert _phrase_set(spark, idx) == _phrase_set(spark, rebuilt)

    # and the completed txn id now replays as a no-op
    assert text.search_index_ingest(spark, batch, idx, txn_app="sync", txn_id=1) == 2
    assert layout.index_root_latest(spark, idx) == 2


def test_root_commit_conflict_and_txn_guard(spark, tmp_path):
    """Root-level optimistic concurrency: expected_version mismatch
    raises SnapshotVersionConflict (an IOError); a non-advancing root
    txn aborts inside the commit (zombie-writer guard)."""
    idx = str(tmp_path / "idx")
    text.search_index_write(_docs(spark), idx, n_buckets=4)
    root = layout.index_root_resolve(spark, idx)
    layout.index_root_commit(
        spark, idx, root["tables"], _txn_update={"app": 5},
        expected_version=1,
    )
    with pytest.raises(layout.SnapshotVersionConflict):
        layout.index_root_commit(
            spark, idx, root["tables"], expected_version=1
        )
    with pytest.raises(layout.SnapshotTxnAlreadyApplied):
        layout.index_root_commit(
            spark, idx, root["tables"], _txn_update={"app": 5}
        )
    assert layout.index_root_resolve(spark, idx)["txn"] == {"app": 5}


def test_compact_and_vacuum_preserve_serving(spark, tmp_path):
    """Maintenance keeps the index byte-identical to readers: compact
    re-clusters every sub-table under a new root; index_root_vacuum
    expires old roots but never a pinned sub-version."""
    idx = str(tmp_path / "idx")
    text.search_index_write(_docs(spark), idx, n_buckets=4)
    for i, (d, t) in enumerate([(6, "hash join a"), (7, "hash join b")]):
        text.search_index_ingest(spark, _docs(spark, [(d, t)]), idx,
                                 txn_app="sync", txn_id=i)
    want_bm25, want_phrase = _bm25_set(spark, idx), _phrase_set(spark, idx)
    v = text.search_index_compact(spark, idx)
    assert v == layout.index_root_latest(spark, idx)
    assert _bm25_set(spark, idx) == want_bm25
    out = layout.index_root_vacuum(spark, idx, keep_last=1)
    assert out["deleted_roots"] >= 1
    assert _bm25_set(spark, idx) == want_bm25
    assert _phrase_set(spark, idx) == want_phrase
    # txn watermarks survive maintenance (exactly-once across compaction)
    assert layout.index_root_resolve(spark, idx)["txn"]["sync"] == 1


def test_cdc_sync_exactly_once_no_drift(spark, tmp_path):
    """Directive r13 #3 done-criterion: the lakehouse CDC→index sync
    driven through snapshot_tail + a root txn watermark keyed by the
    consumed source version — upserts AND deletes propagate, a doc
    updated then deleted in one span nets to a delete, the synced
    index equals a from-scratch rebuild, and a crashed consumer whose
    cursor never advanced replays the span as a provable no-op."""
    table = str(tmp_path / "docs_table")
    idx = str(tmp_path / "idx")
    rebuilt = str(tmp_path / "rebuilt")
    cursor = str(tmp_path / "cursor")

    layout.snapshot_write_keyed(spark, _docs(spark), table, "doc_id", n_buckets=4)
    text.search_index_write(_docs(spark), idx, n_buckets=4)

    # commit 2: edit doc 1, insert doc 6, delete doc 3
    layout.snapshot_merge(
        spark,
        table,
        spark.createDataFrame(
            [
                (1, "hash join rewritten entirely", False),
                (6, "a brand new hash join doc", False),
                (3, None, True),
            ],
            "doc_id long, text string, _del boolean",
        ),
        "doc_id",
        delete_col="_del",
    )
    # commits 3+4: doc 2 updated THEN deleted — must net to a delete
    layout.snapshot_merge(
        spark, table, _docs(spark, [(2, "transient edit")]), "doc_id"
    )
    layout.snapshot_merge(
        spark,
        table,
        spark.createDataFrame([(2, None, True)], "doc_id long, text string, _del boolean"),
        "doc_id",
        delete_col="_del",
    )

    root_v, cur = text.search_index_sync(spark, table, idx, cursor_path=cursor)
    assert cur == layout.snapshot_latest_version(spark, table) == 4
    assert layout.index_root_resolve(spark, idx)["txn"]["cdc-index-sync"] == 4

    # no-drift: synced index ≡ scratch rebuild of the table's truth
    text.search_index_write(
        layout.snapshot_read(spark, table), rebuilt, n_buckets=4
    )
    assert _bm25_set(spark, idx) == _bm25_set(spark, rebuilt)
    assert _phrase_set(spark, idx) == _phrase_set(spark, rebuilt)
    # deleted docs are REALLY gone from every sub-table
    root = layout.index_root_resolve(spark, idx)
    for sub, key in (("doclen", "doc_id"), ("docterms", "doc_id")):
        tbl = layout.snapshot_read(spark, f"{idx}/{sub}", version=root["tables"][sub])
        assert tbl.filter(F.col(key).isin(2, 3)).count() == 0

    # crashed consumer: cursor lost its advance — replayed span no-ops
    layout.snapshot_tail_rewind(spark, cursor, 1)
    replay_v, cur2 = text.search_index_sync(spark, table, idx, cursor_path=cursor)
    assert replay_v == root_v and cur2 == 4
    assert layout.index_root_latest(spark, idx) == root_v
    assert layout._read_tail_cursor(spark, cursor) == 4

    # nothing new: sync returns (None, cursor) and commits nothing
    v3, cur3 = text.search_index_sync(spark, table, idx, cursor_path=cursor)
    assert v3 is None and cur3 == 4


def test_streaming_index_maintenance_exactly_once(spark, tmp_path):
    """maintain_search_index: each micro-batch (upserts + _del rows) is
    ONE atomic root publish keyed by batch id — replay absorbed, final
    index equals a scratch rebuild, empty batches publish nothing."""
    from fiware_cosmos_orion_flink_connector_examples_spark.streaming import jobs

    idx, rebuilt = str(tmp_path / "idx"), str(tmp_path / "rebuilt")
    text.search_index_write(_docs(spark), idx, n_buckets=4)
    sink = jobs.maintain_search_index(idx, "stream-app")

    b0 = spark.createDataFrame(
        [(6, "hash join streamed", False), (4, None, True)],
        "doc_id long, text string, _del boolean",
    )
    b1 = spark.createDataFrame(
        [(2, "hash join rewrite", False)], "doc_id long, text string, _del boolean"
    )
    sink(b0, 0)
    sink(b0, 0)  # immediate redelivery: absorbed at the root watermark
    sink(b1, 1)
    sink(b0, 0)  # stale replay after a later batch: absorbed
    sink(spark.createDataFrame([], b1.schema), 2)  # empty: no publish
    assert layout.index_root_latest(spark, idx) == 3  # create + b0 + b1

    final_rows = [r for r in DOCS if r[0] not in (2, 4)] + [
        (6, "hash join streamed"),
        (2, "hash join rewrite"),
    ]
    text.search_index_write(_docs(spark, final_rows), rebuilt, n_buckets=4)
    assert _bm25_set(spark, idx) == _bm25_set(spark, rebuilt)
    assert _phrase_set(spark, idx) == _phrase_set(spark, rebuilt)
    assert layout.index_root_resolve(spark, idx)["txn"]["stream-app"] == 1


def test_search_index_stream_e2e_structured_streaming(spark, tmp_path):
    """maintain_search_index under a REAL Structured Streaming query
    (availableNow, one micro-batch per spool file): each batch of doc
    upserts/deletes lands as one atomic multi-table root publish, the
    final served results equal a scratch index of the fold, and a
    checkpointed restart with no new input publishes nothing."""
    import json as _json

    from fiware_cosmos_orion_flink_connector_examples_spark.streaming import jobs

    spool = tmp_path / "spool"
    spool.mkdir()
    batches = [
        [(6, "hash join streamed", False)],
        [(2, "hash join rewrite", False), (4, None, True)],
    ]
    for i, rows in enumerate(batches):
        with open(spool / f"b{i}.jsonl", "w") as f:
            for d, t, x in rows:
                f.write(_json.dumps({"doc_id": d, "text": t, "_del": x}) + "\n")

    idx, rebuilt = str(tmp_path / "idx"), str(tmp_path / "rebuilt")
    text.search_index_write(_docs(spark), idx, n_buckets=4)
    stream = (
        spark.readStream.schema("doc_id long, text string, _del boolean")
        .option("maxFilesPerTrigger", 1)
        .json(str(spool))
    )

    def start():
        return (
            stream.writeStream.foreachBatch(
                jobs.maintain_search_index(idx, "streamE2E")
            )
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )

    start().awaitTermination(120)
    assert layout.index_root_latest(spark, idx) == 3  # create + 2 batches
    model = {d: t for d, t in DOCS}
    for rows in batches:
        for d, t, x in rows:
            if x:
                model.pop(d, None)
            else:
                model[d] = t
    text.search_index_write(_docs(spark, sorted(model.items())), rebuilt, n_buckets=4)
    assert _bm25_set(spark, idx) == _bm25_set(spark, rebuilt)
    assert _phrase_set(spark, idx) == _phrase_set(spark, rebuilt)

    # checkpointed restart, no new input: no root movement
    start().awaitTermination(120)
    assert layout.index_root_latest(spark, idx) == 3
