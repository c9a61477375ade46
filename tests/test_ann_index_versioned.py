"""The ANN index: IVF inverted lists as a keyed snapshot table (bucket =
coarse cell via layout's pluggable bucket_col) with the trained
centroids pinned in the index root — atomic add/rebuild, no duplicate
rows on re-add, file pruning off the manifest bucket map, root-level
time travel, and ``ValueError`` for a path with no index root.
Reference scope note: the reference has no vector surface — [ext].
"""

import re

import pytest
from pyspark.sql import functions as F

from fiware_cosmos_orion_flink_connector_examples_spark.operators import similarity
from fiware_cosmos_orion_flink_connector_examples_spark.sources import layout

VECS = [
    (i, [float((i * 7) % 13), float((i * 3) % 11), float(i % 5) + 0.5, 1.0])
    for i in range(40)
]


def _emb(spark, rows=VECS):
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _res(df):
    return {(r["q_id"], r["n_id"], r["cos"], r["rank"]) for r in df.collect()}


def test_index_search_equals_ivf_and_bruteforce(spark, tmp_path):
    """Same centroids, same queries: the stored index serves rows
    identical to the in-memory topk_cosine_ivf at every nprobe, and
    nprobe=all is bit-identical to brute force."""
    emb = _emb(spark)
    cents = similarity.kmeans_fit_sample(emb, k=4, iters=5)
    idx = str(tmp_path / "idx")
    similarity.ann_index_write(emb, idx, cents)
    q = _emb(spark, VECS[:6])
    for nprobe in (1, 2, 4):
        got = _res(similarity.ann_index_search(spark, idx, q, k=3, nprobe=nprobe))
        want = _res(similarity.topk_cosine_ivf(emb, q, cents, k=3, nprobe=nprobe))
        assert got == want, f"nprobe={nprobe}"
    exhaustive = _res(similarity.ann_index_search(spark, idx, q, k=3, nprobe=4))
    brute = {
        (r["q_id"], r["n_id"], r["cos"], r["rank"])
        for r in similarity.topk_cosine_bruteforce(emb, q, 3).collect()
    }
    assert exhaustive == brute


def test_add_replaces_reassigned_vector(spark, tmp_path):
    """Atomic add: a re-added vector id REPLACES its stored row even
    when its embedding moved it to a different cell — exactly one row
    per id in the lists table, and search serves the new embedding."""
    emb = _emb(spark)
    cents = similarity.kmeans_fit_sample(emb, k=4, iters=5)
    idx = str(tmp_path / "idx")
    similarity.ann_index_write(emb, idx, cents)

    moved = _emb(spark, [(7, [99.0, 0.1, 0.1, 0.1]), (100, [1.0, 2.0, 3.0, 4.0])])
    similarity.ann_index_add(spark, moved, idx, txn_app="add", txn_id=1)
    root = layout.index_root_resolve(spark, idx)
    lists = layout.snapshot_read(spark, f"{idx}/lists", version=root["tables"]["lists"])
    assert lists.filter(F.col("vec_id") == 7).count() == 1
    assert lists.count() == 41
    # replayed batch: no-op at the root
    similarity.ann_index_add(spark, moved, idx, txn_app="add", txn_id=1)
    assert layout.index_root_latest(spark, idx) == 2

    # exhaustive search ≡ brute force over the UPDATED logical corpus
    final = [(i, v) for i, v in VECS if i != 7] + [
        (7, [99.0, 0.1, 0.1, 0.1]),
        (100, [1.0, 2.0, 3.0, 4.0]),
    ]
    q = _emb(spark, final[:5])
    got = _res(similarity.ann_index_search(spark, idx, q, k=3, nprobe=4))
    brute = {
        tuple(r)
        for r in similarity.topk_cosine_bruteforce(_emb(spark, final), q, 3).collect()
    }
    assert got == brute


def test_atomic_rebuild_and_root_time_travel(spark, tmp_path):
    """Rebuild retrains and flips centroids + lists in ONE root rename:
    post-rebuild exhaustive recall is exact, the pre-rebuild root still
    serves the old index (cross-table time travel), and a crash before
    the root commit leaves readers on the old consistent index."""
    emb = _emb(spark)
    cents = similarity.kmeans_fit_sample(emb, k=2, iters=3)
    idx = str(tmp_path / "idx")
    similarity.ann_index_write(emb, idx, cents)
    similarity.ann_index_add(
        spark, _emb(spark, [(100 + i, v) for i, v in VECS[:10]]), idx
    )
    pre_root = layout.index_root_resolve(spark, idx)
    q = _emb(spark, VECS[:5])
    pre = _res(similarity.ann_index_search(spark, idx, q, k=3, nprobe=1))

    v = similarity.ann_index_rebuild(spark, idx, k_centroids=4)
    assert v == pre_root["version"] + 1
    root = layout.index_root_resolve(spark, idx)
    assert list(root["tables"]) == [f"lists_r{v}"]
    assert len(root["extra"]["centroids"]) == 4
    # exhaustive ≡ brute force on the rebuilt index (recall 1.0)
    got = _res(similarity.ann_index_search(spark, idx, q, k=3, nprobe=4))
    final = VECS + [(100 + i, v2) for i, v2 in VECS[:10]]
    brute = {
        tuple(r)
        for r in similarity.topk_cosine_bruteforce(_emb(spark, final), q, 3).collect()
    }
    assert got == brute
    # time travel: the pre-rebuild root serves the OLD index unchanged
    old = similarity.ann_index_search(
        spark, idx, q, k=3, nprobe=1, root_version=pre_root["version"]
    )
    assert _res(old) == pre

    # recall monitor rides the versioned index end to end
    rep = similarity.ann_index_recall(spark, idx, k=3, nprobe=4, max_probe=8)
    assert rep["recall_at_k"] == 1.0


def test_add_crash_before_root_leaves_old_index(spark, tmp_path, monkeypatch):
    """Kill the add between the lists merge and the root publish: the
    dangling lists version is unreferenced, searches serve the old
    index, and re-running the add completes it."""
    emb = _emb(spark)
    cents = similarity.kmeans_fit_sample(emb, k=4, iters=3)
    idx = str(tmp_path / "idx")
    similarity.ann_index_write(emb, idx, cents)
    q = _emb(spark, VECS[:4])
    pre = _res(similarity.ann_index_search(spark, idx, q, k=3, nprobe=4))

    def dying_commit(*a, **kw):
        raise RuntimeError("injected crash before root publish")

    monkeypatch.setattr(layout, "index_root_commit", dying_commit)
    batch = _emb(spark, [(200, [5.0, 5.0, 5.0, 5.0])])
    with pytest.raises(RuntimeError, match="injected"):
        similarity.ann_index_add(spark, batch, idx, txn_app="a", txn_id=1)
    monkeypatch.undo()

    assert layout.snapshot_latest_version(spark, f"{idx}/lists") == 2  # dangling
    assert layout.index_root_latest(spark, idx) == 1
    assert _res(similarity.ann_index_search(spark, idx, q, k=3, nprobe=4)) == pre

    similarity.ann_index_add(spark, batch, idx, txn_app="a", txn_id=1)
    assert layout.index_root_latest(spark, idx) == 2
    got = _res(similarity.ann_index_search(spark, idx, q, k=3, nprobe=4))
    brute = {
        tuple(r)
        for r in similarity.topk_cosine_bruteforce(
            _emb(spark, VECS + [(200, [5.0, 5.0, 5.0, 5.0])]), q, 3
        ).collect()
    }
    assert got == brute


def test_versioned_untrained_empty_corpus(spark, tmp_path):
    """Degenerate path: an index built from an empty corpus has no
    centroids — searches fall back to (empty) brute force instead of
    crashing, the empty-ingest-day contract every operator keeps."""
    idx = str(tmp_path / "idx")
    similarity.ann_index_write(_emb(spark, []), idx, [])
    out = similarity.ann_index_search(spark, idx, _emb(spark, VECS[:2]), k=3)
    assert out.count() == 0


def test_add_versioned_with_deletes_is_one_atomic_commit(spark, tmp_path):
    """delete_ids rides the SAME merge commit as the adds: one root
    publish covers upsert + delete, the removed id is gone from the
    lists table, and exhaustive search equals brute force over the
    folded corpus."""
    emb = _emb(spark)
    cents = similarity.kmeans_fit_sample(emb, k=4, iters=3)
    idx = str(tmp_path / "idx")
    similarity.ann_index_write(emb, idx, cents)

    adds = _emb(spark, [(100, [9.0, 9.0, 9.0, 9.0])])
    dels = spark.createDataFrame([(3,), (5,)], "vec_id long")
    similarity.ann_index_add(
        spark, adds, idx, txn_app="d", txn_id=1, delete_ids=dels
    )
    assert layout.index_root_latest(spark, idx) == 2  # ONE publish
    root = layout.index_root_resolve(spark, idx)
    lists = layout.snapshot_read(
        spark, f"{idx}/lists", version=root["tables"]["lists"]
    )
    assert lists.filter(F.col("vec_id").isin(3, 5)).count() == 0
    assert lists.count() == 39  # 40 - 2 + 1

    final = [(i, v) for i, v in VECS if i not in (3, 5)] + [
        (100, [9.0, 9.0, 9.0, 9.0])
    ]
    q = _emb(spark, VECS[:5])
    got = _res(similarity.ann_index_search(spark, idx, q, k=3, nprobe=4))
    brute = {
        tuple(r)
        for r in similarity.topk_cosine_bruteforce(_emb(spark, final), q, 3).collect()
    }
    assert got == brute


def test_maintain_ann_index_exactly_once(spark, tmp_path):
    """maintain_ann_index: each micro-batch (adds + _del rows) is ONE
    atomic root publish keyed by batch id — immediate and stale replays
    absorbed, empty batches publish nothing, final index equals brute
    force over the folded corpus."""
    from fiware_cosmos_orion_flink_connector_examples_spark.streaming import jobs

    emb = _emb(spark)
    cents = similarity.kmeans_fit_sample(emb, k=4, iters=3)
    idx = str(tmp_path / "idx")
    similarity.ann_index_write(emb, idx, cents)
    sink = jobs.maintain_ann_index(idx, "stream-app")

    b0 = spark.createDataFrame(
        [(100, [8.0, 8.0, 8.0, 8.0], False), (2, None, True)],
        "vec_id long, embedding array<double>, _del boolean",
    )
    b1 = spark.createDataFrame(
        [(7, [0.5, 0.5, 0.5, 0.5], False)],
        "vec_id long, embedding array<double>, _del boolean",
    )
    sink(b0, 0)
    sink(b0, 0)  # immediate redelivery: absorbed at the root watermark
    sink(b1, 1)
    sink(b0, 0)  # stale replay after a later batch: absorbed
    sink(spark.createDataFrame([], b0.schema), 2)  # empty: no publish
    assert layout.index_root_latest(spark, idx) == 3  # create + b0 + b1
    assert layout.index_root_resolve(spark, idx)["txn"]["stream-app"] == 1

    final = [(i, v) for i, v in VECS if i not in (2, 7)] + [
        (100, [8.0, 8.0, 8.0, 8.0]),
        (7, [0.5, 0.5, 0.5, 0.5]),
    ]
    q = _emb(spark, VECS[:5])
    got = _res(similarity.ann_index_search(spark, idx, q, k=3, nprobe=4))
    brute = {
        tuple(r)
        for r in similarity.topk_cosine_bruteforce(_emb(spark, final), q, 3).collect()
    }
    assert got == brute


def test_ann_stream_e2e_structured_streaming(spark, tmp_path):
    """maintain_ann_index under a REAL Structured Streaming query
    (availableNow, one micro-batch per spool file): each batch lands as
    one atomic root publish, exhaustive search equals brute force over
    the fold, and a checkpointed restart with no new input publishes
    nothing."""
    import json as _json

    from fiware_cosmos_orion_flink_connector_examples_spark.streaming import jobs

    spool = tmp_path / "spool"
    spool.mkdir()
    batches = [
        [(100, [8.0, 8.0, 8.0, 8.0], False)],
        [(7, [0.5, 0.5, 0.5, 0.5], False), (2, None, True)],
    ]
    for i, rows in enumerate(batches):
        with open(spool / f"b{i}.jsonl", "w") as f:
            for vid, vec, x in rows:
                f.write(
                    _json.dumps({"vec_id": vid, "embedding": vec, "_del": x}) + "\n"
                )

    emb = _emb(spark)
    cents = similarity.kmeans_fit_sample(emb, k=4, iters=3)
    idx = str(tmp_path / "idx")
    similarity.ann_index_write(emb, idx, cents)
    stream = (
        spark.readStream.schema(
            "vec_id long, embedding array<double>, _del boolean"
        )
        .option("maxFilesPerTrigger", 1)
        .json(str(spool))
    )

    def start():
        return (
            stream.writeStream.foreachBatch(jobs.maintain_ann_index(idx, "annE2E"))
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )

    start().awaitTermination(120)
    assert layout.index_root_latest(spark, idx) == 3  # create + 2 batches

    model = dict(VECS)
    for rows in batches:
        for vid, vec, x in rows:
            if x:
                model.pop(vid, None)
            else:
                model[vid] = vec
    q = _emb(spark, VECS[:5])
    got = _res(similarity.ann_index_search(spark, idx, q, k=3, nprobe=4))
    brute = {
        tuple(r)
        for r in similarity.topk_cosine_bruteforce(
            _emb(spark, sorted(model.items())), q, 3
        ).collect()
    }
    assert got == brute

    # checkpointed restart, no new input: no root movement
    start().awaitTermination(120)
    assert layout.index_root_latest(spark, idx) == 3


def test_no_index_root_raises_value_error(spark, tmp_path):
    """A path with no index root (here: plain parquet vectors) is not an
    ANN index: search, the recall monitor and the hybrid served path
    each raise ``ValueError`` naming it, the ``bm25_from_index`` rule."""
    from fiware_cosmos_orion_flink_connector_examples_spark.operators import (
        retrieval,
    )

    plain = str(tmp_path / "plain")
    q = _emb(spark, VECS[:2])
    q.write.parquet(plain)
    match = re.escape(f"no committed index root at {plain}")
    with pytest.raises(ValueError, match=match):
        similarity.ann_index_search(spark, plain, q, k=3)
    with pytest.raises(ValueError, match=match):
        similarity.ann_index_recall(spark, plain, k=3)
    terms = spark.createDataFrame([(0, "hash")], "query_id int, term string")
    with pytest.raises(ValueError, match=match):
        retrieval.hybrid_rrf_from_indexes(
            spark, str(tmp_path / "bm25"), plain, terms, q
        )
