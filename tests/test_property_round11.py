"""Round-11 property pins: ADVICE-r10 fixes and the round's new
operators."""

from __future__ import annotations


def test_model_lru_bounds_and_refreshes():
    """_ModelLRU (ADVICE r10: the module-level model memos were
    unbounded): inserts past cap evict least-recently-used, hits
    refresh recency, and the public get/setitem contract matches the
    plain-dict usage in pca_fit / kmeans_fit_sample."""
    from fiware_cosmos_orion_flink_connector_examples_spark.operators.caching import (
        _ModelLRU,
    )

    lru = _ModelLRU(cap=3)
    for i in range(3):
        lru[("k", i)] = [i]
    assert len(lru) == 3
    # refresh ("k", 0) then insert a fourth: ("k", 1) is the LRU victim
    assert lru.get(("k", 0)) == [0]
    lru[("k", 3)] = [3]
    assert len(lru) == 3
    assert lru.get(("k", 1)) is None
    assert lru.get(("k", 0)) == [0] and lru.get(("k", 3)) == [3]
    # empty-list values survive the `is not None` hit convention the
    # quantizer cache relies on (empty corpus memoizes [])
    lru[("k", "empty")] = []
    assert lru.get(("k", "empty")) == [] and lru.get(("k", "empty")) is not None


def test_word_freq_memo_is_bounded(monkeypatch):
    """The BPE word-frequency memo shares the model LRU's cap of 32:
    a 33rd key evicts the first."""
    from collections import OrderedDict

    from fiware_cosmos_orion_flink_connector_examples_spark.operators import text

    cache = text._WORD_FREQ_CACHE
    monkeypatch.setattr(cache, "_d", OrderedDict())
    for i in range(33):
        cache[("k", i)] = [("w", i)]
    assert len(cache) == 32
    assert cache.get(("k", 0)) is None
    assert cache.get(("k", 1)) == [("w", 1)] and cache.get(("k", 32)) == [("w", 32)]


def test_bm25_tf_and_length_monotonicity(spark):
    """BM25 axioms on a controlled corpus: more occurrences of the
    query term ⇒ higher score at equal length; equal tf ⇒ the longer
    doc scores lower (length normalization)."""
    from fiware_cosmos_orion_flink_connector_examples_spark.operators import text

    docs = spark.createDataFrame(
        [
            (1, "apple pear plum grape"),          # tf=1, dl=4
            (2, "apple apple plum grape"),         # tf=2, dl=4
            (3, "apple pear plum grape kiwi fig"), # tf=1, dl=6
        ],
        "doc_id long, text string",
    )
    q = spark.createDataFrame([(0, "apple")], "query_id int, term string")
    got = {
        r["doc_id"]: r["score_q12"]
        for r in text.bm25_scores(docs, q, "doc_id").collect()
    }
    assert got[2] > got[1] > got[3]


def test_bm25_disjoint_query_scores_nothing(spark):
    """Terms absent from the corpus produce no rows (posting-bounded:
    scoring never touches non-matching docs)."""
    from fiware_cosmos_orion_flink_connector_examples_spark.operators import text

    docs = spark.createDataFrame([(1, "apple pear")], "doc_id long, text string")
    q = spark.createDataFrame([(0, "zebra")], "query_id int, term string")
    assert text.bm25_scores(docs, q, "doc_id").count() == 0


def test_hybrid_rrf_both_lists_beat_one(spark):
    """RRF fixture sanity at sf0.001: every fused row carries at least
    one rank; any doc present in BOTH lists outscores a doc present in
    only one at an equal-or-worse single rank."""
    from fiware_cosmos_orion_flink_connector_examples_spark.plans.extensions import (
        hybrid_rrf_topk,
    )

    rows = hybrid_rrf_topk(spark, "/root/testdata/sf0.001").collect()
    assert rows, "fused top-10 is empty"
    for r in rows:
        assert r["rank_lex"] is not None or r["rank_vec"] is not None
        assert 0.0 < r["rrf"] <= 2.0 / 61.0 + 1e-12
    both = [r for r in rows if r["rank_lex"] is not None and r["rank_vec"] is not None]
    single = [r for r in rows if (r["rank_lex"] is None) != (r["rank_vec"] is None)]
    for b in both:
        worst_b = max(b["rank_lex"], b["rank_vec"])
        for s in single:
            s_rank = s["rank_lex"] if s["rank_lex"] is not None else s["rank_vec"]
            if s_rank >= worst_b:
                assert b["rrf"] > s["rrf"]


def test_cms_estimate_dominates_exact_everywhere(spark):
    """The CMS ≥-exact guarantee is structural for EVERY token, not
    just the reported top-20: probe 100 arbitrary vocabulary tokens at
    sf0.001 against the same sketch arithmetic."""
    from pyspark.sql import functions as F

    from fiware_cosmos_orion_flink_connector_examples_spark.functions.hashing import (
        md5int64_seeded,
    )
    from fiware_cosmos_orion_flink_connector_examples_spark.operators import text
    from fiware_cosmos_orion_flink_connector_examples_spark.sources.tables import (
        load_table,
    )

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    ex = docs.filter(F.col("text").isNotNull()).select(
        F.explode(text.tokens("text")).alias("term")
    )
    width = 1024
    bucket_cols = [
        F.pmod(md5int64_seeded(F.col("term"), f"cms{d}"), F.lit(width))
        for d in range(4)
    ]
    sketch = (
        ex.select(F.posexplode(F.array(*bucket_cols)).alias("d", "bucket"))
        .groupBy("d", "bucket")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    exact = ex.groupBy("term").agg(F.count(F.lit(1)).alias("exact_cnt"))
    probes = exact.limit(100).select(
        "term",
        "exact_cnt",
        F.posexplode(
            F.array(
                *[
                    F.pmod(md5int64_seeded(F.col("term"), f"cms{d}"), F.lit(width))
                    for d in range(4)
                ]
            )
        ).alias("d", "bucket"),
    )
    est = (
        probes.join(sketch, ["d", "bucket"])
        .groupBy("term", "exact_cnt")
        .agg(F.min("c").alias("est"))
        .collect()
    )
    assert len(est) == min(100, exact.count())
    for r in est:
        assert r["est"] >= r["exact_cnt"], r


def test_decayed_engagement_bounds(spark):
    """Decay weights live in (0, 1]: every user's score is positive,
    ≤ n_events, and a user whose only event sits AT the anchor gets
    weight exactly 1."""
    import datetime

    from pyspark.sql import functions as F

    from fiware_cosmos_orion_flink_connector_examples_spark.plans.extensions import (
        events_decayed_engagement,
    )

    rows = events_decayed_engagement(spark, "/root/testdata/sf0.001").collect()
    assert rows
    for r in rows:
        assert 0.0 < r["decayed_score"] <= r["n_events"] + 1e-9

    # closed-form check on a hand corpus: anchor event weight 1,
    # 7-day-old event weight e^-1
    t0 = datetime.datetime(2026, 1, 8, 0, 0, 0)
    t7 = datetime.datetime(2026, 1, 1, 0, 0, 0)
    import math
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            [(1, t0, 10, "click", 1.0, "{}"), (2, t7, 20, "click", 1.0, "{}")],
            "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
        ).write.parquet(f"{d}/events.parquet")
        got = {
            r["user_id"]: r["decayed_score"]
            for r in events_decayed_engagement(spark, d).collect()
        }
    assert abs(got[10] - 1.0) < 1e-9
    assert abs(got[20] - math.exp(-1.0)) < 1e-6


def test_bm25_index_roundtrip_and_incremental_merge(spark, tmp_path):
    """The stored-index path scores IDENTICALLY to the from-corpus
    path, and an incremental ingest (new docs merged into the index's
    snapshot sub-tables) equals a full rebuild over the unioned
    corpus."""
    from pyspark.sql import functions as F

    from fiware_cosmos_orion_flink_connector_examples_spark.operators import text

    corpus0 = spark.createDataFrame(
        [
            (1, "apple pear plum grape"),
            (2, "apple apple plum grape"),
            (3, "pear kiwi fig"),
        ],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [(4, "apple fig fig"), (5, "plum plum plum pear")],
        "doc_id long, text string",
    )
    q = spark.createDataFrame(
        [(0, "apple"), (0, "plum"), (1, "fig")], "query_id int, term string"
    )
    idx = str(tmp_path / "bm25idx")
    text.search_index_write(corpus0, idx, n_buckets=4)

    def as_map(df):
        return {
            (r["query_id"], r["doc_id"]): r["score_q12"] for r in df.collect()
        }

    assert as_map(text.bm25_from_index(spark, idx, q)) == as_map(
        text.bm25_scores(corpus0, q)
    )

    text.search_index_ingest(spark, batch, idx)
    full = corpus0.unionByName(batch)
    assert as_map(text.bm25_from_index(spark, idx, q)) == as_map(
        text.bm25_scores(full, q)
    )

    # re-ingesting the SAME batch is idempotent (MERGE replaces
    # matched posting keys, inserts nothing new)
    text.search_index_ingest(spark, batch, idx)
    assert as_map(text.bm25_from_index(spark, idx, q)) == as_map(
        text.bm25_scores(full, q)
    )


def test_streaming_bm25_gate_matches_batch(spark, tmp_path):
    """Stream/batch unification for BM25 relevance routing: the frozen
    index model drives a row-local streaming gate whose availableNow
    replay bit-equals the batch scorer run against the SAME frozen
    stats (quantized per-term contributions, fixed-order int sums)."""
    import json as _json

    from fiware_cosmos_orion_flink_connector_examples_spark.operators import text
    from fiware_cosmos_orion_flink_connector_examples_spark.streaming import jobs

    corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    q = spark.createDataFrame(
        [(0, "hash"), (0, "join"), (0, "table")], "query_id int, term string"
    )
    idx = str(tmp_path / "idx")
    text.search_index_write(corpus, idx, n_buckets=4)
    model = text.bm25_query_model(spark, idx, q)

    # batch comparator: same frozen stats through the shared core
    dfreq = spark.createDataFrame(model["terms"], "term string, df long")
    stats = spark.createDataFrame(
        [(model["n_docs"], model["sum_dl"])], "n_docs long, sum_dl long"
    )
    from pyspark.sql import functions as F

    base = corpus.filter(F.col("text").isNotNull())
    qex = base.select(
        "doc_id", F.explode(text.tokens("text")).alias("term")
    ).join(F.broadcast(q.select("term").distinct()), "term")
    tf = qex.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dl = base.select(
        "doc_id", text.token_count("text").cast("long").alias("dl")
    ).filter(F.col("dl") > 0)
    expected = {
        (r["doc_id"], r["score_q12"])
        for r in text._bm25_score_parts(
            tf, dl, dfreq, stats, q, "doc_id", 1.2, 0.75
        ).collect()
    }

    spool = tmp_path / "bm25_spool"
    spool.mkdir()
    with open(spool / "docs.jsonl", "w") as f:
        for r in corpus.collect():
            f.write(_json.dumps({"doc_id": r.doc_id, "text": r.text}) + "\n")
    stream = spark.readStream.schema("doc_id long, text string").json(str(spool))
    gated = jobs.streaming_bm25_gate(stream, model, min_score=0.5)
    qy = (
        gated.writeStream.format("memory")
        .queryName("t_stream_bm25")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    qy.awaitTermination(120)
    rows = spark.sql("SELECT * FROM t_stream_bm25").collect()
    got = {(r.doc_id, r.score_q12) for r in rows if r.score_q12 != 0}
    assert got == expected
    for r in rows:
        assert r.pass_gate == (r.score >= 0.5)


def test_ann_index_partition_pruned_search(spark, tmp_path):
    """The stored IVF index: search output is row-identical to the
    in-memory topk_cosine_ivf on the same centroids, and the scan is
    PRUNED to the probed cells (only lists files whose manifest bucket
    is a probed cell are read; the others are never opened)."""
    from fiware_cosmos_orion_flink_connector_examples_spark.operators import similarity
    from fiware_cosmos_orion_flink_connector_examples_spark.sources.tables import (
        load_table,
    )

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    cents = similarity.kmeans_fit_sample(emb, k=8)
    idx = str(tmp_path / "ivf")
    similarity.ann_index_write(emb, idx, cents)

    qs = emb.filter("vec_id < 4")
    got = similarity.ann_index_search(spark, idx, qs, k=5, nprobe=2)
    expected = similarity.topk_cosine_ivf(emb, qs, cents, k=5, nprobe=2)
    as_set = lambda df: {tuple(r) for r in df.collect()}  # noqa: E731
    assert as_set(got) == as_set(expected)
    assert as_set(got), "non-empty search result"

    # cell pruning: with the probed set supplied (the lazy plan —
    # eagerly() checkpoints the default one), the scan reads exactly
    # the probed cells' files
    from fiware_cosmos_orion_flink_connector_examples_spark.sources import layout

    probed = similarity._probe_cells(
        cents, 2, [r["embedding"] for r in qs.collect()]
    )
    root = layout.index_root_resolve(spark, idx)
    man = layout.snapshot_manifest(spark, f"{idx}/lists", root["tables"]["lists"])
    want_files = {f for f in man["files"] if man["buckets"][f] in probed}
    lazy = similarity.ann_index_search(spark, idx, qs, k=5, nprobe=2, _probed=probed)
    assert as_set(lazy) == as_set(expected)
    read = {f.split("/")[-1] for f in lazy.inputFiles() if f"{idx}/lists/" in f}
    assert read == {f.split("/")[-1] for f in want_files}
    assert len(want_files) < len(man["files"]), "some cell was pruned"


def test_maintain_cms_rollup_equals_oneshot(spark, tmp_path):
    """The incrementally maintained CMS table equals the one-shot
    batch sketch over everything ingested — counter addition is
    lossless, so replay order and batching cannot drift it."""
    import json as _json

    from fiware_cosmos_orion_flink_connector_examples_spark.sources import layout
    from fiware_cosmos_orion_flink_connector_examples_spark.streaming import jobs

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    spool = tmp_path / "cms_spool"
    spool.mkdir()
    rows = docs.collect()
    # two files → at least two micro-batches under availableNow
    for i, chunk in enumerate((rows[: len(rows) // 2], rows[len(rows) // 2 :])):
        with open(spool / f"docs{i}.jsonl", "w") as f:
            for r in chunk:
                f.write(_json.dumps({"doc_id": r.doc_id, "text": r.text}) + "\n")
    table = str(tmp_path / "cms_table")
    stream = spark.readStream.schema("doc_id long, text string").option(
        "maxFilesPerTrigger", 1
    ).json(str(spool))
    q = (
        stream.writeStream.foreachBatch(jobs.maintain_cms_rollup(table))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    maintained = _cells(layout.snapshot_read(spark, table))
    oneshot = _oneshot_cms(docs)
    assert maintained == oneshot and maintained

    # at-least-once REDELIVERY: a batch_id replayed after its commit
    # (crash before the checkpoint commit) must be a no-op — the
    # watermark rides in the table's manifest, so the retry sees it
    # even though the sink fn is a fresh closure.  A genuinely NEW
    # batch id still merges.
    sink = jobs.maintain_cms_rollup(table)
    replay = spark.createDataFrame([(0, rows[0].text)], "doc_id long, text string")
    sink(replay, 1)  # last streamed batch_id was 1
    assert _cells(layout.snapshot_read(spark, table)) == oneshot
    sink(replay, 2)
    after_new = _cells(layout.snapshot_read(spark, table))
    assert sum(after_new.values()) > sum(oneshot.values())


def _cells(frame):
    return {(r["d"], r["bucket"]): r["c"] for r in frame.collect()}


def _oneshot_cms(docs):
    """The reference sketch: every token of ``docs`` counted into its
    seeded-md5 bucket per row (depth 4, width 1024)."""
    from pyspark.sql import functions as F

    from fiware_cosmos_orion_flink_connector_examples_spark.functions.hashing import (
        md5int64_seeded,
    )
    from fiware_cosmos_orion_flink_connector_examples_spark.operators import text

    ex = docs.filter(F.col("text").isNotNull()).select(
        F.explode(text.tokens("text")).alias("term")
    )
    bucket_cols = [
        F.pmod(md5int64_seeded(F.col("term"), f"cms{d}"), F.lit(1024))
        for d in range(4)
    ]
    return _cells(
        ex.select(F.posexplode(F.array(*bucket_cols)).alias("d", "bucket"))
        .groupBy("d", "bucket")
        .agg(F.count(F.lit(1)).alias("c"))
    )


def test_maintain_cms_rollup_crash_before_commit_keeps_previous_counts(
    spark, sf_dir, tmp_path, monkeypatch
):
    """A micro-batch that dies at the manifest commit leaves the
    previous version serving, and a retry of the same batch id then
    equals the one-shot sketch over both batches."""
    import pytest

    from fiware_cosmos_orion_flink_connector_examples_spark.sources import layout
    from fiware_cosmos_orion_flink_connector_examples_spark.streaming import jobs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    first, second = docs.filter("doc_id % 2 = 0"), docs.filter("doc_id % 2 = 1")
    table = str(tmp_path / "cms_table")
    sink = jobs.maintain_cms_rollup(table)
    sink(first, 0)
    before = _cells(layout.snapshot_read(spark, table))
    assert before == _oneshot_cms(first)

    real = layout._commit_manifest
    crashed = []

    def crash_once(spark_, base, version, manifest):
        if not crashed:
            crashed.append(version)
            raise OSError("injected crash at the manifest commit")
        return real(spark_, base, version, manifest)

    monkeypatch.setattr(layout, "_commit_manifest", crash_once)
    with pytest.raises(OSError, match="injected crash"):
        sink(second, 1)
    assert crashed == [2]
    assert layout.snapshot_latest_version(spark, table) == 1
    assert _cells(layout.snapshot_read(spark, table)) == before

    sink(second, 1)  # the retry of the same batch id
    assert layout.snapshot_latest_version(spark, table) == 2
    assert _cells(layout.snapshot_read(spark, table)) == _oneshot_cms(docs)


def test_ann_index_add_equals_rebuild(spark, tmp_path):
    """Incremental adds against frozen centroids search identically to
    a full rebuild over the unioned corpus with the SAME centroids."""
    from fiware_cosmos_orion_flink_connector_examples_spark.operators import similarity
    from fiware_cosmos_orion_flink_connector_examples_spark.sources.tables import (
        load_table,
    )

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    head = emb.filter("vec_id % 5 != 0")
    batch = emb.filter("vec_id % 5 = 0")
    cents = similarity.kmeans_fit_sample(head, k=8)

    inc = str(tmp_path / "inc")
    similarity.ann_index_write(head, inc, cents)
    similarity.ann_index_add(spark, batch, inc)

    full = str(tmp_path / "full")
    similarity.ann_index_write(emb, full, cents)

    qs = emb.filter("vec_id < 4")
    as_set = lambda df: {tuple(r) for r in df.collect()}  # noqa: E731
    got = as_set(similarity.ann_index_search(spark, inc, qs, k=5, nprobe=2))
    want = as_set(similarity.ann_index_search(spark, full, qs, k=5, nprobe=2))
    assert got == want and got


def test_corpus_release_versioning_with_change_feed(spark, tmp_path):
    """Training-data governance: each curation run commits its
    survivor set as one atomic snapshot version (keyed by doc_id), and
    snapshot_changes answers 'what changed between corpus releases' —
    new docs in, re-curated docs updated, newly-contaminated docs out
    — without any write-side logging."""
    from pyspark.sql import functions as F

    from fiware_cosmos_orion_flink_connector_examples_spark.operators import text
    from fiware_cosmos_orion_flink_connector_examples_spark.sources import layout
    from fiware_cosmos_orion_flink_connector_examples_spark.sources.tables import (
        load_table,
    )

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text", "source"
    )
    curated = docs.filter(F.col("text").isNotNull()).select(
        "doc_id",
        "source",
        text.quality_score("text").alias("quality"),
        F.md5("text").alias("text_md5"),
    )
    release = str(tmp_path / "corpus_releases")
    v1_set = curated.filter(F.col("quality") >= 0.5)
    layout.snapshot_write_keyed(spark, v1_set, release, "doc_id", n_buckets=8)

    # release 2: a threshold bump drops some docs (deletes), a doc is
    # re-curated (update), and a fresh doc arrives (insert)
    dropped = v1_set.filter(F.col("quality") < 0.8).select("doc_id").limit(3)
    n_dropped = dropped.count()
    assert n_dropped > 0, "fixture must have docs in the [0.5, 0.8) band"
    updates = (
        v1_set.filter(F.col("quality") >= 0.8).limit(1)  # disjoint from drops
        .withColumn("quality", F.lit(0.99))
        .unionByName(
            spark.createDataFrame(
                [(10_000_000, "srcX", 0.9, "newhash")],
                "doc_id long, source string, quality double, text_md5 string",
            )
        )
        .withColumn("_del", F.lit(False))
        .unionByName(dropped.select(
            "doc_id",
            F.lit(None).cast("string").alias("source"),
            F.lit(None).cast("double").alias("quality"),
            F.lit(None).cast("string").alias("text_md5"),
            F.lit(True).alias("_del"),
        ))
    )
    layout.snapshot_merge(spark, release, updates, "doc_id", delete_col="_del")

    feed = layout.snapshot_changes(spark, release, 1, 2).groupBy("_change").count()
    by_change = {r["_change"]: r["count"] for r in feed.collect()}
    assert by_change.get("insert") == 1
    assert by_change.get("update") == 1
    assert by_change.get("delete") == n_dropped
    # prior release remains readable for reproducibility audits
    assert layout.snapshot_read(spark, release, 1).count() == v1_set.count()


# --- hypothesis model checks -------------------------------------------------

import math as _math

from hypothesis import given, settings
from hypothesis import strategies as st

_VOCAB = ["apple", "pear", "plum", "kiwi", "fig", "grape"]
_DOC = st.lists(st.sampled_from(_VOCAB), min_size=1, max_size=12).map(" ".join)


def _bm25_reference(docs, terms, k1=1.2, b=0.75):
    """Pure-Python BM25 (Lucene idf) — an oracle independent of BOTH
    Spark and DuckDB."""
    tok = {i: t.split() for i, t in docs}
    dl = {i: len(ts) for i, ts in tok.items() if ts}
    n = len(dl)
    avgdl = sum(dl.values()) / n
    out = {}
    for q_id, term in terms:
        df = sum(1 for ts in tok.values() if term in ts)
        if df == 0:
            continue
        idf = _math.log(1.0 + (n - df + 0.5) / (df + 0.5))
        for i, ts in tok.items():
            tf = ts.count(term)
            if not tf:
                continue
            c = idf * tf * (k1 + 1.0) / (
                tf + k1 * ((1.0 - b) + b * dl[i] / avgdl)
            )
            out[(q_id, i)] = out.get((q_id, i), 0) + int(round(c * 1e12))
    return out


@given(st.lists(_DOC, min_size=1, max_size=8), st.sets(st.sampled_from(_VOCAB), min_size=1, max_size=3))
@settings(max_examples=10, deadline=None)
def test_bm25_matches_pure_python_reference(spark, texts, qterms):
    """bm25_scores ≡ a pure-Python reference on random corpora — a
    third-engine check on top of the DuckDB oracle (same quantized
    integers, so agreement is exact, not approximate)."""
    from fiware_cosmos_orion_flink_connector_examples_spark.operators import text

    docs_py = list(enumerate(texts))
    docs = spark.createDataFrame(docs_py, "doc_id long, text string")
    q = spark.createDataFrame(
        [(j, t) for j, t in enumerate(sorted(qterms))], "query_id int, term string"
    )
    got = {
        (r["query_id"], r["doc_id"]): r["score_q12"]
        for r in text.bm25_scores(docs, q).collect()
    }
    want = _bm25_reference(docs_py, [(j, t) for j, t in enumerate(sorted(qterms))])
    assert got == want


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=15),          # key
            st.sampled_from(["upsert", "delete"]),
            st.text(alphabet="ab", min_size=1, max_size=3),  # value
        ),
        min_size=1,
        max_size=6,
    )
)
@settings(max_examples=8, deadline=None)
def test_snapshot_merge_model_based(spark, tmp_path_factory, ops):
    """Model-based check of the keyed snapshot table: a random op
    sequence applied both to the table (one merge per step) and to a
    plain dict must agree at EVERY version — latest content, and time
    travel reproducing each historical state exactly."""
    from fiware_cosmos_orion_flink_connector_examples_spark.sources import layout

    tmp = tmp_path_factory.mktemp("snapmodel")
    path = str(tmp / "t")
    model: dict[int, str] = {0: "init", 7: "init"}
    layout.snapshot_write_keyed(
        spark,
        spark.createDataFrame(sorted(model.items()), "k long, v string"),
        path,
        "k",
        n_buckets=4,
    )
    history = [dict(model)]
    for key, op, val in ops:
        if op == "upsert":
            model[key] = val
        else:
            model.pop(key, None)
        upd = spark.createDataFrame(
            [(key, val if op == "upsert" else None, op == "delete")],
            "k long, v string, _del boolean",
        )
        layout.snapshot_merge(spark, path, upd, "k", delete_col="_del")
        history.append(dict(model))

    for version, expect in enumerate(history, start=1):
        got = {
            r["k"]: r["v"]
            for r in layout.snapshot_read(spark, path, version).collect()
        }
        assert got == expect, f"version {version}"
