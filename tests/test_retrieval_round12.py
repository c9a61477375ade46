"""Round-12 retrieval serving paths.

Pins VERDICT r11 Next #3/#4: the index-served hybrid RRF path is
row-identical to the in-memory hash-green query, and the search index's
positional postings reproduce the row-local counter under builds,
incremental ingest, changed-doc re-ingest, and >2-term phrases.
Reference scope: [ext] — the reference (5 Flink demos) has no
retrieval surface.
"""

import pytest
from pyspark.sql import functions as F

from fiware_cosmos_orion_flink_connector_examples_spark.operators import (
    retrieval,
    similarity,
    text,
)
from fiware_cosmos_orion_flink_connector_examples_spark.sources import layout
from fiware_cosmos_orion_flink_connector_examples_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"


def _rows(df):
    return {tuple(r) for r in df.collect()}


def test_hybrid_served_row_identical_to_inmemory(spark, tmp_path):
    """bm25_from_index + ann_index_search fused by the shared RRF core
    == bm25_scores + brute-force cosine fused by the same core, row
    for row (VERDICT r11 #3's done-criterion)."""
    docs = load_table(spark, SF, "documents")
    emb = load_table(spark, SF, "embeddings")
    qterms = spark.createDataFrame(
        [(0, "hash"), (0, "join")], "query_id int, term string"
    )
    lex = retrieval.rank_lexical(text.bm25_scores(docs, qterms), 50)
    vec = retrieval.rank_vector(
        similarity.topk_cosine_bruteforce(emb, emb.filter("vec_id = 0"), k=50), 50
    )
    mem = retrieval.rrf_fuse(lex, vec, k=10).select(
        "id", "rank_lex", "rank_vec", "rrf", "fused_rank"
    )

    text.search_index_write(docs, str(tmp_path / "bm25"), n_buckets=4)
    cents = similarity.kmeans_fit_sample(emb, k=8)
    similarity.ann_index_write(emb, str(tmp_path / "ivf"), cents)
    served = retrieval.hybrid_rrf_from_indexes(
        spark,
        str(tmp_path / "bm25"),
        str(tmp_path / "ivf"),
        qterms,
        emb.filter("vec_id = 0"),
        k_candidates=50,
        k=10,
    ).select("id", "rank_lex", "rank_vec", "rrf", "fused_rank")
    got, want = _rows(served), _rows(mem)
    assert got == want and len(want) == 10


def test_hybrid_served_respects_bm25_maintenance(spark, tmp_path):
    """The served path sees index MAINTENANCE: deleting a doc that the
    in-memory path still ranks changes the served lexical list and the
    distilled query model — the index, not the corpus scan, is the
    source of truth."""
    docs = load_table(spark, SF, "documents")
    qterms = spark.createDataFrame(
        [(0, "hash"), (0, "join")], "query_id int, term string"
    )
    idx = str(tmp_path / "bm25")
    text.search_index_write(docs, idx, n_buckets=4)
    lex_before = retrieval.rank_lexical(
        text.bm25_from_index(spark, idx, qterms), 5
    )
    top_doc = lex_before.filter("rank_lex = 1").collect()[0]["id"]
    model_before = text.bm25_query_model(spark, idx, qterms)
    text.search_index_delete(
        spark, spark.createDataFrame([(top_doc,)], "doc_id long"), idx
    )
    lex_after = retrieval.rank_lexical(text.bm25_from_index(spark, idx, qterms), 5)
    assert top_doc not in {r["id"] for r in lex_after.collect()}
    model_after = text.bm25_query_model(spark, idx, qterms)
    assert model_after["n_docs"] == model_before["n_docs"] - 1
    assert dict(model_after["terms"])["hash"] == dict(model_before["terms"])["hash"] - 1


def _rowlocal_counts(docs, phrase):
    toks = text.tokens("text")
    n = F.size(toks)
    L = len(phrase)
    hit = None
    for i, t in enumerate(phrase):
        shifted = F.slice(
            toks, i + 1, F.greatest(n - F.lit(L - 1), F.lit(0))
        )
        term_lit = F.lit(t)  # single-arg lambda: 2-arg HOF form is (x, idx)
        eq = F.transform(shifted, lambda x: (x == term_lit).cast("int"))
        hit = eq if hit is None else F.zip_with(hit, eq, lambda a, b: a * b)
    cnt = F.aggregate(hit, F.lit(0), lambda acc, x: acc + x).cast("long")
    return (
        docs.filter(F.col("text").isNotNull())
        .select("doc_id", cnt.alias("n_occurrences"))
        .filter(F.col("n_occurrences") > 0)
    )


@pytest.mark.parametrize("phrase", [["hash", "join"], ["the", "query", "optimizer"]])
def test_phrase_index_equals_rowlocal(spark, tmp_path, phrase):
    """Index-served phrase counts == row-local shifted-array counts,
    for bigrams and a 3-term phrase (exercises the iterative fold
    beyond the registered query's bigram)."""
    docs = load_table(spark, SF, "documents")
    idx = str(tmp_path / "pidx")
    text.search_index_write(docs, idx, n_buckets=4)
    served = text.phrase_count_from_index(spark, idx, phrase)
    want = _rows(_rowlocal_counts(docs, phrase))
    assert _rows(served) == want
    # weaker sanity so an all-empty corpus can't green-wash the pin:
    # the bigram is known present in the synthetic corpus
    if phrase == ["hash", "join"]:
        assert want


def test_phrase_index_incremental_ingest_equals_rebuild(spark, tmp_path):
    """Merge-maintained index (half corpus + ingest of the rest, plus
    a CHANGED doc whose re-ingest replaces its position arrays) serves
    the same counts as a from-scratch build of the final corpus."""
    docs = load_table(spark, SF, "documents").filter("doc_id < 200")
    first = docs.filter("doc_id < 100")
    rest = docs.filter("doc_id >= 100")
    idx = str(tmp_path / "pidx")
    text.search_index_write(first, idx, n_buckets=4)
    text.search_index_ingest(spark, rest, idx)
    # change one doc: its new text moves the phrase
    changed = spark.createDataFrame(
        [(5, "hash join hash join now appears hash join")],
        "doc_id long, text string",
    )
    text.search_index_ingest(spark, changed, idx)
    # build the reference index from the FINAL logical corpus
    full = str(tmp_path / "pfull")
    base = docs.filter("doc_id != 5").select("doc_id", "text").unionByName(
        changed
    )
    text.search_index_write(base, full, n_buckets=4)
    got = _rows(text.phrase_count_from_index(spark, idx, ["hash", "join"]))
    want = _rows(text.phrase_count_from_index(spark, full, ["hash", "join"]))
    assert (5, 3) in got and got == want


def test_ann_index_drift_monitor_and_rebuild(spark, tmp_path):
    """VERDICT r11 #5: ann_index_add freezes centroids, so a drifted
    ingest batch degrades recall SILENTLY — the monitor must measure
    the drop, and ann_index_rebuild (retrain on current contents +
    atomic root flip) must restore it.  Geometry: two well-separated
    training clusters; the drifted batch straddles the frozen cells'
    decision boundary, so nprobe=1 queries see only half their true
    neighbors until a retrained centroid captures the new cluster."""
    import itertools

    def cluster(cx, cy, ids):
        return [
            (i, [cx + 0.01 * j, cy - 0.01 * j])
            for j, i in enumerate(ids)
        ]

    base_rows = cluster(0.0, 10.0, range(10)) + cluster(10.0, 0.0, range(10, 20))
    base = spark.createDataFrame(base_rows, "vec_id long, embedding array<double>")
    cents = similarity.kmeans_fit_sample(base, k=2)
    idx = str(tmp_path / "ivf")
    similarity.ann_index_write(base, idx, cents)
    healthy = similarity.ann_index_recall(spark, idx, k=3, nprobe=len(cents))
    assert healthy["recall_at_k"] == 1.0  # exhaustive probe == brute force

    # drifted batch: a NEW tight cluster on the frozen decision
    # boundary — members assign to BOTH old cells
    drift_rows = [
        (100 + j, [5.0 + d, 5.0 - d])
        for j, d in enumerate([-0.3, -0.2, -0.1, 0.1, 0.2, 0.3])
    ]
    drifted = spark.createDataFrame(drift_rows, "vec_id long, embedding array<double>")
    similarity.ann_index_add(spark, drifted, idx)
    root = layout.index_root_resolve(spark, idx)
    lists = layout.snapshot_read(
        spark, f"{idx}/lists", version=root["tables"]["lists"]
    )
    split = {
        r["_list"] for r in lists.filter("vec_id >= 100").select("_list").collect()
    }
    assert len(split) == 2  # the drift really straddles two cells

    before = similarity.ann_index_recall(spark, idx, queries=drifted, k=5, nprobe=1)
    assert before["recall_at_k"] < 0.75  # measured degradation

    similarity.ann_index_rebuild(spark, idx, k_centroids=3)
    after = similarity.ann_index_recall(spark, idx, queries=drifted, k=5, nprobe=1)
    assert after["recall_at_k"] > before["recall_at_k"]
    # and the rebuilt index, probed exhaustively, is exact again
    n_cells = len(layout.index_root_resolve(spark, idx)["extra"]["centroids"])
    exact = similarity.ann_index_recall(spark, idx, k=5, nprobe=n_cells)
    assert exact["recall_at_k"] == 1.0


def _pinned_files(spark, idx, name):
    """The data files of sub-table ``name`` that the index root pins."""
    root = layout.index_root_resolve(spark, idx)
    return layout.snapshot_manifest(spark, f"{idx}/{name}", root["tables"][name])[
        "files"
    ]


def test_posting_tables_term_sorted_within_files(spark, tmp_path):
    """The posting tables' in-file clustering contract: rows inside
    every posting file the index root pins are term-sorted after the
    initial write AND after a merge ingest rewrite (the keyed manifest
    records sort_within, so snapshot_merge keeps it) — what makes a
    query-term lookup row-group-skippable instead of a full postings
    scan."""
    docs = load_table(spark, SF, "documents").filter("doc_id < 150")
    idx = str(tmp_path / "bm25")
    text.search_index_write(docs.filter("doc_id < 100"), idx, n_buckets=4)
    text.search_index_ingest(spark, docs.filter("doc_id >= 100"), idx)

    for name in ("postings", "positions"):
        rows = (
            spark.read.parquet(*_pinned_files(spark, idx, name))
            .select(F.input_file_name().alias("f"), "term")
            .collect()
        )
        by_file: dict = {}
        for r in rows:
            by_file.setdefault(r["f"], []).append(r["term"])
        assert len(by_file) > 1
        for f, terms in by_file.items():
            assert terms == sorted(terms), f"unsorted file {f}"
    # and the scores still match the from-corpus path after the ingest
    q = spark.createDataFrame([(0, "hash"), (0, "join")], "query_id int, term string")
    got = {
        (r["query_id"], r["doc_id"]): r["score_q12"]
        for r in text.bm25_from_index(spark, idx, q).collect()
    }
    want = {
        (r["query_id"], r["doc_id"]): r["score_q12"]
        for r in text.bm25_scores(docs, q).collect()
    }
    assert got == want and got


def test_changed_doc_drops_stale_terms(spark, tmp_path):
    """Re-ingesting a CHANGED doc whose new text dropped a term deletes
    the stale (term, doc) posting: stored-index BM25 scores equal the
    from-corpus scores of the FINAL logical corpus even for the dropped
    term, the phrase index stops matching the dropped phrase, and
    compaction leaves the stale posting in no file the root pins."""
    corpus = spark.createDataFrame(
        [
            (1, "alpha beta gamma alpha"),
            (2, "alpha delta"),
            (3, "beta gamma beta gamma"),
        ],
        "doc_id long, text string",
    )
    idx = str(tmp_path / "idx")
    text.search_index_write(corpus, idx, n_buckets=4)
    # doc 1 changes: loses 'alpha' and the 'beta gamma' adjacency
    changed = spark.createDataFrame(
        [(1, "gamma epsilon beta")], "doc_id long, text string"
    )
    text.search_index_ingest(spark, changed, idx)

    final = corpus.filter("doc_id != 1").unionByName(changed)
    q = spark.createDataFrame(
        [(0, "alpha"), (1, "epsilon"), (2, "beta")], "query_id int, term string"
    )

    def as_map(df):
        return {(r["query_id"], r["doc_id"]): r["score_q12"] for r in df.collect()}

    got = as_map(text.bm25_from_index(spark, idx, q))
    want = as_map(text.bm25_scores(final, q))
    assert got == want
    assert (0, 1) not in got  # the stale posting is gone

    phr = {
        (r["doc_id"], r["n_occurrences"])
        for r in text.phrase_count_from_index(spark, idx, ["beta", "gamma"]).collect()
    }
    assert phr == {(3, 2)}  # doc 1's old adjacency is gone

    # compaction rewrites the pinned files: the stale posting is in
    # none of them, scores are unchanged, docterms carries the new text
    text.search_index_compact(spark, idx)
    raw = spark.read.parquet(*_pinned_files(spark, idx, "postings"))
    assert raw.filter("term = 'alpha' AND doc_id = 1").count() == 0
    assert as_map(text.bm25_from_index(spark, idx, q)) == want
    root = layout.index_root_resolve(spark, idx)
    dt = {
        r["doc_id"]: list(r["terms"])
        for r in layout.snapshot_read(
            spark, f"{idx}/docterms", version=root["tables"]["docterms"]
        ).collect()
    }
    assert "alpha" not in dt[1] and "epsilon" in dt[1]
    # a second changed-doc ingest AFTER compaction still drops cleanly
    text.search_index_ingest(
        spark,
        spark.createDataFrame([(2, "delta only")], "doc_id long, text string"),
        idx,
    )
    q2 = spark.createDataFrame([(0, "alpha")], "query_id int, term string")
    assert as_map(text.bm25_from_index(spark, idx, q2)) == as_map(
        text.bm25_scores(
            final.filter("doc_id != 2").unionByName(
                spark.createDataFrame([(2, "delta only")], "doc_id long, text string")
            ),
            q2,
        )
    )
