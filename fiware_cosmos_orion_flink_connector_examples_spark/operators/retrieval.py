"""Hybrid lexical×vector retrieval fusion (reciprocal-rank fusion).

The modern RAG serving shape: a BM25 lexical ranker and a vector-cosine
ranker each produce a k-bounded candidate list over the same id space,
fused by RRF ``rrf = Σ 1/(rrf_k + rank)`` (Cormack/Clarke/Buettcher,
SIGIR'09 — rank-only fusion needs no score calibration between the two
rankers).  ONE fusion core serves BOTH paths:

* the in-memory path — ``bm25_scores`` + ``topk_cosine_bruteforce``,
  the hash-green ``hybrid_rrf_topk`` registered query;
* the index-served path — ``bm25_from_index`` + ``ann_index_search``
  over the stored lake indexes (the ``search_index_write`` postings/
  doclen sub-tables, the ``ann_index_write`` inverted-lists table),
  each pinned by its index root.

Sharing the fusion expression is what makes the round-12 pin
meaningful: the served path is pytest-pinned row-identical to the
in-memory one (and the ``hybrid_rrf_served_equals`` registered query
asserts it against the driver's oracle every round), so a user can
move from scan-time retrieval to served indexes without a ranking
change.

Reference scope: the reference repo (5 Flink streaming demos,
Example1-5.scala) has no retrieval surface — this is [ext] machinery
mandated by the training-data-pipeline brief.

Scale shape: both candidate lists are top-k-bounded BEFORE the fusion
join (≤ 2·k_candidates rows per query at any corpus size), the fused
window partitions per query, and the served path's scans are
posting-bounded (BM25 term-filtered before any shuffle) and
cell-pruned (only the IVF lists files of probed cells are read).  The
RRF score is a fixed two-term double expression — no variable-order
summation, so it is bit-stable across partitionings and engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def rank_lexical(
    scored: DataFrame, k_candidates: int = 50, id_col: str = "doc_id"
) -> DataFrame:
    """Per-query lexical candidate list from a BM25 scoring frame
    (``bm25_scores`` / ``bm25_from_index`` output): rank by the EXACT
    quantized int64 BM25 sum (``score_q12``), ties on id — the same
    deterministic ordering the hash-green ``bm25_topk`` query proves.
    Output: (query_id, id, rank_lex), ≤ k_candidates rows/query."""
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score_q12"), F.asc(id_col)
    )
    return (
        scored.select(
            "query_id",
            F.col(id_col).alias("id"),
            F.row_number().over(w).alias("rank_lex"),
        )
        .filter(F.col("rank_lex") <= k_candidates)
        .select("query_id", "id", F.col("rank_lex").cast("int").alias("rank_lex"))
    )


def rank_vector(searched: DataFrame, k_candidates: int = 50) -> DataFrame:
    """Per-query vector candidate list from a cosine-top-k frame
    (``topk_cosine_bruteforce`` / ``ann_index_search`` output:
    (q_id, n_id, cos, rank)).  Output: (query_id, id, rank_vec)."""
    return searched.filter(F.col("rank") <= k_candidates).select(
        F.col("q_id").alias("query_id"),
        F.col("n_id").alias("id"),
        F.col("rank").cast("int").alias("rank_vec"),
    )


def rrf_fuse(
    lex: DataFrame, vec: DataFrame, k: int = 10, rrf_k: int = 60
) -> DataFrame:
    """Reciprocal-rank fusion of two per-query candidate lists:
    ``rrf = 1/(rrf_k + rank_lex) + 1/(rrf_k + rank_vec)`` with a
    missing rank contributing 0 (full-outer join — a doc ranked by
    only one side still competes).  The fused frame is ≤ (|lex|+|vec|)
    rows per query BEFORE the window, so the per-query top-k sort is
    over a k-bounded set at any corpus size.  Output: (query_id, id,
    rank_lex, rank_vec, rrf, fused_rank ≤ k), fused ties broken on
    id."""
    rrf = F.coalesce(
        F.lit(1.0) / (F.lit(rrf_k) + F.col("rank_lex")), F.lit(0.0)
    ) + F.coalesce(F.lit(1.0) / (F.lit(rrf_k) + F.col("rank_vec")), F.lit(0.0))
    fused = lex.join(vec, ["query_id", "id"], "full_outer").select(
        "query_id", "id", "rank_lex", "rank_vec", rrf.alias("_rrf")
    )
    wf = Window.partitionBy("query_id").orderBy(F.desc("_rrf"), F.asc("id"))
    return fused.select(
        "query_id",
        "id",
        "rank_lex",
        "rank_vec",
        F.round("_rrf", 9).alias("rrf"),
        F.row_number().over(wf).cast("int").alias("fused_rank"),
    ).filter(F.col("fused_rank") <= k)


def hybrid_rrf_from_indexes(
    spark,
    bm25_path: str,
    ann_path: str,
    query_terms: DataFrame,
    query_vectors: DataFrame,
    k_candidates: int = 50,
    k: int = 10,
    rrf_k: int = 60,
    nprobe: int | None = None,
    id_col: str = "doc_id",
) -> DataFrame:
    """INDEX-SERVED hybrid retrieval — the serving-path twin of the
    in-memory ``hybrid_rrf_topk`` shape, fusing the two stored
    indexes the round-11 maintenance layer built:

    * lexical: ``bm25_from_index`` over the ``search_index_write``
      postings/doclen sub-tables (query-term-bounded scan pinned to
      the index root, identical scores to the from-corpus path by the
      shared ``_bm25_score_parts`` core);
    * vector: ``ann_index_search`` over the ``ann_index_write``
      inverted lists, cell-pruned off the lists manifest.
      ``nprobe=None`` probes EVERY cell (the root's centroid count) —
      exhaustive search, row-identical to the brute-force in-memory
      ranker (the pytest and oracle pin); a smaller ``nprobe`` is the
      recall/latency dial whose loss the IVF recall envelope queries
      bound.

    ``query_terms``: (query_id, term); ``query_vectors``: rows with
    the index's id/vec columns, where the vector id IS the query id —
    align the two id spaces upstream.  Raises ``ValueError`` when
    either path has no index root.  Returns the ``rrf_fuse`` frame."""
    from fiware_cosmos_orion_flink_connector_examples_spark.operators import (
        similarity,
        text,
    )
    from fiware_cosmos_orion_flink_connector_examples_spark.sources import layout

    ann_root = layout.index_root_resolve(spark, ann_path)
    if nprobe is None:
        nprobe = max(1, len(ann_root["extra"]["centroids"]))
    scored = text.bm25_from_index(spark, bm25_path, query_terms, id_col=id_col)
    lex = rank_lexical(scored, k_candidates, id_col)
    searched = similarity.ann_index_search(
        spark, ann_path, query_vectors, k=k_candidates, nprobe=nprobe,
        root_version=ann_root["version"],
    )
    vec = rank_vector(searched, k_candidates)
    return rrf_fuse(lex, vec, k=k, rrf_k=rrf_k)
