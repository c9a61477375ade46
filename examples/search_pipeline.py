"""The RETRIEVAL/serving flow end to end — what the round-11 search
tier composes into (no reference analog; engine-native):

  documents → search index build (BM25 postings, doc lengths and
  positions as snapshot sub-tables under one atomic root) →
  incremental batch ingest (bucket-pruned MERGE) → deletes →
  compaction → stored-index BM25 top-k ≡ from-corpus scores → hybrid lexical×vector RRF fusion over the embeddings
  table → query-model distillation (the streaming gate's frozen
  artifact); embeddings → IVF index build (inverted lists as a
  snapshot table, centroids in the index root) → cell-pruned
  stored-index ANN search ≡ in-memory IVF.

Run: python examples/search_pipeline.py [--sf-dir /root/testdata/sf0.001]
"""

from __future__ import annotations

import argparse
import sys
import tempfile
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    args = ap.parse_args()

    from fiware_cosmos_orion_flink_connector_examples_spark.operators import (
        similarity,
        text,
    )
    from fiware_cosmos_orion_flink_connector_examples_spark.session import get_spark
    from fiware_cosmos_orion_flink_connector_examples_spark.sources.tables import (
        load_table,
    )

    spark = get_spark(app_name="search-pipeline")
    spark.sparkContext.setLogLevel("ERROR")
    docs = load_table(spark, args.sf_dir, "documents").select("doc_id", "text")
    emb = load_table(spark, args.sf_dir, "embeddings")
    q = spark.createDataFrame(
        [(0, "hash"), (0, "join"), (0, "table")], "query_id int, term string"
    )

    with tempfile.TemporaryDirectory() as tmp:
        # 1. build the search index from the first 80% of the corpus,
        #    then MERGE-ingest the rest (the daily-batch shape)
        head = docs.filter(F.col("doc_id") % 5 != 0)
        batch = docs.filter(F.col("doc_id") % 5 == 0)
        idx = f"{tmp}/search"
        text.search_index_write(head, idx, n_buckets=8)
        text.search_index_ingest(spark, batch, idx)

        # 2. delete a slice, compact the merged sub-tables
        dead = docs.filter(F.col("doc_id") % 97 == 0).select("doc_id")
        n_dead = dead.count()
        text.search_index_delete(spark, dead, idx)
        text.search_index_compact(spark, idx)

        # 3. stored-index scores == from-corpus scores (the contract)
        live = docs.filter(F.col("doc_id") % 97 != 0)
        from_index = {
            (r["query_id"], r["doc_id"]): r["score_q12"]
            for r in text.bm25_from_index(spark, idx, q).collect()
        }
        from_corpus = {
            (r["query_id"], r["doc_id"]): r["score_q12"]
            for r in text.bm25_scores(live, q).collect()
        }
        assert from_index == from_corpus, "stored-index scores drifted"
        print(f"bm25 n_scored={len(from_index)} n_deleted={n_dead}")

        # 4. the streaming gate's frozen artifact
        model = text.bm25_query_model(spark, idx, q)
        print(
            f"model n_docs={model['n_docs']} sum_dl={model['sum_dl']} "
            f"n_terms={len(model['terms'])}"
        )

        # 5. ANN serving index: cell-pruned inverted lists
        cents = similarity.kmeans_fit_sample(emb, k=8)
        ivf = f"{tmp}/ivf"
        similarity.ann_index_write(emb, ivf, cents)
        got = similarity.ann_index_search(
            spark, ivf, emb.filter("vec_id < 4"), k=5, nprobe=2
        ).collect()
        mem = similarity.topk_cosine_ivf(
            emb, emb.filter("vec_id < 4"), cents, k=5, nprobe=2
        ).collect()
        assert {tuple(r) for r in got} == {tuple(r) for r in mem}
        print(f"ann n_results={len(got)}")

    # 6. hybrid retrieval over the live tables
    from fiware_cosmos_orion_flink_connector_examples_spark.plans.extensions import (
        hybrid_rrf_topk,
    )

    fused = hybrid_rrf_topk(spark, args.sf_dir).collect()
    print(f"hybrid n_fused={len(fused)}")
    spark.stop()


if __name__ == "__main__":
    main()
