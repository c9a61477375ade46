"""[ext] query pack (SURVEY.md §2.3, BASELINE.json north star):
dedup, similarity search, text analysis, multimodal — each wired to a
DuckDB oracle that re-implements the same deterministic algorithm in
ANSI SQL (md5-based hashing makes the integers engine-portable).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fiware_cosmos_orion_flink_connector_examples_spark.operators import (
    dedup,
    multimodal,
    similarity,
    text,
)
from fiware_cosmos_orion_flink_connector_examples_spark.operators.caching import (
    eagerly,
)
from fiware_cosmos_orion_flink_connector_examples_spark.operators.windows import (
    tumbling_window_agg,
)
from fiware_cosmos_orion_flink_connector_examples_spark.plans.registry import register
from fiware_cosmos_orion_flink_connector_examples_spark.sources.tables import (
    load_table,
    table_rowcount,
)


def _shared_ivf_quantizer(spark: SparkSession, sf_dir: str, emb: DataFrame):
    """One trained IVF coarse quantizer per (session, sf_dir), shared by
    dedup_embedding_ivf and ann_topk_ivf_kmeans (VERDICT r2 #3): both
    block the SAME corpus, so training twice bought nothing.  k targets
    ~64 vectors/cell (within-cell pair work stays O(n·cell), linear in
    corpus size — fixed k=8 measured 13.7 s at sf0.1 vs 2.9 s adaptive);
    the sizing count() and the trained centroids are both memoized."""
    k = max(8, table_rowcount(spark, sf_dir, "embeddings") // 64)
    return similarity.kmeans_fit_sample(
        emb,
        k=k,
        iters=10,
        cache_key=(spark.sparkContext.applicationId, sf_dir, "embeddings"),
    )

# --- shared DuckDB SQL fragments -------------------------------------------

_D_MD5INT = "CAST(concat('0x', substr(md5({x}), 1, 15)) AS BIGINT)"

# distinct 3-gram shingles per doc
_D_SHINGLES = """
  toks AS (
    SELECT doc_id,
           list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                          for i in range(1, len(t) - 1)]) AS sh
    FROM (SELECT doc_id, regexp_extract_all(text, '\\S+') AS t FROM documents)
  )
"""

# The interpolated-KN bigram scoring CTE chain, parameterized on the
# source relation so capstones can run it over a derived corpus (e.g.
# the deduped `kept` in corpus_curate_ccnet) — the SAME proven SQL
# text either way.
_D_KN_BIGRAM_BLOCK = r"""toks AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS t FROM {src}),
    uni_ex AS (SELECT unnest(t) AS tok FROM toks),
    uc AS (SELECT tok, count(*) AS c FROM uni_ex GROUP BY 1),
    n AS (SELECT sum(c) AS n FROM uc),
    big_ex AS (SELECT unnest([t[i-1] || ' ' || t[i] for i in range(2, len(t)+1)]) AS g
               FROM toks),
    bc AS (SELECT g, count(*) AS cb FROM big_ex GROUP BY 1),
    bw AS (SELECT split_part(g, ' ', 1) AS w1, split_part(g, ' ', 2) AS w2, cb FROM bc),
    fol AS (SELECT w1, count(*) AS nf FROM bw GROUP BY 1),
    prec AS (SELECT w2, count(*) AS np FROM bw GROUP BY 1),
    tt AS (SELECT count(*) AS bt FROM bw),
    um AS (SELECT map(list(tok), list(c)) AS m FROM uc),
    bm AS (SELECT map(list(g), list(cb)) AS m FROM bc),
    fm AS (SELECT map(list(w1), list(nf)) AS m FROM fol),
    pm AS (SELECT map(list(w2), list(np)) AS m FROM prec),
    terms AS (
      SELECT doc_id, len(t) AS n_tokens,
             CAST(round(ln(CAST(um.m[t[1]][1] AS DOUBLE) / n.n) * 1e12) AS BIGINT)
             + coalesce(list_aggregate(
                 [CAST(round(ln(
                     greatest(CAST(bm.m[t[i-1] || ' ' || t[i]][1] AS DOUBLE) - 0.75, 0.0)
                       / um.m[t[i-1]][1]
                     + 0.75 * (CAST(fm.m[t[i-1]][1] AS DOUBLE) / um.m[t[i-1]][1])
                            * (CAST(pm.m[t[i]][1] AS DOUBLE) / tt.bt)
                   ) * 1e12) AS BIGINT)
                  for i in range(2, len(t)+1)], 'sum'), 0) AS sq
      FROM toks CROSS JOIN um CROSS JOIN bm CROSS JOIN fm CROSS JOIN pm
           CROSS JOIN n CROSS JOIN tt
      WHERE len(t) > 0)"""


_D_JACCARD_PAIRS = f"""
  WITH {_D_SHINGLES},
  ex AS (SELECT doc_id, unnest(sh) AS s FROM toks),
  inter AS (
    SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS i
    FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
    GROUP BY 1, 2
  )
  SELECT d1, d2,
         round(i / (len(ta.sh) + len(tb.sh) - i), 6) AS jaccard
  FROM inter JOIN toks ta ON ta.doc_id = d1
             JOIN toks tb ON tb.doc_id = d2
  WHERE round(i / (len(ta.sh) + len(tb.sh) - i), 6) >= 0.8
"""

# normalize-once formulation (matches operators/dedup.l2_normalize + dot:
# identical per-element division then identical left-to-right fold)
_D_NORM = "list_transform({v}, x -> x / sqrt(list_dot_product({v}, {v})))"
_D_COS_N = "round(list_dot_product({a}, {b}), 6)"


# --- dedup ------------------------------------------------------------------


@register(
    "dedup_exact",
    oracle="""
    SELECT min(doc_id) AS keep_id, count(*) AS n_copies
    FROM documents GROUP BY text
    """,
    doc="X1 exact dedup: hash-groupBy on the text key, deterministic "
    "lowest-id survivor (vs dropDuplicates' arbitrary one).  Shuffle "
    "carries (key, id) only.",
    tags=("ext", "dedup", "X1"),
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.exact_dedup(docs, ["text"], "doc_id").select("keep_id", "n_copies")


@register(
    "dedup_ngram_jaccard",
    oracle=_D_JACCARD_PAIRS,
    doc="X1/X2 exact n-gram Jaccard near-dup pairs (threshold 0.8) via "
    "inverted-index self-join on 3-gram shingles — the join is the "
    "candidate pruning; no O(n²) pair space.",
    tags=("ext", "dedup", "X2"),
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", spread=True)
    return dedup.ngram_jaccard_pairs(docs, "doc_id", threshold=0.8)


@register(
    "dedup_ngram_jaccard_capped",
    oracle=_D_JACCARD_PAIRS,
    doc="X2 Jaccard near-dup with the hot-shingle df-cap (the 100 TB "
    "knob): shingles with document frequency > 64 are dropped from the "
    "candidate inverted index — bounding the posting self-join at "
    "cap² rows per shingle — then candidates are verified with exact "
    "Jaccard over full shingle arrays.  Oracle is the uncapped "
    "brute-force pair set: identical because scores are exact and the "
    "corpus max df (7 at sf0.01) is far under the cap.",
    tags=("ext", "dedup", "X2", "scale"),
)
def dedup_ngram_jaccard_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.ngram_jaccard_pairs(docs, "doc_id", threshold=0.8, max_shingle_df=64)


@register(
    "dedup_minhash_lsh",
    oracle=_D_JACCARD_PAIRS,
    doc="X2 MinHash(24)+LSH(12 bands × 2 rows) candidates, exact-Jaccard "
    "verified at ≥0.8.  Oracle is the brute-force pair set: banding "
    "recall at j≥0.8 is 1-(1-0.64)^12 ≈ 0.999995, so the verified "
    "output equals the exact answer.  At production scale swap md5 for "
    "xxhash64 (functions/hashing.fast_hash64).",
    tags=("ext", "dedup", "X2", "lsh"),
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", spread=True)
    return dedup.minhash_dedup_pairs(docs, "doc_id", threshold=0.8)


@register(
    "dedup_simhash",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, list_distinct(regexp_extract_all(text, '\\S+')) AS t
      FROM documents
    ),
    h AS (
      SELECT doc_id, {_D_MD5INT.format(x='tk')} AS hv
      FROM (SELECT doc_id, unnest(t) AS tk FROM toks)
    ),
    votes AS (
      SELECT doc_id, b.bit AS bit,
             sum(CASE WHEN (hv >> b.bit) & 1 = 1 THEN 1 ELSE -1 END) AS vote
      FROM h CROSS JOIN (SELECT unnest(range(60)) AS bit) b
      GROUP BY 1, 2
    ),
    sim AS (
      SELECT doc_id,
             CAST(sum(CASE WHEN vote > 0 THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END) AS BIGINT) AS sim
      FROM votes GROUP BY 1
    )
    SELECT a.doc_id AS d1, b.doc_id AS d2,
           CAST(bit_count(xor(a.sim, b.sim)) AS INTEGER) AS hamming
    FROM sim a JOIN sim b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.sim, b.sim)) <= 3
    """,
    doc="X2 SimHash(60-bit) near-dup pairs, hamming ≤ 3, via pigeonhole "
    "banding (4 bands ⇒ exact recall at radius 3) + bit_count verify; "
    "oracle recomputes simhash + brute-force hamming in SQL.",
    tags=("ext", "dedup", "X2", "simhash"),
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    out = dedup.simhash_dedup_pairs(docs, "doc_id", max_hamming=3)
    return out.select("d1", "d2", F.col("hamming").cast("int").alias("hamming"))


@register(
    "dedup_embedding_cosine",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, label,
             {_D_NORM.format(v='embedding::DOUBLE[]')} AS nv
      FROM embeddings
    )
    SELECT a.vec_id AS d1, b.vec_id AS d2,
           {_D_COS_N.format(a='a.nv', b='b.nv')} AS cos
    FROM v a JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE {_D_COS_N.format(a='a.nv', b='b.nv')} >= 0.4
    """,
    doc="X2 embedding-cosine near-dup: block on label (at scale: IVF "
    "centroid id), verify cosine ≥ 0.4 inside blocks.  Scores fold "
    "left-to-right in double — bit-identical to DuckDB list_dot_product.",
    tags=("ext", "dedup", "X2", "embedding"),
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return dedup.embedding_dup_pairs(emb, threshold=0.4)


@register(
    "dedup_embedding_ivf",
    oracle=None,  # k-means centroid blocks aren't ANSI-SQL-expressible;
    # rows-only here — recall vs the oracle-checked label blocking is
    # verified in tests/test_ext_operators.py::test_embedding_ivf_recall
    doc="X2 embedding near-dup blocked on TRAINED IVF centroids — the "
    "end-to-end scale path VERDICT r1 asked for: kmeans_fit_sample "
    "(bounded driver training) supplies the block key, assignment is an "
    "Arrow-vectorized matmul, verify is the same within-block JVM fold "
    "as the label-blocked variant.  k scales with corpus size to hold "
    "cell size (and the quadratic within-cell term nprobe²·n²/k) "
    "constant — fixed k=8 measured 13.7 s at sf0.1 vs 2.9 s adaptive.",
    tags=("ext", "dedup", "X2", "embedding", "ivf"),
)
def dedup_embedding_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    cents = _shared_ivf_quantizer(spark, sf_dir, emb)
    return dedup.embedding_dup_pairs_ivf(emb, cents, threshold=0.4)


@register(
    "ivf_dedup_recall_bounded",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, {_D_NORM.format(v='embedding::DOUBLE[]')} AS nv
      FROM embeddings WHERE vec_id < 200 AND embedding IS NOT NULL
    ),
    p AS (
      SELECT a.vec_id AS d1, b.vec_id AS d2
      FROM v a JOIN v b ON a.vec_id < b.vec_id
      WHERE {_D_COS_N.format(a='a.nv', b='b.nv')} >= 0.4
    )
    SELECT CAST(count(*) AS BIGINT) AS n_brute,
           TRUE AS recall_ge_bound
    FROM p
    """,
    doc="Driver-visible recall envelope for the IVF-blocked dedup path "
    "(dedup_embedding_ivf's rows-only gap — the last one; the "
    "approx_sketches_bounded / audio_banding_exact_bounded lineage): "
    "over the bounded vec_id<200 slice, brute-force cosine dup pairs "
    "(one-block embedding_dup_pairs — same Arrow kernels, same "
    "rounding) are the truth set, the IVF(nprobe=3) blocked pairs are "
    "the candidate set, and recall >= 0.5 is emitted as a boolean the "
    "oracle asserts TRUE while n_brute is re-derived exactly in SQL.  "
    "IVF pairs are a SUBSET of brute (same threshold, same scorer), "
    "so the boolean tests exactly the blocking's miss rate; k-means "
    "training is deterministic (refit equality pytest-pinned), making "
    "recall a fixed number per corpus — measured 0.875 at sf0.001, "
    "1.0 at sf0.01, bound deliberately below both.  A quantizer or "
    "multi-probe regression now hash-fails the driver row instead of "
    "hiding in pytest.  Cost is O(slice²)=20k comparisons, "
    "sf-independent.",
    tags=("ext", "dedup", "X2", "ivf", "envelope"),
)
def ivf_dedup_recall_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fiware_cosmos_orion_flink_connector_examples_spark.operators.caching import (
        eagerly,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    sl = emb.filter(F.col("vec_id") < 200)
    cents = _shared_ivf_quantizer(spark, sf_dir, emb)
    ivf = (
        dedup.embedding_dup_pairs_ivf(sl, cents, threshold=0.4, nprobe=3)
        .select("d1", "d2")
        .persist()
    )
    brute = (
        dedup.embedding_dup_pairs(
            sl.withColumn("_all", F.lit(0)), block_col="_all", threshold=0.4
        )
        .select("d1", "d2")
        .persist()
    )
    # ONE-job scalar assembly (round 17, the _envelope_equal shape):
    # (d1,d2) is unique per side, so the semi-join count equals the
    # inner-join count it replaces; coalesce keeps the empty-corpus
    # (0, true) contract of the count() form.
    u = brute.select(F.lit(0).alias("k")).unionAll(
        ivf.join(brute, ["d1", "d2"], "left_semi").select(F.lit(1).alias("k"))
    )
    res = u.agg(
        F.coalesce(F.sum(F.when(F.col("k") == 0, 1).otherwise(0)), F.lit(0))
        .cast("long")
        .alias("n_brute"),
        F.coalesce(F.sum(F.when(F.col("k") == 1, 1).otherwise(0)), F.lit(0))
        .alias("_hit"),
    ).select(
        "n_brute",
        (
            F.col("_hit").cast("double")
            >= F.lit(0.5) * F.col("n_brute").cast("double")
        ).alias("recall_ge_bound"),
    )
    return eagerly(res, ivf, brute)


@register(
    "dedup_incremental_batch",
    oracle=f"""
    WITH {_D_SHINGLES},
    nw AS (SELECT doc_id, sh FROM toks WHERE doc_id % 10 = 0),
    ex_new AS (SELECT doc_id AS new_id, len(sh) AS n1, unnest(sh) AS s FROM nw),
    ex_all AS (SELECT doc_id AS match_id, len(sh) AS n2, unnest(sh) AS s FROM toks),
    inter AS (
      SELECT new_id, match_id, any_value(n1) AS n1, any_value(n2) AS n2,
             count(*) AS i
      FROM ex_new JOIN ex_all USING (s)
      WHERE new_id != match_id
      GROUP BY 1, 2
    )
    SELECT new_id, match_id,
           round(i / (n1 + n2 - i), 6) AS jaccard
    FROM inter
    WHERE round(i / (n1 + n2 - i), 6) >= 0.8
    """,
    doc="Incremental (daily-ingest) dedup: every 10th doc plays the "
    "'new batch' and is checked for ≥0.8-jaccard matches against the "
    "FULL corpus — a batch×corpus posting join, O(Σ df_new·df_corpus) "
    "per ingest instead of re-self-joining the whole corpus.  The "
    "production shape: yesterday's index is immutable, only the new "
    "postings stream against it.",
    tags=("ext", "dedup", "X2", "incremental"),
)
def dedup_incremental_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", spread=True)
    new = docs.filter(F.col("doc_id") % 10 == 0)
    return dedup.ngram_jaccard_pairs_incremental(new, docs, "doc_id", threshold=0.8)


@register(
    "dedup_clusters",
    oracle=f"""
    WITH RECURSIVE pairs AS ({_D_JACCARD_PAIRS}),
    edges AS (
      SELECT d1 AS a, d2 AS b FROM pairs
      UNION ALL SELECT d2, d1 FROM pairs
    ),
    reach(a, b) AS (
      SELECT a, b FROM edges
      UNION
      SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
    )
    SELECT a AS doc_id, least(a, min(b)) AS cluster_id
    FROM reach GROUP BY a
    """,
    doc="X1/X2 capstone: duplicate-cluster assignment — connected "
    "components over the ≥0.8-jaccard pair graph by min-label "
    "propagation (keep one representative per cluster).  Oracle is a "
    "recursive CTE computing min-reachable-id.",
    tags=("ext", "dedup", "cluster", "iterative"),
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", spread=True)
    # uncapped candidate path: measured faster here (no hot shingles in
    # this corpus, so the df-cap's correction joins are pure overhead);
    # pass max_shingle_df on skewed corpora where posting lists blow up
    pairs = dedup.ngram_jaccard_pairs(docs, "doc_id", threshold=0.8)
    return dedup.connected_components(pairs)


@register(
    "doc_chunks",
    oracle=r"""
    WITH t AS (
      SELECT doc_id, regexp_extract_all(text, '\S+') AS toks FROM documents
    ),
    c AS (
      SELECT doc_id, toks,
             greatest(1, 1 + CAST(ceil((len(toks) - 32) / 24.0) AS INTEGER)) AS n_chunks
      FROM t
    ),
    e AS (SELECT doc_id, toks, unnest(range(n_chunks)) AS step FROM c)
    SELECT doc_id,
           CAST(step AS INTEGER) AS chunk_idx,
           array_to_string(list_slice(toks, step * 24 + 1, step * 24 + 32), ' ') AS chunk_text,
           CAST(len(list_slice(toks, step * 24 + 1, step * 24 + 32)) AS INTEGER) AS n_tokens
    FROM e
    """,
    doc="X4 document chunking: overlapping token windows (size 32, "
    "stride 24 — the training-data chunking op).  sequence → posexplode "
    "→ slice, pure per-row column expressions; short docs yield one "
    "(possibly short) chunk.",
    tags=("ext", "text", "X4", "chunking"),
)
def doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text.chunk_documents(docs, "doc_id", "text", size=32, stride=24)


@register(
    "corpus_dedup_pipeline",
    oracle=f"""
    WITH RECURSIVE pairs AS ({_D_JACCARD_PAIRS}),
    edges AS (
      SELECT d1 AS a, d2 AS b FROM pairs
      UNION ALL SELECT d2, d1 FROM pairs
    ),
    reach(a, b) AS (
      SELECT a, b FROM edges
      UNION
      SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
    ),
    labels AS (
      SELECT a AS doc_id, least(a, min(b)) AS cluster_id FROM reach GROUP BY a
    )
    SELECT d.doc_id, d.lang, d.n_chars
    FROM documents d
    WHERE NOT EXISTS (SELECT 1 FROM labels l
                      WHERE l.doc_id = d.doc_id AND l.cluster_id <> l.doc_id)
    """,
    doc="The LLM-pipeline capstone END TO END: near-dup pairs (exact "
    "n-gram Jaccard ≥0.8) → connected components → drop every non-"
    "representative cluster member → the surviving corpus, via one "
    "anti-join.  Composes the verified building blocks into the actual "
    "production flow (what you run before tokenizing 100 TB).",
    tags=("ext", "dedup", "pipeline", "capstone"),
)
def corpus_dedup_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", spread=True)
    pairs = dedup.ngram_jaccard_pairs(docs, "doc_id", threshold=0.8)
    clusters = dedup.connected_components(pairs)
    losers = clusters.filter(F.col("doc_id") != F.col("cluster_id")).select("doc_id")
    return docs.join(losers, "doc_id", "left_anti").select("doc_id", "lang", "n_chars")


# --- similarity search ------------------------------------------------------

_D_ANN_SCORED = f"""
  q AS (SELECT vec_id AS q_id, {_D_NORM.format(v='embedding::DOUBLE[]')} AS qv
        FROM embeddings WHERE vec_id < 8),
  n AS (SELECT vec_id AS n_id, {_D_NORM.format(v='embedding::DOUBLE[]')} AS nv
        FROM embeddings),
  scored AS (
    SELECT q_id, n_id, {_D_COS_N.format(a='qv', b='nv')} AS cos
    FROM q CROSS JOIN n WHERE q_id != n_id
  )
"""


@register(
    "ann_topk_bruteforce",
    oracle=f"""
    WITH {_D_ANN_SCORED}
    SELECT q_id, n_id, cos, CAST(rank AS INTEGER) AS rank FROM (
      SELECT q_id, n_id, cos,
             row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank
      FROM scored)
    WHERE rank <= 5
    """,
    doc="X3 exact top-k cosine (k=5, query set vec_id<8): broadcast "
    "queries × streamed scan, per-query window rank — the brute-force "
    "baseline every ANN variant is verified against.",
    tags=("ext", "similarity", "X3"),
)
def ann_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < 8)
    return similarity.topk_cosine_bruteforce(emb, qs, k=5)


@register(
    "ann_topk_filtered",
    oracle=f"""
    WITH q AS (SELECT vec_id AS q_id, {_D_NORM.format(v='embedding::DOUBLE[]')} AS qv
               FROM embeddings WHERE vec_id < 8),
    n AS (SELECT vec_id AS n_id, {_D_NORM.format(v='embedding::DOUBLE[]')} AS nv
          FROM embeddings WHERE label = 3),
    scored AS (
      SELECT q_id, n_id, {_D_COS_N.format(a='qv', b='nv')} AS cos
      FROM q CROSS JOIN n WHERE q_id != n_id
    )
    SELECT q_id, n_id, cos, CAST(rank AS INTEGER) AS rank FROM (
      SELECT q_id, n_id, cos,
             row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank
      FROM scored)
    WHERE rank <= 5
    """,
    doc="X3 FILTERED vector search (the vector-DB staple: top-k under a "
    "metadata predicate, here label = 3): pre-filtering the corpus "
    "BEFORE scoring — the predicate reaches the parquet scan "
    "(PushedFilters), so the scored set shrinks at the source; "
    "post-filtering top-k-then-filter would under-return.  Same "
    "broadcast-queries × streamed-scan shape as the brute-force "
    "baseline, exact and fully oracle-checked.",
    tags=("ext", "similarity", "X3", "filtered"),
)
def ann_topk_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < 8)
    return similarity.topk_cosine_bruteforce(emb.filter(F.col("label") == 3), qs, k=5)


@register(
    "ann_hard_negatives",
    oracle=f"""
    WITH q AS (SELECT vec_id AS q_id, label AS q_label,
                      {_D_NORM.format(v='embedding::DOUBLE[]')} AS qv
               FROM embeddings WHERE vec_id < 8 AND embedding IS NOT NULL),
    n AS (SELECT vec_id AS n_id, label AS n_label,
                 {_D_NORM.format(v='embedding::DOUBLE[]')} AS nv
          FROM embeddings WHERE embedding IS NOT NULL),
    scored AS (
      SELECT q_id, q_label, n_id, n_label,
             {_D_COS_N.format(a='qv', b='nv')} AS cos
      FROM q CROSS JOIN n WHERE n_label != q_label
    )
    SELECT q_id, q_label, n_id, n_label, cos, CAST(rank AS INTEGER) AS rank
    FROM (
      SELECT q_id, q_label, n_id, n_label, cos,
             row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id)
               AS rank
      FROM scored)
    WHERE rank <= 5
    """,
    doc="X3 hard-negative mining (the DPR/SimCLR contrastive-training "
    "data op, Karpukhin et al. 2020: for each anchor, the top-k "
    "most-similar vectors with a DIFFERENT label — the maximally "
    "confusing negatives worth training on): "
    "similarity.hard_negatives, anchors vec_id<8, k=5.  Same "
    "broadcast-anchors × streamed-scan shape as the brute-force "
    "baseline with the label-mismatch predicate riding the broadcast "
    "join condition (same-label pairs die before scoring); per-anchor "
    "deterministic window rank.  At 100 TB the anchor batch is the "
    "broadcast bound (gate at ~10k anchors, then switch to the "
    "PQ/IVF shortlist paths which compose unchanged).",
    tags=("ext", "similarity", "X3", "contrastive"),
)
def ann_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < 8)
    return similarity.hard_negatives(emb, qs, k=5)


@register(
    "ann_topk_signbucket",
    oracle=f"""
    WITH b AS (
      SELECT vec_id, {_D_NORM.format(v='embedding::DOUBLE[]')} AS v,
             CAST((SELECT sum(CASE WHEN embedding[i+1] >= 0
                                   THEN CAST(1 AS BIGINT) << i ELSE 0 END)
                   FROM range(8) t(i)) AS INTEGER) AS bkt
      FROM embeddings
    ),
    scored AS (
      SELECT q.vec_id AS q_id, n.vec_id AS n_id,
             {_D_COS_N.format(a='q.v', b='n.v')} AS cos
      FROM b q JOIN b n ON q.bkt = n.bkt AND q.vec_id != n.vec_id
      WHERE q.vec_id < 8
    )
    SELECT q_id, n_id, cos, CAST(rank AS INTEGER) AS rank FROM (
      SELECT q_id, n_id, cos,
             row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank
      FROM scored)
    WHERE rank <= 5
    """,
    doc="X3 approximate top-k via sign-pattern coarse buckets (8-bit "
    "IVF-style code, zero training): probes 1/256 of the space on "
    "average.  Deterministic quantizer ⇒ fully oracle-checkable.",
    tags=("ext", "similarity", "X3", "ivf"),
)
def ann_topk_signbucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < 8)
    return similarity.topk_cosine_signbucket(emb, qs, k=5)


@register(
    "ann_topk_ivf_kmeans",
    oracle=None,  # k-means internals aren't ANSI-SQL-expressible; rows-only
    # check here — recall vs the oracle-checked brute force is verified in
    # tests/test_ext_operators.py::test_ivf_recall_vs_bruteforce
    doc="X3 scale path: IVF with a TRAINED coarse quantizer — "
    "deterministic Lloyd's k-means on a bounded hash-sample (FAISS-style "
    "training; adaptive k targeting ~64 vectors/cell, 10 iters), then "
    "nprobe=4 probing.  The quantizer is trained ONCE per (session, "
    "sf_dir) and shared with dedup_embedding_ivf.  Corpus assignment is "
    "an Arrow-vectorized numpy matmul; probing is a broadcast equi-join "
    "on bucket id.",
    tags=("ext", "similarity", "X3", "ivf", "kmeans"),
)
def ann_topk_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    cents = _shared_ivf_quantizer(spark, sf_dir, emb)
    qs = emb.filter(F.col("vec_id") < 8)
    return similarity.topk_cosine_ivf(emb, qs, cents, k=5, nprobe=4)


# --- text analysis ----------------------------------------------------------


@register(
    "text_stats_by_lang",
    oracle=r"""
    SELECT lang,
           count(*) AS n_docs,
           round(avg(CAST(len(regexp_extract_all(text, '\S+')) AS DOUBLE)), 4) AS avg_tokens,
           round(avg(CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS DOUBLE)), 4) AS avg_bpe_tokens,
           round(avg(CAST(len(regexp_extract_all(text, '\b(the|a|and|of|to|in|is|it)\b')) AS DOUBLE)), 4) AS avg_stopwords,
           max(n_chars) AS max_chars
    FROM documents GROUP BY 1
    """,
    doc="X4 token statistics per language: whitespace tokens, BPE-ish "
    "subword tokens, stopword counts — all regexp_count JVM expressions.",
    tags=("ext", "text", "X4"),
)
def text_stats_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg(text.token_count("text").cast("double")), 4).alias("avg_tokens"),
        F.round(F.avg(text.bpe_token_count("text").cast("double")), 4).alias("avg_bpe_tokens"),
        F.round(F.avg(text.stopword_count("text").cast("double")), 4).alias("avg_stopwords"),
        F.max("n_chars").alias("max_chars"),
    )


@register(
    "text_quality_topk",
    oracle=r"""
    WITH q AS (
      SELECT doc_id,
             CAST(len(regexp_extract_all(text, '\S+')) AS DOUBLE) AS n_tok,
             CAST(length(text) AS DOUBLE) AS n_chars,
             CAST(len(regexp_extract_all(text, '\b(the|a|and|of|to|in|is|it)\b')) AS DOUBLE) AS n_stop
      FROM documents
    )
    SELECT doc_id,
           round(0.5 * least(n_tok / 50.0, 1.0)
               + 0.25 * (CASE WHEN n_chars / greatest(n_tok, 1.0) BETWEEN 3.0 AND 9.0
                              THEN 1.0 ELSE 0.5 END)
               + 0.25 * (CASE WHEN n_stop / greatest(n_tok, 1.0) > 0.02
                              THEN 1.0 ELSE 0.6 END), 4) AS quality
    FROM q
    ORDER BY quality DESC, doc_id
    LIMIT 50
    """,
    doc="X4 heuristic quality scoring (length/word-shape/stopword-ratio "
    "mix), top-50 docs; deterministic rational arithmetic on both engines.",
    tags=("ext", "text", "X4"),
)
def text_quality_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", text.quality_score("text").alias("quality"))
        .orderBy(F.desc("quality"), F.asc("doc_id"))
        .limit(50)
    )


@register(
    "text_langid_confusion",
    oracle=r"""
    SELECT pred_lang, lang, count(*) AS n FROM (
      SELECT lang,
             CASE WHEN en >= db AND en >= st THEN 'en'
                  WHEN db >= st THEN 'db'
                  ELSE 'st' END AS pred_lang
      FROM (
        SELECT lang,
               len(regexp_extract_all(text, '\b(the|a|fast|slow)\b')) AS en,
               len(regexp_extract_all(text, '\b(table|scan|join|query|hash)\b')) AS db,
               len(regexp_extract_all(text, '\b(stream|window|batch|row)\b')) AS st
        FROM documents))
    GROUP BY 1, 2
    """,
    doc="X4 language-ID heuristic (marker n-gram argmax with "
    "deterministic tie-break) × the labeled lang column — a confusion "
    "matrix.  Corpus is synthetic, so the machinery (not linguistics) "
    "is what's verified.",
    tags=("ext", "text", "X4", "langid"),
)
def text_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("lang", text.predicted_lang("text").alias("pred_lang"))
        .groupBy("pred_lang", "lang")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "doc_fingerprints",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, regexp_extract_all(text, '\\S+') AS t FROM documents
    ),
    pt AS (
      SELECT doc_id, CAST(i AS VARCHAR) || ':' || tk AS ptok
      FROM (SELECT doc_id, unnest(t) AS tk, unnest(range(len(t))) AS i FROM toks)
    )
    SELECT doc_id,
           CAST(bit_xor({_D_MD5INT.format(x='ptok')}) AS BIGINT) AS fingerprint
    FROM pt GROUP BY 1
    """,
    doc="X4 position-sensitive document fingerprint: XOR-fold of "
    "md5int64(position:token) — computed as a per-row array fold (no "
    "explode/shuffle on the Spark side; oracle uses unnest+bit_xor, "
    "equal because XOR is commutative).",
    tags=("ext", "text", "X4", "fingerprint"),
)
def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", text.doc_fingerprint("text").alias("fingerprint"))


# --- multimodal -------------------------------------------------------------


@register(
    "multimodal_media_meta",
    oracle="""
    SELECT doc_id AS media_id, 'image' AS kind,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           sha256(text) AS sha256
    FROM documents
    """,
    doc="X5 multimodal metadata path: opaque binary payload column + "
    "JVM-side typed metadata (byte length, sha256) — no Python, no "
    "decode.  documents.text stands in for the media bytes.",
    tags=("ext", "multimodal", "X5"),
)
def multimodal_media_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    media = multimodal.to_media_table(
        docs.withColumn("payload", F.encode("text", "utf-8")), "doc_id", "payload", "image"
    )
    return media.select("media_id", "kind", "n_bytes", "sha256")


@register(
    "multimodal_decode_features",
    oracle="""
    SELECT doc_id AS media_id, 'image' AS kind,
           CAST(octet_length(encode(text)) % 64 + 1 AS INTEGER) AS width,
           CAST((octet_length(encode(text)) // 64) % 64 + 1 AS INTEGER) AS height,
           CAST(octet_length(encode(text)) % 16 + 1 AS INTEGER) AS n_frames,
           CAST(ascii(substr(text, 1, 1)) AS INTEGER) AS first_byte
    FROM documents
    """,
    doc="X5 decode/feature-extract plumbing through mapInPandas (Arrow "
    "batches): the decode itself is a deterministic stub (codecs absent "
    "from this container — see operators/multimodal.decode_image_real), "
    "but the full Python-worker round trip is real and oracle-checked.",
    tags=("ext", "multimodal", "X5", "pandas_udf"),
)
def multimodal_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    media = multimodal.to_media_table(
        docs.withColumn("payload", F.encode("text", "utf-8")), "doc_id", "payload", "image"
    )
    return multimodal.extract_features(media)


@register(
    "multimodal_decode_real",
    oracle="""
    WITH b AS (SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS L
               FROM documents WHERE text IS NOT NULL)
    SELECT doc_id AS media_id,
           CASE WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'image' END AS kind,
           CAST(CASE WHEN doc_id % 3 = 1 THEN 1 ELSE L % 32 + 1 END AS INTEGER) AS width,
           CAST(CASE WHEN doc_id % 3 = 1 THEN 0 ELSE (L // 32) % 32 + 1 END AS INTEGER) AS height,
           CAST(CASE WHEN doc_id % 3 = 1 THEN L % 512 + 16 ELSE 1 END AS INTEGER) AS n_frames,
           CAST(CASE WHEN doc_id % 3 = 1 THEN 8000 ELSE 0 END AS INTEGER) AS sample_rate,
           CAST(CASE WHEN doc_id % 3 = 1 THEN L % 1000 + 1 ELSE L % 256 END AS DOUBLE) AS mean_value
    FROM b
    """,
    doc="X5 decode made REAL for no-codec formats (round 5): each doc "
    "synthesizes a VALID media file whose parameters derive from its "
    "byte length — doc_id%3==0 a 24bpp BMP (numpy-encoded header + "
    "pixel rows), %3==1 a mono 16-bit PCM WAV (stdlib wave), %3==2 an "
    "8-bit RGB PNG (stdlib zlib DEFLATE; decode re-inflates and "
    "unfilters scanlines) — and extract_features_real PARSES the files "
    "back (format sniffed by magic; header fields, pixel mean over the "
    "actual array, RMS over the actual samples).  The oracle recomputes "
    "the expected features from octet_length alone, so a decoder that "
    "misreads headers, padding, filters, or sample widths hash-fails.  "
    "Formats needing a codec library (JPEG/MP4) remain env-blocked "
    "behind decode_image_real.",
    tags=("ext", "multimodal", "X5", "pandas_udf"),
)
def multimodal_decode_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # NULL text has no payload to synthesize — drop at the boundary
    # (same convention as the decode kernels' payload-null filter)
    base = docs.filter(F.col("text").isNotNull()).select(
        F.col("doc_id").cast("long").alias("media_id"),
        F.when(F.col("doc_id") % 3 == 1, F.lit("audio"))
        .otherwise(F.lit("image"))
        .alias("kind"),
        (F.col("doc_id") % 3).cast("int").alias("fmt"),
        F.length(F.encode("text", "utf-8")).cast("long").alias("L"),
    )

    def enc(batches):
        import pandas as pd

        for pdf in batches:
            payloads = []
            for fmt, length in zip(pdf["fmt"], pdf["L"]):
                n = int(length)
                if fmt == 0:
                    payloads.append(
                        multimodal.encode_bmp(n % 32 + 1, (n // 32) % 32 + 1, n % 256)
                    )
                elif fmt == 1:
                    payloads.append(multimodal.encode_wav(n % 512 + 16, n % 1000 + 1))
                else:
                    payloads.append(
                        multimodal.encode_png(n % 32 + 1, (n // 32) % 32 + 1, n % 256)
                    )
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "payload": payloads,
                }
            )

    media = base.mapInPandas(enc, "media_id long, kind string, payload binary")
    return multimodal.extract_features_real(media)


def _synth_image_media(docs: DataFrame, corrupt_mod: int | None = None):
    """Deterministic synthetic image corpus over ``documents`` (the
    oracle-derivable media model shared by ``dedup_image_phash`` and
    ``crossmodal_doc_profile``): each non-NULL-text doc encodes a VALID
    16x16 grayscale image (even doc_id a 24bpp BMP, odd a type-0 PNG)
    whose 2x2-block values derive from (doc_id//4, doc_id%4) — four
    per-group variants differing in one perturbed block, i.e. real
    near-duplicates.  ``corrupt_mod`` truncates every doc_id % mod == 0
    payload to 10 bytes — deterministic corrupt blobs that exercise the
    decoder's skip-at-the-boundary path (ADVICE r7 #1) and stay
    oracle-predictable."""

    base = docs.filter(F.col("text").isNotNull()).select(
        F.col("doc_id").cast("long").alias("media_id"),
        F.expr("doc_id DIV 4").alias("g"),
        (F.col("doc_id") % 4).cast("int").alias("v"),
        (F.col("doc_id") % 2).cast("int").alias("fmt"),
    )

    def enc(batches):
        import numpy as np
        import pandas as pd

        R = np.arange(8, dtype="int64")[:, None]
        C = np.arange(8, dtype="int64")[None, :]
        for pdf in batches:
            payloads = []
            for mid, g, v, fmt in zip(
                pdf["media_id"], pdf["g"], pdf["v"], pdf["fmt"]
            ):
                # multiplicative pattern: an ADDITIVE g-term is a mere
                # mod-180 shift of one base pattern (measured: 12k+
                # cross-group hash collisions at 400 docs); scaling the
                # (R, C) ramp by (g+1) decorrelates nearby groups (0
                # cross-group pairs at 400 docs), leaving the
                # perturbed-block variants as the dominant near-dups.
                # Groups 180 apart repeat the pattern exactly (mod-180
                # periodicity) — those are genuine whole-image
                # duplicates at larger SF, which the dedup correctly
                # reports on both engines.
                blocks = 30 + ((int(g) + 1) * (R * 40503 + C * 65027 + 9176)) % 180
                if v > 0:
                    blocks = blocks.copy()
                    blocks[v - 1, v - 1] += 25
                px = np.repeat(np.repeat(blocks, 2, axis=0), 2, axis=1).astype(
                    "uint8"
                )
                payload = (
                    multimodal.encode_bmp_gray(px)
                    if fmt == 0
                    else multimodal.encode_png_gray(px)
                )
                if corrupt_mod is not None and int(mid) % corrupt_mod == 0:
                    payload = payload[:10]
                payloads.append(payload)
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": ["image"] * len(pdf),
                    "payload": payloads,
                }
            )

    return base.mapInPandas(enc, "media_id long, kind string, payload binary")


@register(
    "dedup_image_phash",
    oracle="""
    WITH d AS (
      SELECT doc_id, doc_id // 4 AS g, doc_id % 4 AS v
      FROM documents WHERE text IS NOT NULL),
    b AS (
      SELECT d.doc_id, r.r, c.c,
             30 + ((d.g + 1) * (r.r * 40503 + c.c * 65027 + 9176)) % 180
                + CASE WHEN d.v > 0 AND r.r = d.v - 1 AND c.c = d.v - 1
                       THEN 25 ELSE 0 END AS val
      FROM d, range(8) AS r(r), range(8) AS c(c)),
    m AS (SELECT doc_id, avg(CAST(val AS DOUBLE)) AS mu FROM b GROUP BY 1),
    bits AS (
      SELECT b.doc_id, b.r, b.c,
             CASE WHEN CAST(b.val AS DOUBLE) >= m.mu THEN 1 ELSE 0 END AS bit
      FROM b JOIN m USING (doc_id))
    SELECT a.doc_id AS d1, bb.doc_id AS d2,
           CAST(sum(CASE WHEN a.bit <> bb.bit THEN 1 ELSE 0 END) AS BIGINT)
             AS hamming
    FROM bits a JOIN bits bb
      ON a.r = bb.r AND a.c = bb.c AND a.doc_id < bb.doc_id
    GROUP BY 1, 2
    HAVING sum(CASE WHEN a.bit <> bb.bit THEN 1 ELSE 0 END) <= 6
    """,
    doc="Image NEAR-dup dedup via perceptual hash (X2 x X5 — the image "
    "counterpart of simhash_dedup_pairs): each doc synthesizes a VALID "
    "16x16 grayscale image (even doc_id a 24bpp BMP, odd a type-0 PNG) "
    "whose 2x2-block values derive from (doc_id//4, doc_id%4) — four "
    "per-group variants differing in one perturbed block, i.e. real "
    "near-duplicates; the engine DECODES the files (magic-sniffed), "
    "aHashes the pixel arrays to int64 (block-average to 8x8, bit = "
    "cell >= mean), and pairs within Hamming<=6 via 8-band pigeonhole "
    "equi-joins + bit_count(xor) verify — never image x image (the "
    "oracle's O(n^2) bit join is the TEST harness, not the plan).  The "
    "oracle re-derives every hash bit from the synthesis arithmetic "
    "alone, so a decoder, block-average, mean-compare, bit-packing, "
    "band-split, or Hamming defect hash-fails.  At 100 TB the bytes "
    "stream through one Arrow decode pass and only (id, int64) rows "
    "reach the banded joins.",
    tags=("ext", "multimodal", "dedup", "X2", "X5", "pandas_udf"),
)
def dedup_image_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", spread=True)
    media = _synth_image_media(docs)
    hashes = multimodal.image_phash(media)
    return dedup.hash_dup_pairs(
        hashes, "media_id", "phash", max_hamming=6, bits=64
    ).select("d1", "d2", F.col("hamming").cast("long").alias("hamming"))


def _synth_audio_media(docs: DataFrame):
    """Deterministic synthetic audio corpus over ``documents`` (the
    audio sibling of ``_synth_image_media``): each non-NULL-text doc
    encodes a 2048-sample 16-bit PCM WAV of 8 NON-stationary tone
    windows — two sinusoids per window with frequencies derived from
    (doc_id//4, window, tone index); the doc_id%4 variants add one
    quiet extra tone in ONE window, i.e. real near-duplicate
    recordings (re-takes with a transient).  Stationarity matters:
    constant-tone clips collapse all 8 fingerprint rows to one pattern
    (measured: 42/190 cross-group collisions), per-window tone sets
    decorrelate groups completely (0/435 at Hamming<=6)."""

    base = docs.filter(F.col("text").isNotNull()).select(
        F.col("doc_id").cast("long").alias("media_id"),
        F.expr("doc_id DIV 4").alias("g"),
        (F.col("doc_id") % 4).cast("int").alias("v"),
    )

    def enc(batches):
        import numpy as np
        import pandas as pd

        t = np.arange(256) / 8000.0
        for pdf in batches:
            payloads = []
            for g, v in zip(pdf["g"], pdf["v"]):
                x = np.zeros(2048)
                for w in range(8):
                    seg = np.zeros(256)
                    for i in range(2):
                        f = 400 + ((int(g) + 1) * (w * 97 + i * 53 + 17)) % 3200
                        seg += 8000 * np.sin(2 * np.pi * f * t)
                    if v > 0 and w == v - 1:
                        seg += 1500 * np.sin(2 * np.pi * (500 + int(v) * 300) * t)
                    x[w * 256 : (w + 1) * 256] = seg
                payloads.append(multimodal.encode_wav_samples(x))
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": ["audio"] * len(pdf),
                    "payload": payloads,
                }
            )

    return base.mapInPandas(enc, "media_id long, kind string, payload binary")


@register(
    "dedup_audio_fingerprint",
    oracle=None,  # the fingerprint is an FFT artifact — not ANSI-SQL-
    # expressible; the pytest pins pairs == the O(n^2) brute-force
    # Hamming filter over the SAME fingerprints (banding exactness),
    # in-group/cross-group separation on the synthetic corpus, and a
    # gain-invariance property of the kernel
    # (tests/test_property_round8.py).
    doc="Audio NEAR-dup dedup via spectral fingerprint (X2 x X5, "
    "VERDICT r7 #7 — makes hash_dup_pairs' 'any fixed-width "
    "fingerprint' claim load-bearing): each doc synthesizes a VALID "
    "PCM WAV of 8 tone windows (doc_id%4 variants = re-takes with one "
    "transient tone), the engine DECODES the files (stdlib wave), "
    "fingerprints 8x8 log-energy FFT cells to int64 (bit = cell >= "
    "mean, the aHash rule on a spectrogram), and pairs within "
    "Hamming<=6 via the SAME pigeonhole band join the image path uses "
    "— hash_dup_pairs unchanged, never clip x clip.  At 100 TB the "
    "audio bytes stream through one Arrow decode pass and only "
    "(id, int64) rows reach the banded joins.",
    tags=("ext", "multimodal", "dedup", "X2", "X5", "pandas_udf"),
)
def dedup_audio_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", spread=True)
    media = _synth_audio_media(docs)
    fps = multimodal.audio_fingerprint(media)
    return dedup.hash_dup_pairs(
        fps, "media_id", "afp", max_hamming=6, bits=64
    ).select("d1", "d2", F.col("hamming").cast("long").alias("hamming"))


def _envelope_equal(
    n_src: DataFrame,
    a: DataFrame,
    b: DataFrame,
    cols,
    n_alias: str,
    flag_alias: str,
) -> DataFrame:
    """One-JOB assembly of the pair-set-equality envelope scalars
    (round 17, guide §5): row count of ``n_src`` plus "anti-joins empty
    in both directions" between the two strategy arms, via a single
    union aggregate.  Replaces the two broadcast-joined 1-row aggs
    (n ⨯ broadcast(miss) ⨯ broadcast(extra)) that cost 4-5 extra Spark
    jobs per run for the same three scalars — the ARMS stay fully
    independent (each still computed by its own pipeline; both sides
    persisted by the caller), only the final scalar assembly fuses.
    coalesce keeps the empty-corpus contract: zero input rows must
    yield (0, true) exactly like the count()-based form did."""
    u = (
        n_src.select(F.lit(0).alias("k"))
        .unionAll(a.join(b, cols, "left_anti").select(F.lit(1).alias("k")))
        .unionAll(b.join(a, cols, "left_anti").select(F.lit(2).alias("k")))
    )
    agg = u.agg(
        F.coalesce(F.sum(F.when(F.col("k") == 0, 1).otherwise(0)), F.lit(0))
        .cast("long")
        .alias(n_alias),
        (
            F.coalesce(
                F.sum(F.when(F.col("k") == 1, 1).otherwise(0)), F.lit(0)
            )
            == 0
        ).alias("_m"),
        (
            F.coalesce(
                F.sum(F.when(F.col("k") == 2, 1).otherwise(0)), F.lit(0)
            )
            == 0
        ).alias("_e"),
    )
    return agg.select(
        n_alias, (F.col("_m") & F.col("_e")).alias(flag_alias)
    )


@register(
    "audio_banding_exact_bounded",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_clips,
           TRUE AS banded_equals_brute
    FROM documents WHERE text IS NOT NULL AND doc_id < 200
    """,
    doc="Driver-visible banding-exactness envelope for the audio path "
    "(VERDICT r8 #3 — the approx_sketches_bounded trick): over a "
    "bounded deterministic slice (doc_id < 200, so the O(n^2) side "
    "stays ~20k comparisons at any sf), the SAME synth→decode→"
    "fingerprint pipeline dedup_audio_fingerprint runs feeds BOTH the "
    "pigeonhole band join AND a brute-force all-pairs bit_count(xor) "
    "<= 6 filter; the emitted boolean asserts full pair-SET equality "
    "(anti-joins empty in both directions), and the oracle emits the "
    "slice size with a TRUE literal — so a banding regression (lost "
    "band, wrong shift, masked sign bit) hash-fails the driver row "
    "instead of hiding in pytest.  The brute join is the bounded "
    "VERIFIER, not the operator: production pairs always come from "
    "the banded path.",
    tags=("ext", "multimodal", "dedup", "X2", "X5", "envelope"),
)
def audio_banding_exact_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fiware_cosmos_orion_flink_connector_examples_spark.operators.caching import (
        eagerly,
    )

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    media = _synth_audio_media(docs)
    fps = multimodal.audio_fingerprint(media).persist()
    banded = dedup.hash_dup_pairs(
        fps, "media_id", "afp", max_hamming=6, bits=64
    ).select("d1", "d2")
    a = fps.select(F.col("media_id").alias("d1"), F.col("afp").alias("h1"))
    b = fps.select(F.col("media_id").alias("d2"), F.col("afp").alias("h2"))
    brute = (
        a.join(F.broadcast(b), F.col("d1") < F.col("d2"))
        .filter(F.bit_count(F.col("h1").bitwiseXOR(F.col("h2"))) <= 6)
        .select("d1", "d2")
        .persist()
    )
    res = _envelope_equal(
        fps, brute, banded, ["d1", "d2"], "n_clips", "banded_equals_brute"
    )
    return eagerly(res, fps, brute)


@register(
    "ann_pq_paths_bit_equal",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_queries,
           TRUE AS paths_bit_equal
    FROM embeddings WHERE vec_id < 64
    """,
    doc="Driver-visible serving≡batch proof for the PQ family (VERDICT "
    "r8 #3): runs ann_topk_pq's driver-side-ADC serving path AND "
    "ann_topk_pq_batch's executor-side grid-cogroup path over the "
    "same 64-query set, same trained codebooks, and emits a boolean "
    "asserting exact row-set equality (q_id, n_id, rank, rounded "
    "score — anti-joins empty both ways).  The oracle emits the query "
    "count with a TRUE literal, so a divergence between the two "
    "physical strategies (table build, block partitioning, shortlist "
    "rounding) hash-fails the driver row — promoting "
    "test_pq_batch_matches_serving_path's pytest-only pin into the "
    "correctness artifact.",
    tags=("ext", "similarity", "X3", "pq", "envelope"),
)
def ann_pq_paths_bit_equal(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fiware_cosmos_orion_flink_connector_examples_spark.operators.caching import (
        eagerly,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    books = similarity.pq_train(
        emb,
        m=32,
        k=256,
        cache_key=(spark.sparkContext.applicationId, sf_dir, "embeddings"),
    )
    qs = emb.filter(F.col("vec_id") < 64)
    # encode the corpus ONCE and hand the persisted code frame to both
    # paths (round-17): pq_encode is byte-identical shared code in both
    # — what this query proves diverge-or-not is the SEARCH strategies
    # (driver-side vs executor-side ADC tables, block partitioning,
    # shortlist rounding), which still run independently.
    codes = similarity.pq_codes(emb, books).persist()
    serving = similarity.topk_cosine_pq(
        emb, qs, books, k=5, rerank=4, codes=codes
    ).persist()
    batch = similarity.topk_cosine_pq_batch(
        emb, qs, books, k=5, rerank=4, codes=codes
    ).persist()
    res = _envelope_equal(
        qs, serving, batch, serving.columns, "n_queries", "paths_bit_equal"
    )
    return eagerly(res, serving, batch)


@register(
    "ann_mmr_lambda1_equals_brute",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_queries,
           TRUE AS mmr_equals_brute
    FROM embeddings WHERE vec_id < 8
    """,
    doc="Driver-visible lam=1 degeneracy proof for MMR (the "
    "approx_sketches_bounded trick applied to ann_topk_mmr's "
    "rows-only gap): topk_mmr with lam=1 must equal "
    "topk_cosine_bruteforce EXACTLY — same (q_id, n_id, rank, "
    "rounded score) row set, anti-joins empty both ways — because "
    "the diversity term is multiplied away and greedy selection "
    "collapses to relevance order.  A regression anywhere in the "
    "shortlist/re-attach/greedy kernel (lost candidate, wrong "
    "tiebreak, rounding drift) flips the boolean and hash-fails the "
    "driver row.  The full-lam MMR behavior stays pytest-pinned; "
    "this pins the kernel's exactness envelope.",
    tags=("ext", "similarity", "X3", "mmr", "envelope"),
)
def ann_mmr_lambda1_equals_brute(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fiware_cosmos_orion_flink_connector_examples_spark.operators.caching import (
        eagerly,
    )

    emb = load_table(spark, sf_dir, "embeddings", spread=True)
    qs = emb.filter(F.col("vec_id") < 8)
    mmr = (
        similarity.topk_mmr(emb, qs, k=5, shortlist=50, lam=1.0)
        .select("q_id", "n_id", "rank", F.col("score").alias("s"))
        .persist()
    )
    brute = (
        similarity.topk_cosine_bruteforce(emb, qs, k=5)
        .select("q_id", "n_id", "rank", F.col("cos").alias("s"))
        .persist()
    )
    res = _envelope_equal(
        qs,
        mmr,
        brute,
        ["q_id", "n_id", "rank", "s"],
        "n_queries",
        "mmr_equals_brute",
    )
    return eagerly(res, mmr, brute)


@register(
    "ann_ivf_recall_bounded",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_queries,
           TRUE AS recall_ge_bound
    FROM embeddings WHERE vec_id < 8
    """,
    doc="Driver-visible recall envelope for the trained-quantizer IVF "
    "path (ann_topk_ivf_kmeans's rows-only gap): recall@5 of "
    "IVF(nprobe=4) against the oracle-checked brute force over the "
    "same 8 queries, emitted as a >= 0.5 boolean.  The k-means "
    "training is deterministic (fixed hash-sample, fixed iteration "
    "count — refit equality is pytest-pinned), so the recall is a "
    "FIXED number per corpus and the boolean is stable: a quantizer "
    "or probing regression (wrong cell assignment, dropped probe, "
    "broken shortlist) drops recall and hash-fails the driver row "
    "rather than hiding in pytest.  The bound is deliberately below "
    "the measured recall at both pytest and driver scales (0.875 at "
    "sf0.001, 0.725 at sf0.01) — this pins 'IVF still finds most "
    "true neighbors', not a point estimate.",
    tags=("ext", "similarity", "X3", "ivf", "envelope"),
)
def ann_ivf_recall_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fiware_cosmos_orion_flink_connector_examples_spark.operators.caching import (
        eagerly,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    cents = _shared_ivf_quantizer(spark, sf_dir, emb)
    qs = emb.filter(F.col("vec_id") < 8)
    ivf = (
        similarity.topk_cosine_ivf(emb, qs, cents, k=5, nprobe=4)
        .select("q_id", "n_id")
        .persist()
    )
    brute = (
        similarity.topk_cosine_bruteforce(emb, qs, k=5)
        .select("q_id", "n_id")
        .persist()
    )
    # ONE-job scalar assembly (round 17, the _envelope_equal shape):
    # (q_id,n_id) is unique per side (top-k sets), so the semi-join
    # count equals the inner-join count it replaces; coalesce keeps
    # the empty-corpus (0, true) contract of the count() form.
    u = (
        qs.select(F.lit(0).alias("k"))
        .unionAll(brute.select(F.lit(1).alias("k")))
        .unionAll(
            ivf.join(brute, ["q_id", "n_id"], "left_semi").select(
                F.lit(2).alias("k")
            )
        )
    )
    res = u.agg(
        F.coalesce(F.sum(F.when(F.col("k") == 0, 1).otherwise(0)), F.lit(0))
        .cast("long")
        .alias("n_queries"),
        F.coalesce(F.sum(F.when(F.col("k") == 1, 1).otherwise(0)), F.lit(0))
        .alias("_tot"),
        F.coalesce(F.sum(F.when(F.col("k") == 2, 1).otherwise(0)), F.lit(0))
        .alias("_hit"),
    ).select(
        "n_queries",
        (
            F.col("_hit").cast("double")
            >= F.lit(0.5) * F.col("_tot").cast("double")
        ).alias("recall_ge_bound"),
    )
    return eagerly(res, ivf, brute)


@register(
    "crossmodal_doc_profile",
    oracle=r"""
    WITH tq AS (
      SELECT doc_id, source,
             CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_tokens,
             CAST(len(regexp_extract_all(text, '\S+')) AS DOUBLE) AS n_tok,
             CAST(length(text) AS DOUBLE) AS n_chars,
             CAST(len(regexp_extract_all(text, '\b(the|a|and|of|to|in|is|it)\b'))
               AS DOUBLE) AS n_stop
      FROM documents),
    t AS (
      SELECT doc_id, source, n_tokens,
             round(0.5 * least(n_tok / 50.0, 1.0)
                 + 0.25 * (CASE WHEN n_chars / greatest(n_tok, 1.0)
                                     BETWEEN 3.0 AND 9.0
                                THEN 1.0 ELSE 0.5 END)
                 + 0.25 * (CASE WHEN n_stop / greatest(n_tok, 1.0) > 0.02
                                THEN 1.0 ELSE 0.6 END), 4) AS quality
      FROM tq),
    e AS (
      SELECT vec_id AS doc_id,
             CAST(len(embedding) AS INTEGER) AS emb_dim,
             round(sqrt(list_aggregate(
               list_transform(embedding::DOUBLE[], x -> x * x), 'sum')), 6)
               AS emb_norm
      FROM embeddings),
    d AS (SELECT doc_id, doc_id // 4 AS g, doc_id % 4 AS v FROM documents
          WHERE text IS NOT NULL AND doc_id % 89 <> 0),
    b AS (
      SELECT d.doc_id, r.r, c.c,
             30 + ((d.g + 1) * (r.r * 40503 + c.c * 65027 + 9176)) % 180
                + CASE WHEN d.v > 0 AND r.r = d.v - 1 AND c.c = d.v - 1
                       THEN 25 ELSE 0 END AS val
      FROM d, range(8) AS r(r), range(8) AS c(c)),
    m AS (SELECT doc_id, avg(CAST(val AS DOUBLE)) AS mu FROM b GROUP BY 1),
    ph AS (
      SELECT b.doc_id,
             CAST(sum(CASE WHEN CAST(b.val AS DOUBLE) >= m.mu
                           THEN CASE WHEN b.r = 0 AND b.c = 0
                                     THEN CAST(-9223372036854775807 - 1 AS BIGINT)
                                     ELSE (CAST(1 AS BIGINT)
                                           << (63 - (b.r * 8 + b.c))) END
                           ELSE 0 END) AS BIGINT) AS phash
      FROM b JOIN m USING (doc_id) GROUP BY 1)
    SELECT t.doc_id, t.source, t.n_tokens, t.quality,
           e.emb_dim, e.emb_norm, ph.phash,
           ph.phash IS NOT NULL AS media_ok
    FROM t LEFT JOIN e USING (doc_id) LEFT JOIN ph USING (doc_id)
    """,
    doc="CROSS-MODAL capstone (VERDICT r7 #3 — X5's 'text + vectors + "
    "media side by side' as ONE oracle-checked frame): per document, "
    "text quality features (token count + heuristic quality score), "
    "embedding QC (dim + l2 norm over the FLOAT[] vector, strict "
    "index-order fold so both engines sum identically), and "
    "media-derived features (the synthetic image corpus decoded and "
    "aHashed; every doc_id % 89 == 0 payload is deterministically "
    "TRUNCATED, so media_ok=false rows prove the decoder's "
    "skip-at-the-boundary path end-to-end, not just in a unit test).  "
    "The oracle chains all three modalities: quality from the "
    "text_quality_topk arithmetic, norm via list_aggregate, and every "
    "phash BIT re-derived from the synthesis arithmetic then packed "
    "into a signed BIGINT (MSB as -2^63 — two's complement in SQL).  "
    "Shape at 100 TB: three doc-id-keyed equi-joins — text features "
    "ride the scan, embeddings join on the id, media collapses to "
    "(id, int64) in one Arrow decode pass before joining; nothing "
    "wider than the doc count ever shuffles.",
    tags=("ext", "multimodal", "similarity", "text", "capstone", "X5"),
)
def crossmodal_doc_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", spread=True)
    emb = load_table(spark, sf_dir, "embeddings")
    t = docs.select(
        "doc_id",
        "source",
        text.token_count("text").cast("long").alias("n_tokens"),
        text.quality_score("text").alias("quality"),
    )
    sq = F.aggregate(
        F.transform(F.col("embedding"), lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    e = emb.select(
        F.col("vec_id").alias("doc_id"),
        F.size("embedding").alias("emb_dim"),
        F.round(F.sqrt(sq), 6).alias("emb_norm"),
    )
    media = _synth_image_media(docs, corrupt_mod=89)
    ph = multimodal.image_phash(media).select(
        F.col("media_id").alias("doc_id"), "phash"
    )
    return (
        t.join(e, "doc_id", "left")
        .join(ph, "doc_id", "left")
        .select(
            "doc_id",
            "source",
            "n_tokens",
            "quality",
            "emb_dim",
            "emb_norm",
            "phash",
            F.col("phash").isNotNull().alias("media_ok"),
        )
    )


@register(
    "text_sentiment_by_source",
    oracle=r"""
    SELECT source,
           round(avg(round((len(regexp_extract_all(text, '\b(fast|small|good|best)\b'))
                  - len(regexp_extract_all(text, '\b(slow|bad|worst|error)\b')))
                 / greatest(CAST(len(regexp_extract_all(text, '\S+')) AS DOUBLE), 1.0), 6)), 6) AS avg_sentiment,
           count(*) AS n_docs
    FROM documents GROUP BY 1
    """,
    doc="X4 naive lexicon sentiment (EDBT'16 Twitter-sentiment pattern, "
    "PAPERS.md): (pos - neg) / tokens per doc, averaged per source — "
    "regexp_count arithmetic, zero Python.",
    tags=("ext", "text", "X4", "sentiment"),
)
def text_sentiment_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("source").agg(
        F.round(F.avg(text.sentiment_score("text")), 6).alias("avg_sentiment"),
        F.count(F.lit(1)).alias("n_docs"),
    )


@register(
    "percentiles_by_event_type",
    oracle="""
    SELECT event_type,
           round(quantile_cont(value, 0.5), 4) AS p50,
           round(quantile_cont(value, 0.95), 4) AS p95,
           round(quantile_cont(value, 0.99), 4) AS p99
    FROM events GROUP BY 1
    """,
    doc="Exact interpolated percentiles per group (Spark percentile ≙ "
    "DuckDB quantile_cont, SQL-standard linear interpolation).  At "
    "100 TB swap to approx_percentile(t-digest) — same query shape, "
    "documented accuracy tradeoff.",
    tags=("ext", "agg", "percentile"),
)
def percentiles_by_event_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.percentile("value", F.lit(0.5)), 4).alias("p50"),
        F.round(F.percentile("value", F.lit(0.95)), 4).alias("p95"),
        F.round(F.percentile("value", F.lit(0.99)), 4).alias("p99"),
    )


@register(
    "deterministic_hash_sample",
    oracle=f"""
    SELECT doc_id, lang, n_chars FROM documents
    WHERE {_D_MD5INT.format(x="CAST(doc_id AS VARCHAR)")} % 100 < 5
    """,
    doc="Deterministic 5% hash sample (md5 of the key, mod 100) — the "
    "reproducible train/eval split primitive; unlike TABLESAMPLE the "
    "selection is stable across runs, partitionings, and engines.",
    tags=("ext", "sample"),
)
def deterministic_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fiware_cosmos_orion_flink_connector_examples_spark.functions.hashing import (
        md5int64,
    )

    docs = load_table(spark, sf_dir, "documents")
    return docs.filter(
        F.pmod(md5int64(F.col("doc_id").cast("string")), F.lit(100)) < 5
    ).select("doc_id", "lang", "n_chars")


@register(
    "text_redact_pii",
    oracle=r"""
    WITH synth AS (
      SELECT doc_id,
             CASE WHEN doc_id % 7 = 0
                  THEN text || ' contact user' || CAST(doc_id AS VARCHAR)
                       || '@example.com or call +1 (555) 010-'
                       || CAST(doc_id % 10000 AS VARCHAR)
                  ELSE text END AS text
      FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(text,
                '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INTEGER)
             AS n_emails,
           CAST(len(regexp_extract_all(text,
                '\+[0-9]+ \([0-9]{3}\) [0-9]{3}-[0-9]{1,4}')) AS INTEGER)
             AS n_phones,
           right(regexp_replace(regexp_replace(text,
                '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                '\+[0-9]+ \([0-9]{3}\) [0-9]{3}-[0-9]{1,4}', '<PHONE>', 'g'), 40)
             AS tail
    FROM synth
    """,
    doc="X4 PII scrub (the pre-training redaction pass): mask emails "
    "then phone numbers via a codegen-fused regexp_replace chain — "
    "map-only, zero shuffle at any scale.  The corpus carries no PII, "
    "so matches are synthesized deterministically into every 7th doc "
    "(same construction in the oracle); patterns restricted to the "
    "Java-regex ∩ RE2 dialect so both engines scrub identical bytes, "
    "which the 40-char redacted tail pins in the hash.",
    tags=("ext", "text", "X4", "pii"),
)
def text_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    synth = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(
                F.col("text"),
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com or call +1 (555) 010-"),
                (F.col("doc_id") % 10000).cast("string"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return synth.select(
        "doc_id",
        F.regexp_count("text", F.lit(text.EMAIL_RE)).cast("int").alias("n_emails"),
        F.regexp_count("text", F.lit(text.PHONE_RE)).cast("int").alias("n_phones"),
        F.substring(text.redact_pii("text"), -40, 40).alias("tail"),
    )


@register(
    "sample_mixture_balanced",
    oracle=f"""
    SELECT lang, doc_id, n_chars FROM (
      SELECT lang, doc_id, n_chars,
             row_number() OVER (
               PARTITION BY lang
               ORDER BY {_D_MD5INT.format(x="CAST(doc_id AS VARCHAR)")}, doc_id
             ) AS rn
      FROM documents
    ) WHERE rn <= 50
    """,
    doc="Mixture balancing (the training-data language-rebalance op): "
    "deterministic per-language quota of 50 docs, selected by md5-hash "
    "rank so the draw is stable across runs, partitionings, and "
    "engines — per-group reservoir sampling as one window over the "
    "stratum key.  At 100 TB the window sorts WITHIN each lang "
    "partition after one hash shuffle; no global sort, no driver "
    "state.",
    tags=("ext", "sample", "mixture"),
)
def sample_mixture_balanced(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from fiware_cosmos_orion_flink_connector_examples_spark.functions.hashing import (
        md5int64,
    )

    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(
        md5int64(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        docs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 50)
        .select("lang", "doc_id", "n_chars")
    )


@register(
    "dedup_keep_best",
    oracle=f"""
    WITH RECURSIVE pairs AS ({_D_JACCARD_PAIRS}),
    edges AS (
      SELECT d1 AS a, d2 AS b FROM pairs
      UNION ALL SELECT d2, d1 FROM pairs
    ),
    reach(a, b) AS (
      SELECT a, b FROM edges
      UNION
      SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
    ),
    comp AS (
      SELECT a AS doc_id, least(a, min(b)) AS cluster_id
      FROM reach GROUP BY a
    ),
    q AS (
      SELECT doc_id,
             round(0.5 * least(CAST(len(regexp_extract_all(text, '\\S+')) AS DOUBLE) / 50.0, 1.0)
           + 0.25 * (CASE WHEN CAST(length(text) AS DOUBLE)
                               / greatest(CAST(len(regexp_extract_all(text, '\\S+')) AS DOUBLE), 1.0)
                               BETWEEN 3.0 AND 9.0 THEN 1.0 ELSE 0.5 END)
           + 0.25 * (CASE WHEN CAST(len(regexp_extract_all(text, '\\b(the|a|and|of|to|in|is|it)\\b')) AS DOUBLE)
                               / greatest(CAST(len(regexp_extract_all(text, '\\S+')) AS DOUBLE), 1.0)
                               > 0.02 THEN 1.0 ELSE 0.6 END), 4) AS quality
      FROM documents
    )
    SELECT cluster_id, doc_id AS keep_doc_id, quality,
           n_members
    FROM (
      SELECT c.cluster_id, c.doc_id, q.quality,
             CAST(count(*) OVER (PARTITION BY c.cluster_id) AS INTEGER) AS n_members,
             row_number() OVER (PARTITION BY c.cluster_id
                                ORDER BY q.quality DESC, c.doc_id) AS rn
      FROM comp c JOIN q ON q.doc_id = c.doc_id
    ) WHERE rn = 1
    """,
    doc="Canonical-document selection: for each near-dup cluster "
    "(≥0.8-jaccard connected components), keep the HIGHEST-QUALITY "
    "member instead of the arbitrary min-id — the policy real corpus "
    "dedup ships (drop boilerplate copies, keep the cleanest).  "
    "Composes the audited pieces: pair graph → pointer-jumping "
    "components → quality-score join → one per-cluster window.  "
    "Singleton docs never enter the component table, so output is "
    "exactly the multi-member clusters.",
    tags=("ext", "dedup", "cluster", "quality"),
)
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents", spread=True)
    pairs = dedup.ngram_jaccard_pairs(docs, "doc_id", threshold=0.8)
    comps = dedup.connected_components(pairs)
    labeled = comps.join(
        docs.select("doc_id", text.quality_score("text").alias("quality")), "doc_id"
    )
    w = Window.partitionBy("cluster_id").orderBy(F.desc("quality"), F.asc("doc_id"))
    return (
        labeled.select(
            "cluster_id",
            "doc_id",
            "quality",
            F.count(F.lit(1)).over(Window.partitionBy("cluster_id")).cast("int").alias("n_members"),
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") == 1)
        .select(
            "cluster_id",
            F.col("doc_id").alias("keep_doc_id"),
            F.round("quality", 4).alias("quality"),
            "n_members",
        )
    )


@register(
    "split_train_val_test",
    oracle=f"""
    WITH b AS (
      SELECT lang,
             CASE WHEN {_D_MD5INT.format(x="CAST(doc_id AS VARCHAR)")} % 100 < 80 THEN 'train'
                  WHEN {_D_MD5INT.format(x="CAST(doc_id AS VARCHAR)")} % 100 < 90 THEN 'val'
                  ELSE 'test' END AS split
      FROM documents
    )
    SELECT split, lang, count(*) AS n FROM b GROUP BY 1, 2
    """,
    doc="Deterministic 80/10/10 train/val/test assignment by md5-hash "
    "bucket — the split is a pure function of the key, so it is stable "
    "across runs, engines, partitionings, and INCREMENTAL corpus "
    "growth (new docs never reshuffle old assignments, unlike "
    "randomSplit).  Map-only assignment + one count rollup.",
    tags=("ext", "sample", "split"),
)
def split_train_val_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fiware_cosmos_orion_flink_connector_examples_spark.functions.hashing import (
        md5int64,
    )

    docs = load_table(spark, sf_dir, "documents")
    bucket = F.pmod(md5int64(F.col("doc_id").cast("string")), F.lit(100))
    split = (
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    )
    return (
        docs.select(split.alias("split"), "lang")
        .groupBy("split", "lang")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "split_dedup_safe",
    oracle=f"""
    WITH g AS (
      SELECT md5(text) AS h, count(*) AS n
      FROM documents GROUP BY 1),
    a AS (
      SELECT CASE WHEN {_D_MD5INT.format(x="concat('splitsafe:', h)")} % 100 < 80 THEN 'train'
                  WHEN {_D_MD5INT.format(x="concat('splitsafe:', h)")} % 100 < 90 THEN 'val'
                  ELSE 'test' END AS split,
             n
      FROM g)
    SELECT split, CAST(sum(n) AS BIGINT) AS n_docs, count(*) AS n_groups
    FROM a GROUP BY 1
    """,
    doc="Leakage-guarded train/val/test split: the split key is the "
    "TEXT hash, not the doc id, so verbatim duplicate documents can "
    "never straddle the train/eval boundary (the classic eval-"
    "contamination hole in id-keyed splits — split_train_val_test "
    "leaks any exact dup whose copies hash to different buckets).  "
    "Same determinism contract as the id-keyed split (pure function "
    "of content, stable under corpus growth and re-partitioning).  "
    "One content-hash groupBy (map-side partial) + a 3-row rollup; "
    "composition note: for NEAR-dup safety, feed the cluster "
    "representative id from dedup_clusters through the same "
    "hash-the-key assignment.",
    tags=("ext", "sample", "split", "dedup"),
)
def split_dedup_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fiware_cosmos_orion_flink_connector_examples_spark.functions.hashing import (
        md5int64_seeded,
    )

    docs = load_table(spark, sf_dir, "documents")
    groups = (
        docs.select(F.md5(F.col("text")).alias("h"))
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    bucket = F.pmod(md5int64_seeded(F.col("h"), "splitsafe"), F.lit(100))
    split = (
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    )
    return (
        groups.select(split.alias("split"), "n")
        .groupBy("split")
        .agg(
            F.sum("n").cast("long").alias("n_docs"),
            F.count(F.lit(1)).alias("n_groups"),
        )
    )


@register(
    "dup_rate_by_source",
    oracle=f"""
    WITH pairs AS ({_D_JACCARD_PAIRS}),
    dup_docs AS (
      SELECT d1 AS doc_id FROM pairs UNION SELECT d2 FROM pairs
    )
    SELECT d.source,
           count(*) AS n_docs,
           CAST(count(dd.doc_id) AS BIGINT) AS n_dup_docs,
           round(CAST(count(dd.doc_id) AS DOUBLE) / count(*), 6) AS dup_rate
    FROM documents d LEFT JOIN dup_docs dd ON dd.doc_id = d.doc_id
    GROUP BY 1
    """,
    doc="Duplication-rate report per source (the corpus-quality "
    "dashboard number that decides which crawls get re-filtered): "
    "docs appearing in any ≥0.8-jaccard pair, as a share of each "
    "source's docs.  Pair detection reuses the inverted-index join; "
    "the dup-doc-id side is SIZE-GATED (dedup.gated_broadcast, r8): "
    "usually broadcast-size, but a dirty crawl's dup set is a large "
    "FRACTION of the corpus — above 32M ids the hint drops and the "
    "probe becomes a doc-id shuffle join.  Result eagerly "
    "materialized, id-set cache released.",
    tags=("ext", "dedup", "profile"),
)
def dup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", spread=True)
    pairs = dedup.ngram_jaccard_pairs(docs, "doc_id", threshold=0.8)
    dup_docs = (
        pairs.select(F.col("d1").alias("doc_id"))
        .union(pairs.select(F.col("d2").alias("doc_id")))
        .distinct()
        .withColumn("_dup", F.lit(1))
    )
    dd, dd_p, _ = dedup.gated_broadcast(dup_docs, dedup.BROADCAST_IDSET_MAX)
    out = (
        docs.join(dd, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count("_dup").cast("long").alias("n_dup_docs"),
            F.round(
                F.count("_dup").cast("double") / F.count(F.lit(1)), 6
            ).alias("dup_rate"),
        )
    )
    return eagerly(out, dd_p)


@register(
    "zipf_token_spectrum",
    oracle=r"""
    WITH ex AS (SELECT unnest(regexp_extract_all(text, '\S+')) AS tok FROM documents),
    freq AS (SELECT tok, count(*) AS c FROM ex GROUP BY 1)
    SELECT CAST(floor(ln(CAST(c AS DOUBLE)) / ln(2.0)) AS INTEGER) AS log2_freq_bucket,
           count(*) AS n_terms,
           CAST(sum(c) AS BIGINT) AS total_occurrences
    FROM freq GROUP BY 1
    """,
    doc="Token-frequency spectrum (Zipf profile): bucket every vocab "
    "term by floor(log2(frequency)) and count terms + mass per bucket "
    "— the corpus-statistics pass behind vocab-size and min-frequency "
    "cutoff decisions.  Two hash-aggs, both map-side partial; the "
    "spectrum output is O(log corpus) rows.",
    tags=("ext", "text", "profile"),
)
def zipf_token_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    freq = (
        docs.select(F.explode(text.tokens("text")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return (
        freq.groupBy(
            F.floor(F.log(F.col("c").cast("double")) / F.log(F.lit(2.0)))
            .cast("int")
            .alias("log2_freq_bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("n_terms"),
            F.sum("c").cast("long").alias("total_occurrences"),
        )
    )


@register(
    "events_value_zscore_topk",
    oracle="""
    WITH s AS (
      SELECT event_type, avg(value) AS mu, stddev_pop(value) AS sigma
      FROM events GROUP BY 1
    )
    SELECT e.event_id, e.event_type,
           round((e.value - s.mu) / s.sigma, 4) AS zscore
    FROM events e JOIN s USING (event_type)
    ORDER BY abs(round((e.value - s.mu) / s.sigma, 4)) DESC, e.event_id
    LIMIT 25
    """,
    doc="Per-type z-score anomaly top-k: population moments per "
    "event_type (one hash-agg over a handful of groups → broadcast "
    "back), score every event map-side, TakeOrderedAndProject for the "
    "top 25 — no global sort ever materializes.  The telemetry outlier "
    "triage query.",
    tags=("ext", "agg", "anomaly", "topk"),
)
def events_value_zscore_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    stats = ev.groupBy("event_type").agg(
        F.avg("value").alias("mu"), F.stddev_pop("value").alias("sigma")
    )
    z = F.round((F.col("value") - F.col("mu")) / F.col("sigma"), 4)
    return (
        ev.join(F.broadcast(stats), "event_type")
        .select("event_id", "event_type", z.alias("zscore"))
        .orderBy(F.abs(F.col("zscore")).desc(), F.col("event_id"))
        .limit(25)
    )


@register(
    "histogram_event_values",
    oracle="""
    WITH b AS (
      SELECT CAST(floor(value / 5.0) AS INTEGER) AS bin, count(*) AS n
      FROM events GROUP BY 1
    )
    SELECT bin, n,
           CAST(sum(n) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_cum,
           round(CAST(n AS DOUBLE) / sum(n) OVER (), 6) AS frac
    FROM b
    """,
    doc="Value-distribution histogram + CDF (the data-profiling pass "
    "before filter-threshold tuning): fixed-width bins via one hash-agg "
    "(map-side partial), then cumulative counts and mass fractions as "
    "windows over the ~20-row AGGREGATE — the unpartitioned window sort "
    "touches bin cardinality, never input rows, so the single-partition "
    "stage is O(bins) at any corpus size.",
    tags=("ext", "profile", "histogram"),
)
def histogram_event_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    b = ev.groupBy(
        F.floor(F.col("value") / 5.0).cast("int").alias("bin")
    ).agg(F.count(F.lit(1)).alias("n"))
    w_cum = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    w_all = Window.partitionBy()
    return b.select(
        "bin",
        "n",
        F.sum("n").over(w_cum).cast("long").alias("n_cum"),
        F.round(F.col("n").cast("double") / F.sum("n").over(w_all), 6).alias("frac"),
    )


@register(
    "profile_documents",
    oracle="""
    SELECT count(*) AS n_rows,
           count(DISTINCT lang) AS n_langs,
           count(DISTINCT source) AS n_sources,
           CAST(sum(CASE WHEN text IS NULL OR text = '' THEN 1 ELSE 0 END) AS BIGINT) AS n_empty_text,
           min(n_chars) AS min_chars, max(n_chars) AS max_chars,
           round(avg(CAST(n_chars AS DOUBLE)), 4) AS avg_chars
    FROM documents
    """,
    doc="Dataset profiling / QA summary (the pre-training data-quality "
    "pass): null/empty counts, cardinalities, ranges — one scan, one "
    "row out.",
    tags=("ext", "profile"),
)
def profile_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("lang").alias("n_langs"),
        F.countDistinct("source").alias("n_sources"),
        F.sum(
            F.when(F.col("text").isNull() | (F.col("text") == ""), 1).otherwise(0)
        ).alias("n_empty_text"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
        F.round(F.avg(F.col("n_chars").cast("double")), 4).alias("avg_chars"),
    )


@register(
    "custom_udaf_geomean",
    oracle="""
    SELECT event_type,
           round(exp(avg(ln(value))), 4) AS geo_mean
    FROM events WHERE value > 0
    GROUP BY 1
    """,
    doc="O7's general capability — a custom aggregate Spark lacks, as a "
    "GROUPED_AGG pandas UDF (geometric mean; accumulator contract ≙ "
    "AverageAggregate's add/merge/getResult, Example4.scala:39-49).  "
    "Oracle uses the algebraic identity exp(avg(ln x)).",
    tags=("ext", "udaf", "O7", "pandas_udf"),
)
def custom_udaf_geomean(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fiware_cosmos_orion_flink_connector_examples_spark.functions.udaf import (
        geometric_mean,
    )

    ev = load_table(spark, sf_dir, "events").filter(F.col("value") > 0)
    # NOTE: a GROUPED_AGG pandas UDF cannot share an .agg() with JVM
    # aggregates (INVALID_PANDAS_UDF_PLACEMENT) — keep it sole occupant
    return ev.groupBy("event_type").agg(
        F.round(geometric_mean("value"), 4).alias("geo_mean")
    )


@register(
    "events_enriched_topk",
    oracle="""
    WITH enriched AS (
      SELECT e.user_id, e.value, c.c_mktsegment, n.n_name
      FROM events e
        JOIN customer c ON c.c_custkey = e.user_id
        JOIN nation n ON n.n_nationkey = c.c_nationkey
    )
    SELECT * FROM (
      SELECT n_name, c_mktsegment,
             count(*) AS n_events,
             round(sum(value), 4) AS sum_value,
             row_number() OVER (ORDER BY round(sum(value), 4) DESC, n_name, c_mktsegment) AS rnk
      FROM enriched GROUP BY 1, 2)
    WHERE rnk <= 10
    """,
    doc="Stream-enrichment shape: events joined to broadcast customer + "
    "nation dims (the classic streaming enrichment — fact stream never "
    "shuffles for dimension joins), then top-10 segments by volume.",
    tags=("ext", "join", "enrichment"),
)
def events_enriched_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    enriched = ev.join(
        F.broadcast(c), F.col("c_custkey") == F.col("user_id")
    ).join(F.broadcast(n), F.col("n_nationkey") == F.col("c_nationkey"))
    agg = enriched.groupBy("n_name", "c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 4).alias("sum_value"),
    )
    w = Window.orderBy(F.desc("sum_value"), F.asc("n_name"), F.asc("c_mktsegment"))
    return agg.withColumn("rnk", F.row_number().over(w)).filter(F.col("rnk") <= 10)


# --- temporal joins ---------------------------------------------------------


@register(
    "events_asof_latest_order",
    oracle="""
    WITH r AS (
      SELECT o_custkey, o_orderdate, o_orderkey, o_totalprice FROM (
        SELECT *, row_number() OVER (PARTITION BY o_custkey, o_orderdate
                                     ORDER BY o_orderkey DESC) AS rn
        FROM orders) WHERE rn = 1
    )
    SELECT e.event_id, e.user_id,
           epoch_us(e.ts) // 1000000 AS ts,
           r.o_orderkey,
           epoch_us(r.o_orderdate) // 1000000 AS order_ts,
           r.o_totalprice
    FROM events e ASOF JOIN r
      ON e.user_id = r.o_custkey AND e.ts >= r.o_orderdate
    """,
    doc="As-of join (kdb/pandas merge_asof semantics, distributed): "
    "each event gets the latest order its user placed at or before the "
    "event — union/sort/last-non-null composition, ONE shuffle+sort of "
    "|L|+|R| rows vs the O(|L|·|R|) nested-loop a '>=' theta-join "
    "plans to.  Right side deduped per (user, ts) for tie-determinism; "
    "oracle is DuckDB's native ASOF JOIN.",
    tags=("ext", "temporal", "asof", "join"),
)
def events_asof_latest_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from fiware_cosmos_orion_flink_connector_examples_spark.operators.temporal import (
        asof_join,
    )

    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey", "o_orderdate").orderBy(F.desc("o_orderkey"))
    r = (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.col("o_custkey").alias("user_id"),
            F.col("o_orderdate").cast("timestamp").alias("order_time"),
            "o_orderkey",
            "o_totalprice",
        )
    )
    joined = asof_join(
        ev,
        r,
        on="user_id",
        left_ts="ts",
        right_ts="order_time",
        payload_cols=["o_orderkey", "order_time", "o_totalprice"],
    )
    return joined.select(
        "event_id",
        "user_id",
        (F.unix_micros(F.col("ts")) / 1_000_000).cast("long").alias("ts"),
        "o_orderkey",
        (F.unix_micros(F.col("order_time")) / 1_000_000).cast("long").alias("order_ts"),
        "o_totalprice",
    )


@register(
    "events_range_pairs",
    oracle="""
    SELECT a.user_id, a.event_id AS id1, b.event_id AS id2,
           epoch_us(b.ts) - epoch_us(a.ts) AS gap_us
    FROM events a JOIN events b ON a.user_id = b.user_id
    WHERE (a.ts < b.ts OR (a.ts = b.ts AND a.event_id < b.event_id))
      AND epoch_us(b.ts) - epoch_us(a.ts) <= 3600000000
    """,
    doc="Bounded range self-join: per-user event pairs within a 1-hour "
    "horizon via time-cell bucketing — equi-join on (user, cell) with "
    "2 probe cells per row, then the exact Δt filter; candidates are "
    "bounded by cell co-residency instead of the unbounded interval "
    "theta-join the oracle runs.",
    tags=("ext", "temporal", "range", "join"),
)
def events_range_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fiware_cosmos_orion_flink_connector_examples_spark.operators.temporal import (
        range_pairs,
    )

    ev = load_table(spark, sf_dir, "events")
    return range_pairs(ev, key="user_id", ts_col="ts", horizon_secs=3600, id_col="event_id")


# --- time-series rollup -----------------------------------------------------


@register(
    "events_sessionize",
    oracle="""
    WITH g AS (
      SELECT user_id, ts, value,
             CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
                       OVER (PARTITION BY user_id ORDER BY ts) > 86400000000
                  THEN 1 ELSE 0 END AS new_s
      FROM events
    ),
    s AS (
      SELECT user_id, ts, value,
             sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM g
    )
    SELECT user_id,
           min(epoch_us(ts)) // 1000000 AS session_start,
           max(epoch_us(ts)) // 1000000 AS session_end,
           CAST(count(*) AS INTEGER) AS n_events,
           round(sum(value), 4) AS sum_value
    FROM s GROUP BY user_id, sid
    """,
    doc="Session windows (24h inactivity gap) — batch twin of the "
    "streaming sessionizer (jobs.sessionize, the built-in "
    "session_window aggregate; stream-vs-batch equivalence "
    "pytest-verified), built from lag + running-sum window functions "
    "in exact integer microseconds.",
    tags=("ext", "session", "stateful"),
)
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts")
    us = F.unix_micros(F.col("ts"))
    gapped = ev.select(
        "user_id",
        "ts",
        "value",
        F.when(us - F.lag(us).over(w) > 86400 * 1_000_000, 1).otherwise(0).alias("new_s"),
    )
    sess = gapped.withColumn(
        "sid", F.sum("new_s").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    return sess.groupBy("user_id", "sid").agg(
        (F.min(F.unix_micros(F.col("ts"))) / 1_000_000).cast("long").alias("session_start"),
        (F.max(F.unix_micros(F.col("ts"))) / 1_000_000).cast("long").alias("session_end"),
        F.count(F.lit(1)).cast("int").alias("n_events"),
        F.round(F.sum("value"), 4).alias("sum_value"),
    ).drop("sid")


@register(
    "events_session_window_batch",
    oracle="""
    WITH g AS (
      SELECT user_id, ts, value,
             CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
                       OVER (PARTITION BY user_id ORDER BY ts) > 3600000000
                  THEN 1 ELSE 0 END AS new_s
      FROM events
    ),
    s AS (
      SELECT user_id, ts, value,
             sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM g
    )
    SELECT user_id,
           min(epoch_us(ts)) // 1000000 AS session_start,
           (max(epoch_us(ts)) + 3600000000) // 1000000 AS session_end_gap,
           CAST(count(*) AS INTEGER) AS n_events,
           round(sum(value), 4) AS sum_value
    FROM s GROUP BY user_id, sid
    """,
    doc="Built-in F.session_window twin of events_sessionize (1h gap): "
    "Spark merges events whose inter-arrival gap is <= the timeout "
    "(boundary probe: events exactly gap apart share a session), so the "
    "oracle's lag-based session split uses strict '>'.  session_end_gap "
    "is Spark's window.end = last event + gap.  Unlike the lag+running-"
    "sum formulation this is a single hash-agg with session merge done "
    "by the native UpdatingSessionsIterator — no window-function sort "
    "pass per key at scale.",
    tags=("ext", "session", "window", "O5"),
)
def events_session_window_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", "1 hour"), "user_id")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            "user_id",
            F.unix_seconds(F.col("session_window.start")).alias("session_start"),
            F.unix_seconds(F.col("session_window.end")).alias("session_end_gap"),
            "n_events",
            "sum_value",
        )
    )


@register(
    "events_hourly_rollup",
    oracle="""
    SELECT ((epoch_us(ts) // 3600000000) * 3600) AS window_start,
           event_type,
           count(*) AS n_events,
           round(sum(value), 4) AS sum_value,
           round(avg(value), 4) AS avg_value
    FROM events
    GROUP BY 1, 2
    """,
    doc="Hypertable-style tumbling rollup (1h buckets per event_type) — "
    "the degenerate sliding window; at scale this is the pre-aggregation "
    "layer continuous aggregates are built from.",
    tags=("ext", "window", "rollup"),
)
def events_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return tumbling_window_agg(
        ev,
        "ts",
        ["event_type"],
        [
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
            F.round(F.avg("value"), 4).alias("avg_value"),
        ],
        size="1 hour",
    )


@register(
    "tfidf_top_terms",
    oracle=r"""
    WITH ex AS (SELECT doc_id, lang, unnest(regexp_extract_all(text, '\S+')) AS term
                FROM documents),
    tf AS (SELECT lang, term, count(*) AS tf FROM ex GROUP BY 1, 2),
    dfreq AS (SELECT term, count(DISTINCT doc_id) AS df FROM ex GROUP BY 1),
    n AS (SELECT count(*) AS n FROM documents),
    scored AS (
      SELECT lang, term, round(tf * ln(CAST(n.n AS DOUBLE) / df), 4) AS tfidf
      FROM tf JOIN dfreq USING (term) CROSS JOIN n)
    SELECT lang, term, tfidf FROM (
      SELECT *, row_number() OVER (PARTITION BY lang ORDER BY tfidf DESC, term) AS rn
      FROM scored)
    WHERE rn <= 5
    """,
    doc="X4 TF-IDF keyword extraction: top-5 terms per language by "
    "corpus-level tf·idf.  All aggregation is integer (term counts, "
    "document frequencies) — the single double multiply tf·ln(N/df) "
    "happens once per (lang, term), so the score is summation-order- "
    "independent and engine-exact.  Two shuffles (both keyed on term), "
    "map-side partial counts; the N scalar rides a 1-row broadcast "
    "cross join.  The pre-training vocabulary/keyword primitive.",
    tags=("ext", "text", "X4", "tfidf"),
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    ex = docs.select("doc_id", "lang", F.explode(text.tokens("text")).alias("term"))
    tf = ex.groupBy("lang", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = ex.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("n"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n))
        .select(
            "lang",
            "term",
            F.round(
                F.col("tf") * F.log(F.col("n").cast("double") / F.col("df")), 4
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("lang").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.select("*", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= 5)
        .select("lang", "term", "tfidf")
    )


@register(
    "embedding_quantize_int8",
    oracle="""
    WITH e AS (SELECT vec_id, label,
                      list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
               FROM embeddings),
    a AS (SELECT vec_id, label, v,
                 list_max(list_transform(v, x -> abs(x))) AS amax FROM e),
    s AS (SELECT vec_id, label, v,
                 CASE WHEN amax = 0 THEN 1.0 ELSE amax / 127.0 END AS scale FROM a),
    r AS (SELECT vec_id, label, v, scale,
                 list_transform(v, x -> x - round(x / scale) * scale) AS err,
                 CAST(list_max(list_transform(v, x -> abs(round(x / scale)))) AS INTEGER)
                   AS qmax
          FROM s)
    SELECT vec_id, label, CAST(len(v) AS INTEGER) AS n_dims, qmax,
           round(list_aggregate(list_transform(err, x -> x * x), 'sum') / len(v), 9)
             AS mse
    FROM r
    """,
    doc="Int8 symmetric quantization of the embedding column (the "
    "storage/serving compression step): per-vector scale = max|x|/127, "
    "q = round(x/scale), reported as per-vector reconstruction MSE and "
    "max |q| (must be 127).  Pure per-row array expressions — no "
    "shuffle, no Python; embarrassingly parallel at any scale.  The "
    "scale scalar is bound per ROW via array_repeat + zip_with (never "
    "captured in a lambda body, where it would re-evaluate the max "
    "fold per element — see SCALING.md's lambda-capture rule).",
    tags=("ext", "embedding", "quantize"),
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    amax = F.array_max(F.transform(v, F.abs))
    scale = F.when(amax == 0, F.lit(1.0)).otherwise(amax / F.lit(127.0))
    base = emb.select(
        "vec_id", "label", v.alias("v"), F.array_repeat(scale, F.size(v)).alias("srep")
    )
    err = F.zip_with(
        F.col("v"), F.col("srep"), lambda x, s: x - F.round(x / s) * s
    )
    qabs = F.zip_with(F.col("v"), F.col("srep"), lambda x, s: F.abs(F.round(x / s)))
    sq = F.transform(err, lambda x: x * x)
    return base.select(
        "vec_id",
        "label",
        F.size("v").cast("int").alias("n_dims"),
        F.array_max(qabs).cast("int").alias("qmax"),
        F.round(
            F.aggregate(sq, F.lit(0.0), lambda acc, x: acc + x) / F.size("v"), 9
        ).alias("mse"),
    )


@register(
    "multimodal_frame_sample",
    oracle="""
    WITH m AS (SELECT doc_id AS media_id, text, length(text) AS n FROM documents),
    f AS (SELECT media_id, text, n,
            unnest(range(0, greatest(CAST(ceil(n / 256.0) AS BIGINT), 1), 2)) AS frame_idx
          FROM m)
    SELECT media_id, CAST(frame_idx AS INTEGER) AS frame_idx,
           CAST(least(n - frame_idx * 256, 256) AS BIGINT) AS frame_len,
           sha256(substr(text, frame_idx * 256 + 1, 256)) AS frame_sha
    FROM f
    """,
    doc="X5 video-frame sampling plumbing: every 2nd 256-byte "
    "pseudo-frame of each payload via one mapInPandas pass (real "
    "container demuxing is the stubbed step — codecs absent).  The "
    "frame explosion happens executor-side inside Arrow batches (no "
    "driver, no shuffle); per-frame byte length and sha256 are "
    "oracle-checked, proving the sliced bytes are exact.  The corpus "
    "is ASCII so the oracle can slice VARCHAR; the engine slices "
    "BINARY.",
    tags=("ext", "multimodal", "X5", "pandas_udf"),
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    media = multimodal.to_media_table(
        docs.withColumn("payload", F.encode("text", "utf-8")), "doc_id", "payload", "video"
    )
    frames = multimodal.sample_frames(media, frame_size=256, every_n=2)
    return frames.select(
        "media_id",
        F.col("frame_idx").cast("int").alias("frame_idx"),
        F.length("frame_bytes").cast("long").alias("frame_len"),
        F.sha2("frame_bytes", 256).alias("frame_sha"),
    )


@register(
    "decontaminate_eval_8gram",
    oracle=r"""
    WITH toks AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS t FROM documents),
    g AS (SELECT doc_id,
                 list_distinct([array_to_string(t[i:i+7], ' ')
                                for i in range(1, len(t) - 6)]) AS grams
          FROM toks),
    split AS (SELECT doc_id, grams,
                     CAST(concat('0x', substr(md5(concat('split:', CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT)
                       % 20 = 0 AS is_eval
              FROM g),
    tr AS (SELECT DISTINCT unnest(grams) AS gram FROM split WHERE NOT is_eval),
    ev AS (SELECT doc_id, unnest(grams) AS gram FROM split WHERE is_eval)
    SELECT ev.doc_id, count(*) AS n_shared_grams
    FROM ev JOIN tr USING (gram) GROUP BY 1
    """,
    doc="Benchmark decontamination: 5% of docs become the eval split "
    "(seeded md5 hash — the same reproducible split primitive as "
    "deterministic_hash_sample), and any eval doc sharing a whole-word "
    "8-gram with any train doc is flagged with its distinct-shared-gram "
    "count.  Existence is the gram equi-join itself (inverted index), "
    "never doc×doc; at 100 TB the train gram set becomes a broadcast "
    "bloom filter and this exact join is the verify pass (see "
    "operators/dedup.ngram_contamination).",
    tags=("ext", "dedup", "decontamination"),
)
def decontaminate_eval_8gram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fiware_cosmos_orion_flink_connector_examples_spark.functions.hashing import (
        md5int64_seeded,
    )

    docs = load_table(spark, sf_dir, "documents", spread=True)
    is_eval = F.pmod(md5int64_seeded(F.col("doc_id").cast("string"), "split"), F.lit(20)) == 0
    tagged = docs.withColumn("_is_eval", is_eval)
    return dedup.ngram_contamination(
        tagged.filter(~F.col("_is_eval")),
        tagged.filter(F.col("_is_eval")),
        "doc_id",
        n=8,
    )


@register(
    "decontaminate_spans_8gram",
    oracle=r"""
    WITH toks AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS t,
                         CAST(concat('0x', substr(md5(concat('split:', CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT)
                           % 20 = 0 AS is_eval
                  FROM documents),
    tok AS (SELECT doc_id,
                   unnest([{'pos': i - 1, 'tok': t[i]}
                           for i in range(1, len(t) + 1)], recursive := true)
            FROM toks WHERE NOT is_eval),
    g AS (SELECT doc_id,
                 unnest([{'pos': i - 1, 'gram': array_to_string(t[i:i+7], ' ')}
                         for i in range(1, len(t) - 6)], recursive := true)
          FROM toks WHERE NOT is_eval),
    evg AS (SELECT DISTINCT unnest([array_to_string(t[i:i+7], ' ')
                                    for i in range(1, len(t) - 6)]) AS gram
            FROM toks WHERE is_eval),
    dup AS (SELECT g.doc_id, g.pos FROM g JOIN evg USING (gram)),
    removed AS (SELECT DISTINCT doc_id, pos + k AS pos
                FROM dup, range(0, 8) r(k)),
    kept AS (SELECT tok.doc_id, tok.pos, tok.tok
             FROM tok LEFT JOIN removed USING (doc_id, pos)
             WHERE removed.pos IS NULL),
    agg AS (SELECT doc_id, count(*) AS n_kept,
                   md5(string_agg(tok, ' ' ORDER BY pos)) AS clean_md5
            FROM kept GROUP BY 1),
    tot AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens
            FROM toks WHERE NOT is_eval)
    SELECT tot.doc_id, tot.n_tokens,
           CAST(tot.n_tokens - coalesce(agg.n_kept, 0) AS BIGINT) AS n_removed,
           coalesce(agg.clean_md5, md5('')) AS clean_md5
    FROM tot LEFT JOIN agg USING (doc_id)
    WHERE tot.n_tokens - coalesce(agg.n_kept, 0) > 0
    """,
    doc="Span-level decontamination — the surgical counterpart to "
    "decontaminate_eval_8gram's drop-the-doc flagging: the same 5% "
    "seeded-md5 eval split, but train docs sharing an 8-gram with any "
    "eval doc get exactly the covered tokens CUT (first occurrence "
    "does NOT win here — eval text must never survive into training "
    "data, so every contaminated train span goes, no min_run gate).  "
    "Output is the contaminated train docs with before/removed counts "
    "and cleaned-text md5.  Probe = positional train grams LEFT SEMI "
    "the raw eval gram rows (broadcast at real scale — eval sets are "
    "benchmark-sized; the bloom-word build drops in if not), then the "
    "shared cut/re-assembly tail.",
    tags=("ext", "dedup", "decontamination", "span"),
)
def decontaminate_spans_8gram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fiware_cosmos_orion_flink_connector_examples_spark.functions.hashing import (
        md5int64_seeded,
    )

    docs = load_table(spark, sf_dir, "documents", spread=True)
    is_eval = F.pmod(md5int64_seeded(F.col("doc_id").cast("string"), "split"), F.lit(20)) == 0
    tagged = docs.withColumn("_is_eval", is_eval)
    out = dedup.remove_contaminated_spans(
        tagged.filter(~F.col("_is_eval")),
        tagged.filter(F.col("_is_eval")),
        "doc_id",
        n=8,
    )
    return out.filter(F.col("n_removed") > 0).select(
        "doc_id",
        "n_tokens",
        "n_removed",
        F.md5(F.col("text_clean")).alias("clean_md5"),
    )


@register(
    "decontaminate_spans_bpe",
    oracle=r"""
    WITH toks AS (SELECT doc_id,
                         regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]') AS t,
                         CAST(concat('0x', substr(md5(concat('split:', CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT)
                           % 20 = 0 AS is_eval
                  FROM documents),
    tok AS (SELECT doc_id,
                   unnest([{'pos': i - 1, 'tok': t[i]}
                           for i in range(1, len(t) + 1)], recursive := true)
            FROM toks WHERE NOT is_eval),
    g AS (SELECT doc_id,
                 unnest([{'pos': i - 1, 'gram': array_to_string(t[i:i+7], ' ')}
                         for i in range(1, len(t) - 6)], recursive := true)
          FROM toks WHERE NOT is_eval),
    evg AS (SELECT DISTINCT unnest([array_to_string(t[i:i+7], ' ')
                                    for i in range(1, len(t) - 6)]) AS gram
            FROM toks WHERE is_eval),
    dup AS (SELECT g.doc_id, g.pos FROM g JOIN evg USING (gram)),
    removed AS (SELECT DISTINCT doc_id, pos + k AS pos
                FROM dup, range(0, 8) r(k)),
    kept AS (SELECT tok.doc_id, tok.pos, tok.tok
             FROM tok LEFT JOIN removed USING (doc_id, pos)
             WHERE removed.pos IS NULL),
    agg AS (SELECT doc_id, count(*) AS n_kept,
                   md5(string_agg(tok, ' ' ORDER BY pos)) AS clean_md5
            FROM kept GROUP BY 1),
    tot AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens
            FROM toks WHERE NOT is_eval)
    SELECT tot.doc_id, tot.n_tokens,
           CAST(tot.n_tokens - coalesce(agg.n_kept, 0) AS BIGINT) AS n_removed,
           coalesce(agg.clean_md5, md5('')) AS clean_md5
    FROM tot LEFT JOIN agg USING (doc_id)
    WHERE tot.n_tokens - coalesce(agg.n_kept, 0) > 0
    """,
    doc="SUB-WORD-fidelity span decontamination: decontaminate_spans_"
    "8gram over BPE pre-tokens with int64 token-id grams (the "
    "span_dedup_removed_bpe treatment applied to the eval-leakage "
    "cut).  The decontamination stakes are higher than dedup's: a "
    "benchmark answer re-spaced or re-wrapped into a training page "
    "escapes the \\S+ word-gram probe entirely — whitespace never "
    "forms a BPE token, so the reflowed leak still shares every "
    "8-subword-token gram and gets cut (property-tested alongside the "
    "dedup variant).  Same 5% seeded-md5 split, same LEFT SEMI probe "
    "(int64 gram keys now), same linear cut tail.",
    tags=("ext", "dedup", "decontamination", "span", "bpe"),
)
def decontaminate_spans_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fiware_cosmos_orion_flink_connector_examples_spark.functions.hashing import (
        md5int64_seeded,
    )
    from fiware_cosmos_orion_flink_connector_examples_spark.operators.text import (
        BPE_RE,
    )

    docs = load_table(spark, sf_dir, "documents", spread=True)
    is_eval = F.pmod(md5int64_seeded(F.col("doc_id").cast("string"), "split"), F.lit(20)) == 0
    tagged = docs.withColumn("_is_eval", is_eval)
    out = dedup.remove_contaminated_spans(
        tagged.filter(~F.col("_is_eval")),
        tagged.filter(F.col("_is_eval")),
        "doc_id",
        n=8,
        token_re=BPE_RE,
        hashed_grams=True,
    )
    return out.filter(F.col("n_removed") > 0).select(
        "doc_id",
        "n_tokens",
        "n_removed",
        F.md5(F.col("text_clean")).alias("clean_md5"),
    )


@register(
    "decontaminate_bloom_8gram",
    oracle=r"""
    WITH toks AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS t FROM documents),
    g AS (SELECT doc_id,
                 list_distinct([array_to_string(t[i:i+7], ' ')
                                for i in range(1, len(t) - 6)]) AS grams
          FROM toks),
    split AS (SELECT doc_id, grams,
                     CAST(concat('0x', substr(md5(concat('split:', CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT)
                       % 20 = 0 AS is_eval
              FROM g),
    tr AS (SELECT DISTINCT unnest(grams) AS gram FROM split WHERE NOT is_eval),
    ev AS (SELECT doc_id, unnest(grams) AS gram FROM split WHERE is_eval)
    SELECT ev.doc_id, count(*) AS n_shared_grams
    FROM ev JOIN tr USING (gram) GROUP BY 1
    """,
    doc="The broadcast-bloom decontamination path promised by "
    "ngram_contamination's 100 TB note, now real: train grams fold into "
    "a bit_or-aggregated int64 word array (driver holds ≤ bits/64 "
    "words, never grams), eval grams bloom-test map-side with the SAME "
    "JVM xxhash64 positions, and only survivors reach the exact "
    "semi-join verify.  The oracle is the EXACT contamination SQL — "
    "bloom has no false negatives and the verify removes false "
    "positives, so the approximate plan must reproduce the exact "
    "answer bit-for-bit.",
    tags=("ext", "dedup", "decontamination", "bloom"),
)
def decontaminate_bloom_8gram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fiware_cosmos_orion_flink_connector_examples_spark.functions.hashing import (
        md5int64_seeded,
    )

    docs = load_table(spark, sf_dir, "documents")
    is_eval = F.pmod(md5int64_seeded(F.col("doc_id").cast("string"), "split"), F.lit(20)) == 0
    tagged = docs.withColumn("_is_eval", is_eval)
    return dedup.ngram_contamination_bloom(
        tagged.filter(~F.col("_is_eval")),
        tagged.filter(F.col("_is_eval")),
        "doc_id",
        n=8,
        cache_key=(spark.sparkContext.applicationId, sf_dir),
    )


@register(
    "events_latest_per_user",
    oracle="""
    SELECT user_id,
           arg_max(event_id,
                   lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0')
                     || lpad(CAST(event_id AS VARCHAR), 12, '0')) AS last_event_id,
           arg_max(event_type,
                   lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0')
                     || lpad(CAST(event_id AS VARCHAR), 12, '0')) AS last_event_type,
           round(arg_max(value,
                   lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0')
                     || lpad(CAST(event_id AS VARCHAR), 12, '0')), 6) AS last_value,
           CAST(max(epoch_us(ts)) // 1000000 AS BIGINT) AS last_ts_epoch,
           count(*) AS n_events
    FROM events GROUP BY 1
    """,
    doc="CDC-style compaction / latest-record resolution: one row per "
    "key via max_by (arg-max aggregate) — the upsert-view primitive of "
    "a changelog table, as ONE partial+final aggregation (shuffle "
    "carries a single candidate row per key per partition), not a "
    "row_number window sort.  The ordering key is (ts, event_id) "
    "zero-padded into a string so ties are deterministic on any "
    "engine at any scale.",
    tags=("ext", "compaction", "agg"),
)
def events_latest_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    ord_key = F.concat(
        F.lpad(F.unix_micros(F.col("ts")).cast("string"), 20, "0"),
        F.lpad(F.col("event_id").cast("string"), 12, "0"),
    )
    return ev.groupBy("user_id").agg(
        F.max_by("event_id", ord_key).alias("last_event_id"),
        F.max_by("event_type", ord_key).alias("last_event_type"),
        F.round(F.max_by("value", ord_key), 6).alias("last_value"),
        (F.max(F.unix_micros(F.col("ts"))) / 1_000_000).cast("long").alias("last_ts_epoch"),
        F.count(F.lit(1)).alias("n_events"),
    )


@register(
    "doc_pack_greedy",
    oracle=None,
    doc="Context-window packing: documents table chunks (32-token "
    "windows, stride 24) greedily packed into 256-token packs via "
    "sharded applyInPandas (operators/text.pack_chunks) — greedy "
    "fill-with-reset is sequential, so it shards by doc hash into "
    "independent groups, one Arrow pass each; global pack ids are "
    "(shard, local) composites needing zero coordination.  Rows-only "
    "by nature (the assignment is procedural, not relational); "
    "invariants (budget respected, offsets cumulative, partitioning- "
    "invariant) are pytest-checked.  Reports per-pack fill stats.",
    tags=("ext", "packing", "pandas_udf"),
)
def doc_pack_greedy(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    chunks = text.chunk_documents(docs, size=32, stride=24)
    packed = text.pack_chunks(chunks, ["doc_id", "chunk_idx"], budget=256, shards=64)
    return packed.groupBy("pack_id").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum("n_tokens").alias("pack_tokens"),
        (F.sum("n_tokens") / 256.0).alias("fill_ratio"),
    )


@register(
    "udtf_token_counts",
    oracle=r"""
    WITH ex AS (
      SELECT doc_id, unnest(regexp_extract_all(text, '\S+')) AS token
      FROM documents WHERE doc_id < 40)
    SELECT doc_id, token, CAST(count(*) AS INTEGER) AS n
    FROM ex GROUP BY 1, 2
    """,
    doc="Python UDTF surface (the reference's flatMap analog, "
    "Example1.scala:21): per-doc token histogram via a LATERAL "
    "table-function call registered in the SQL namespace "
    "(functions/udtf.TokenCountsUDTF).  Row-at-a-time Python = slow "
    "path, so the demo runs on a pruned doc_id<40 slice and the "
    "docstring points at the JVM explode+groupBy form for scale; "
    "Python's whitespace split equals the \\S+ tokenizer, which is "
    "what the oracle checks.",
    tags=("ext", "udtf", "python"),
)
def udtf_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fiware_cosmos_orion_flink_connector_examples_spark.functions.udtf import (
        register_udtfs,
    )

    register_udtfs(spark)
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 40)
    docs.select("doc_id", "text").createOrReplaceTempView("v_docs_udtf")
    return spark.sql(
        """
        SELECT d.doc_id, t.token, t.n
        FROM v_docs_udtf d, LATERAL token_counts(d.text) t
        """
    )


@register(
    "text_gopher_rules",
    oracle=r"""
    WITH t AS (
      SELECT doc_id,
             regexp_extract_all(text, '\S+') AS toks,
             string_split(text, chr(10)) AS lines,
             text
      FROM documents WHERE text IS NOT NULL),
    m AS (
      SELECT doc_id,
             CAST(len(toks) AS BIGINT) AS n_words,
             CAST(length(regexp_replace(text, '\s', '', 'g')) AS DOUBLE)
               / greatest(len(toks), 1) AS mwl,
             CAST(len(regexp_extract_all(text, '#|\.\.\.')) AS DOUBLE)
               / greatest(len(toks), 1) AS sym_ratio,
             CAST(len(list_filter(lines, l -> regexp_matches(l, '^[-*•]')))
               AS DOUBLE) / len(lines) AS bullet_ratio,
             CAST(len(list_filter(lines, l -> regexp_matches(l, '\.\.\.$')))
               AS DOUBLE) / len(lines) AS ellipsis_ratio,
             CAST(len(list_filter(toks, w -> regexp_matches(w, '[A-Za-z]')))
               AS DOUBLE) / greatest(len(toks), 1) AS alpha_ratio,
             len(list_distinct(regexp_extract_all(lower(text),
               '\b(the|be|to|of|and|that|have|with)\b'))) AS n_stop_kinds
      FROM t)
    SELECT doc_id, n_words,
           n_words BETWEEN 50 AND 100000 AS pass_word_count,
           mwl BETWEEN 3.0 AND 10.0 AS pass_mean_word_len,
           sym_ratio < 0.1 AS pass_symbol_ratio,
           bullet_ratio < 0.9 AS pass_bullets,
           ellipsis_ratio < 0.3 AS pass_ellipsis,
           alpha_ratio > 0.8 AS pass_alpha_words,
           n_stop_kinds >= 2 AS pass_stopwords,
           (n_words BETWEEN 50 AND 100000) AND (mwl BETWEEN 3.0 AND 10.0)
             AND sym_ratio < 0.1 AND bullet_ratio < 0.9
             AND ellipsis_ratio < 0.3 AND alpha_ratio > 0.8
             AND n_stop_kinds >= 2 AS gopher_pass
    FROM m
    """,
    doc="X4 the Gopher quality rule card (Rae et al. 2021, Appendix "
    "A5 — the rule-based filter most open corpus pipelines replicate "
    "before any model-based stage): per-doc booleans for word count "
    "in [50, 100k], mean word length in [3, 10], symbol-to-word "
    "ratio (#/ellipsis) < 0.1, bullet-started lines < 90%, "
    "ellipsis-ended lines < 30%, >= 80% words containing an "
    "alphabetic char, and >= 2 distinct required stopwords — plus "
    "the conjunctive gopher_pass.  Pure per-row JVM column "
    "expressions (regexp_count / filter / array_distinct): map-only, "
    "ZERO exchanges, fused into one WholeStageCodegen over the scan "
    "(plan-pinned, the text_redact_pii discipline) — at 100 TB this "
    "runs at scan speed and composes under any later stage.",
    tags=("ext", "text", "X4", "quality", "gopher"),
)
def text_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", spread=True).filter(
        F.col("text").isNotNull()
    )
    return text.with_gopher_rules(docs).select(
        "doc_id", *text.GOPHER_RULE_COLS
    )


@register(
    "text_gopher_repetition",
    oracle=r"""
    WITH t AS (
      SELECT doc_id,
             regexp_extract_all(lower(text), '[a-z0-9]+') AS w,
             list_filter(string_split(text, chr(10)), l -> l <> '') AS lines,
             list_filter(string_split(text, chr(10) || chr(10)), p -> p <> '')
               AS paras,
             greatest(length(text), 1) AS tc
      FROM documents WHERE text IS NOT NULL),
    gr AS (
      SELECT doc_id, n,
             unnest(list_transform(range(1, len(w) - n + 2),
                                   i -> array_to_string(w[i:i+n-1], ' ')))
               AS gram
      FROM t, (VALUES (2),(3),(4),(5),(10)) ns(n)
      WHERE len(w) >= n),
    c AS (SELECT doc_id, n, gram, count(*) AS c FROM gr GROUP BY ALL),
    rep AS (
      SELECT doc_id,
             coalesce(max(CASE WHEN n=2 THEN c*length(gram) END), 0) AS top2,
             coalesce(max(CASE WHEN n=3 THEN c*length(gram) END), 0) AS top3,
             coalesce(max(CASE WHEN n=4 THEN c*length(gram) END), 0) AS top4,
             coalesce(sum(CASE WHEN n=5 AND c>=2 THEN c*length(gram) END), 0)
               AS dup5,
             coalesce(sum(CASE WHEN n=10 AND c>=2 THEN c*length(gram) END), 0)
               AS dup10
      FROM c GROUP BY doc_id),
    lm AS (
      SELECT doc_id, tc, len(lines) AS nl, len(paras) AS np,
             len(list_distinct(lines)) AS dl, len(list_distinct(paras)) AS dp,
             coalesce(list_aggregate(list_transform(lines, l -> length(l)),
                                     'sum'), 0) AS lc,
             coalesce(list_aggregate(
               list_transform(list_distinct(lines), l -> length(l)), 'sum'), 0)
               AS dlc,
             coalesce(list_aggregate(list_transform(paras, p -> length(p)),
                                     'sum'), 0) AS pc,
             coalesce(list_aggregate(
               list_transform(list_distinct(paras), p -> length(p)), 'sum'), 0)
               AS dpc
      FROM t),
    f AS (
      SELECT lm.doc_id,
             round(CASE WHEN nl > 0
                        THEN (nl - dl) / CAST(nl AS DOUBLE) ELSE 0.0 END, 6)
               AS dup_line_frac,
             round(CASE WHEN np > 0
                        THEN (np - dp) / CAST(np AS DOUBLE) ELSE 0.0 END, 6)
               AS dup_para_frac,
             round(CASE WHEN lc > 0
                        THEN (lc - dlc) / CAST(lc AS DOUBLE) ELSE 0.0 END, 6)
               AS dup_line_char_frac,
             round(CASE WHEN pc > 0
                        THEN (pc - dpc) / CAST(pc AS DOUBLE) ELSE 0.0 END, 6)
               AS dup_para_char_frac,
             round(coalesce(top2, 0) / CAST(tc AS DOUBLE), 6)
               AS top2gram_char_frac,
             round(coalesce(top3, 0) / CAST(tc AS DOUBLE), 6)
               AS top3gram_char_frac,
             round(coalesce(top4, 0) / CAST(tc AS DOUBLE), 6)
               AS top4gram_char_frac,
             round(coalesce(dup5, 0) / CAST(tc AS DOUBLE), 6)
               AS dup5gram_char_frac,
             round(coalesce(dup10, 0) / CAST(tc AS DOUBLE), 6)
               AS dup10gram_char_frac
      FROM lm LEFT JOIN rep USING (doc_id))
    SELECT doc_id, dup_line_frac, dup_para_frac, dup_line_char_frac,
           dup_para_char_frac, top2gram_char_frac, top3gram_char_frac,
           top4gram_char_frac, dup5gram_char_frac, dup10gram_char_frac,
           dup_line_frac <= 0.30 AS pass_dup_lines,
           dup_para_frac <= 0.30 AS pass_dup_paras,
           dup_line_char_frac <= 0.20 AS pass_dup_line_chars,
           dup_para_char_frac <= 0.20 AS pass_dup_para_chars,
           top2gram_char_frac <= 0.20 AS pass_top2gram,
           top3gram_char_frac <= 0.18 AS pass_top3gram,
           top4gram_char_frac <= 0.16 AS pass_top4gram,
           dup5gram_char_frac <= 0.15 AS pass_dup5gram,
           dup10gram_char_frac <= 0.10 AS pass_dup10gram,
           dup_line_frac <= 0.30 AND dup_para_frac <= 0.30
             AND dup_line_char_frac <= 0.20 AND dup_para_char_frac <= 0.20
             AND top2gram_char_frac <= 0.20 AND top3gram_char_frac <= 0.18
             AND top4gram_char_frac <= 0.16 AND dup5gram_char_frac <= 0.15
             AND dup10gram_char_frac <= 0.10 AS repetition_pass
    FROM f
    """,
    doc="X4 the Gopher REPETITION rule card (Rae et al. 2021, Appendix "
    "A5, table A1 — the other half of the rule filter next to "
    "text_gopher_rules): duplicate line / paragraph fraction (beyond-"
    "first occurrences over non-empty splits), duplicate line / "
    "paragraph CHARACTER fraction, top-{2,3,4}-gram character "
    "coverage, and duplicated-{5,10}-gram character fraction, each "
    "with its published threshold and the conjunctive "
    "repetition_pass.  Top-n coverage is defined as max over grams of "
    "count*len(gram) — the deterministic tie-free variant of 'chars "
    "in the most frequent n-gram' (on count ties Gopher is ambiguous; "
    "max-coverage is order-free on both engines).  The whole card is "
    "computed ROW-LOCALLY: per-doc n-gram frequencies come from "
    "sort_array + run-length encoding with higher-order functions "
    "(filter/zip_with/aggregate over the sorted gram array — F.get "
    "keeps out-of-range probes NULL-safe under ANSI), so the plan is "
    "Scan -> Project with ZERO exchanges, zero Generate, zero Python "
    "(plan-pinned): at 100 TB the entire repetition filter runs at "
    "scan speed, embarrassingly parallel, no shuffle key to skew.  "
    "Integer char counts make every fraction engine-exact before the "
    "single round.",
    tags=("ext", "text", "X4", "quality", "gopher"),
)
def text_gopher_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", spread=True).filter(
        F.col("text").isNotNull()
    )
    # Higher-order lambdas never enter whole-stage codegen (the Project
    # is interpreted), and the duplicated subtrees here sit under CASE
    # WHEN guards — conditional expressions are EXCLUDED from the
    # interpreted subexpression-elimination runtime, so structural
    # duplication is re-evaluated per row.  The layering below
    # materializes each expensive array exactly once per row —
    # CollapseProject keeps multi-referenced non-cheap aliases
    # un-inlined — measured 109.2 -> 94.0 s at 2M docs vs the naive
    # inline form.  The layers are built as SQL strings (selectExpr):
    # the Column/lambda form issued hundreds of py4j round trips per
    # CALL (~0.7 s of pure driver-side plan construction, the whole
    # fixed cost of this zero-exchange query); the string form parses
    # JVM-side — metric rows verified identical, and the DuckDB oracle
    # recomputes every fraction independently (round 17, guide §1.2
    # step 2).
    KS = (2, 3, 4, 5, 10)
    a1 = docs.selectExpr(
        "doc_id",
        "greatest(length(text), 1) AS tc",
        r"filter(split(text, '\n'), l -> l != '') AS lines",
        r"filter(split(text, '\n\n'), p -> p != '') AS paras",
        "regexp_extract_all(lower(text), '[a-z0-9]+', 0) AS toks",
    )

    def grams_sorted(k: int) -> str:
        # Sorted string array of the doc's word k-grams.  An int64
        # (xxhash64(slice), len)-struct variant was measured at 189 s
        # vs 94 s for this form at 2M docs: in the interpreted HOF
        # regime, per-gram struct allocation + two extra lambda folds
        # cost more than the single array_join build + string sort.
        return (
            f"CASE WHEN size(toks) >= {k} THEN "
            f"sort_array(transform(sequence(1, size(toks) - {k - 1}), "
            f"i -> array_join(slice(toks, i, {k}), ' '))) "
            f"ELSE CAST(array() AS array<string>) END AS g{k}"
        )

    _chars = "coalesce(aggregate({a}, 0, (acc, x) -> acc + length(x)), 0)"

    # layer 2: sorted gram arrays + the line/para metrics as INTS
    # (lines/paras die here — their O(lines) folds run once)
    a2 = a1.selectExpr(
        "doc_id",
        "tc",
        "size(lines) AS nl",
        "size(array_distinct(lines)) AS dl",
        _chars.format(a="lines") + " AS lc",
        _chars.format(a="array_distinct(lines)") + " AS dlc",
        "size(paras) AS np",
        "size(array_distinct(paras)) AS dp",
        _chars.format(a="paras") + " AS pc",
        _chars.format(a="array_distinct(paras)") + " AS dpc",
        *[grams_sorted(k) for k in KS],
    )

    # layer 3: run-START positions of each sorted gram array (the
    # O(n)-with-two-gets filter — the priciest interpreted pass, so it
    # must evaluate once, never inline into its three consumers).
    # get() is 0-based and NULL on out-of-range, so the i=1 'previous
    # element' probe is ANSI-safe; the size>0 guard keeps
    # sequence(1, 0)'s DESCENDING surprise out entirely.
    def starts_of(k: int) -> str:
        return (
            f"CASE WHEN size(g{k}) > 0 THEN "
            f"filter(sequence(1, size(g{k})), "
            f"i -> get(g{k}, i - 2) IS NULL"
            f" OR get(g{k}, i - 1) != get(g{k}, i - 2)) "
            f"ELSE CAST(array() AS array<int>) END AS st{k}"
        )

    carry = ["doc_id", "tc", "nl", "dl", "lc", "dlc", "np", "dp", "pc", "dpc"]
    a3 = a2.selectExpr(
        *carry,
        *[f"g{k}" for k in KS],
        *[starts_of(k) for k in KS],
    )

    # layer 4: per-run (count, gram_chars) structs — st/g consumed once
    def runs_of(k: int) -> str:
        nxt = (
            f"CASE WHEN size(st{k}) > 0 THEN "
            f"concat(slice(st{k}, 2, size(st{k}) - 1), array(size(g{k}) + 1)) "
            f"ELSE CAST(array() AS array<int>) END"
        )
        return (
            f"zip_with(st{k}, {nxt}, "
            f"(a, b) -> struct(b - a AS c, length(get(g{k}, a - 1)) AS len))"
            f" AS r{k}"
        )

    a4 = a3.selectExpr(*carry, *[runs_of(k) for k in KS])

    # layer 5: scalars.  top-coverage = max over runs of c*len (single
    # reference each — collapsing into this Project duplicates nothing)
    def top_of(k: int) -> str:
        return f"coalesce(array_max(transform(r{k}, x -> x.c * x.len)), 0)"

    def dup_of(k: int) -> str:
        return (
            f"aggregate(r{k}, 0, (acc, x) -> acc + "
            f"CASE WHEN x.c >= 2 THEN x.c * x.len ELSE 0 END)"
        )

    def frac(num: str, den: str) -> str:
        return (
            f"round(CASE WHEN {den} > 0 THEN CAST({num} AS DOUBLE) / "
            f"CAST({den} AS DOUBLE) ELSE 0.0D END, 6)"
        )

    a5 = a4.selectExpr(
        "doc_id",
        frac("nl - dl", "nl") + " AS dup_line_frac",
        frac("np - dp", "np") + " AS dup_para_frac",
        frac("lc - dlc", "lc") + " AS dup_line_char_frac",
        frac("pc - dpc", "pc") + " AS dup_para_char_frac",
        f"round({top_of(2)} / CAST(tc AS DOUBLE), 6) AS top2gram_char_frac",
        f"round({top_of(3)} / CAST(tc AS DOUBLE), 6) AS top3gram_char_frac",
        f"round({top_of(4)} / CAST(tc AS DOUBLE), 6) AS top4gram_char_frac",
        f"round({dup_of(5)} / CAST(tc AS DOUBLE), 6) AS dup5gram_char_frac",
        f"round({dup_of(10)} / CAST(tc AS DOUBLE), 6) AS dup10gram_char_frac",
    )
    passes = {
        "pass_dup_lines": F.col("dup_line_frac") <= 0.30,
        "pass_dup_paras": F.col("dup_para_frac") <= 0.30,
        "pass_dup_line_chars": F.col("dup_line_char_frac") <= 0.20,
        "pass_dup_para_chars": F.col("dup_para_char_frac") <= 0.20,
        "pass_top2gram": F.col("top2gram_char_frac") <= 0.20,
        "pass_top3gram": F.col("top3gram_char_frac") <= 0.18,
        "pass_top4gram": F.col("top4gram_char_frac") <= 0.16,
        "pass_dup5gram": F.col("dup5gram_char_frac") <= 0.15,
        "pass_dup10gram": F.col("dup10gram_char_frac") <= 0.10,
    }
    all_pass = None
    for c in passes.values():
        all_pass = c if all_pass is None else (all_pass & c)
    return a5.select(
        "*",
        *[c.alias(n) for n, c in passes.items()],
        all_pass.alias("repetition_pass"),
    )


@register(
    "text_c4_rules",
    oracle=r"""
    WITH t AS (
      SELECT doc_id, text, string_split(text, chr(10)) AS lines
      FROM documents WHERE text IS NOT NULL),
    k AS (
      SELECT doc_id, text, len(lines) AS n_lines,
             list_filter(lines, l ->
               regexp_matches(rtrim(l), '[.!?"]$')
               AND len(regexp_extract_all(l, '\S+')) >= 5
               AND NOT contains(lower(l), 'javascript')) AS kept,
             coalesce(list_aggregate(list_transform(lines,
               l -> length(l)), 'sum'), 0) AS line_chars
      FROM t),
    m AS (
      SELECT doc_id, n_lines,
             CAST(len(kept) AS BIGINT) AS n_lines_kept,
             coalesce(list_aggregate(list_transform(kept,
               l -> len(regexp_extract_all(l, '[.!?]'))), 'sum'), 0)
               AS n_sentences,
             coalesce(list_aggregate(list_transform(kept,
               l -> length(l)), 'sum'), 0) AS kept_chars,
             line_chars,
             contains(lower(text), 'lorem ipsum') AS has_lorem_ipsum,
             contains(text, '{') AS has_curly_brace
      FROM k)
    SELECT doc_id, CAST(n_lines AS BIGINT) AS n_lines, n_lines_kept,
           CAST(n_sentences AS BIGINT) AS n_sentences,
           round(CASE WHEN line_chars > 0
                      THEN kept_chars / CAST(line_chars AS DOUBLE)
                      ELSE 0.0 END, 6) AS kept_char_frac,
           has_lorem_ipsum, has_curly_brace,
           n_sentences >= 3 AND NOT has_lorem_ipsum AND NOT has_curly_brace
             AS c4_keep
    FROM m
    """,
    doc="X4 the C4 cleaning rule card (Raffel et al. 2020 §2.2 — the "
    "line-level filter behind the Colossal Clean Crawled Corpus): a "
    "line survives iff it ends in terminal punctuation ([.!?\"] after "
    "rtrim), has >= 5 words, and does not mention 'javascript'; the "
    "page survives (c4_keep) iff the kept lines contain >= 3 "
    "sentence-final marks and the page has neither 'lorem ipsum' nor "
    "a curly brace (code).  Emits per-doc counts, the kept-character "
    "fraction, and the page verdict.  (C4's remaining rule — the "
    "three-sentence-span dedup — is the registered span_dedup_removed "
    "family.)  Entirely row-local higher-order-function work over the "
    "line split: Scan -> Project, ZERO exchanges / Generate / Python "
    "(plan-pinned) — scan-speed at 100 TB, and the kept-lines array "
    "is exactly what a rewrite stage would re-join with chr(10).",
    tags=("ext", "text", "X4", "quality", "c4"),
)
def text_c4_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    return text.with_c4_rules(docs).select("doc_id", *text.C4_RULE_COLS)


@register(
    "line_dedup_removed",
    oracle=r"""
    WITH t AS (SELECT doc_id, text FROM documents WHERE text IS NOT NULL),
    ls AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM t),
    l AS (SELECT doc_id,
                 unnest([{'pos': i - 1, 'norm': trim(ls[i])}
                         for i in range(1, len(ls) + 1)],
                        recursive := true)
          FROM ls),
    ne AS (SELECT doc_id, pos, norm FROM l WHERE norm <> ''),
    k AS (SELECT doc_id, pos, norm,
                 row_number() OVER (PARTITION BY norm
                                    ORDER BY doc_id, pos) AS rn
          FROM ne),
    agg AS (SELECT doc_id, count(*) AS n_kept,
                   md5(string_agg(norm, chr(10) ORDER BY pos)) AS clean_md5
            FROM k WHERE rn = 1 GROUP BY 1),
    tot AS (SELECT doc_id, count(*) AS n_lines FROM ne GROUP BY 1)
    SELECT t.doc_id,
           CAST(coalesce(tot.n_lines, 0) AS BIGINT) AS n_lines,
           CAST(coalesce(tot.n_lines, 0) - coalesce(agg.n_kept, 0) AS BIGINT)
             AS n_removed,
           coalesce(agg.clean_md5, md5('')) AS clean_md5
    FROM t LEFT JOIN tot USING (doc_id) LEFT JOIN agg USING (doc_id)
    """,
    doc="X2 corpus-wide duplicate-LINE removal — the CCNet hash-dedup "
    "first stage (Wenzek et al. 2020 §3.1: every copy of a normalized "
    "line beyond the corpus-first occurrence is dropped; kills "
    "headers / cookie banners / nav boilerplate before any "
    "model-based filter): dedup.remove_duplicate_lines, "
    "first-(doc_id,pos)-wins, trim() normalization, md5 of the "
    "position-order re-joined survivors so the driver pins the full "
    "cleaned text per doc.  Scale shape: min(struct(id,pos)) is a "
    "partial-aggable AGG (not a per-line window) so the hot "
    "boilerplate line collapses map-side; the join back is an "
    "equi-join AQE can skew-split — the skew case here IS the common "
    "case, which is why this deliberately inverts "
    "remove_repeated_spans' posting-window choice.",
    tags=("ext", "dedup", "X2", "lines"),
)
def line_dedup_removed(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    out = dedup.remove_duplicate_lines(docs, "doc_id", "text")
    return out.select(
        "doc_id",
        "n_lines",
        "n_removed",
        F.md5(F.col("text_clean")).alias("clean_md5"),
    )


@register(
    "rules_pass_rates",
    oracle=r"""
    WITH t AS (
      SELECT lang, source,
             regexp_extract_all(text, '\S+') AS toks,
             string_split(text, chr(10)) AS lines,
             text
      FROM documents WHERE text IS NOT NULL),
    m AS (
      SELECT lang, source,
             CAST(len(toks) AS BIGINT) AS n_words,
             CAST(length(regexp_replace(text, '\s', '', 'g')) AS DOUBLE)
               / greatest(len(toks), 1) AS mwl,
             CAST(len(regexp_extract_all(text, '#|\.\.\.')) AS DOUBLE)
               / greatest(len(toks), 1) AS sym_ratio,
             CAST(len(list_filter(lines, l -> regexp_matches(l, '^[-*•]')))
               AS DOUBLE) / len(lines) AS bullet_ratio,
             CAST(len(list_filter(lines, l -> regexp_matches(l, '\.\.\.$')))
               AS DOUBLE) / len(lines) AS ellipsis_ratio,
             CAST(len(list_filter(toks, w -> regexp_matches(w, '[A-Za-z]')))
               AS DOUBLE) / greatest(len(toks), 1) AS alpha_ratio,
             len(list_distinct(regexp_extract_all(lower(text),
               '\b(the|be|to|of|and|that|have|with)\b'))) AS n_stop_kinds,
             (coalesce(list_aggregate(list_transform(
                 list_filter(lines, x ->
                   regexp_matches(rtrim(x), '[.!?"]$')
                   AND len(regexp_extract_all(x, '\S+')) >= 5
                   AND NOT contains(lower(x), 'javascript')),
                 x -> len(regexp_extract_all(x, '[.!?]'))), 'sum'), 0) >= 3)
             AND NOT contains(lower(text), 'lorem ipsum')
             AND NOT contains(text, '{') AS c4_keep
      FROM t),
    b AS (
      SELECT lang, source,
             n_words BETWEEN 50 AND 100000 AS p_wc,
             mwl BETWEEN 3.0 AND 10.0 AS p_mwl,
             sym_ratio < 0.1 AS p_sym,
             bullet_ratio < 0.9 AS p_bul,
             ellipsis_ratio < 0.3 AS p_ell,
             alpha_ratio > 0.8 AS p_alpha,
             n_stop_kinds >= 2 AS p_stop,
             c4_keep
      FROM m)
    SELECT lang, source, count(*) AS n_docs,
           round(avg(CASE WHEN p_wc THEN 1 ELSE 0 END), 6)
             AS rate_word_count,
           round(avg(CASE WHEN p_mwl THEN 1 ELSE 0 END), 6)
             AS rate_mean_word_len,
           round(avg(CASE WHEN p_sym THEN 1 ELSE 0 END), 6)
             AS rate_symbol_ratio,
           round(avg(CASE WHEN p_bul THEN 1 ELSE 0 END), 6)
             AS rate_bullets,
           round(avg(CASE WHEN p_ell THEN 1 ELSE 0 END), 6)
             AS rate_ellipsis,
           round(avg(CASE WHEN p_alpha THEN 1 ELSE 0 END), 6)
             AS rate_alpha_words,
           round(avg(CASE WHEN p_stop THEN 1 ELSE 0 END), 6)
             AS rate_stopwords,
           round(avg(CASE WHEN p_wc AND p_mwl AND p_sym AND p_bul AND p_ell
                          AND p_alpha AND p_stop THEN 1 ELSE 0 END), 6)
             AS rate_gopher_pass,
           round(avg(CASE WHEN c4_keep THEN 1 ELSE 0 END), 6)
             AS rate_c4_keep
    FROM b GROUP BY 1, 2
    """,
    doc="X4 per-rule pass-rate report — the filter-tuning table the "
    "Gopher/CCNet papers publish (per-source hit rate of EVERY rule, "
    "so a threshold change is simulated from the report without a "
    "corpus re-scan; the rate each rule REMOVES is 1-rate): the "
    "shared with_gopher_rules / with_c4_rules transformers, one "
    "map-only projection, ONE (lang, source) hash-agg — avg over 0/1 "
    "ints is an exact rational both engines round identically.  At "
    "100 TB: the shuffle carries |lang × source| partial rows, "
    "nothing doc-scale.",
    tags=("ext", "text", "X4", "quality", "report"),
)
def rules_pass_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    carded = text.with_c4_rules(text.with_gopher_rules(docs))
    name_map = {
        "rate_word_count": "pass_word_count",
        "rate_mean_word_len": "pass_mean_word_len",
        "rate_symbol_ratio": "pass_symbol_ratio",
        "rate_bullets": "pass_bullets",
        "rate_ellipsis": "pass_ellipsis",
        "rate_alpha_words": "pass_alpha_words",
        "rate_stopwords": "pass_stopwords",
        "rate_gopher_pass": "gopher_pass",
        "rate_c4_keep": "c4_keep",
    }
    return carded.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        *[
            F.round(F.avg(F.col(src).cast("int")), 6).alias(out)
            for out, src in name_map.items()
        ],
    )


@register(
    "line_dedup_incremental",
    oracle=r"""
    WITH t AS (SELECT doc_id, text FROM documents WHERE text IS NOT NULL),
    nw AS (SELECT doc_id, text FROM t WHERE doc_id % 10 = 0),
    old_ls AS (SELECT string_split(text, chr(10)) AS ls FROM t
               WHERE doc_id % 10 <> 0),
    old_ix AS (SELECT DISTINCT trim(x.l) AS norm
               FROM old_ls, unnest(old_ls.ls) AS x(l)
               WHERE trim(x.l) <> ''),
    ls AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM nw),
    l AS (SELECT doc_id,
                 unnest([{'pos': i - 1, 'norm': trim(ls[i])}
                         for i in range(1, len(ls) + 1)],
                        recursive := true)
          FROM ls),
    ne AS (SELECT doc_id, pos, norm FROM l WHERE norm <> ''),
    k AS (SELECT doc_id, pos, norm,
                 row_number() OVER (PARTITION BY norm
                                    ORDER BY doc_id, pos) AS rn
          FROM ne),
    kept AS (SELECT doc_id, pos, norm FROM k
             WHERE rn = 1
               AND NOT EXISTS (SELECT 1 FROM old_ix
                               WHERE old_ix.norm = k.norm)),
    agg AS (SELECT doc_id, count(*) AS n_kept,
                   md5(string_agg(norm, chr(10) ORDER BY pos)) AS clean_md5
            FROM kept GROUP BY 1),
    tot AS (SELECT doc_id, count(*) AS n_lines FROM ne GROUP BY 1)
    SELECT nw.doc_id,
           CAST(coalesce(tot.n_lines, 0) AS BIGINT) AS n_lines,
           CAST(coalesce(tot.n_lines, 0) - coalesce(agg.n_kept, 0) AS BIGINT)
             AS n_removed,
           coalesce(agg.clean_md5, md5('')) AS clean_md5
    FROM nw LEFT JOIN tot USING (doc_id) LEFT JOIN agg USING (doc_id)
    """,
    doc="X2 INCREMENTAL line dedup — the daily-ingest production shape "
    "(dedup_incremental_batch's pattern at line granularity, CCNet's "
    "re-ingest mode): every 10th doc plays the 'new batch'; a new "
    "line occurrence survives iff it appears in NO old doc (the "
    "immutable line index — ONE distinct agg standing in for the "
    "stored index) and is the first (doc_id, pos) within the batch.  "
    "History filtering is a LEFT ANTI equi-join of batch postings "
    "against the index — O(batch × df) per ingest, never a corpus "
    "re-join; the within-batch keep rule is the same partial-aggable "
    "min(struct) agg as the full pass.  md5-pinned cleaned text.",
    tags=("ext", "dedup", "X2", "lines", "incremental"),
)
def line_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    new = docs.filter(F.col("doc_id") % 10 == 0)
    old = docs.filter(F.col("doc_id") % 10 != 0)
    out = dedup.remove_duplicate_lines_incremental(new, old, "doc_id", "text")
    return out.select(
        "doc_id",
        "n_lines",
        "n_removed",
        F.md5(F.col("text_clean")).alias("clean_md5"),
    )


@register(
    "corpus_curate_rules",
    oracle=r"""
    WITH t AS (SELECT doc_id, lang, source, text FROM documents
               WHERE text IS NOT NULL),
    ls AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM t),
    l AS (SELECT doc_id,
                 unnest([{'pos': i - 1, 'norm': trim(ls[i])}
                         for i in range(1, len(ls) + 1)],
                        recursive := true)
          FROM ls),
    ne AS (SELECT doc_id, pos, norm FROM l WHERE norm <> ''),
    k AS (SELECT doc_id, pos, norm,
                 row_number() OVER (PARTITION BY norm
                                    ORDER BY doc_id, pos) AS rn
          FROM ne),
    cl AS (SELECT doc_id, string_agg(norm, chr(10) ORDER BY pos) AS ct
           FROM k WHERE rn = 1 GROUP BY 1),
    d AS (SELECT t.doc_id, t.lang, t.source, coalesce(cl.ct, '') AS ct
          FROM t LEFT JOIN cl USING (doc_id)),
    m AS (SELECT doc_id, lang, source, ct,
                 regexp_extract_all(ct, '\S+') AS toks,
                 string_split(ct, chr(10)) AS clines
          FROM d),
    g AS (SELECT doc_id, lang, source, ct,
                 CAST(len(toks) AS BIGINT) AS n_words,
                 (len(toks) BETWEEN 50 AND 100000)
                 AND (length(regexp_replace(ct, '\s', '', 'g'))
                      / CAST(greatest(len(toks), 1) AS DOUBLE)
                      BETWEEN 3.0 AND 10.0)
                 AND (len(regexp_extract_all(ct, '#|\.\.\.'))
                      / CAST(greatest(len(toks), 1) AS DOUBLE) < 0.1)
                 AND (len(list_filter(clines, x -> regexp_matches(x, '^[-*•]')))
                      / CAST(len(clines) AS DOUBLE) < 0.9)
                 AND (len(list_filter(clines, x -> regexp_matches(x, '\.\.\.$')))
                      / CAST(len(clines) AS DOUBLE) < 0.3)
                 AND (len(list_filter(toks, w -> regexp_matches(w, '[A-Za-z]')))
                      / CAST(greatest(len(toks), 1) AS DOUBLE) > 0.8)
                 AND (len(list_distinct(regexp_extract_all(lower(ct),
                      '\b(the|be|to|of|and|that|have|with)\b'))) >= 2)
                   AS gopher_pass,
                 (coalesce(list_aggregate(list_transform(
                     list_filter(clines, x ->
                       regexp_matches(rtrim(x), '[.!?"]$')
                       AND len(regexp_extract_all(x, '\S+')) >= 5
                       AND NOT contains(lower(x), 'javascript')),
                     x -> len(regexp_extract_all(x, '[.!?]'))), 'sum'), 0)
                   >= 3)
                 AND NOT contains(lower(ct), 'lorem ipsum')
                 AND NOT contains(ct, '{') AS c4_keep
          FROM m)
    SELECT lang, source,
           count(*) AS n_docs,
           CAST(sum(CASE WHEN ct <> '' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_nonempty,
           CAST(sum(CASE WHEN gopher_pass AND c4_keep THEN 1 ELSE 0 END)
             AS BIGINT) AS n_pass,
           CAST(sum(CASE WHEN gopher_pass AND c4_keep THEN n_words ELSE 0 END)
             AS BIGINT) AS words_kept
    FROM g GROUP BY 1, 2
    """,
    doc="Rule-based curation capstone — the CCNet/Gopher FRONT-END in "
    "composition order (dedup lines FIRST, then rule-filter the "
    "cleaned text, exactly as Wenzek et al. run it): corpus-wide "
    "duplicate-line removal (dedup.remove_duplicate_lines), then the "
    "Gopher + C4 rule cards evaluated ON THE CLEANED TEXT "
    "(text.with_gopher_rules / with_c4_rules — the same transformers "
    "the standalone queries and the streaming gate use), aggregated "
    "to per-(lang, source) counts: docs in, docs surviving dedup "
    "non-empty, docs passing both cards, and words kept — the "
    "mixture-planning table a data engineer actually reads.  The "
    "DuckDB oracle re-derives the ENTIRE chain (line dedup, cleaned "
    "re-assembly, every rule boolean) independently.  Scale shape: "
    "the line-dedup shuffles (partial-agg min + AQE-splittable join), "
    "one doc-keyed join to re-attach (lang, source), the cards as "
    "map-only column work, ONE final (lang, source) agg — nothing "
    "new beyond the already-smoked components.",
    tags=("ext", "pipeline", "capstone", "quality", "dedup"),
)
def corpus_curate_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    clean = dedup.remove_duplicate_lines(docs, "doc_id", "text")
    # select only (doc_id, text_clean) before the cards: the dedup
    # output's n_lines would collide with the C4 card's n_lines
    # (different semantics — AMBIGUOUS_REFERENCE trap for any later
    # column addition)
    enriched = clean.select("doc_id", "text_clean").join(
        docs.select("doc_id", "lang", "source"), "doc_id"
    )
    carded = text.with_c4_rules(
        text.with_gopher_rules(enriched, "text_clean"), "text_clean"
    )
    flags = carded.select(
        "lang",
        "source",
        (F.col("text_clean") != "").alias("_nonempty"),
        F.col("n_words").alias("_n_words"),
        (F.col("gopher_pass") & F.col("c4_keep")).alias("_ok"),
    )
    return flags.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("_nonempty").cast("long")).alias("n_nonempty"),
        F.sum(F.col("_ok").cast("long")).alias("n_pass"),
        F.sum(F.when(F.col("_ok"), F.col("_n_words")).otherwise(F.lit(0)))
        .cast("long")
        .alias("words_kept"),
    )


@register(
    "text_repetition_topk",
    oracle=r"""
    WITH toks AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS t FROM documents),
    g AS (SELECT doc_id,
                 [t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                  for i in range(1, len(t) - 1)] AS grams
          FROM toks)
    SELECT doc_id, CAST(len(grams) AS BIGINT) AS n_grams,
           round(1.0 - CAST(len(list_distinct(grams)) AS DOUBLE) / len(grams), 6)
             AS rep_ratio
    FROM g WHERE len(grams) > 0
    ORDER BY rep_ratio DESC, doc_id LIMIT 50
    """,
    doc="X4 intra-document repetition (a Gopher-rules quality signal): "
    "1 − distinct/total 3-grams per doc, top-50 most repetitive.  Pure "
    "per-row array expressions + TakeOrderedAndProject — no shuffle "
    "except the k-row ordered collect; the duplicate-line/paragraph "
    "filter every pretraining cleanup pass runs.",
    tags=("ext", "text", "X4", "quality"),
)
def text_repetition_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", spread=True)
    grams = dedup.shingles("text", 3, distinct=False)
    base = docs.select(
        "doc_id",
        F.size(grams).cast("long").alias("n_grams"),
        F.round(
            1.0 - F.size(F.array_distinct(grams)).cast("double") / F.size(grams), 6
        ).alias("rep_ratio"),
    )
    return (
        base.filter(F.col("n_grams") > 0)
        .orderBy(F.desc("rep_ratio"), F.asc("doc_id"))
        .limit(50)
    )


@register(
    "embedding_label_centroids",
    oracle="""
    WITH e AS (SELECT label, unnest(embedding) AS x,
                      generate_subscripts(embedding, 1) AS dim
               FROM embeddings)
    SELECT label, CAST(dim AS INTEGER) AS dim,
           CAST(sum(CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS BIGINT)
             AS sum_micros,
           count(*) AS n
    FROM e GROUP BY 1, 2
    """,
    doc="Per-label centroid accumulation (the clustering-eval / "
    "class-prototype primitive): posexplode the embedding column and "
    "hash-aggregate per (label, dim) in exact integer micro-units — "
    "float summation is order-dependent across engines, integers are "
    "not (the _revenue_cents discipline applied to vectors).  Map-side "
    "partial agg means the shuffle carries labels × dims rows, not the "
    "corpus; consumers divide sum_micros/n/1e6 for the centroid.",
    tags=("ext", "embedding", "agg"),
)
def embedding_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    ex = emb.select(
        "label", F.posexplode(F.col("embedding")).alias("pos", "x")
    )
    return (
        ex.groupBy("label", (F.col("pos") + 1).cast("int").alias("dim"))
        .agg(
            F.sum(F.round(F.col("x").cast("double") * 1_000_000).cast("long")).alias(
                "sum_micros"
            ),
            F.count(F.lit(1)).alias("n"),
        )
    )


@register(
    "stats_exact_moments",
    oracle="""
    WITH m AS (SELECT event_type,
                      CAST(round(value * 1000000) AS BIGINT) AS x,
                      user_id AS y
               FROM events),
    s AS (SELECT event_type,
                 count(*) AS n,
                 CAST(sum(CAST(x AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sx,
                 CAST(sum(CAST(x AS DECIMAL(38,0)) * CAST(x AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sxx,
                 CAST(sum(CAST(y AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sy,
                 CAST(sum(CAST(y AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS syy,
                 CAST(sum(CAST(x AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sxy
          FROM m GROUP BY 1)
    SELECT event_type, n,
           round(CAST(sx AS DOUBLE) / n / 1000000.0, 6) AS mean_value,
           round(sqrt((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n) / n)
                 / 1000000.0, 6) AS stddev_pop,
           round((CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / n)
                 / (sqrt(CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n)
                    * sqrt(CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / n)),
                 6) AS corr_value_user
    FROM s
    """,
    doc="Statistical moments (mean / population stddev / Pearson corr) "
    "computed DETERMINISTICALLY across engines: built-in stddev/corr "
    "accumulate floats in partition order, so their low digits differ "
    "run to run and engine to engine — instead the exact integer "
    "micro-unit sums (n, Σx, Σx², Σy, Σy², Σxy) accumulate as "
    "DECIMAL(38,0) (summation-order-free), and each moment is ONE "
    "closed-form float expression at the end.  Same partial+final agg "
    "shape and shuffle cost as the float version; the moment-sum trick "
    "is also how you'd merge per-shard stats at 100 TB.",
    tags=("ext", "stats", "agg"),
)
def stats_exact_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    x = F.round(F.col("value") * 1_000_000).cast("long").cast("decimal(38,0)")
    y = F.col("user_id").cast("decimal(38,0)")
    s = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).cast("decimal(38,0)").alias("sx"),
        F.sum(x * x).cast("decimal(38,0)").alias("sxx"),
        F.sum(y).cast("decimal(38,0)").alias("sy"),
        F.sum(y * y).cast("decimal(38,0)").alias("syy"),
        F.sum(x * y).cast("decimal(38,0)").alias("sxy"),
    )
    sx, sxx = F.col("sx").cast("double"), F.col("sxx").cast("double")
    sy, syy = F.col("sy").cast("double"), F.col("syy").cast("double")
    sxy, n = F.col("sxy").cast("double"), F.col("n")
    return s.select(
        "event_type",
        "n",
        F.round(sx / n / 1_000_000.0, 6).alias("mean_value"),
        F.round(F.sqrt((sxx - sx * sx / n) / n) / 1_000_000.0, 6).alias("stddev_pop"),
        F.round(
            (sxy - sx * sy / n)
            / (F.sqrt(sxx - sx * sx / n) * F.sqrt(syy - sy * sy / n)),
            6,
        ).alias("corr_value_user"),
    )


@register(
    "text_unigram_logprob",
    oracle=r"""
    WITH ex AS (SELECT unnest(regexp_extract_all(text, '\S+')) AS tok FROM documents),
    freq AS (SELECT tok, count(*) AS c FROM ex GROUP BY 1),
    model AS (SELECT map(list(tok), list(c)) AS m, sum(c) AS n FROM freq),
    scored AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS t FROM documents)
    SELECT doc_id,
           CAST(len(t) AS BIGINT) AS n_tokens,
           round(list_aggregate(
                   list_transform(t, tok -> ln(CAST(m[tok][1] AS DOUBLE) / n)),
                   'sum') / len(t), 6) AS avg_logprob
    FROM scored CROSS JOIN model
    WHERE len(t) > 0
    """,
    doc="X4 unigram language-model scoring (the CCNet/KenLM-style "
    "perplexity-proxy quality filter): per-doc mean ln p(token) under "
    "the corpus unigram model.  operators/text.unigram_logprob "
    "auto-selects the physical strategy by |vocab|: a driver-collected "
    "create_map literal + sequential F.aggregate fold below 10k terms "
    "(31 on this corpus — one job, no second shuffle), or the open-"
    "vocab path above it — posexplode → token→logprob model join "
    "(broadcast or shuffle, Catalyst's call) → sort_array(collect_list("
    "struct(pos, lp))) ordered re-fold, which preserves the exact "
    "left-to-right float summation so both paths and the DuckDB "
    "list_aggregate oracle hash identically (equality pytest-forced "
    "at threshold 0 plus a 100k-term synthetic vocab run).",
    tags=("ext", "text", "X4", "quality", "lm"),
)
def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text.unigram_logprob(docs)


@register(
    "ann_topk_pq",
    oracle=None,  # PQ codebook internals aren't ANSI-SQL-expressible;
    # rows-only here — recall vs the oracle-checked brute force is
    # verified in tests/test_ext_operators.py::test_pq_recall_vs_bruteforce
    doc="X3 compressed-index path: product quantization (FAISS "
    "IndexPQ shape) — 32 subspaces × 256 codewords trained on the "
    "bounded hash-sample, corpus encoded to 32 one-byte codes per "
    "vector in one Arrow pass (16× compression; the full-precision "
    "corpus is never touched at query time), queries scored via ADC "
    "lookup tables, then an exact re-rank of the 4k-candidate "
    "shortlist (ADC prunes, exact decides).  VERDICT r2 #6: the m/k "
    "sweep (offline numpy study) moved RAW ADC recall@10 from "
    "0.64/0.50 (m=16 k=64) to 0.93/0.94 (m=32 k=256) at sf0.01/sf0.1 "
    "— finer 2-dim subspaces carry far more of the near-random "
    "corpus's signal than wider ones; mean-centering and L2-"
    "pre-normalization measured no effect (vectors ship unit-norm).  "
    "Codebooks are trained once per (session, corpus) via the shared "
    "quantizer cache.",
    tags=("ext", "similarity", "X3", "pq"),
)
def ann_topk_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    books = similarity.pq_train(
        emb,
        m=32,
        k=256,
        cache_key=(spark.sparkContext.applicationId, sf_dir, "embeddings"),
    )
    qs = emb.filter(F.col("vec_id") < 8)
    return similarity.topk_cosine_pq(emb, qs, books, k=5, rerank=4)


@register(
    "ann_topk_pq_batch",
    oracle=None,  # PQ internals rows-only, like ann_topk_pq; the strong
    # check is tests/test_ext_operators.py::test_pq_batch_matches_serving_path
    # (bit-equality with the serving path for rerank 0 and 4)
    doc="X3 batch-join PQ search (VERDICT r4 #5): identical contract to "
    "ann_topk_pq but the ADC tables are built EXECUTOR-side in a "
    "mapInPandas over the query DataFrame (codebooks ride the task "
    "closure; nothing query-sized serializes through the driver) and "
    "scoring is a query×corpus grid cogroup whose cells emit rounded-"
    "top-R-safe shortlists — the 10⁶-query-batch shape.  Same 64-query "
    "set as ann_topk_filtered so the two paths' rows can be eyeballed "
    "against each other in the driver artifact.",
    tags=("ext", "similarity", "X3", "pq", "batch"),
)
def ann_topk_pq_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    books = similarity.pq_train(
        emb,
        m=32,
        k=256,
        cache_key=(spark.sparkContext.applicationId, sf_dir, "embeddings"),
    )
    qs = emb.filter(F.col("vec_id") < 64)
    return similarity.topk_cosine_pq_batch(emb, qs, books, k=5, rerank=4)


@register(
    "span_dedup_repeated_8gram",
    oracle=r"""
    WITH toks AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS t FROM documents),
    g AS (SELECT doc_id,
                 unnest([array_to_string(t[i:i+7], ' ')
                         for i in range(1, len(t) - 6)]) AS gram
          FROM toks),
    firsts AS (SELECT gram, min(doc_id) AS first_doc FROM g GROUP BY 1)
    SELECT g.doc_id,
           count(*) AS n_spans,
           CAST(sum(CASE WHEN firsts.first_doc < g.doc_id THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_spans,
           round(CAST(sum(CASE WHEN firsts.first_doc < g.doc_id THEN 1 ELSE 0 END) AS DOUBLE)
                 / count(*), 4) AS dup_frac
    FROM g JOIN firsts USING (gram)
    GROUP BY 1
    """,
    doc="X2 span-level dedup report — the whole-word-gram approximation "
    "of ExactSubstr suffix dedup (Lee et al. 2022): every positional "
    "8-gram occurrence already present in a lower-id doc is a duplicate "
    "span (first-occurrence-wins).  Per-doc totals + duplicate "
    "fraction.  One per-gram min(doc_id) agg (map-side partial) + one "
    "gram equi-join — occurrences, never doc×doc; boilerplate span "
    "skew lands on the gram hash where AQE splits it.",
    tags=("ext", "dedup", "X2", "span"),
)
def span_dedup_repeated_8gram(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.repeated_span_report(docs, "doc_id", "text", n=8)


@register(
    "span_dedup_removed",
    oracle=r"""
    WITH toks AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS t FROM documents),
    tok AS (SELECT doc_id,
                   unnest([{'pos': i - 1, 'tok': t[i]}
                           for i in range(1, len(t) + 1)], recursive := true)
            FROM toks),
    g AS (SELECT doc_id,
                 unnest([{'pos': i - 1, 'gram': array_to_string(t[i:i+7], ' ')}
                         for i in range(1, len(t) - 6)], recursive := true)
          FROM toks),
    firsts AS (SELECT gram, min(doc_id) AS first_doc FROM g GROUP BY 1),
    dup AS (SELECT g.doc_id, g.pos FROM g JOIN firsts USING (gram)
            WHERE firsts.first_doc < g.doc_id),
    removed AS (SELECT DISTINCT doc_id, pos + k AS pos
                FROM dup, range(0, 8) r(k)),
    kept AS (SELECT tok.doc_id, tok.pos, tok.tok
             FROM tok LEFT JOIN removed USING (doc_id, pos)
             WHERE removed.pos IS NULL),
    agg AS (SELECT doc_id, count(*) AS n_kept,
                   md5(string_agg(tok, ' ' ORDER BY pos)) AS clean_md5
            FROM kept GROUP BY 1),
    tot AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens FROM toks)
    SELECT tot.doc_id, tot.n_tokens,
           CAST(tot.n_tokens - coalesce(agg.n_kept, 0) AS BIGINT) AS n_removed,
           coalesce(agg.clean_md5, md5('')) AS clean_md5
    FROM tot LEFT JOIN agg USING (doc_id)
    """,
    doc="X2 span-level dedup REMOVAL (VERDICT r5 #2 — the actual "
    "ExactSubstr use case, Lee et al. 2022): cut every token covered "
    "by a positional 8-gram already present in a lower-id doc and "
    "re-join the survivors in position order; the span survives in "
    "exactly its first document.  Registered output hashes the cleaned "
    "text (md5) alongside exact before/removed token counts, so the "
    "driver artifact pins the full cleaned string per doc while "
    "staying small.  Same posting-window dup detection as the report; "
    "the extra removal stages (span→position explode, anti-join, "
    "position-ordered re-assembly) shuffle only duplicate-span-scale "
    "rows + two doc-keyed token-scale exchanges.",
    tags=("ext", "dedup", "X2", "span"),
)
def span_dedup_removed(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", spread=True)
    out = dedup.remove_repeated_spans(docs, "doc_id", "text", n=8)
    return out.select(
        "doc_id",
        "n_tokens",
        "n_removed",
        F.md5(F.col("text_clean")).alias("clean_md5"),
    )


@register(
    "span_dedup_removed_run50",
    oracle=r"""
    WITH toks AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS t FROM documents),
    tok AS (SELECT doc_id,
                   unnest([{'pos': i - 1, 'tok': t[i]}
                           for i in range(1, len(t) + 1)], recursive := true)
            FROM toks),
    g AS (SELECT doc_id,
                 unnest([{'pos': i - 1, 'gram': array_to_string(t[i:i+7], ' ')}
                         for i in range(1, len(t) - 6)], recursive := true)
          FROM toks),
    firsts AS (SELECT gram, min(doc_id) AS first_doc FROM g GROUP BY 1),
    dup AS (SELECT g.doc_id, g.pos FROM g JOIN firsts USING (gram)
            WHERE firsts.first_doc < g.doc_id),
    covered AS (SELECT DISTINCT doc_id, pos + k AS pos
                FROM dup, range(0, 8) r(k)),
    runs AS (SELECT doc_id, pos,
                    pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos)
                      AS grp
             FROM covered),
    removed AS (SELECT doc_id, pos FROM (
                  SELECT doc_id, pos,
                         count(*) OVER (PARTITION BY doc_id, grp) AS run_len
                  FROM runs)
                WHERE run_len >= 50),
    kept AS (SELECT tok.doc_id, tok.pos, tok.tok
             FROM tok LEFT JOIN removed USING (doc_id, pos)
             WHERE removed.pos IS NULL),
    agg AS (SELECT doc_id, count(*) AS n_kept,
                   md5(string_agg(tok, ' ' ORDER BY pos)) AS clean_md5
            FROM kept GROUP BY 1),
    tot AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens FROM toks)
    SELECT tot.doc_id, tot.n_tokens,
           CAST(tot.n_tokens - coalesce(agg.n_kept, 0) AS BIGINT) AS n_removed,
           coalesce(agg.clean_md5, md5('')) AS clean_md5
    FROM tot LEFT JOIN agg USING (doc_id)
    """,
    doc="X2 ExactSubstr-faithful span removal: same duplicate-span "
    "detection as span_dedup_removed, but a covered token is cut only "
    "inside a MAXIMAL consecutive covered run of ≥50 tokens — Lee et "
    "al. 2022's actual threshold, so short incidental overlaps "
    "(idioms, quotes) survive while long verbatim boilerplate goes.  "
    "The length gate is the gaps-and-islands trick over covered "
    "positions (pos − row_number constant per run + frameless island "
    "count) — one extra doc-keyed window over covered rows only.  At "
    "sf0.01 the corpus holds covered runs of 11–93 tokens, so the "
    "threshold genuinely splits (11 runs cut, 13 kept) — the oracle "
    "hash proves both sides of the gate.",
    tags=("ext", "dedup", "X2", "span"),
)
def span_dedup_removed_run50(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", spread=True)
    out = dedup.remove_repeated_spans(docs, "doc_id", "text", n=8, min_run=50)
    return out.select(
        "doc_id",
        "n_tokens",
        "n_removed",
        F.md5(F.col("text_clean")).alias("clean_md5"),
    )


@register(
    "span_dedup_removed_bpe",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id,
             regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]') AS t
      FROM documents WHERE text IS NOT NULL),
    tok AS (SELECT doc_id,
                   unnest([{'pos': i - 1, 'tok': t[i]}
                           for i in range(1, len(t) + 1)], recursive := true)
            FROM toks),
    g AS (SELECT doc_id,
                 unnest([{'pos': i - 1, 'gram': array_to_string(t[i:i+7], ' ')}
                         for i in range(1, len(t) - 6)], recursive := true)
          FROM toks),
    firsts AS (SELECT gram, min(doc_id) AS first_doc FROM g GROUP BY 1),
    dup AS (SELECT g.doc_id, g.pos FROM g JOIN firsts USING (gram)
            WHERE firsts.first_doc < g.doc_id),
    removed AS (SELECT DISTINCT doc_id, pos + k AS pos
                FROM dup, range(0, 8) r(k)),
    kept AS (SELECT tok.doc_id, tok.pos, tok.tok
             FROM tok LEFT JOIN removed USING (doc_id, pos)
             WHERE removed.pos IS NULL),
    agg AS (SELECT doc_id, count(*) AS n_kept,
                   md5(string_agg(tok, ' ' ORDER BY pos)) AS clean_md5
            FROM kept GROUP BY 1),
    tot AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens FROM toks)
    SELECT tot.doc_id, tot.n_tokens,
           CAST(tot.n_tokens - coalesce(agg.n_kept, 0) AS BIGINT) AS n_removed,
           coalesce(agg.clean_md5, md5('')) AS clean_md5
    FROM tot LEFT JOIN agg USING (doc_id)
    """,
    doc="X2 SUB-WORD-fidelity span dedup (VERDICT r7 #2 — Lee et al. "
    "2022 operate on BPE token ids, not whitespace words): cut every "
    "subword token covered by a positional 8-gram of BPE pre-tokens "
    "(letter runs / digit runs / single punctuation) already present "
    "in a lower-id doc.  Whitespace never forms a token, so reflowed "
    "or re-spaced boilerplate ('end.Start' vs 'end. Start') produces "
    "the SAME gram stream and still gets cut — the escape the \\S+ "
    "word path leaves open (property-tested in "
    "tests/test_property_round8.py).  Engine side shingles TOKEN-ID "
    "grams: xxhash64 per token, one xxhash64 over the 8 ids as the "
    "gram key, so every posting shuffle carries int64s, never n-token "
    "strings; the oracle shingles the same token sequence as strings "
    "— grouping-identical, which is exactly the fingerprint-equality "
    "claim under test.  Output hashes the cleaned subword stream "
    "(md5) plus exact before/removed counts.",
    tags=("ext", "dedup", "X2", "span", "bpe"),
)
def span_dedup_removed_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", spread=True)
    out = dedup.remove_repeated_spans_bpe(docs, "doc_id", "text", n=8)
    return out.select(
        "doc_id",
        "n_tokens",
        "n_removed",
        F.md5(F.col("text_clean")).alias("clean_md5"),
    )


@register(
    "span_dedup_removed_bpe_run50",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id,
             regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]') AS t
      FROM documents WHERE text IS NOT NULL),
    tok AS (SELECT doc_id,
                   unnest([{'pos': i - 1, 'tok': t[i]}
                           for i in range(1, len(t) + 1)], recursive := true)
            FROM toks),
    g AS (SELECT doc_id,
                 unnest([{'pos': i - 1, 'gram': array_to_string(t[i:i+7], ' ')}
                         for i in range(1, len(t) - 6)], recursive := true)
          FROM toks),
    firsts AS (SELECT gram, min(doc_id) AS first_doc FROM g GROUP BY 1),
    dup AS (SELECT g.doc_id, g.pos FROM g JOIN firsts USING (gram)
            WHERE firsts.first_doc < g.doc_id),
    covered AS (SELECT DISTINCT doc_id, pos + k AS pos
                FROM dup, range(0, 8) r(k)),
    runs AS (SELECT doc_id, pos,
                    pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos)
                      AS grp
             FROM covered),
    removed AS (SELECT doc_id, pos FROM (
                  SELECT doc_id, pos,
                         count(*) OVER (PARTITION BY doc_id, grp) AS run_len
                  FROM runs)
                WHERE run_len >= 50),
    kept AS (SELECT tok.doc_id, tok.pos, tok.tok
             FROM tok LEFT JOIN removed USING (doc_id, pos)
             WHERE removed.pos IS NULL),
    agg AS (SELECT doc_id, count(*) AS n_kept,
                   md5(string_agg(tok, ' ' ORDER BY pos)) AS clean_md5
            FROM kept GROUP BY 1),
    tot AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens FROM toks)
    SELECT tot.doc_id, tot.n_tokens,
           CAST(tot.n_tokens - coalesce(agg.n_kept, 0) AS BIGINT) AS n_removed,
           coalesce(agg.clean_md5, md5('')) AS clean_md5
    FROM tot LEFT JOIN agg USING (doc_id)
    """,
    doc="The ExactSubstr-FAITHFUL composition (Lee et al. 2022 in both "
    "unit and rule): ≥50-TOKEN maximal covered runs cut, where tokens "
    "are BPE pre-tokens — their operating unit — via the token-id gram "
    "path.  On this corpus the gate genuinely splits (24 docs cut "
    "ungated → 11 gated at sf0.01): short incidental subword overlaps "
    "survive, long verbatim boilerplate goes, and the run LENGTH is "
    "measured in the same units the paper's threshold uses — the "
    "word-path run50 gate under-counts a span's tokens wherever "
    "punctuation glues to words.  Same gaps-and-islands gate, same "
    "int64-gram posting joins.",
    tags=("ext", "dedup", "X2", "span", "bpe"),
)
def span_dedup_removed_bpe_run50(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", spread=True)
    out = dedup.remove_repeated_spans_bpe(docs, "doc_id", "text", n=8, min_run=50)
    return out.select(
        "doc_id",
        "n_tokens",
        "n_removed",
        F.md5(F.col("text_clean")).alias("clean_md5"),
    )


@register(
    "span_dedup_intra_doc",
    oracle=r"""
    WITH toks AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS t FROM documents),
    tok AS (SELECT doc_id,
                   unnest([{'pos': i - 1, 'tok': t[i]}
                           for i in range(1, len(t) + 1)], recursive := true)
            FROM toks),
    g AS (SELECT doc_id,
                 unnest([{'pos': i - 1, 'gram': array_to_string(t[i:i+3], ' ')}
                         for i in range(1, len(t) - 2)], recursive := true)
          FROM toks),
    dup AS (SELECT doc_id, pos FROM (
              SELECT doc_id, pos,
                     min(pos) OVER (PARTITION BY doc_id, gram) AS first_pos
              FROM g)
            WHERE pos > first_pos),
    removed AS (SELECT DISTINCT doc_id, pos + k AS pos
                FROM dup, range(0, 4) r(k)),
    kept AS (SELECT tok.doc_id, tok.pos, tok.tok
             FROM tok LEFT JOIN removed USING (doc_id, pos)
             WHERE removed.pos IS NULL),
    agg AS (SELECT doc_id, count(*) AS n_kept,
                   md5(string_agg(tok, ' ' ORDER BY pos)) AS clean_md5
            FROM kept GROUP BY 1),
    tot AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens FROM toks)
    SELECT tot.doc_id, tot.n_tokens,
           CAST(tot.n_tokens - coalesce(agg.n_kept, 0) AS BIGINT) AS n_removed,
           coalesce(agg.clean_md5, md5('')) AS clean_md5
    FROM tot LEFT JOIN agg USING (doc_id)
    WHERE tot.n_tokens - coalesce(agg.n_kept, 0) > 0
    """,
    doc="X2/X4 WITHIN-doc repetition removal: later same-doc "
    "occurrences of a repeated 8-gram are cut (chat-log / scraped-"
    "header / generation-loop cleaning — the op text_repetition_topk "
    "only FLAGS).  Per-(doc, gram) first position is a frameless "
    "window min whose partition width is bounded by doc length "
    "(immune to corpus boilerplate skew, strictly narrower than the "
    "cross-doc posting window), then the shared cut tail.  n=4 here "
    "(aggressive short-phrase de-looping; the synthetic corpus never "
    "self-repeats an 8-gram, and a 0-row proof would pin nothing — at "
    "n=4 both the cut and keep paths carry rows).  Output is the "
    "self-repetitive docs only, with cleaned-text md5.",
    tags=("ext", "dedup", "X2", "span", "intra"),
)
def span_dedup_intra_doc(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", spread=True)
    out = dedup.remove_intra_doc_repeats(docs, "doc_id", "text", n=4)
    return out.filter(F.col("n_removed") > 0).select(
        "doc_id",
        "n_tokens",
        "n_removed",
        F.md5(F.col("text_clean")).alias("clean_md5"),
    )


@register(
    "corpus_prep_pipeline",
    oracle=r"""
    WITH toks AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS t FROM documents),
    tok AS (SELECT doc_id,
                   unnest([{'pos': i - 1, 'tok': t[i]}
                           for i in range(1, len(t) + 1)], recursive := true)
            FROM toks),
    g AS (SELECT doc_id,
                 unnest([{'pos': i - 1, 'gram': array_to_string(t[i:i+7], ' ')}
                         for i in range(1, len(t) - 6)], recursive := true)
          FROM toks),
    firsts AS (SELECT gram, min(doc_id) AS first_doc FROM g GROUP BY 1),
    dup AS (SELECT g.doc_id, g.pos FROM g JOIN firsts USING (gram)
            WHERE firsts.first_doc < g.doc_id),
    covered AS (SELECT DISTINCT doc_id, pos + k AS pos
                FROM dup, range(0, 8) r(k)),
    runs AS (SELECT doc_id, pos,
                    pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos)
                      AS grp
             FROM covered),
    removed AS (SELECT doc_id, pos FROM (
                  SELECT doc_id, pos,
                         count(*) OVER (PARTITION BY doc_id, grp) AS run_len
                  FROM runs)
                WHERE run_len >= 50),
    kept AS (SELECT tok.doc_id, tok.pos, tok.tok
             FROM tok LEFT JOIN removed USING (doc_id, pos)
             WHERE removed.pos IS NULL),
    cleanagg AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS clean
                 FROM kept GROUP BY 1),
    cleaned AS (SELECT d.doc_id, d.source, coalesce(c.clean, '') AS text
                FROM documents d LEFT JOIN cleanagg c USING (doc_id)),
    q AS (SELECT doc_id, source, text,
                 CAST(len(regexp_extract_all(text, '\S+')) AS DOUBLE) AS n_tok,
                 CAST(length(text) AS DOUBLE) AS n_chars,
                 CAST(len(regexp_extract_all(text, '\b(the|a|and|of|to|in|is|it)\b')) AS DOUBLE) AS n_stop
          FROM cleaned),
    scored AS (SELECT doc_id, source, text,
                      round(0.5 * least(n_tok / 50.0, 1.0)
                          + 0.25 * (CASE WHEN n_chars / greatest(n_tok, 1.0) BETWEEN 3.0 AND 9.0
                                         THEN 1.0 ELSE 0.5 END)
                          + 0.25 * (CASE WHEN n_stop / greatest(n_tok, 1.0) > 0.02
                                         THEN 1.0 ELSE 0.6 END), 4) AS quality
               FROM q),
    gated AS (SELECT source, doc_id,
                     CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_tokens,
                     CAST(concat('0x', substr(md5(concat('budget:', CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) AS h
              FROM scored WHERE quality >= 0.8),
    c AS (SELECT source, doc_id, n_tokens,
                 sum(n_tokens) OVER (PARTITION BY source ORDER BY h, doc_id
                                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cum
          FROM gated)
    SELECT source, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS sum_tokens
    FROM c WHERE cum <= 1000 GROUP BY 1
    """,
    doc="The training-data-prep capstone, composing this round's "
    "operators END TO END the way a 100 TB corpus is actually "
    "prepared: (1) ExactSubstr-faithful span removal (≥50-token "
    "covered runs cut, first occurrence kept), (2) quality gate on "
    "the CLEANED text (score ≥ 0.8 — boilerplate removal changes "
    "scores, so gating must follow cutting), (3) per-source "
    "token-budget sampling over cleaned token counts via the "
    "two-pass range-partitioned prefix sum.  Output is the per-source "
    "doc/token contribution of the final mixture.  Every stage is the "
    "registered operator, not a re-implementation; the oracle chains "
    "the same three proven SQL blocks.",
    tags=("ext", "dedup", "sample", "pipeline", "capstone"),
)
def corpus_prep_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    cleaned = dedup.remove_repeated_spans(docs, "doc_id", "text", n=8, min_run=50)
    cd = cleaned.join(docs.select("doc_id", "source"), "doc_id").select(
        "source", "doc_id", F.col("text_clean").alias("text")
    )
    gated = cd.filter(text.quality_score("text") >= 0.8)
    sampled = _token_budget_two_pass(gated, budget=1000, persist_base=True)
    return sampled.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("sum_tokens"),
    )


@register(
    "events_funnel_conversion",
    oracle="""
    WITH s AS (SELECT user_id, min(ts) AS t0 FROM events
               WHERE event_type = 'signup' GROUP BY 1),
    c AS (SELECT e.user_id, min(e.ts) AS t1
          FROM events e JOIN s ON e.user_id = s.user_id
          WHERE e.event_type = 'click' AND e.ts > s.t0 GROUP BY 1),
    p AS (SELECT e.user_id, min(e.ts) AS t2
          FROM events e JOIN c ON e.user_id = c.user_id
          WHERE e.event_type = 'purchase' AND e.ts > c.t1 GROUP BY 1),
    counts AS (
      SELECT 1 AS stage, 'signup' AS step, count(*) AS n_users FROM s
      UNION ALL SELECT 2, 'click_after_signup', count(*) FROM c
      UNION ALL SELECT 3, 'purchase_after_click', count(*) FROM p)
    SELECT stage, step, n_users,
           round(CAST(n_users AS DOUBLE) / (SELECT count(*) FROM s), 4) AS conv_rate
    FROM counts
    """,
    doc="Sequential funnel over the event stream: users whose first "
    "signup precedes a click precedes a purchase (strict event-order, "
    "not mere type presence).  Every stage is a filtered scan (type "
    "predicate pushed to parquet) keyed on user_id, so the three "
    "joins and three aggs all share ONE shuffle key — stage frames "
    "shrink monotonically and AQE turns the later joins into "
    "broadcasts at any realistic funnel rate; at 100 TB nothing "
    "re-shuffles after the first user_id exchange.",
    tags=("ext", "events", "funnel"),
)
def events_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    out, s = _funnel_plan(spark, sf_dir)
    # 3-row result vs a per-user cache: materialize eagerly and
    # release s (caching.eagerly, r7 #6)
    return eagerly(out, s)


def _funnel_plan(spark: SparkSession, sf_dir: str):
    """The LAZY funnel plan + its stage-1 cache handle — split out so
    plan tests can assert pushdown/broadcast shape on the live plan
    (the registered query returns the eagerly checkpointed result,
    whose plan is just a scan)."""
    ev = load_table(spark, sf_dir, "events")
    # Persisted (VERDICT r5 #7): s feeds the click join, its own stage
    # count, AND the denominator — without the cache the group-
    # cardinality signup agg re-runs three times.  Session-lived like
    # the other persists here; bench.py clearCache()s between queries.
    s = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t0"))
        .persist()
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .select("user_id", "ts")
        .join(s, "user_id")
        .filter(F.col("ts") > F.col("t0"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .select("user_id", "ts")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )

    def stage(df: DataFrame, n: int, name: str) -> DataFrame:
        return df.agg(F.count(F.lit(1)).alias("n_users")).select(
            F.lit(n).alias("stage"), F.lit(name).alias("step"), "n_users"
        )

    counts = (
        stage(s, 1, "signup")
        .unionAll(stage(c, 2, "click_after_signup"))
        .unionAll(stage(p, 3, "purchase_after_click"))
    )
    base = s.agg(F.count(F.lit(1)).alias("_n_base"))
    # 1-row broadcast scalar join — same pattern as the other
    # whole-corpus normalizations in this module.
    out = counts.crossJoin(F.broadcast(base)).select(
        "stage",
        "step",
        "n_users",
        # empty-corpus guard: _n_base = 0 must yield NULL, not an ANSI
        # DIVIDE_BY_ZERO — the lazy pre-r8 plan hid this (count() pruned
        # the division); eager materialization executes every column
        F.when(
            F.col("_n_base") > 0,
            F.round(F.col("n_users").cast("double") / F.col("_n_base"), 4),
        ).alias("conv_rate"),
    )
    return out, s


@register(
    "outliers_mad_by_type",
    oracle="""
    WITH med AS (SELECT event_type, median(value) AS m FROM events GROUP BY 1),
    dev AS (SELECT e.event_type, med.m, abs(e.value - med.m) AS d
            FROM events e JOIN med USING (event_type)),
    mad AS (SELECT event_type, median(d) AS mad_v FROM dev GROUP BY 1)
    SELECT dev.event_type,
           round(min(dev.m), 4) AS med,
           round(min(mad.mad_v), 4) AS mad,
           CAST(sum(CASE WHEN dev.d > 4.4478 * mad.mad_v THEN 1 ELSE 0 END) AS BIGINT)
             AS n_outliers
    FROM dev JOIN mad USING (event_type)
    GROUP BY 1
    """,
    doc="Robust per-group outlier detection: median absolute deviation "
    "with the 3σ-equivalent cutoff 3·1.4826·MAD (written as the single "
    "literal 4.4478 on BOTH engines so decimal→double conversion is "
    "identical).  Exact interpolated medians on both engines "
    "(F.median ≡ DuckDB quantile_cont(0.5)).  Three passes over a "
    "5-group key: per-type median, per-type MAD of deviations, then "
    "the count — each a broadcast-joined re-scan; at 100 TB the "
    "5-row stats frames broadcast and the data never shuffles at all "
    "(group count is the cardinality of event_type, not of events).",
    tags=("ext", "stats", "outliers"),
)
def outliers_mad_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    med = ev.groupBy("event_type").agg(F.median("value").alias("m"))
    dev = ev.join(F.broadcast(med), "event_type").select(
        "event_type", "m", F.abs(F.col("value") - F.col("m")).alias("d")
    )
    mad = dev.groupBy("event_type").agg(F.median("d").alias("mad_v"))
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.round(F.min("m"), 4).alias("med"),
            F.round(F.min("mad_v"), 4).alias("mad"),
            F.sum((F.col("d") > F.lit(4.4478) * F.col("mad_v")).cast("int")).alias(
                "n_outliers"
            ),
        )
    )


@register(
    "embedding_dim_stats",
    oracle="""
    WITH ex AS (
      SELECT u.dim, u.x FROM (
        SELECT unnest([{'dim': CAST(i - 1 AS INTEGER),
                        'x': CAST(embedding[i] AS DOUBLE)}
                       for i in range(1, len(embedding) + 1)]) AS u
        FROM embeddings) t)
    SELECT dim,
           round(avg(x), 4) AS mean_x,
           round(stddev_samp(x), 4) AS std_x,
           round(min(x), 4) AS min_x,
           round(max(x), 4) AS max_x
    FROM ex GROUP BY 1
    """,
    doc="Embedding-matrix QC: per-dimension mean/std/min/max over the "
    "whole corpus — the dead/collapsed-dimension screen run before "
    "trusting an embedding column for dedup or ANN (a dimension whose "
    "std ≈ 0 carries no signal and silently degrades every cosine).  "
    "posexplode → 64-key hash agg, all four moments partial+final "
    "(map-side combine): the shuffle carries dims × map-tasks rows "
    "regardless of corpus size.",
    tags=("ext", "similarity", "qc"),
)
def embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    ex = emb.select(F.posexplode("embedding").alias("dim", "x")).select(
        "dim", F.col("x").cast("double").alias("x")
    )
    return ex.groupBy("dim").agg(
        F.round(F.avg("x"), 4).alias("mean_x"),
        F.round(F.stddev("x"), 4).alias("std_x"),
        F.round(F.min("x"), 4).alias("min_x"),
        F.round(F.max("x"), 4).alias("max_x"),
    )


@register(
    "quality_filter_funnel",
    oracle=r"""
    WITH q AS (
      SELECT source,
             CAST(len(regexp_extract_all(text, '\S+')) AS DOUBLE) AS n_tok,
             CAST(length(text) AS DOUBLE) AS n_chars,
             CAST(len(regexp_extract_all(text, '\b(the|a|and|of|to|in|is|it)\b')) AS DOUBLE) AS n_stop,
             CAST(len(list_distinct(regexp_extract_all(text, '\S+'))) AS DOUBLE) AS n_uniq
      FROM documents),
    r AS (
      SELECT source,
             n_tok >= 30.0 AS pass_len,
             n_chars / greatest(n_tok, 1.0) BETWEEN 3.0 AND 9.0 AS pass_word,
             n_stop / greatest(n_tok, 1.0) > 0.02 AS pass_stop,
             n_uniq / greatest(n_tok, 1.0) >= 0.3 AS pass_distinct
      FROM q)
    SELECT source,
           count(*) AS n_docs,
           CAST(sum(CASE WHEN pass_len THEN 1 ELSE 0 END) AS BIGINT) AS n_pass_len,
           CAST(sum(CASE WHEN pass_word THEN 1 ELSE 0 END) AS BIGINT) AS n_pass_word,
           CAST(sum(CASE WHEN pass_stop THEN 1 ELSE 0 END) AS BIGINT) AS n_pass_stop,
           CAST(sum(CASE WHEN pass_distinct THEN 1 ELSE 0 END) AS BIGINT) AS n_pass_distinct,
           CAST(sum(CASE WHEN pass_len AND pass_word AND pass_stop AND pass_distinct
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_pass_all,
           round(CAST(sum(CASE WHEN pass_len AND pass_word AND pass_stop AND pass_distinct
                               THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 4) AS pass_rate
    FROM r GROUP BY 1
    """,
    doc="X4 per-rule quality-filter funnel (the C4/Gopher reporting "
    "shape): each heuristic rule's pass count per source, plus the "
    "all-rules pass rate — so a threshold change is simulated from "
    "the report, not a corpus re-scan.  Rules come from "
    "operators/text.quality_rules (one codegen pass, no Python); the "
    "whole query is scan → map → 20-group hash agg with every "
    "conditional sum partial+final.  The per-source breakdown is what "
    "drives mixture re-weighting after filtering.",
    tags=("ext", "text", "X4", "quality"),
)
def quality_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    rules = text.quality_rules("text")
    flagged = docs.select("source", *(c.alias(n) for n, c in rules.items()))
    all_pass = F.col("pass_len") & F.col("pass_word") & F.col("pass_stop") & F.col(
        "pass_distinct"
    )
    return flagged.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("pass_len").cast("int")).alias("n_pass_len"),
        F.sum(F.col("pass_word").cast("int")).alias("n_pass_word"),
        F.sum(F.col("pass_stop").cast("int")).alias("n_pass_stop"),
        F.sum(F.col("pass_distinct").cast("int")).alias("n_pass_distinct"),
        F.sum(all_pass.cast("int")).alias("n_pass_all"),
        F.round(
            F.sum(all_pass.cast("int")).cast("double") / F.count(F.lit(1)), 4
        ).alias("pass_rate"),
    )


@register(
    "source_unigram_kl",
    oracle=r"""
    WITH ex AS (SELECT source, unnest(regexp_extract_all(text, '\S+')) AS tok
                FROM documents),
    st AS (SELECT source, tok, count(*) AS c_st FROM ex GROUP BY 1, 2),
    tt AS (SELECT tok, sum(c_st) AS c_t FROM st GROUP BY 1),
    tg AS (SELECT source, sum(c_st) AS n_g FROM st GROUP BY 1),
    n AS (SELECT sum(c_st) AS n FROM st),
    terms AS (
      SELECT st.source, tg.n_g, st.tok,
             (CAST(c_st AS DOUBLE) / CAST(n_g AS DOUBLE))
               * ln((CAST(c_st AS DOUBLE) / CAST(n_g AS DOUBLE))
                    / (CAST(c_t AS DOUBLE) / CAST(n.n AS DOUBLE))) AS term
      FROM st JOIN tt USING (tok) JOIN tg USING (source) CROSS JOIN n)
    SELECT source,
           CAST(min(n_g) AS BIGINT) AS n_tokens,
           round(list_aggregate(list(term ORDER BY tok), 'sum'), 6) AS kl
    FROM terms GROUP BY 1
    """,
    doc="X4 mixture drift monitor: per-source KL(P_source ‖ P_corpus) "
    "over whole-word unigram distributions — the slice-level screen "
    "run before re-weighting a training mixture.  One token explode; "
    "all three marginals re-aggregate the (source, tok) count table "
    "(never a second corpus scan); the KL sum folds in explicit token "
    "order (sort_array struct re-fold ≡ DuckDB list(term ORDER BY "
    "tok)) so both engines sum floats identically — the "
    "unigram_logprob determinism contract.",
    tags=("ext", "text", "X4", "drift"),
)
def source_unigram_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text.source_unigram_kl(docs, "source", "text")


@register(
    "sample_token_budget",
    oracle=r"""
    WITH base AS (
      SELECT source, doc_id,
             CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_tokens,
             CAST(concat('0x', substr(md5(concat('budget:', CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) AS h
      FROM documents),
    c AS (
      SELECT source, doc_id, n_tokens,
             sum(n_tokens) OVER (PARTITION BY source ORDER BY h, doc_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum_tokens
      FROM base)
    SELECT source, doc_id, n_tokens, CAST(cum_tokens AS BIGINT) AS cum_tokens
    FROM c WHERE cum_tokens <= 1000
    """,
    doc="Token-budgeted mixture sampling: each source contributes docs "
    "in deterministic seeded-md5 rank order until its running token "
    "total fills a fixed budget (1000 here) — how a training mixture "
    "is actually assembled when the unit of account is tokens, not "
    "docs.  The md5 rank makes the selection stable across runs, "
    "partitionings, and engines (same primitive as "
    "deterministic_hash_sample).  Two-pass range-partitioned prefix "
    "sum (VERDICT r5 #3): the 60-bit hash's top bits order-preservingly "
    "range-partition each source into 64 buckets; pass 1 aggregates "
    "per-(source, range) token totals and a tiny per-source window "
    "turns them into exclusive cross-range prefixes (≤64 rows/source, "
    "broadcast back); pass 2 sorts WITHIN (source, range) only — no "
    "single task ever sorts a whole source.  Ranges whose exclusive "
    "prefix already exceeds the budget are pruned BEFORE the sort, so "
    "at 100 TB the expensive pass touches only the ≲1-range boundary "
    "slice of each source; prune keeps `prefix <= budget` (not <) so "
    "zero-token docs landing exactly on the budget boundary survive, "
    "matching the single-window semantics row-for-row.",
    tags=("ext", "sample", "mixture"),
)
def sample_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _token_budget_two_pass(
        load_table(spark, sf_dir, "documents"), budget=1000
    )


def _token_budget_two_pass(
    docs: DataFrame,
    budget: int,
    n_ranges_log2: int = 6,
    persist_base: bool = False,
) -> DataFrame:
    """Range-partitioned prefix-sum token-budget cut (scale path).

    Row-identical to ``sum(n_tokens) OVER (PARTITION BY source ORDER
    BY h, doc_id) <= budget``: the range id is the hash's top bits, so
    (range, h, doc_id) order == (h, doc_id) order, and each row's
    global running sum is its range's exclusive prefix + its
    within-range running sum.

    The two passes consume the tokenized base twice (pass-1 totals +
    pass-2 join), so Catalyst recomputes ``docs``'s lineage once per
    pass.  For a raw parquet scan that second scan is cheap; when
    ``docs`` is an EXPENSIVE derived frame (corpus_prep_pipeline feeds
    the whole span-removal DAG in), set ``persist_base=True`` — the
    base is one NARROW row per doc (source, id, token count, hash),
    so caching it is doc-scale, not token-scale, and halves the
    pipeline (measured 5.6 → 3.1 s at sf0.1).  Session-lived cache,
    same discipline as the other persists here.
    """
    from pyspark.sql.window import Window

    from fiware_cosmos_orion_flink_connector_examples_spark.functions.hashing import (
        MD5INT_BITS,
        md5int64_seeded,
    )

    base = docs.select(
        "source",
        "doc_id",
        text.token_count("text").cast("long").alias("n_tokens"),
        md5int64_seeded(F.col("doc_id").cast("string"), "budget").alias("_h"),
    ).withColumn("_rng", F.shiftright("_h", MD5INT_BITS - n_ranges_log2))
    if persist_base:
        base = base.persist()
    # Pass 1: per-(source, range) totals -> exclusive cross-range prefix.
    # The window frame ends at -1 (previous range), so each range gets
    # the token mass of everything strictly before it in hash order.
    wr = (
        Window.partitionBy("source")
        .orderBy("_rng")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prefixes = (
        base.groupBy("source", "_rng")
        .agg(F.sum("n_tokens").alias("_rng_tok"))
        .withColumn("_prefix", F.coalesce(F.sum("_rng_tok").over(wr), F.lit(0)))
        .select("source", "_rng", "_prefix")
    )
    # Pass 2: broadcast the (n_sources × 64)-row prefix table back,
    # prune ranges that cannot contribute, then sort only within
    # (source, range).
    wb = (
        Window.partitionBy("source", "_rng")
        .orderBy(F.asc("_h"), F.asc("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        base.join(F.broadcast(prefixes), ["source", "_rng"])
        .filter(F.col("_prefix") <= budget)
        .withColumn("cum_tokens", F.col("_prefix") + F.sum("n_tokens").over(wb))
        .filter(F.col("cum_tokens") <= budget)
        .select("source", "doc_id", "n_tokens", "cum_tokens")
    )


@register(
    "events_type_islands",
    oracle="""
    WITH o AS (
      SELECT user_id, event_type, ts,
             lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS prev_type,
             event_id
      FROM events),
    flagged AS (
      SELECT user_id, event_type, ts, event_id,
             CASE WHEN prev_type IS NULL OR prev_type <> event_type
                  THEN 1 ELSE 0 END AS is_start
      FROM o),
    islands AS (
      SELECT user_id, event_type, ts, event_id,
             sum(is_start) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS island_id
      FROM flagged)
    SELECT user_id, CAST(island_id AS BIGINT) AS island_id, event_type,
           count(*) AS n_events,
           CAST(epoch_us(min(ts)) // 1000000 AS BIGINT) AS island_start,
           CAST(epoch_us(max(ts)) // 1000000 AS BIGINT) AS island_end
    FROM islands
    GROUP BY 1, 2, 3
    """,
    doc="Gaps-and-islands (the SCD2 interval-build pattern): collapse "
    "each user's consecutive same-type event runs into one row with "
    "run extent and size — lag change-flag, running-sum island id, "
    "group.  All three steps share ONE hashpartitioning(user_id) "
    "exchange (two frames over the same window spec + the final agg "
    "re-uses the sort) — the plan Spark produces is exchange, sort, "
    "two Window nodes, partial/final agg; at 100 TB this is a single "
    "shuffle of the events table keyed by user.",
    tags=("ext", "events", "islands", "window"),
)
def events_type_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = ev.withColumn(
        "is_start",
        F.when(
            F.lag("event_type").over(w).isNull()
            | (F.lag("event_type").over(w) != F.col("event_type")),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    islands = flagged.withColumn(
        "island_id",
        F.sum("is_start")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("long"),
    )
    # floor(), not cast-truncation, to match the oracle's epoch_us //
    # 1000000 floor semantics for pre-1970 timestamps too (ADVICE r5);
    # the intermediate double is exact because epoch-µs magnitudes fit
    # the 53-bit mantissa.
    return islands.groupBy("user_id", "island_id", "event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.floor(F.unix_micros(F.min("ts")) / F.lit(1_000_000))
        .cast("long")
        .alias("island_start"),
        F.floor(F.unix_micros(F.max("ts")) / F.lit(1_000_000))
        .cast("long")
        .alias("island_end"),
    )


@register(
    "sample_weighted_quality",
    oracle=r"""
    WITH q AS (
      SELECT doc_id, source,
             CAST(len(regexp_extract_all(text, '\S+')) AS DOUBLE) AS n_tok,
             CAST(length(text) AS DOUBLE) AS n_chars,
             CAST(len(regexp_extract_all(text, '\b(the|a|and|of|to|in|is|it)\b')) AS DOUBLE) AS n_stop
      FROM documents),
    scored AS (
      SELECT doc_id, source,
             round(0.5 * least(n_tok / 50.0, 1.0)
                 + 0.25 * (CASE WHEN n_chars / greatest(n_tok, 1.0) BETWEEN 3.0 AND 9.0
                                THEN 1.0 ELSE 0.5 END)
                 + 0.25 * (CASE WHEN n_stop / greatest(n_tok, 1.0) > 0.02
                                THEN 1.0 ELSE 0.6 END), 4) AS quality
      FROM q)
    SELECT doc_id, source, quality
    FROM scored
    WHERE CAST(concat('0x', substr(md5(concat('wsample:', CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT)
          % 10000 < CAST(floor(quality * 10000) AS BIGINT)
    """,
    doc="Quality-weighted Bernoulli sampling (importance sampling for "
    "mixture construction): each doc survives with probability equal "
    "to its quality score, via the deterministic seeded-md5 uniform "
    "u = H(doc_id) mod 10⁴ < quality·10⁴ — stable across runs, "
    "partitionings, and engines (same primitive as "
    "deterministic_hash_sample, so re-running a 100 TB sweep "
    "reproduces the exact sample).  Scan-level map + filter: zero "
    "shuffles, zero Python; the score arithmetic is the shared "
    "quality_score rational form.",
    tags=("ext", "sample", "quality"),
)
def sample_weighted_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fiware_cosmos_orion_flink_connector_examples_spark.functions.hashing import (
        md5int64_seeded,
    )

    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id", "source", text.quality_score("text").alias("quality")
    )
    # floor() on BOTH engines pins the boundary rule (ADVICE r5):
    # Spark's cast('long') truncates toward zero while DuckDB's CAST
    # rounds to nearest, so a score whose double form lands just below
    # an integer would otherwise select different docs per engine.
    u = F.pmod(
        md5int64_seeded(F.col("doc_id").cast("string"), "wsample"), F.lit(10_000)
    )
    return scored.filter(u < F.floor(F.col("quality") * 10_000).cast("long"))


@register(
    "set_multiset_ops_events",
    oracle="""
    WITH ex AS (
      SELECT user_id FROM events WHERE event_type = 'click'
      EXCEPT ALL
      SELECT user_id FROM events WHERE event_type = 'purchase'),
    ia AS (
      SELECT user_id FROM events WHERE event_type = 'click'
      INTERSECT ALL
      SELECT user_id FROM events WHERE event_type = 'purchase')
    SELECT 'except_all' AS op, user_id, count(*) AS n FROM ex GROUP BY 2
    UNION ALL
    SELECT 'intersect_all', user_id, count(*) FROM ia GROUP BY 2
    """,
    doc="Multiset (bag) set operations — EXCEPT ALL / INTERSECT ALL "
    "preserve multiplicities, unlike the distinct-set trio "
    "(set_except/intersect/union): per user, click occurrences minus "
    "purchase occurrences, and min(clicks, purchases).  Spark's "
    "exceptAll/intersectAll compile to an aggregate of signed counts + "
    "generate — one shuffle on the row value, no join; the grouped "
    "output keeps the driver artifact small while hashing the exact "
    "multiplicities.",
    tags=("ext", "setop", "multiset"),
)
def set_multiset_ops_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select("user_id")
    purchases = ev.filter(F.col("event_type") == "purchase").select("user_id")
    ex = (
        clicks.exceptAll(purchases)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("except_all").alias("op"), "user_id", "n")
    )
    ia = (
        clicks.intersectAll(purchases)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("intersect_all").alias("op"), "user_id", "n")
    )
    return ex.unionAll(ia)


@register(
    "events_resample_locf",
    oracle="""
    WITH obs AS (
      SELECT user_id,
             epoch_us(ts) // 3600000000 AS bin,
             max({'u': epoch_us(ts), 'i': event_id, 'v': value}) AS last_s
      FROM events GROUP BY 1, 2),
    spans AS (SELECT user_id, min(bin) AS lo, max(bin) AS hi FROM obs GROUP BY 1),
    grid AS (SELECT user_id, unnest(range(lo, hi + 1)) AS bin FROM spans),
    filled AS (
      SELECT g.user_id, g.bin, o.last_s.v AS obs_v,
             last_value(o.last_s.v IGNORE NULLS)
               OVER (PARTITION BY g.user_id ORDER BY g.bin
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_locf
      FROM grid g LEFT JOIN obs o ON g.user_id = o.user_id AND g.bin = o.bin)
    SELECT user_id, CAST(bin * 3600 AS BIGINT) AS bin_ts, value_locf,
           obs_v IS NOT NULL AS is_observed
    FROM filled
    """,
    doc="Temporal gap-fill: hourly fixed-grid resample of each user's "
    "value stream with last-observation-carried-forward — the "
    "date_bin+fill op every time-series store ships and stock Spark "
    "lacks (composed in operators/temporal.py:resample_locf).  "
    "Within-bin last is max(struct(ts, event_id, value)) so same-"
    "timestamp ties are engine-deterministic; the carried value is "
    "copied verbatim (no arithmetic), so hashes are bit-exact.  Three "
    "keyed exchanges, all on (user[, bin]); grid size is span/step per "
    "key — bounded by the step choice, not data volume.",
    tags=("ext", "temporal", "resample", "locf"),
)
def events_resample_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fiware_cosmos_orion_flink_connector_examples_spark.operators.temporal import (
        resample_locf,
    )

    ev = load_table(spark, sf_dir, "events")
    return resample_locf(
        ev, "user_id", "ts", "value", id_col="event_id", step_secs=3600
    )


@register(
    "events_transition_matrix",
    oracle="""
    WITH seq AS (
      SELECT event_type AS next_state,
             lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS prev_state
      FROM events),
    counts AS (
      SELECT prev_state, next_state, count(*) AS n
      FROM seq WHERE prev_state IS NOT NULL GROUP BY 1, 2)
    SELECT prev_state, next_state, n,
           round(n / sum(n) OVER (PARTITION BY prev_state), 6) AS p
    FROM counts
    """,
    doc="First-order Markov transition matrix over per-user event "
    "sequences (behavioral modeling / next-event prediction features): "
    "count and row-probability for each (prev_type, next_type) pair, "
    "ordering ties broken by the unique event_id so the matrix is "
    "engine-deterministic.  One exchange on user_id for the lag "
    "window, a map-side-combinable pair count, then the row "
    "normalizer as a frameless window over the |states|^2-row matrix "
    "(operators/temporal.py:transition_counts).",
    tags=("ext", "temporal", "markov"),
)
def events_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fiware_cosmos_orion_flink_connector_examples_spark.operators.temporal import (
        transition_counts,
    )

    ev = load_table(spark, sf_dir, "events")
    return transition_counts(ev, "user_id", "ts", "event_type", "event_id")


@register(
    "ann_topk_mmr",
    oracle=None,
    doc="X3 diversified retrieval: maximal marginal relevance "
    "(Carbonell & Goldstein 1998) over a 50-candidate cosine "
    "shortlist, lam=0.5, k=5 — the re-ranking step RAG stacks bolt "
    "onto plain ANN so the k results aren't five near-copies.  "
    "Greedy selection is inherently iterative, hence no ANSI-SQL "
    "oracle; the pytest pins (a) lam=1 degenerates bit-exactly to "
    "topk_cosine_bruteforce and (b) selected-set min pairwise "
    "distance >= the plain top-k's on a constructed clustered "
    "fixture, plus a pure-python reference equality.  Shape: "
    "broadcast-queries x streamed-scan shortlist (corpus never "
    "shuffles), candidate vectors re-attached via broadcast "
    "semi-join, then one applyInPandas group per query "
    "(state = 50 x dim floats).",
    tags=("ext", "similarity", "X3", "mmr"),
)
def ann_topk_mmr(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < 8)
    return similarity.topk_mmr(emb, qs, k=5, shortlist=50, lam=0.5)


@register(
    "dup_matrix_by_source",
    oracle=f"""
    WITH pairs AS ({_D_JACCARD_PAIRS})
    SELECT least(da.source, db.source) AS src_a,
           greatest(da.source, db.source) AS src_b,
           count(*) AS n_pairs,
           round(avg(p.jaccard), 6) AS avg_jaccard
    FROM pairs p
    JOIN documents da ON da.doc_id = p.d1
    JOIN documents db ON db.doc_id = p.d2
    GROUP BY 1, 2
    """,
    doc="Cross-source duplication matrix: for each unordered source "
    "pair, the count and mean similarity of >=0.8-jaccard doc pairs "
    "straddling (or within) them — the curator view that tells WHICH "
    "crawls overlap which (dup_rate_by_source only says how much each "
    "source duplicates overall).  Pair detection reuses the inverted-"
    "index join; the pair set is USUALLY tiny, so below the measured "
    "crossover BOTH source lookups broadcast it onto the corpus scan — "
    "the corpus never shuffles and the matrix agg runs over |pairs| "
    "rows — but the regime is SIZE-GATED (dedup.attach_pair_sides, "
    "VERDICT r7 #1): a high-dup crawl corpus can emit billions of "
    "pairs, where the plan drops the broadcast hints and falls back to "
    "doc-id-keyed shuffle equi-joins.  The pair set persists across "
    "the probe + plan and is released via caching.eagerly once the "
    "(tiny source x source) matrix materializes.",
    tags=("ext", "dedup", "profile"),
)
def dup_matrix_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", spread=True)
    pairs = dedup.ngram_jaccard_pairs(docs, "doc_id", threshold=0.8)
    s1 = docs.select(F.col("doc_id").alias("d1"), F.col("source").alias("sa"))
    s2 = docs.select(F.col("doc_id").alias("d2"), F.col("source").alias("sb"))
    both, pairs_p = dedup.attach_pair_sides(pairs, s1, s2)
    matrix = (
        both.groupBy(
            F.least("sa", "sb").alias("src_a"),
            F.greatest("sa", "sb").alias("src_b"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.round(F.avg("jaccard"), 6).alias("avg_jaccard"),
        )
    )
    return eagerly(matrix, pairs_p)


@register(
    "events_user_trend",
    oracle="""
    WITH m AS (
      SELECT user_id,
             count(*) AS n,
             sum((epoch_us(ts) - 1700000000000000) / 86400000000.0) AS sx,
             sum(value) AS sy,
             sum(((epoch_us(ts) - 1700000000000000) / 86400000000.0)
               * ((epoch_us(ts) - 1700000000000000) / 86400000000.0)) AS sxx,
             sum(((epoch_us(ts) - 1700000000000000) / 86400000000.0) * value) AS sxy
      FROM events GROUP BY 1)
    SELECT user_id, CAST(n AS BIGINT) AS n,
           round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
           round((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n, 6)
             AS intercept
    FROM m
    WHERE n >= 2 AND (n * sxx - sx * sx) != 0
    """,
    doc="Group-wise OLS trend (per-user value-over-time slope — the "
    "distributed closed-form regression every monitoring stack wants): "
    "slope and intercept from the five moment sums (n, Σx, Σy, Σx², "
    "Σxy), which are all map-side-combinable — ONE exchange carrying "
    "five doubles per user, no per-group iteration, no Python.  Time "
    "is offset by a fixed epoch constant and rescaled to days BEFORE "
    "squaring: raw epoch-µs squared would overflow the 53-bit "
    "mantissa, and even epoch-days (~19 700) makes n·Σx²−(Σx)² cancel "
    "~7 significant digits — the centered x keeps cancellation to ~2 "
    "digits so the rounded slope can't straddle a rounding boundary "
    "between engines' different summation orders.",
    tags=("ext", "stats", "regression"),
)
def events_user_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    x = (F.unix_micros(F.col("ts")) - F.lit(1_700_000_000_000_000)) / F.lit(
        86_400_000_000.0
    )
    m = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("sx"),
        F.sum("value").alias("sy"),
        F.sum(x * x).alias("sxx"),
        F.sum(x * F.col("value")).alias("sxy"),
    )
    denom = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / denom
    return (
        m.filter((F.col("n") >= 2) & (denom != 0))
        .select(
            "user_id",
            F.col("n").cast("long").alias("n"),
            F.round(slope, 6).alias("slope"),
            F.round((F.col("sy") - slope * F.col("sx")) / F.col("n"), 6).alias(
                "intercept"
            ),
        )
    )


@register(
    "bpe_pair_stats",
    oracle="""
    WITH w AS (
      SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
      FROM documents),
    wf AS (SELECT word, count(*) AS f FROM w GROUP BY 1),
    px AS (
      SELECT word, f, unnest(range(1, len(word))) AS i
      FROM wf WHERE len(word) >= 2),
    p AS (
      SELECT substr(word, CAST(i AS INTEGER), 2) AS pair, sum(f) AS n
      FROM px GROUP BY 1)
    SELECT pair, CAST(n AS BIGINT) AS n, CAST(rank AS INTEGER) AS rank FROM (
      SELECT pair, n, row_number() OVER (ORDER BY n DESC, pair) AS rank
      FROM p)
    WHERE rank <= 30
    """,
    doc="First-iteration BPE merge statistics (Sennrich et al. 2016 "
    "tokenizer induction, distributed): adjacent character-pair counts "
    "weighted by corpus word frequency — the argmax pair is the first "
    "BPE merge, and the distillation to a word-frequency table is what "
    "makes corpus-scale induction tractable (pair explosion runs over "
    "DISTINCT words, not corpus tokens: |vocab| << corpus).  Two "
    "map-side-combinable aggs (word freq, then pair sum) and a top-30 "
    "over the <=26^2-row pair table; integer counts, engine-exact.",
    tags=("ext", "text", "tokenizer"),
)
def bpe_pair_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(
        F.explode(F.regexp_extract_all(F.lower("text"), F.lit("[a-z]+"), 0)).alias(
            "word"
        )
    )
    wf = words.groupBy("word").agg(F.count(F.lit(1)).alias("f"))
    pairs = (
        wf.filter(F.length("word") >= 2)
        .select(
            "f",
            F.explode(F.sequence(F.lit(1), F.length("word") - 1)).alias("i"),
            "word",
        )
        .select(F.col("word").substr(F.col("i"), F.lit(2)).alias("pair"), "f")
        .groupBy("pair")
        .agg(F.sum("f").alias("n"))
    )
    w = Window.orderBy(F.desc("n"), F.asc("pair"))
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 30)
        .select("pair", F.col("n").cast("long").alias("n"), "rank")
    )


@register(
    "bpe_learned_merges",
    oracle=None,  # the merge TABLE is the output of an iterative argmax
    # loop — not ANSI-SQL-expressible past iteration 1; pytest pins (a)
    # merge #1 == the ORACLE-CHECKED bpe_pair_stats rank-1 pair, (b)
    # every step's pair is the argmax under the same (-count, pair)
    # rule via an independently-coded counter, (c) segmentation
    # round-trips and compresses monotonically
    # (tests/test_property_round8.py).
    doc="FULL BPE tokenizer induction (Sennrich et al. 2016 — "
    "bpe_pair_stats is iteration 1 of exactly this loop): the corpus "
    "distills to a distinct-word frequency table (ONE distributed agg "
    "+ a deterministic bounded top-65536 collect, the quantizer-"
    "training discipline), then 50 merge iterations run vocab-bounded "
    "driver-side — the same shape production tokenizer trainers use "
    "over a distributed word count.  Output is the learned merge "
    "table (rank, left, right, merged, corpus-weighted support), i.e. "
    "the ARTIFACT a training pipeline ships to its tokenizer; ties "
    "break lexicographically, matching bpe_pair_stats' ORDER BY n "
    "DESC, pair — so merge #1 equals that query's rank-1 pair on any "
    "corpus, a cross-query consistency the pytest pins.",
    tags=("ext", "text", "tokenizer"),
)
def bpe_learned_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    merges = text.bpe_merge_table(
        docs, "text", n_merges=50, cache_key=("docs", sf_dir)
    )
    rows = [
        (i + 1, a, b, a + b, int(s)) for i, (a, b, s) in enumerate(merges)
    ]
    return spark.createDataFrame(
        rows, "rank int, left string, right string, merged string, support bigint"
    )


@register(
    "bpe_first_merge_derived",
    oracle="""
    WITH w AS (
      SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
      FROM documents),
    wf AS (SELECT word, count(*) AS f FROM w GROUP BY 1),
    px AS (
      SELECT word, f, unnest(range(1, len(word))) AS i
      FROM wf WHERE len(word) >= 2),
    p AS (
      SELECT substr(word, CAST(i AS INTEGER), 2) AS pair, sum(f) AS n
      FROM px GROUP BY 1),
    r1 AS (SELECT pair, n FROM p ORDER BY n DESC, pair LIMIT 1)
    SELECT substr(pair, 1, 1) AS left_sym,
           substr(pair, 2, 1) AS right_sym,
           pair AS merged,
           CAST(n AS BIGINT) AS support
    FROM r1
    """,
    doc="Driver-visible VALUE-level proof for the learned BPE merge "
    "table (the envelope discipline, upgraded: the oracle re-DERIVES "
    "the row, it doesn't just assert TRUE): the rank-1 learned merge "
    "(left, right, merged, corpus-weighted support) must equal the "
    "argmax of the SQL-expressible first-iteration pair statistics — "
    "the same (ORDER BY n DESC, pair) rule bpe_pair_stats pins, and "
    "the adjacent-pair support counting is position-based on both "
    "sides, so the SUPPORT number matches exactly too (verified 4650 "
    "/ 4568 at sf0.001/sf0.01).  A training-loop regression "
    "(tokenizer drift, tie-break change, weighting bug) changes the "
    "emitted VALUES and hash-fails the driver row.  Iterations >= 2 "
    "stay pytest-pinned (argmax-per-step vs an independent counter); "
    "this promotes iteration 1 — the anchor the whole loop recurses "
    "from — into the correctness artifact.",
    tags=("ext", "text", "tokenizer", "envelope"),
)
def bpe_first_merge_derived(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # SAME cache_key as the 50-merge queries: cached_word_freq keys on
    # (cache_key, text_col, vocab_max) — sharing it skips the corpus
    # scan when any BPE query ran first (ADVICE r8 #4 discipline);
    # the merge-table memo itself keys on n_merges too, so the 1-merge
    # and 50-merge tables never collide.
    merges = text.bpe_merge_table(
        docs, "text", n_merges=1, cache_key=("docs", sf_dir)
    )
    schema = "left_sym string, right_sym string, merged string, support bigint"
    if not merges:
        # empty/pairless corpus: the oracle's LIMIT 1 over an empty
        # pair table also emits zero rows
        return spark.createDataFrame([], schema)
    a, b, s = merges[0]
    return spark.createDataFrame([(a, b, a + b, int(s))], schema)


@register(
    "hll_merge_equals_oneshot",
    oracle="""
    SELECT CAST(count(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_days,
           CAST(count(DISTINCT user_id) AS BIGINT) AS exact_distinct,
           TRUE AS merged_equals_oneshot,
           TRUE AS within_5pct
    FROM events
    """,
    doc="Driver-visible mergeability proof for the HLL rollup "
    "(events_hll_mergeable_daily's rows-only gap): the union of the "
    "per-day sketches must estimate EXACTLY what a one-shot whole-"
    "table sketch estimates (same lgConfigK=12 => same registers — "
    "HLL union is lossless over same-width sketches), and both must "
    "land within 5% of the exact distinct count the oracle computes "
    "independently.  The day count and exact distinct are emitted as "
    "SQL-derived values, the two invariants as booleans — a "
    "serialization, register-width, or union regression hash-fails "
    "the driver row.  Shape: the daily sketch agg + a second "
    "whole-table sketch agg + one exact distinct (the verifier — "
    "bounded here; at 100 TB the exact companion runs on a sampled "
    "slice, the approx_sketches_bounded convention).",
    tags=("ext", "sketch", "approx", "envelope"),
)
def hll_merge_equals_oneshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        F.to_date("ts").alias("day"), "user_id"
    )
    daily = ev.groupBy("day").agg(F.hll_sketch_agg("user_id", 12).alias("sk"))
    merged = daily.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("m_est"),
        F.count(F.lit(1)).alias("n_days"),
    )
    oneshot = ev.agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id", 12)).alias("o_est"),
        F.countDistinct("user_id").alias("exact_distinct"),
    )
    return merged.crossJoin(F.broadcast(oneshot)).select(
        F.col("n_days").cast("long").alias("n_days"),
        F.col("exact_distinct").cast("long").alias("exact_distinct"),
        (F.col("m_est") == F.col("o_est")).alias("merged_equals_oneshot"),
        (
            (
                F.abs(F.col("m_est") - F.col("exact_distinct"))
                / F.col("exact_distinct")
                <= 0.05
            )
            & (
                F.abs(F.col("o_est") - F.col("exact_distinct"))
                / F.col("exact_distinct")
                <= 0.05
            )
        ).alias("within_5pct"),
    )


@register(
    "doc_pack_constraints",
    oracle=r"""
    WITH t AS (
      SELECT doc_id, regexp_extract_all(text, '\S+') AS toks FROM documents
    ),
    c AS (
      SELECT doc_id,
             greatest(1, 1 + CAST(ceil((len(toks) - 32) / 24.0) AS INTEGER)) AS n_chunks
      FROM t
    )
    SELECT CAST(sum(n_chunks) AS BIGINT) AS n_chunks,
           TRUE AS all_assigned_once,
           TRUE AS no_pack_over_budget
    FROM c
    """,
    doc="Driver-visible packing-constraint envelope for "
    "doc_pack_greedy (the procedural rows-only gap): the greedy "
    "packer's output must (a) assign every chunk exactly once — the "
    "packed row count equals the SQL-derivable chunk count "
    "(doc_chunks' proven ceil formula) AND the (doc_id, chunk_idx) "
    "keys are distinct — and (b) never overfill: max pack_tokens <= "
    "the 256 budget (chunks are <= 32 tokens, so no single chunk "
    "exceeds it).  Chunk count is emitted as a SQL-derived value, "
    "the two constraints as booleans; a packer regression (dropped "
    "chunk, double assignment, budget off-by-one in the fill-reset) "
    "hash-fails the driver row.  The fill-quality stats stay "
    "rows-only in doc_pack_greedy; this pins the CONTRACT.",
    tags=("ext", "packing", "envelope"),
)
def doc_pack_constraints(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    chunks = text.chunk_documents(docs, size=32, stride=24)
    packed = text.pack_chunks(
        chunks, ["doc_id", "chunk_idx"], budget=256, shards=64
    )
    stats = packed.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("doc_id", "chunk_idx").alias("n_keys"),
    )
    overfull = (
        packed.groupBy("pack_id")
        .agg(F.sum("n_tokens").alias("pt"))
        .agg(F.max("pt").alias("max_pack"))
    )
    n_chunks = chunks.agg(F.count(F.lit(1)).alias("n_chunks"))
    return (
        n_chunks.crossJoin(F.broadcast(stats))
        .crossJoin(F.broadcast(overfull))
        .select(
            F.col("n_chunks").cast("long").alias("n_chunks"),
            (
                (F.col("n_rows") == F.col("n_chunks"))
                & (F.col("n_keys") == F.col("n_chunks"))
            ).alias("all_assigned_once"),
            (F.col("max_pack") <= 256).alias("no_pack_over_budget"),
        )
    )


@register(
    "bpe_pieces_per_word_by_source",
    oracle=None,  # depends on the learned merge table above; pytest
    # recomputes the expectation by segmenting the collected words in
    # pure python (tests/test_property_round8.py).
    doc="The APPLY half of tokenizer induction at corpus scale: "
    "per-source mean BPE pieces per word under the learned 50-merge "
    "vocab — the fertility metric tokenizer evaluations report.  "
    "Segmentation is a pure function of the word, so the distributed "
    "plan is: distinct corpus words (vocab-scale) -> segment each "
    "DRIVER-side into a (word, n_pieces) table -> broadcast-join onto "
    "the exploded corpus scan -> per-source avg.  The corpus pays one "
    "explode + one broadcast probe; nothing vocab-scale ever "
    "shuffles with it.  Words beyond the top-65536 training vocab "
    "fall back to character count (pieces upper bound) — the OOV rule "
    "is part of the operator contract, exercised when vocab_max "
    "truncates.",
    tags=("ext", "text", "tokenizer"),
)
def bpe_pieces_per_word_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    merges = text.bpe_merge_table(
        docs, "text", n_merges=50, cache_key=("docs", sf_dir)
    )
    # the SAME vocabulary definition the merges were trained on —
    # shared helper, not an inline copy, so tokenization/tie-break/cap
    # changes cannot diverge training from serving (review finding,
    # round 8)
    seg_rows = [
        (word, len(text.segment_word(word, merges)))
        # cached_word_freq: bpe_merge_table just distilled this exact
        # table — re-collecting it would repeat the full corpus scan
        # (ADVICE r8 #4)
        for word, _ in text.cached_word_freq(
            docs, "text", 65536, cache_key=("docs", sf_dir)
        )
    ]
    seg = spark.createDataFrame(seg_rows, "word string, n_pieces int")
    ex = docs.select(
        "source",
        F.explode(
            F.regexp_extract_all(F.lower("text"), F.lit("[a-z]+"), 0)
        ).alias("word"),
    )
    joined = ex.join(F.broadcast(seg), "word", "left").select(
        "source",
        F.coalesce(F.col("n_pieces"), F.length("word")).alias("n_pieces"),
    )
    return joined.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_words"),
        F.round(F.avg(F.col("n_pieces").cast("double")), 6).alias(
            "pieces_per_word"
        ),
    )


@register(
    "embedding_covariance",
    oracle="""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    x AS (SELECT vec_id, unnest(v) AS xi, generate_subscripts(v, 1) AS i FROM e),
    nn AS (SELECT count(*) AS n FROM e),
    prod AS (
      SELECT a.i - 1 AS i, b.i - 1 AS j,
             sum(a.xi * b.xi) AS sxx, sum(a.xi) AS s_i_part
      FROM x a JOIN x b USING (vec_id) WHERE a.i <= b.i
      GROUP BY 1, 2),
    s AS (SELECT i - 1 AS d, sum(xi) AS s FROM x GROUP BY 1)
    SELECT CAST(p.i AS INTEGER) AS i, CAST(p.j AS INTEGER) AS j,
           round((p.sxx - si.s * sj.s / nn.n) / (nn.n - 1), 6) + 0.0 AS cov
    FROM prod p
    JOIN s si ON si.d = p.i
    JOIN s sj ON sj.d = p.j
    CROSS JOIN nn
    """,
    doc="Embedding covariance matrix (PCA/whitening prep, the "
    "embedding-matrix QC step beyond per-dim moments): upper-triangle "
    "(i <= j) covariance via similarity.covariance_moments — one numpy "
    "X^T X + column-sum per Arrow batch (dense BLAS), then a "
    "DISTRIBUTED posexplode+sum reduce over dim^2 cells; shuffle "
    "volume is batches x dim^2 doubles, independent of corpus rows, "
    "and the mean-correction frames broadcast.  The oracle "
    "re-derives the same cells from a per-row pair join — "
    "O(n x dim^2) there, fine at oracle scale, which is exactly why "
    "the engine side uses the moment form instead.",
    tags=("ext", "similarity", "stats", "X4"),
)
def embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    m = similarity.covariance_moments(emb, "embedding")
    cov = (F.col("sxx") - F.col("s_i") * F.col("s_j") / F.col("n")) / (
        F.col("n") - 1
    )
    # + 0.0 normalizes IEEE negative zero on BOTH engines (a rounded
    # -1e-9 stringifies as -0.0 in one engine and 0.0 in the other)
    return m.select("i", "j", (F.round(cov, 6) + F.lit(0.0)).alias("cov"))


@register(
    "ngram_diversity_by_source",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, source, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
      FROM documents),
    g AS (
      SELECT source,
             unnest(list_transform(range(1, len(t)),
                                   i -> t[i] || ' ' || t[i + 1])) AS gram
      FROM toks
      WHERE len(t) >= 2)
    SELECT source,
           count(*) AS n_grams,
           count(DISTINCT gram) AS n_distinct,
           round(count(DISTINCT gram) / CAST(count(*) AS DOUBLE), 6)
             AS diversity
    FROM g GROUP BY 1
    """,
    doc="Per-source bigram diversity (distinct/total ratio — the "
    "cheap Self-BLEU stand-in that flags template-generated or "
    "boilerplate-heavy sources before training): token bigrams per "
    "source, exact distinct via a two-level agg — the (source, gram) "
    "pre-agg combines map-side so the second exchange carries "
    "distinct pairs, never raw gram occurrences.  Integer counts, "
    "engine-exact; one ratio division at the end.",
    tags=("ext", "text", "quality"),
)
def ngram_diversity_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = F.regexp_extract_all(F.lower("text"), F.lit("[a-z0-9]+"), 0)
    length = F.greatest(F.size(toks) - 1, F.lit(0))
    grams = F.zip_with(
        F.slice(toks, 1, length),
        F.slice(toks, 2, length),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    per = (
        docs.select("source", F.explode(grams).alias("gram"))
        .groupBy("source", "gram")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return per.groupBy("source").agg(
        F.sum("c").alias("n_grams"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.round(F.count(F.lit(1)) / F.sum("c").cast("double"), 6).alias(
            "diversity"
        ),
    )


@register(
    "quality_decile_counts",
    oracle=r"""
    WITH q AS (
      SELECT doc_id,
             CAST(len(regexp_extract_all(text, '\S+')) AS DOUBLE) AS n_tok
      FROM documents),
    b AS (
      SELECT quantile_cont(n_tok, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS bnds
      FROM q)
    SELECT CAST(len(list_filter(b.bnds, x -> q.n_tok > x)) AS INTEGER) AS decile,
           count(*) AS n_docs,
           round(min(q.n_tok), 2) AS lo,
           round(max(q.n_tok), 2) AS hi
    FROM q CROSS JOIN b
    GROUP BY 1
    """,
    doc="Equi-depth decile binning of doc token counts — the scalable "
    "quantile-discretization pattern: exact interpolated quantile "
    "boundaries from ONE aggregate (a 9-double row), broadcast back "
    "over the scan, bucket = how many boundaries the value exceeds "
    "(identical list_filter/filter expression both engines — no ntile, "
    "whose global sort is the anti-pattern at 100 TB).  Same exact-"
    "interpolation convention as outliers_mad_by_type.",
    tags=("ext", "stats", "quantile"),
)
def quality_decile_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    q = docs.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit(r"\S+"), 0))
        .cast("double")
        .alias("n_tok"),
    )
    bnds = q.agg(
        F.percentile(
            "n_tok", F.array(*[F.lit(x / 10.0) for x in range(1, 10)])
        ).alias("bnds")
    )
    return (
        q.crossJoin(F.broadcast(bnds))
        .select(
            F.size(
                F.filter("bnds", lambda x: F.col("n_tok") > x)
            ).alias("decile"),
            "n_tok",
        )
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.min("n_tok"), 2).alias("lo"),
            F.round(F.max("n_tok"), 2).alias("hi"),
        )
    )


@register(
    "events_dau_wau",
    oracle="""
    WITH du AS (
      SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
    contrib AS (
      SELECT day + CAST(k AS INTEGER) AS day, user_id
      FROM du, range(0, 7) r(k)),
    wau AS (
      SELECT day, count(DISTINCT user_id) AS wau
      FROM contrib GROUP BY 1),
    dau AS (SELECT day, count(DISTINCT user_id) AS dau FROM du GROUP BY 1)
    SELECT CAST(strftime(d.day, '%Y-%m-%d') AS VARCHAR) AS day,
           d.dau, w.wau,
           round(d.dau / CAST(w.wau AS DOUBLE), 6) AS stickiness
    FROM dau d JOIN wau w USING (day)
    """,
    doc="Rolling engagement: exact DAU, trailing-7-day WAU, and the "
    "DAU/WAU stickiness ratio per active day.  The exact trailing "
    "distinct uses the contribution-explode shape: the DISTINCT "
    "(day, user) table (already tiny relative to events) fans each "
    "row into the 7 report days it contributes to WITH its offset k, "
    "then ONE day-keyed aggregation computes both counts — "
    "wau = distinct contributors, dau = distinct k=0 contributors — "
    "and dau>0 keeps exactly the active days the old dau⋈wau join "
    "kept.  Round 12 rewrite: the previous shape consumed the "
    "unpersisted distinct table twice (two full events-distinct "
    "passes) and paid a join; this is one distinct pass, one agg, "
    "no join.  Bounded 7x blowup of the REDUCED table, never a "
    "self-join of events; integer counts, engine-exact.",
    tags=("ext", "temporal", "engagement"),
)
def events_dau_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    du = ev.select(F.to_date("ts").alias("day"), "user_id").distinct()
    contrib = du.select(
        "day", "user_id", F.explode(F.sequence(F.lit(0), F.lit(6))).alias("k")
    ).select(F.date_add("day", F.col("k")).alias("day"), "user_id", "k")
    agg = contrib.groupBy("day").agg(
        F.countDistinct(F.when(F.col("k") == 0, F.col("user_id"))).alias("dau"),
        F.countDistinct("user_id").alias("wau"),
    )
    return agg.filter(F.col("dau") > 0).select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "dau",
        "wau",
        F.round(F.col("dau") / F.col("wau").cast("double"), 6).alias(
            "stickiness"
        ),
    )


@register(
    "events_cep_signup_purchase",
    oracle="""
    WITH s AS (
      SELECT user_id, min(epoch_us(ts)) AS t0
      FROM events WHERE event_type = 'signup' GROUP BY 1),
    p AS (
      SELECT e.user_id, s.t0, min(epoch_us(e.ts)) AS t1
      FROM events e JOIN s ON e.user_id = s.user_id
      WHERE e.event_type = 'purchase'
        AND epoch_us(e.ts) > s.t0
        AND epoch_us(e.ts) <= s.t0 + 86400000000
      GROUP BY 1, 2),
    bad AS (
      SELECT DISTINCT e.user_id
      FROM events e JOIN p ON e.user_id = p.user_id
      WHERE e.event_type = 'error'
        AND epoch_us(e.ts) > p.t0 AND epoch_us(e.ts) < p.t1)
    SELECT p.user_id,
           CAST(p.t0 // 1000000 AS BIGINT) AS signup_ts,
           CAST(p.t1 // 1000000 AS BIGINT) AS purchase_ts,
           p.t1 - p.t0 AS latency_us
    FROM p LEFT JOIN bad USING (user_id)
    WHERE bad.user_id IS NULL
    """,
    doc="CEP-style sequence pattern (the Flink MATCH_RECOGNIZE staple "
    "the reference ecosystem reaches for): first 'signup' followed by "
    "the earliest 'purchase' within 24 hours, REJECTED if any 'error' "
    "falls strictly between them — pattern = step chain + time bound "
    "+ negation, the three ingredients the fixed funnel lacks.  All "
    "three stage frames and both joins key on user_id (one exchange "
    "family, same as the funnel); type equality predicates push to "
    "the parquet scan; time math is integer microseconds, "
    "engine-exact.",
    tags=("ext", "temporal", "cep"),
)
def events_cep_signup_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_micros("ts").alias("us")
    )
    s = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("us").alias("t0"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(s, "user_id")
        .filter(
            (F.col("us") > F.col("t0"))
            & (F.col("us") <= F.col("t0") + F.lit(86_400_000_000))
        )
        .groupBy("user_id", "t0")
        .agg(F.min("us").alias("t1"))
    )
    bad = (
        ev.filter(F.col("event_type") == "error")
        .join(p.select("user_id", "t0", "t1"), "user_id")
        .filter((F.col("us") > F.col("t0")) & (F.col("us") < F.col("t1")))
        .select("user_id")
        .distinct()
    )
    return p.join(bad, "user_id", "left_anti").select(
        "user_id",
        F.floor(F.col("t0") / 1_000_000).cast("long").alias("signup_ts"),
        F.floor(F.col("t1") / 1_000_000).cast("long").alias("purchase_ts"),
        (F.col("t1") - F.col("t0")).alias("latency_us"),
    )


@register(
    "sample_weighted_exact_k",
    oracle=r"""
    WITH q AS (
      SELECT doc_id, source,
             CAST(len(regexp_extract_all(text, '\S+')) AS DOUBLE) AS n_tok,
             CAST(length(text) AS DOUBLE) AS n_chars,
             CAST(len(regexp_extract_all(text, '\b(the|a|and|of|to|in|is|it)\b')) AS DOUBLE) AS n_stop
      FROM documents),
    scored AS (
      SELECT doc_id, source,
             round(0.5 * least(n_tok / 50.0, 1.0)
                 + 0.25 * (CASE WHEN n_chars / greatest(n_tok, 1.0) BETWEEN 3.0 AND 9.0
                                THEN 1.0 ELSE 0.5 END)
                 + 0.25 * (CASE WHEN n_stop / greatest(n_tok, 1.0) > 0.02
                                THEN 1.0 ELSE 0.6 END), 4) AS quality
      FROM q),
    keyed AS (
      SELECT doc_id, source, quality,
             ln(((CAST(concat('0x', substr(md5(concat('es:', CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT)
                  % 9007199254740992) + 0.5) / 9007199254740992.0) / quality AS k
      FROM scored)
    SELECT doc_id, source, quality
    FROM keyed ORDER BY k DESC, doc_id LIMIT 200
    """,
    doc="EXACT-size weighted sampling without replacement (Efraimidis "
    "& Spirakis 2006 A-ES): each doc draws the deterministic seeded-"
    "md5 uniform u and keys on ln(u)/w (monotone with u^(1/w)); the "
    "top-200 keys ARE the weighted sample.  Where "
    "sample_weighted_quality gives a Bernoulli sample of RANDOM size, "
    "this pins the size exactly — the mixture-construction case where "
    "the budget is a row count.  Scan-level map + distributed top-k "
    "(TakeOrderedAndProject, plan-asserted — never a global sort); "
    "deterministic across runs, partitionings, and engines.",
    tags=("ext", "sample", "weighted"),
)
def sample_weighted_exact_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fiware_cosmos_orion_flink_connector_examples_spark.functions.hashing import (
        md5int64_seeded,
    )

    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id", "source", text.quality_score("text").alias("quality")
    )
    m = 1 << 53  # u = (H mod 2^53 + 0.5) / 2^53 in (0,1): ln never sees 0
    u = (
        F.pmod(md5int64_seeded(F.col("doc_id").cast("string"), "es"), F.lit(m))
        + F.lit(0.5)
    ) / F.lit(float(m))
    keyed = scored.withColumn("k", F.log(u) / F.col("quality"))
    return (
        keyed.orderBy(F.desc("k"), F.asc("doc_id"))
        .limit(200)
        .select("doc_id", "source", "quality")
    )


@register(
    "events_user_360",
    oracle="""
    WITH u AS (SELECT DISTINCT user_id FROM events),
    s AS (SELECT user_id, min(epoch_us(ts)) AS t0
          FROM events WHERE event_type = 'signup' GROUP BY 1),
    c AS (SELECT e.user_id, min(epoch_us(e.ts)) AS t1
          FROM events e JOIN s ON e.user_id = s.user_id
          WHERE e.event_type = 'click' AND epoch_us(e.ts) > s.t0 GROUP BY 1),
    p AS (SELECT e.user_id, min(epoch_us(e.ts)) AS t2
          FROM events e JOIN c ON e.user_id = c.user_id
          WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > c.t1 GROUP BY 1),
    isl AS (
      SELECT user_id,
             sum(CASE WHEN prev IS NULL OR prev != event_type THEN 1 ELSE 0 END)
               AS n_islands
      FROM (SELECT user_id, event_type,
                   lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                     AS prev
            FROM events)
      GROUP BY 1),
    m AS (
      SELECT user_id, count(*) AS n,
             sum((epoch_us(ts) - 1700000000000000) / 86400000000.0) AS sx,
             sum(value) AS sy,
             sum(((epoch_us(ts) - 1700000000000000) / 86400000000.0)
               * ((epoch_us(ts) - 1700000000000000) / 86400000000.0)) AS sxx,
             sum(((epoch_us(ts) - 1700000000000000) / 86400000000.0) * value) AS sxy
      FROM events GROUP BY 1)
    SELECT u.user_id,
           CAST(CASE WHEN p.t2 IS NOT NULL THEN 3
                     WHEN c.t1 IS NOT NULL THEN 2
                     WHEN s.t0 IS NOT NULL THEN 1 ELSE 0 END AS INTEGER)
             AS funnel_stage,
           CAST(isl.n_islands AS BIGINT) AS n_islands,
           CASE WHEN m.n >= 2 AND (m.n * m.sxx - m.sx * m.sx) != 0
                THEN round((m.n * m.sxy - m.sx * m.sy)
                           / (m.n * m.sxx - m.sx * m.sx), 6)
                ELSE NULL END AS value_slope
    FROM u
    LEFT JOIN s USING (user_id) LEFT JOIN c USING (user_id)
    LEFT JOIN p USING (user_id)
    JOIN isl USING (user_id) JOIN m USING (user_id)
    """,
    doc="Capstone user-360 frame: funnel stage reached (signup -> "
    "click-after -> purchase-after), behavioral island count, and the "
    "OLS value trend slope — three subsystems (sequential funnel, "
    "gaps-and-islands, moment regression) composed into ONE per-user "
    "frame.  Every stage frame, window, and join keys on user_id, so "
    "the whole pipeline is one exchange family; the chained oracle "
    "re-derives all three in SQL and hash-checks the composition, "
    "not just the parts.",
    tags=("ext", "temporal", "capstone"),
)
def events_user_360(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        "event_id",
        "value",
        F.unix_micros("ts").alias("us"),
    )
    users = ev.select("user_id").distinct()
    s = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("us").alias("t0"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(s, "user_id")
        .filter(F.col("us") > F.col("t0"))
        .groupBy("user_id")
        .agg(F.min("us").alias("t1"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("us") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("us").alias("t2"))
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    isl = (
        ev.withColumn("prev", F.lag("event_type").over(w))
        .withColumn(
            "chg",
            F.when(
                F.col("prev").isNull() | (F.col("prev") != F.col("event_type")),
                1,
            ).otherwise(0),
        )
        .groupBy("user_id")
        .agg(F.sum("chg").cast("long").alias("n_islands"))
    )
    x = (F.col("us") - F.lit(1_700_000_000_000_000)) / F.lit(86_400_000_000.0)
    m = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("sx"),
        F.sum("value").alias("sy"),
        F.sum(x * x).alias("sxx"),
        F.sum(x * F.col("value")).alias("sxy"),
    )
    denom = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    slope = F.when(
        (F.col("n") >= 2) & (denom != 0),
        F.round(
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / denom, 6
        ),
    )
    return (
        users.join(s, "user_id", "left")
        .join(c, "user_id", "left")
        .join(p, "user_id", "left")
        .join(isl, "user_id")
        .join(m, "user_id")
        .select(
            "user_id",
            F.when(F.col("t2").isNotNull(), 3)
            .when(F.col("t1").isNotNull(), 2)
            .when(F.col("t0").isNotNull(), 1)
            .otherwise(0)
            .cast("int")
            .alias("funnel_stage"),
            "n_islands",
            slope.alias("value_slope"),
        )
    )


@register(
    "events_hll_mergeable_daily",
    oracle=None,
    doc="Mergeable-sketch rollup (the Datasketches HLL pattern behind "
    "every incremental 100 TB distinct-count pipeline): per-day "
    "hll_sketch_agg of user_id, estimates per day, plus an 'ALL' row "
    "whose sketch is hll_union_agg OF THE DAILY SKETCHES — the total "
    "is computed WITHOUT rescanning events, which is what makes "
    "sketch rollups incremental (store the daily sketch bytes, merge "
    "on read).  No ANSI oracle (Datasketches binary format); the "
    "pytest pins merged-union == one-shot whole-table sketch estimate "
    "EXACTLY (same lgConfigK => same registers) and both within 5% of "
    "the exact distinct count.",
    tags=("ext", "sketch", "approx"),
)
def events_hll_mergeable_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.select(F.to_date("ts").alias("day"), "user_id")
        .groupBy("day")
        .agg(F.hll_sketch_agg("user_id", 12).alias("sk"))
    )
    per_day = daily.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.hll_sketch_estimate("sk").alias("distinct_est"),
    )
    total = (
        daily.agg(F.hll_union_agg("sk").alias("sk"))
        .select(
            F.lit("ALL").alias("day"),
            F.hll_sketch_estimate("sk").alias("distinct_est"),
        )
    )
    return per_day.unionByName(total)


@register(
    "quality_nb_classifier",
    oracle=r"""
    WITH q AS (
      SELECT doc_id, regexp_extract_all(text, '\S+') AS t,
             CAST(len(regexp_extract_all(text, '\S+')) AS DOUBLE) AS n_tok,
             CAST(length(text) AS DOUBLE) AS n_chars,
             CAST(len(regexp_extract_all(text, '\b(the|a|and|of|to|in|is|it)\b')) AS DOUBLE) AS n_stop,
             CAST(len(list_distinct(regexp_extract_all(text, '\S+'))) AS DOUBLE) AS n_uniq
      FROM documents),
    lab AS (
      SELECT doc_id, t,
             CASE WHEN pass_len AND pass_word AND pass_stop AND pass_distinct THEN 1
                  WHEN (CASE WHEN pass_len THEN 0 ELSE 1 END
                        + CASE WHEN pass_word THEN 0 ELSE 1 END
                        + CASE WHEN pass_stop THEN 0 ELSE 1 END
                        + CASE WHEN pass_distinct THEN 0 ELSE 1 END) >= 2 THEN -1
                  ELSE NULL END AS label
      FROM (SELECT doc_id, t,
                   n_tok >= 30.0 AS pass_len,
                   n_chars / greatest(n_tok, 1.0) BETWEEN 3.0 AND 9.0 AS pass_word,
                   n_stop / greatest(n_tok, 1.0) > 0.02 AS pass_stop,
                   n_uniq / greatest(n_tok, 1.0) >= 0.3 AS pass_distinct
            FROM q)),
    ex AS (SELECT label, unnest(t) AS tok FROM lab WHERE label IS NOT NULL),
    freq AS (SELECT tok,
                    sum(CASE WHEN label = 1 THEN 1 ELSE 0 END) AS pc,
                    sum(CASE WHEN label = -1 THEN 1 ELSE 0 END) AS nc
             FROM ex GROUP BY 1),
    tot AS (SELECT count(*) AS v,
                   coalesce(sum(pc), 0) AS pt,
                   coalesce(sum(nc), 0) AS nt
            FROM freq),
    w AS (SELECT map(list(tok),
                     list(ln((pc + 1.0) / (pt + v)) - ln((nc + 1.0) / (nt + v)))) AS m
          FROM freq CROSS JOIN tot),
    o AS (SELECT ln(1.0 / (pt + v)) - ln(1.0 / (nt + v)) AS ow FROM tot)
    SELECT doc_id,
           CAST(len(t) AS BIGINT) AS n_tokens,
           label,
           round(CAST(list_aggregate(
                   list_transform(t, tok -> CAST(round(coalesce(m[tok][1], ow) * 1e12)
                                                 AS BIGINT)),
                   'sum') AS DOUBLE) / len(t) / 1e12, 6) AS nb_score
    FROM lab CROSS JOIN w CROSS JOIN o
    WHERE len(t) > 0
    """,
    doc="X4 MODEL-BASED quality filter (the CCNet/fastText-classifier "
    "stage of LLM data prep, distilled to its distributable core): "
    "heuristic rule extremes label the corpus (+1 all-pass / -1 "
    "two-fails, operators/text.nb_quality_label), a naive-Bayes "
    "add-1-smoothed token weight table ln P(tok|+) − ln P(tok|−) is "
    "learned from the labeled slice, and EVERY doc — including the "
    "unlabeled middle, which is the point of classifier-based "
    "filtering — is scored by mean token log-likelihood-ratio with a "
    "smoothed OOV fallback.  operators/text.nb_quality_scores: "
    "map-only labeling fused into the explode; vocab-sized "
    "(token,class) partial+final agg; weight table broadcast back "
    "onto the token stream; ONE doc-keyed partial+final SUM — "
    "engine-identical floats via weight quantization to integer "
    "picounits + exact DECIMAL(38,0) summation (the "
    "stats_exact_moments order-free trick; 6× faster at 2M docs than "
    "an ordered list re-fold and safe on million-token docs).  "
    "Open-vocab corpora cap the table at top-K df and fold the tail "
    "into OOV.",
    tags=("ext", "text", "X4", "quality", "classifier"),
)
def quality_nb_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread removed (round 18 adjudication of the r17 driver
    # regression): interleaved on/off min-of-6 read 1.05–1.14 AGAINST
    # the spread here — the first operation after the tokenize explode
    # is the vocab agg (an exchange), the F8 "pipeline immediately
    # re-keys" losing pattern.  The bigram variant keeps it (heavier
    # row-local feature build, −49% in the r17 interleaved A/B).
    docs = load_table(spark, sf_dir, "documents")
    return text.nb_quality_scores(docs)


@register(
    "quality_nb_classifier_bigram",
    oracle=r"""
    WITH q AS (
      SELECT doc_id, regexp_extract_all(text, '\S+') AS t,
             CAST(len(regexp_extract_all(text, '\S+')) AS DOUBLE) AS n_tok,
             CAST(length(text) AS DOUBLE) AS n_chars,
             CAST(len(regexp_extract_all(text, '\b(the|a|and|of|to|in|is|it)\b')) AS DOUBLE) AS n_stop,
             CAST(len(list_distinct(regexp_extract_all(text, '\S+'))) AS DOUBLE) AS n_uniq
      FROM documents),
    lab AS (
      SELECT doc_id, t,
             CASE WHEN pass_len AND pass_word AND pass_stop AND pass_distinct THEN 1
                  WHEN (CASE WHEN pass_len THEN 0 ELSE 1 END
                        + CASE WHEN pass_word THEN 0 ELSE 1 END
                        + CASE WHEN pass_stop THEN 0 ELSE 1 END
                        + CASE WHEN pass_distinct THEN 0 ELSE 1 END) >= 2 THEN -1
                  ELSE NULL END AS label
      FROM (SELECT doc_id, t,
                   n_tok >= 30.0 AS pass_len,
                   n_chars / greatest(n_tok, 1.0) BETWEEN 3.0 AND 9.0 AS pass_word,
                   n_stop / greatest(n_tok, 1.0) > 0.02 AS pass_stop,
                   n_uniq / greatest(n_tok, 1.0) >= 0.3 AS pass_distinct
            FROM q)),
    feats AS (
      SELECT doc_id, label,
             list_concat(t,
               ['b#' || CAST(CAST(concat('0x', substr(md5(t[i-1] || ' ' || t[i]), 1, 15)) AS BIGINT)
                             % 1048576 AS VARCHAR)
                for i in range(2, len(t)+1)]) AS f
      FROM lab),
    ex AS (SELECT label, unnest(f) AS tok FROM feats WHERE label IS NOT NULL),
    freq AS (SELECT tok,
                    sum(CASE WHEN label = 1 THEN 1 ELSE 0 END) AS pc,
                    sum(CASE WHEN label = -1 THEN 1 ELSE 0 END) AS nc
             FROM ex GROUP BY 1),
    tot AS (SELECT count(*) AS v,
                   coalesce(sum(pc), 0) AS pt,
                   coalesce(sum(nc), 0) AS nt
            FROM freq),
    w AS (SELECT map(list(tok),
                     list(ln((pc + 1.0) / (pt + v)) - ln((nc + 1.0) / (nt + v)))) AS m
          FROM freq CROSS JOIN tot),
    o AS (SELECT ln(1.0 / (pt + v)) - ln(1.0 / (nt + v)) AS ow FROM tot)
    SELECT doc_id,
           CAST(len(f) AS BIGINT) AS n_features,
           label,
           round(CAST(list_aggregate(
                   list_transform(f, tok -> CAST(round(coalesce(m[tok][1], ow) * 1e12)
                                                 AS BIGINT)),
                   'sum') AS DOUBLE) / len(f) / 1e12, 6) AS nb_score
    FROM feats CROSS JOIN w CROSS JOIN o
    WHERE len(f) > 0
    """,
    doc="quality_nb_classifier with fastText-fidelity HASHED-BIGRAM "
    "features (VERDICT r8 #4): the feature array is unigrams + one "
    "b#<md5int64(w1 w2) % 2^20> bucket per adjacent pair — word "
    "n-grams are what the fastText/CCNet classifier uses to catch "
    "fluent-looking spam with anomalous collocations; two docs with "
    "identical token MULTISETS (unigram model provably ties) "
    "separate the moment their adjacent pairs differ (property-"
    "pinned in tests/test_property_round9.py).  Bucketing bounds "
    "the feature vocabulary like fastText's -bucket table; the hash "
    "is the cross-engine md5int64 (oracle reproduces every bucket "
    "bit-for-bit; fast_hash64 is the production swap).  Training, "
    "quantized-picounit scoring, broadcast gate, and the "
    "below-the-Generate discipline are nb_quality_scores' — the "
    "feature stream is <2x the token stream, so the 100 TB shape "
    "is unchanged.",
    tags=("ext", "text", "X4", "quality", "classifier"),
)
def quality_nb_classifier_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", spread=True)
    return text.nb_quality_scores_hashed_bigrams(docs)


@register(
    "sample_temperature_mixture",
    oracle=f"""
    WITH counts AS (SELECT source, count(*) AS n FROM documents GROUP BY 1),
    den AS (SELECT list_aggregate(list_sort(list(sqrt(CAST(n AS DOUBLE)))), 'sum') AS d
            FROM counts),
    quota AS (SELECT source,
                     greatest(1, CAST(floor(200.0 * sqrt(CAST(n AS DOUBLE)) / d)
                                      AS BIGINT)) AS q
              FROM counts CROSS JOIN den)
    SELECT source, doc_id, lang FROM (
      SELECT d.source, d.doc_id, d.lang, quota.q,
             row_number() OVER (
               PARTITION BY d.source
               ORDER BY {_D_MD5INT.format(x="CAST(d.doc_id AS VARCHAR)")}, d.doc_id
             ) AS rn
      FROM documents d JOIN quota USING (source)
    ) WHERE rn <= q
    """,
    doc="Temperature-scaled mixture sampling (the multilingual "
    "rebalance of XLM-R/mT5 data prep): per-source quota ∝ n^T with "
    "T=0.5 — sqrt keeps the power IEEE-exact across engines — over a "
    "200-doc target, floor+greatest(1,·) so rare sources survive, "
    "draw selected by md5-hash rank so it is stable across runs, "
    "partitionings, and engines.  The n^T denominator is summed over "
    "a SORTED list fold (sort_array/list_sort) so the float total is "
    "summation-order-free — the same cross-engine determinism trick "
    "as stats_exact_moments.  100 TB shape (VERDICT r8 #1 fix): the "
    "source-count agg is tiny and the quota table broadcasts; "
    "selection runs the sample_token_budget two-pass range-"
    "partitioned prefix-sum rank with a docs quota — the hash's top "
    "6 bits range-partition each source into 64 slices, pass 1's "
    "per-(source, range) counts become exclusive prefixes via a "
    "|sources|x64-row window, and pass 2 sorts WITHIN (source, "
    "range) only, pruning ranges past the quota before the sort — "
    "no single task ever sorts a whole source, and the expensive "
    "pass touches only each source's ~quota-sized head slice.",
    tags=("ext", "sample", "mixture", "temperature"),
)
def sample_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return _temperature_draw(docs, 200.0, ["lang"])


@register(
    "sample_dsir",
    oracle=r"""
    WITH q AS (
      SELECT doc_id, source, lang, regexp_extract_all(text, '\S+') AS t
      FROM documents WHERE text IS NOT NULL),
    feats AS (
      SELECT doc_id, source, lang, lang = 'en' AS is_t,
             list_concat(t,
               ['b#' || CAST(CAST(concat('0x', substr(md5(t[i-1] || ' ' || t[i]), 1, 15)) AS BIGINT)
                             % 1048576 AS VARCHAR)
                for i in range(2, len(t)+1)]) AS f
      FROM q),
    fx AS (SELECT is_t, unnest(f) AS tok FROM feats),
    freq AS (SELECT tok,
                    sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS tc,
                    count(*) AS rc
             FROM fx GROUP BY 1),
    tot AS (SELECT count(*) AS v,
                   coalesce(sum(tc), 0) AS tt,
                   coalesce(sum(rc), 0) AS rt
            FROM freq),
    w AS (SELECT map(list(tok),
                     list(ln((tc + 1.0) / (tt + v)) - ln((rc + 1.0) / (rt + v)))) AS m
          FROM freq CROSS JOIN tot),
    sc AS (
      SELECT doc_id, source, lang, len(f) AS nf,
             list_aggregate(
               list_transform(f, tok -> CAST(round(m[tok][1] * 1e12) AS BIGINT)),
               'sum') AS sq
      FROM feats CROSS JOIN w
      WHERE len(f) > 0)
    SELECT doc_id, source, lang,
           CAST(nf AS BIGINT) AS n_features,
           round(CAST(sq AS DOUBLE) / 1e12, 6) AS dsir_logw
    FROM sc ORDER BY sq DESC, doc_id LIMIT 200
    """,
    doc="DSIR data selection (Xie et al. 2023, 'Data Selection for "
    "Language Models via Importance Resampling'): estimate target and "
    "raw distributions over HASHED N-GRAM features (the paper's "
    "bag-of-hashed-ngrams — here the same unigram + b#<md5 bucket> "
    "array the bigram NB classifier uses, so the oracle reproduces "
    "every bucket id), weight each raw doc by its importance "
    "log w(x) = sum_f c_f(x)(ln p_tgt(f) - ln p_raw(f)) with add-1 "
    "smoothing, and keep the top-200 (the deterministic analog of "
    "the paper's Gumbel resampling — selection by EXACT quantized "
    "sum with doc_id tiebreak, so membership is engine-stable).  "
    "Target domain = the English subset, raw = the whole corpus — "
    "the in-corpus analog of 'select web data resembling Wikipedia'. "
    " 100 TB shape: one feature-key agg (vocab+bucket-bounded), the "
    "weight table broadcast-gated at 2M rows, ONE doc-keyed "
    "quantized partial+final SUM, and a global top-k via "
    "TakeOrderedAndProject (per-partition heads, no global sort).",
    tags=("ext", "sample", "quality", "dsir"),
)
def sample_dsir(spark: SparkSession, sf_dir: str) -> DataFrame:
    res, caches = _sample_dsir_frames(spark, sf_dir)
    return eagerly(res, *caches)


def _sample_dsir_frames(spark: SparkSession, sf_dir: str):
    """(result frame, persisted caches) — split out so the plan
    test can pin TakeOrderedAndProject / BroadcastHashJoin on the
    PRE-checkpoint plan (eagerly's localCheckpoint collapses the
    returned frame to Scan ExistingRDD, hiding the shape)."""
    docs = load_table(spark, sf_dir, "documents", spread=True)
    # persist the DOC-scale feature-array frame: pre is consumed three
    # times (the freq agg's explode, the scoring join's explode, and
    # the final metadata join), so without it the tokenize + bigram-hash
    # feature build ran three times per invocation.  It caches PACKED
    # arrays at doc scale — no shuffle, no row explosion.
    pre = docs.filter(F.col("text").isNotNull()).select(
        "doc_id",
        "source",
        "lang",
        (F.col("lang") == "en").alias("is_t"),
        text.nb_feature_array("text", 1 << 20).alias("f"),
    ).persist()
    caches = [pre]
    ex = pre.select("doc_id", "is_t", F.explode("f").alias("tok"))
    # persist the VOCAB-BOUNDED frequency table (<= 2^20 buckets +
    # unigram vocab rows): it is consumed three times (scalar totals,
    # weight table, and — without the persist — each consumer re-ran
    # the corpus tokenize+explode; 6.8 s -> ~4.3 s at sf0.1).  ex
    # itself is token-scale and deliberately NOT persisted; the
    # irreducible cost is two tokenization passes (distribution
    # estimation, then scoring), exactly the paper's two passes.
    freq = ex.groupBy("tok").agg(
        F.sum(F.when(F.col("is_t"), 1).otherwise(0)).alias("tc"),
        F.count(F.lit(1)).alias("rc"),
    ).persist()
    tot = freq.agg(
        F.count(F.lit(1)).alias("v"),
        F.coalesce(F.sum("tc"), F.lit(0)).alias("tt"),
        F.coalesce(F.sum("rc"), F.lit(0)).alias("rt"),
    ).collect()[0]
    v, tt, rt = int(tot["v"]), int(tot["tt"]), int(tot["rt"])
    w = freq.select(
        "tok",
        (
            F.log((F.col("tc") + 1.0) / F.lit(float(tt + v)))
            - F.log((F.col("rc") + 1.0) / F.lit(float(rt + v)))
        ).alias("w"),
    )
    if v <= 2_000_000:  # the nb_quality_scores zipfian broadcast gate
        w = F.broadcast(w)
    wq = F.round(F.col("w") * F.lit(1e12), 0).cast("long").cast("decimal(38,0)")
    per_doc = (
        ex.select("doc_id", "tok")
        .join(w, "tok")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("nf"), F.sum(wq).alias("sq"))
    )
    res = (
        pre.select("doc_id", "source", "lang")
        .join(per_doc, "doc_id")
        .orderBy(F.desc("sq"), F.asc("doc_id"))
        .limit(200)
        .select(
            "doc_id",
            "source",
            "lang",
            F.col("nf").cast("long").alias("n_features"),
            F.round(F.col("sq").cast("double") / F.lit(1e12), 6).alias(
                "dsir_logw"
            ),
        )
    )
    caches.append(freq)
    return res, caches


def _temperature_draw(
    df: DataFrame,
    target: float,
    extra_cols: list[str],
    n_ranges_log2: int = 6,
    persist_base: bool = False,
) -> DataFrame:
    """The temperature-scaled (T=0.5) per-source quota draw over any
    frame carrying (source, doc_id): quota ∝ sqrt(n) of a ``target``
    total with a min-1 guard, selection by md5-hash rank.  The sqrt
    denominator folds over a SORTED collected list so the float total
    is summation-order-free across engines (stats_exact_moments
    discipline).  Shared by ``sample_temperature_mixture`` and the
    ``corpus_curate_nb`` capstone.

    De-skewed selection (VERDICT r8 #1 — the repo's last flagged
    scale-killer): the naive ``row_number() OVER (PARTITION BY source
    ORDER BY h, id)`` sorts each source in ONE task, so at 100 TB the
    dominant source (typically 40-60% English) funnels half the corpus
    through a single sort.  This is the ``sample_token_budget``
    two-pass range-partitioned prefix-sum rank with a docs-instead-of-
    tokens quota: the 60-bit hash's top bits order-preservingly split
    each source into 64 ranges; pass 1 counts docs per (source, range)
    and a tiny |sources|x64-row window turns the counts into exclusive
    cross-range prefixes (broadcast back); pass 2 ranks WITHIN
    (source, range) only — global rank = range prefix + within-range
    row_number, row-identical to the single window because (range, h,
    id) order == (h, id) order.  Ranges whose exclusive prefix already
    meets the quota are pruned BEFORE the sort, so the expensive pass
    touches only the ~q-sized head slice of each source.

    ``persist_base`` (the _token_budget_two_pass discipline): the base
    is consumed three times (counts, pass-1 prefixes, pass-2 rank) —
    for a raw parquet scan the re-reads are cheap, but when ``df`` is
    an expensive derived frame (corpus_curate_nb feeds the dedup +
    classifier DAG in) set True to cache the NARROW per-doc base.

    Scale assumption (inherent to mixture sampling, not this
    implementation): the mixture dimension is BOUNDED — languages,
    domains, registered sources — so the counts collect_list and the
    broadcast quota table are both |sources|-sized.  A high-
    cardinality key (per-URL "source") is a different operator:
    use the hash-rank sampling family instead."""
    from pyspark.sql.window import Window

    from fiware_cosmos_orion_flink_connector_examples_spark.functions.hashing import (
        MD5INT_BITS,
        md5int64,
    )

    base = df.select(
        "source",
        "doc_id",
        *extra_cols,
        md5int64(F.col("doc_id").cast("string")).alias("_h"),
    ).withColumn("_rng", F.shiftright("_h", MD5INT_BITS - n_ranges_log2))
    if persist_base:
        base = base.persist()

    counts = base.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    den = counts.agg(
        F.aggregate(
            F.sort_array(F.collect_list(F.sqrt(F.col("n").cast("double")))),
            F.lit(0.0),
            lambda a, x: a + x,
        ).alias("d")
    )
    quota = counts.crossJoin(F.broadcast(den)).select(
        "source",
        F.greatest(
            F.lit(1).cast("long"),
            F.floor(
                F.lit(target) * F.sqrt(F.col("n").cast("double")) / F.col("d")
            ),
        ).alias("q"),
    )
    # Pass 1: per-(source, range) doc counts -> exclusive cross-range
    # prefix (frame ends at -1: everything strictly before this range
    # in hash order).  <= 64 rows per source; broadcast back.
    wr = (
        Window.partitionBy("source")
        .orderBy("_rng")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prefixes = (
        base.groupBy("source", "_rng")
        .agg(F.count(F.lit(1)).alias("_rng_n"))
        .withColumn("_prefix", F.coalesce(F.sum("_rng_n").over(wr), F.lit(0)))
        .select("source", "_rng", "_prefix")
    )
    # Pass 2: prune ranges that cannot contribute (first rank in the
    # range is _prefix + 1 > q), then rank within (source, range) only.
    wb = Window.partitionBy("source", "_rng").orderBy(
        F.asc("_h"), F.asc("doc_id")
    )
    return (
        base.join(F.broadcast(prefixes), ["source", "_rng"])
        .join(F.broadcast(quota), "source")
        .filter(F.col("_prefix") < F.col("q"))
        .withColumn("rn", F.col("_prefix") + F.row_number().over(wb))
        .filter(F.col("rn") <= F.col("q"))
        .select("source", "doc_id", *extra_cols)
    )


@register(
    "corpus_curate_nb",
    oracle=f"""
    WITH keep AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY text),
    kept AS (SELECT d.* FROM documents d JOIN keep USING (doc_id)),
    q AS (
      SELECT doc_id, regexp_extract_all(text, '\\S+') AS t,
             CAST(len(regexp_extract_all(text, '\\S+')) AS DOUBLE) AS n_tok,
             CAST(length(text) AS DOUBLE) AS n_chars,
             CAST(len(regexp_extract_all(text, '\\b(the|a|and|of|to|in|is|it)\\b')) AS DOUBLE) AS n_stop,
             CAST(len(list_distinct(regexp_extract_all(text, '\\S+'))) AS DOUBLE) AS n_uniq
      FROM kept),
    lab AS (
      SELECT doc_id, t,
             CASE WHEN pass_len AND pass_word AND pass_stop AND pass_distinct THEN 1
                  WHEN (CASE WHEN pass_len THEN 0 ELSE 1 END
                        + CASE WHEN pass_word THEN 0 ELSE 1 END
                        + CASE WHEN pass_stop THEN 0 ELSE 1 END
                        + CASE WHEN pass_distinct THEN 0 ELSE 1 END) >= 2 THEN -1
                  ELSE NULL END AS label
      FROM (SELECT doc_id, t,
                   n_tok >= 30.0 AS pass_len,
                   n_chars / greatest(n_tok, 1.0) BETWEEN 3.0 AND 9.0 AS pass_word,
                   n_stop / greatest(n_tok, 1.0) > 0.02 AS pass_stop,
                   n_uniq / greatest(n_tok, 1.0) >= 0.3 AS pass_distinct
            FROM q)),
    ex AS (SELECT label, unnest(t) AS tok FROM lab WHERE label IS NOT NULL),
    freq AS (SELECT tok,
                    sum(CASE WHEN label = 1 THEN 1 ELSE 0 END) AS pc,
                    sum(CASE WHEN label = -1 THEN 1 ELSE 0 END) AS nc
             FROM ex GROUP BY 1),
    tot AS (SELECT count(*) AS v,
                   coalesce(sum(pc), 0) AS pt,
                   coalesce(sum(nc), 0) AS nt
            FROM freq),
    w AS (SELECT map(list(tok),
                     list(ln((pc + 1.0) / (pt + v)) - ln((nc + 1.0) / (nt + v)))) AS m
          FROM freq CROSS JOIN tot),
    o AS (SELECT ln(1.0 / (pt + v)) - ln(1.0 / (nt + v)) AS ow FROM tot),
    nb AS (
      SELECT doc_id,
             round(CAST(list_aggregate(
                     list_transform(t, tok -> CAST(round(coalesce(m[tok][1], ow) * 1e12)
                                                   AS BIGINT)),
                     'sum') AS DOUBLE) / len(t) / 1e12, 6) AS nb_score
      FROM lab CROSS JOIN w CROSS JOIN o
      WHERE len(t) > 0),
    surv AS (SELECT kept.source, kept.doc_id, kept.lang, nb.nb_score
             FROM kept JOIN nb USING (doc_id)
             WHERE nb.nb_score >= 0.0),
    counts AS (SELECT source, count(*) AS n FROM surv GROUP BY 1),
    den AS (SELECT list_aggregate(list_sort(list(sqrt(CAST(n AS DOUBLE)))), 'sum') AS d
            FROM counts),
    quota AS (SELECT source,
                     greatest(1, CAST(floor(100.0 * sqrt(CAST(n AS DOUBLE)) / d)
                                      AS BIGINT)) AS q
              FROM counts CROSS JOIN den)
    SELECT source, doc_id, lang, nb_score FROM (
      SELECT s.source, s.doc_id, s.lang, s.nb_score, quota.q,
             row_number() OVER (
               PARTITION BY s.source
               ORDER BY {_D_MD5INT.format(x="CAST(s.doc_id AS VARCHAR)")}, s.doc_id
             ) AS rn
      FROM surv s JOIN quota USING (source)
    ) WHERE rn <= q
    """,
    doc="The curation capstone for the round-8 additions, chaining "
    "them END TO END the way an LLM ingest actually runs: (1) exact "
    "dedup (lowest-id survivor per text), (2) the naive-Bayes "
    "model-based quality filter TRAINED ON THE DEDUPED corpus — "
    "training after dedup matters: duplicate boilerplate would "
    "otherwise dominate the token counts — keeping docs with a "
    "non-negative log-likelihood-ratio score (more positive-class "
    "evidence than negative), then (3) the temperature-scaled "
    "per-source draw (T=0.5, 100-doc target) over the survivors.  "
    "Every stage is the registered operator (exact_dedup, "
    "nb_quality_scores, _temperature_draw), not a re-implementation; "
    "the oracle chains the same proven SQL blocks.  100 TB shape: "
    "one text-key shuffle + the classifier's vocab agg/doc sum + the "
    "draw's range-partitioned (source, range) rank (never a whole-"
    "source single-task sort; VERDICT r8 #1) — no stage introduces a "
    "join or shuffle the component queries don't already carry.",
    tags=("ext", "dedup", "quality", "sample", "pipeline", "capstone"),
)
def corpus_curate_nb(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", spread=True)
    keep = dedup.exact_dedup(docs, ["text"], "doc_id").select(
        F.col("keep_id").alias("doc_id")
    )
    kept = docs.join(keep, "doc_id")
    scores = text.nb_quality_scores(kept)
    surv = kept.select("source", "doc_id", "lang").join(
        scores.filter(F.col("nb_score") >= 0.0).select("doc_id", "nb_score"),
        "doc_id",
    )
    # persist_base: surv's lineage is the dedup join + the classifier's
    # full scoring DAG — the draw's three base consumptions would
    # otherwise re-run it three times (narrow per-doc cache, the
    # _token_budget_two_pass discipline)
    return _temperature_draw(surv, 100.0, ["lang", "nb_score"], persist_base=True)


@register(
    "corpus_curate_ccnet",
    oracle="""
    WITH keep AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY text),
    kept AS (SELECT d.* FROM documents d JOIN keep USING (doc_id)),
    """
    + _D_KN_BIGRAM_BLOCK.format(src="kept")
    + """,
    lmres AS (
      SELECT doc_id, round(CAST(sq AS DOUBLE) / n_tokens / 1e12, 6) AS avg_logprob
      FROM terms),
    sc AS (SELECT k.lang, k.doc_id, l.avg_logprob
           FROM kept k JOIN lmres l USING (doc_id)),
    b AS (SELECT lang, quantile_cont(avg_logprob, [1.0/3, 2.0/3]) AS bnds
          FROM sc GROUP BY 1)
    SELECT sc.doc_id, sc.lang, sc.avg_logprob,
           CASE len(list_filter(b.bnds, x -> sc.avg_logprob > x))
             WHEN 2 THEN 'head' WHEN 1 THEN 'middle' ELSE 'tail'
           END AS ppl_bucket,
           len(list_filter(b.bnds, x -> sc.avg_logprob > x)) > 0 AS kept_ccnet
    FROM sc JOIN b USING (lang)
    """,
    doc="The CCNet pipeline capstone (Wenzek et al. 2020), chained the "
    "way the published curation actually runs: (1) exact dedup "
    "(lowest-id survivor per text), (2) KN-smoothed LM perplexity "
    "scoring of every surviving doc — the LM trained on the DEDUPED "
    "corpus, the in-corpus analog of CCNet's pre-trained KenLM — and "
    "(3) per-language HEAD/MIDDLE/TAIL tertile bucketing of the "
    "scores, CCNet's signature output (training sets keep head+middle "
    "— the emitted kept_ccnet boolean).  Bucketing uses the "
    "quality_decile_counts discipline: exact interpolated tertile "
    "boundaries from ONE per-lang aggregate (a |langs|x2-double "
    "table) broadcast back over the scored frame, bucket = "
    "boundaries-exceeded count — identical list_filter/filter "
    "expression both engines, NO per-lang ntile/window sort (the "
    "_temperature_draw de-skew lesson applied from the start).  "
    "Every stage is a registered operator (exact_dedup, "
    "kn_bigram_logprob) and the oracle chains the same proven SQL "
    "blocks (_D_KN_BIGRAM_BLOCK over the kept relation).  100 TB "
    "shape: one text-key shuffle + the KN type-table joins + a "
    "broadcast bucket lookup — no new shuffle class.",
    tags=("ext", "dedup", "quality", "lm", "pipeline", "capstone"),
)
def corpus_curate_ccnet(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    keep = dedup.exact_dedup(docs, ["text"], "doc_id").select(
        F.col("keep_id").alias("doc_id")
    )
    kept = docs.join(keep, "doc_id")
    lm = text.kn_bigram_logprob(kept).select("doc_id", "avg_logprob")
    # persist the NARROW per-doc score frame (the persist_base /
    # _token_budget_two_pass discipline): both the tertile-boundary agg
    # and the final bucket join consume sc, and its lineage is the
    # dedup shuffle + the ENTIRE KN scoring DAG — uncached, the whole
    # LM pipeline runs twice (133-operator duplicated physical plan)
    sc = kept.select("lang", "doc_id").join(lm, "doc_id").persist()
    bnds = sc.groupBy("lang").agg(
        F.percentile(
            "avg_logprob", F.array(F.lit(1.0 / 3), F.lit(2.0 / 3))
        ).alias("bnds")
    )
    n_over = F.size(F.filter("bnds", lambda x: F.col("avg_logprob") > x))
    return sc.join(F.broadcast(bnds), "lang").select(
        "doc_id",
        "lang",
        "avg_logprob",
        F.element_at(
            F.array(F.lit("tail"), F.lit("middle"), F.lit("head")),
            n_over + F.lit(1),
        ).alias("ppl_bucket"),
        (n_over > 0).alias("kept_ccnet"),
    )


@register(
    "text_bigram_logprob",
    oracle=r"""
    WITH toks AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS t FROM documents),
    uni_ex AS (SELECT unnest(t) AS tok FROM toks),
    uc AS (SELECT tok, count(*) AS c FROM uni_ex GROUP BY 1),
    n AS (SELECT sum(c) AS n FROM uc),
    big_ex AS (SELECT unnest([t[i-1] || ' ' || t[i] for i in range(2, len(t)+1)]) AS g
               FROM toks),
    bc AS (SELECT g, count(*) AS c FROM big_ex GROUP BY 1),
    um AS (SELECT map(list(tok), list(c)) AS m FROM uc),
    bm AS (SELECT map(list(g), list(c)) AS m FROM bc),
    terms AS (
      SELECT doc_id, len(t) AS n_tokens,
             CAST(round(ln(CAST(um.m[t[1]][1] AS DOUBLE) / n.n) * 1e12) AS BIGINT)
             + coalesce(list_aggregate(
                 [CAST(round(ln(0.75 * (CAST(bm.m[t[i-1] || ' ' || t[i]][1] AS DOUBLE)
                                        / um.m[t[i-1]][1])
                              + 0.25 * (CAST(um.m[t[i]][1] AS DOUBLE) / n.n)) * 1e12)
                       AS BIGINT)
                  for i in range(2, len(t)+1)], 'sum'), 0) AS sq
      FROM toks CROSS JOIN um CROSS JOIN bm CROSS JOIN n
      WHERE len(t) > 0)
    SELECT doc_id,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           round(CAST(sq AS DOUBLE) / n_tokens / 1e12, 6) AS avg_logprob
    FROM terms
    """,
    doc="X4 INTERPOLATED BIGRAM language-model scoring — the fidelity "
    "step above text_unigram_logprob on the CCNet/KenLM "
    "perplexity-filter ladder: token 0 scores ln(c(w0)/N), token i "
    "scores ln(0.75·c(w_{i-1}w_i)/c(w_{i-1}) + 0.25·c(w_i)/N) — "
    "repetitive token SEQUENCES now score high (predictable) even "
    "when their unigram mix looks normal, which is the signal the "
    "unigram filter cannot see.  operators/text.bigram_logprob: "
    "unigram + bigram count aggs, three equi-joins back onto the "
    "pair stream (unigram side broadcast-gated on the probed vocab "
    "count; the bigram join unhinted — AQE splits zipfian hot "
    "contexts), ONE doc-keyed partial+final SUM of picounit-"
    "quantized terms (order-free — no collect_list re-fold).  Both "
    "Generates pass tokenization through as attributes (the round-8 "
    "Generate discipline).",
    tags=("ext", "text", "X4", "quality", "lm"),
)
def text_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", spread=True)
    return text.bigram_logprob(docs)


@register(
    "text_bigram_logprob_kn",
    oracle="WITH "
    + _D_KN_BIGRAM_BLOCK.format(src="documents")
    + """
    SELECT doc_id,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           round(CAST(sq AS DOUBLE) / n_tokens / 1e12, 6) AS avg_logprob
    FROM terms
    """,
    doc="X4 KNESER-NEY bigram LM scoring (VERDICT r8 #5 — the "
    "smoothing CCNet's KenLM filter actually runs, at order 2): "
    "token i>0 scores ln(max(c(w1w2)−0.75,0)/c(w1) + "
    "0.75·N1+(w1·)/c(w1) · N1+(·w2)/T) — the CONTINUATION "
    "probability N1+(·w2)/T replaces the raw unigram backoff, so "
    "words seen after many distinct contexts (glue words) stay "
    "probable while corpus-frequent-but-context-bound tokens drop, "
    "the distinction absolute interpolation cannot express.  "
    "operators/text.kn_bigram_logprob: the bigram_logprob join shape "
    "plus two vocab-sized continuation re-aggs of the bigram-TYPE "
    "table (never a second corpus scan) and a 1-row broadcast T "
    "scalar; per-term picounit quantization + DECIMAL(38,0) sums "
    "keep both engines bit-identical.",
    tags=("ext", "text", "X4", "quality", "lm"),
)
def text_bigram_logprob_kn(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", spread=True)
    return text.kn_bigram_logprob(docs)


@register(
    "text_trigram_logprob_kn",
    oracle=r"""
    WITH toks AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS t FROM documents),
    uni_ex AS (SELECT unnest(t) AS tok FROM toks),
    uc AS (SELECT tok, count(*) AS c FROM uni_ex GROUP BY 1),
    n AS (SELECT sum(c) AS n FROM uc),
    big_ex AS (SELECT unnest([t[i-1] || ' ' || t[i] for i in range(2, len(t)+1)]) AS g
               FROM toks),
    bc AS (SELECT g, count(*) AS cb FROM big_ex GROUP BY 1),
    bw AS (SELECT split_part(g, ' ', 1) AS w1, split_part(g, ' ', 2) AS w2, cb FROM bc),
    fol AS (SELECT w1, count(*) AS nf FROM bw GROUP BY 1),
    prec AS (SELECT w2, count(*) AS np FROM bw GROUP BY 1),
    tt AS (SELECT count(*) AS bt FROM bw),
    tri_ex AS (SELECT unnest([t[i-2] || ' ' || t[i-1] || ' ' || t[i]
                              for i in range(3, len(t)+1)]) AS g
               FROM toks),
    tc AS (SELECT g, count(*) AS ct FROM tri_ex GROUP BY 1),
    tw AS (SELECT split_part(g, ' ', 1) AS w1, split_part(g, ' ', 2) AS w2,
                  split_part(g, ' ', 3) AS w3, ct FROM tc),
    nf3 AS (SELECT w1 || ' ' || w2 AS g12, count(*) AS nf3 FROM tw GROUP BY 1),
    ctx AS (SELECT w2 || ' ' || w3 AS g23, w2, count(*) AS cctx FROM tw GROUP BY 1, 2),
    mid AS (SELECT w2, count(*) AS cmid FROM tw GROUP BY 1),
    lam AS (SELECT w2, count(*) AS clam FROM ctx GROUP BY 1),
    um AS (SELECT map(list(tok), list(c)) AS m FROM uc),
    bm AS (SELECT map(list(g), list(cb)) AS m FROM bc),
    fm AS (SELECT map(list(w1), list(nf)) AS m FROM fol),
    pm AS (SELECT map(list(w2), list(np)) AS m FROM prec),
    tm AS (SELECT map(list(g), list(ct)) AS m FROM tc),
    n3m AS (SELECT map(list(g12), list(nf3)) AS m FROM nf3),
    cxm AS (SELECT map(list(g23), list(cctx)) AS m FROM ctx),
    mm AS (SELECT map(list(w2), list(cmid)) AS m FROM mid),
    lm_ AS (SELECT map(list(w2), list(clam)) AS m FROM lam),
    terms AS (
      SELECT doc_id, len(t) AS n_tokens,
             CAST(round(ln(CAST(um.m[t[1]][1] AS DOUBLE) / n.n) * 1e12) AS BIGINT)
             + CASE WHEN len(t) >= 2 THEN
                 CAST(round(ln(
                     greatest(CAST(bm.m[t[1] || ' ' || t[2]][1] AS DOUBLE) - 0.75, 0.0)
                       / um.m[t[1]][1]
                     + 0.75 * (CAST(fm.m[t[1]][1] AS DOUBLE) / um.m[t[1]][1])
                            * (CAST(pm.m[t[2]][1] AS DOUBLE) / tt.bt)
                   ) * 1e12) AS BIGINT)
               ELSE 0 END
             + coalesce(list_aggregate(
                 [CAST(round(ln(
                     greatest(CAST(tm.m[t[i-2] || ' ' || t[i-1] || ' ' || t[i]][1]
                                   AS DOUBLE) - 0.75, 0.0)
                       / bm.m[t[i-2] || ' ' || t[i-1]][1]
                     + 0.75 * (CAST(n3m.m[t[i-2] || ' ' || t[i-1]][1] AS DOUBLE)
                               / bm.m[t[i-2] || ' ' || t[i-1]][1])
                       * (greatest(CAST(cxm.m[t[i-1] || ' ' || t[i]][1] AS DOUBLE)
                                   - 0.75, 0.0) / mm.m[t[i-1]][1]
                          + 0.75 * (CAST(lm_.m[t[i-1]][1] AS DOUBLE)
                                    / mm.m[t[i-1]][1])
                            * (CAST(pm.m[t[i]][1] AS DOUBLE) / tt.bt))
                   ) * 1e12) AS BIGINT)
                  for i in range(3, len(t)+1)], 'sum'), 0) AS sq
      FROM toks CROSS JOIN um CROSS JOIN bm CROSS JOIN fm CROSS JOIN pm
           CROSS JOIN tm CROSS JOIN n3m CROSS JOIN cxm CROSS JOIN mm
           CROSS JOIN lm_ CROSS JOIN n CROSS JOIN tt
      WHERE len(t) > 0)
    SELECT doc_id,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           round(CAST(sq AS DOUBLE) / n_tokens / 1e12, 6) AS avg_logprob
    FROM terms
    """,
    doc="X4 KNESER-NEY trigram LM scoring — the rung above "
    "text_bigram_logprob_kn toward CCNet's 5-gram KenLM: interpolated "
    "KN with the MIDDLE order on CONTINUATION counts (Chen & Goodman) "
    "— P(w3|w1w2) discounts the raw trigram against c(w1w2) and backs "
    "off through Pmid(w3|w2) built from N1+(·w2w3)/N1+(·w2·), "
    "bottoming out in the same N1+(·w)/T continuation unigram.  "
    "operators/text.kn_trigram_logprob: one extra corpus pass (the "
    "trigram explode); nf3/ctx/mid/lam are all RE-AGGS of the trigram "
    "TYPE table; single-word tables broadcast under the 2M-vocab "
    "gate, pair/triple joins stay unhinted for AQE skew splits; "
    "picounit quantization + DECIMAL(38,0) sums keep both engines "
    "bit-identical.  Token 1 scores ln(c/N), token 2 the order-2 KN "
    "formula, so the model nests its lower rungs exactly.",
    tags=("ext", "text", "X4", "quality", "lm"),
)
def text_trigram_logprob_kn(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", spread=True)
    return text.kn_trigram_logprob(docs)


# --- round 10: semantic dedup, fuzzy decontamination, curriculum, release ---

_D_QUALITY = """round(0.5 * least(CAST(len(regexp_extract_all({t}, '\\S+')) AS DOUBLE) / 50.0, 1.0)
               + 0.25 * (CASE WHEN CAST(length({t}) AS DOUBLE)
                                   / greatest(CAST(len(regexp_extract_all({t}, '\\S+')) AS DOUBLE), 1.0)
                                   BETWEEN 3.0 AND 9.0
                              THEN 1.0 ELSE 0.5 END)
               + 0.25 * (CASE WHEN CAST(len(regexp_extract_all({t}, '\\b(the|a|and|of|to|in|is|it)\\b')) AS DOUBLE)
                                   / greatest(CAST(len(regexp_extract_all({t}, '\\S+')) AS DOUBLE), 1.0) > 0.02
                              THEN 1.0 ELSE 0.6 END), 4)"""


@register(
    "dedup_semantic_semdedup",
    oracle=f"""
    WITH RECURSIVE v AS (
      SELECT vec_id, label,
             {_D_NORM.format(v='embedding::DOUBLE[]')} AS nv,
             embedding::DOUBLE[] AS ev
      FROM embeddings WHERE embedding IS NOT NULL
    ),
    p AS (SELECT a.vec_id AS d1, b.vec_id AS d2
          FROM v a JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id
          WHERE {_D_COS_N.format(a='a.nv', b='b.nv')} >= 0.4),
    edges AS (SELECT d1 AS a, d2 AS b FROM p UNION ALL SELECT d2, d1 FROM p),
    reach(a, b) AS (
      SELECT a, b FROM edges
      UNION
      SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
    ),
    comp AS (SELECT a AS vec_id, least(a, min(b)) AS cluster_id
             FROM reach GROUP BY a),
    e AS (SELECT label, unnest(ev) AS x, generate_subscripts(ev, 1) AS dim FROM v),
    cm AS (SELECT label, dim,
                  sum(CAST(round(x * 1000000) AS BIGINT)) AS sm,
                  count(*) AS n
           FROM e GROUP BY 1, 2),
    cv AS (SELECT label, list(CAST(sm AS DOUBLE) / n / 1000000.0 ORDER BY dim) AS c
           FROM cm GROUP BY 1),
    sc AS (SELECT v.vec_id, v.label,
                  coalesce(comp.cluster_id, v.vec_id) AS cluster_id,
                  round(list_dot_product(v.nv, {_D_NORM.format(v='cv.c')}), 6)
                    AS cos_centroid
           FROM v JOIN cv USING (label)
                  LEFT JOIN comp ON comp.vec_id = v.vec_id),
    r AS (SELECT *, row_number() OVER (PARTITION BY cluster_id
                                       ORDER BY cos_centroid, vec_id) AS rn
          FROM sc)
    SELECT vec_id, label, cluster_id, cos_centroid, rn = 1 AS is_kept FROM r
    """,
    doc="X2/X3 SEMANTIC dedup — the SemDeDup keep rule (Abbas et al. "
    "2023): near-dup pairs within embedding-space clusters (the "
    "oracle-checked label blocking; the trained-IVF variant is the "
    "100 TB block key) → connected components → keep the ONE member "
    "per duplicate group with the LOWEST cosine to its cluster "
    "centroid (the edge-of-cluster exemplar — preserves diversity "
    "where keep-first would not).  operators/dedup.semdedup_keep: "
    "centroid = one posexplode + (block, dim) agg in exact integer "
    "micros (order-free), broadcast back as an array; scoring is a "
    "map-only strict-fold JVM pass; the representative is a "
    "partial-aggable min(struct(cos, id)) agg + equi-join — the "
    "remove_duplicate_lines discipline, NOT a per-cluster window.  "
    "The oracle re-derives components (recursive CTE), centroids "
    "(micro-unit sums), every cosine, and the argmin independently.",
    tags=("ext", "dedup", "X2", "X3", "embedding", "semantic"),
)
def dedup_semantic_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    pairs = dedup.embedding_dup_pairs(emb, threshold=0.4)
    return dedup.semdedup_keep(emb, pairs).select(
        "vec_id", "label", "cluster_id", "cos_centroid", "is_kept"
    )


@register(
    "decontaminate_fuzzy_minhash",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                                    for i in range(1, len(t) - 1)]) AS sh
      FROM (SELECT doc_id, regexp_extract_all(text, '\S+') AS t FROM documents)
    ),
    ex AS (SELECT doc_id, unnest(sh) AS s FROM toks),
    inter AS (
      SELECT a.doc_id AS train_id, b.doc_id AS eval_id, count(*) AS i
      FROM ex a JOIN ex b ON a.s = b.s
      WHERE a.doc_id % 10 <> 0 AND b.doc_id % 10 = 0
      GROUP BY 1, 2
    )
    SELECT train_id, eval_id,
           round(i / (len(ta.sh) + len(tb.sh) - i), 6) AS jaccard
    FROM inter JOIN toks ta ON ta.doc_id = train_id
               JOIN toks tb ON tb.doc_id = eval_id
    WHERE round(i / (len(ta.sh) + len(tb.sh) - i), 6) >= 0.8
    """,
    doc="FUZZY benchmark decontamination — near-dup (not just verbatim) "
    "train↔eval leaks via MinHash-LSH: every 10th doc plays the "
    "benchmark (the line_dedup_incremental split convention), the "
    "rest is the train corpus; operators/dedup.minhash_contamination "
    "bands both sides' MinHash(24) signatures and BROADCASTS the tiny "
    "eval band table onto the streamed train bands (the asymmetric "
    "ngram_jaccard_pairs_incremental shape — the train corpus is "
    "never self-joined), then verifies candidates with exact "
    "shingle-set jaccard ≥ 0.8.  The oracle is the brute-force "
    "eval×train jaccard join — and the equivalence is PROBABILISTIC, "
    "not structural (ADVICE r10): LSH banding can miss a true pair, "
    "which would hash-fail against the exact oracle and operationally "
    "leak a contaminated train doc.  This query therefore runs "
    "36 hashes / 18 bands × 2 rows: per-pair miss probability at "
    "exactly j=0.8 is (1-0.64)^18 ≈ 1e-8, and it falls steeply above "
    "the threshold (j=0.9 → 4e-13) — negligible for any fixture or "
    "corpus this driver checks, but a caveat a release pipeline "
    "should know (the signature family is deterministic, so a given "
    "corpus either always matches or always misses — no flaky runs).",
    tags=("ext", "dedup", "decontamination", "lsh"),
)
def decontaminate_fuzzy_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", spread=True)
    # 36 hashes / 18 bands: drives the at-threshold banding miss
    # probability to ~1e-8 per true pair (see oracle doc) — the exact
    # brute-force oracle makes recall a correctness property here, not
    # just a quality knob.  Both sides are slices of ONE frame, so the
    # one-pass flagged variant signatures the corpus once instead of
    # once per side (round-17 optimization; output pytest-pinned
    # identical to the two-frame path).
    return dedup.minhash_contamination_flagged(
        docs, F.col("doc_id") % 10 == 0, "doc_id", threshold=0.8, num_hashes=36
    )


@register(
    "curriculum_shard_order",
    oracle=f"""
    WITH q AS (
      SELECT doc_id,
             CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) AS n_tokens,
             {_D_QUALITY.format(t='text')} AS quality
      FROM documents WHERE text IS NOT NULL
    ),
    s AS (
      SELECT doc_id, n_tokens, quality,
             {_D_MD5INT.format(x="concat('shard:', CAST(doc_id AS VARCHAR))")} % 8
               AS shard_id
      FROM q
    )
    SELECT doc_id, CAST(shard_id AS BIGINT) AS shard_id, quality, n_tokens,
           CAST(row_number() OVER (PARTITION BY shard_id
                                   ORDER BY quality DESC, doc_id) AS BIGINT)
             AS position
    FROM s
    """,
    doc="Curriculum shard ordering — the training-data SERVING layout: "
    "docs are hash-assigned to shards (stable under corpus growth, "
    "the split_train_val_test primitive) and ordered high-quality-"
    "first WITHIN each shard (quality-curriculum: clean data early in "
    "an epoch), emitting the per-doc (shard, position) a dataloader "
    "consumes.  Selection is row-identical to row_number() OVER "
    "(PARTITION BY shard ORDER BY quality DESC, doc_id) but computed "
    "with the sample_token_budget two-pass discipline: a coarse "
    "order-preserving tier key (floor(quality·10)) range-splits each "
    "shard, pass 1 broadcasts exclusive per-(shard, tier) counts "
    "(≤ shards × 11 rows), pass 2 sorts only within (shard, tier) — "
    "no task ever sorts a whole shard.  At 100 TB shard count grows "
    "with the corpus (shards ≈ tokens / shard budget), so per-"
    "partition work stays constant while THIS plan shape is "
    "unchanged.",
    tags=("ext", "sample", "curriculum", "layout"),
)
def curriculum_shard_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from fiware_cosmos_orion_flink_connector_examples_spark.functions.hashing import (
        md5int64_seeded,
    )

    docs = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    # persisted: pass 1 (tier counts) and pass 2 (within-tier rank)
    # both consume base, whose lineage tokenizes + quality-scores the
    # corpus — uncached, that row-local work runs twice (persist_base
    # discipline; narrow per-doc frame)
    base = docs.select(
        "doc_id",
        text.token_count("text").cast("long").alias("n_tokens"),
        text.quality_score("text").alias("quality"),
        F.pmod(
            md5int64_seeded(F.col("doc_id").cast("string"), "shard"), F.lit(8)
        ).alias("shard_id"),
    ).withColumn("_tier", F.floor(F.col("quality") * 10).cast("int")).persist()
    # Pass 1: per-(shard, tier) doc counts -> exclusive higher-tier
    # prefix (window over the <= shards x 11-row aggregate only).
    wt = (
        Window.partitionBy("shard_id")
        .orderBy(F.desc("_tier"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prefixes = (
        base.groupBy("shard_id", "_tier")
        .agg(F.count(F.lit(1)).alias("_n"))
        .withColumn("_prefix", F.coalesce(F.sum("_n").over(wt), F.lit(0)))
        .select("shard_id", "_tier", "_prefix")
    )
    # Pass 2: rank only within (shard, tier); tier is an order-
    # preserving coarsening of quality, so prefix + within-tier rank
    # equals the single whole-shard window row-for-row.
    ww = Window.partitionBy("shard_id", "_tier").orderBy(
        F.desc("quality"), F.asc("doc_id")
    )
    return (
        base.join(F.broadcast(prefixes), ["shard_id", "_tier"])
        .withColumn(
            "position",
            (F.col("_prefix") + F.row_number().over(ww)).cast("long"),
        )
        .select("doc_id", "shard_id", "quality", "n_tokens", "position")
    )


@register(
    "corpus_release_pipeline",
    oracle=f"""
    WITH base AS (SELECT doc_id, lang, source, text FROM documents
                  WHERE text IS NOT NULL),
    ev AS (SELECT doc_id, text FROM base WHERE doc_id % 10 = 0),
    tr AS (SELECT * FROM base WHERE doc_id % 10 <> 0),
    d1 AS (SELECT min(doc_id) AS doc_id FROM tr GROUP BY text),
    sur AS (SELECT tr.* FROM tr JOIN d1 USING (doc_id)),
    g AS (SELECT doc_id, lang, source,
                 regexp_extract_all(text, '\\S+') AS toks,
                 CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT)
                   AS n_words,
                 {_D_QUALITY.format(t='text')} AS q
          FROM sur),
    ok AS (SELECT doc_id, lang, source, toks, n_words FROM g
           WHERE n_words BETWEEN 50 AND 100000 AND q >= 0.8),
    evg AS (SELECT DISTINCT unnest([array_to_string(t[i:i+7], ' ')
                                    for i in range(1, len(t) - 6)]) AS gram
            FROM (SELECT regexp_extract_all(text, '\\S+') AS t FROM ev)),
    okg AS (SELECT doc_id, unnest([array_to_string(toks[i:i+7], ' ')
                                   for i in range(1, len(toks) - 6)]) AS gram
            FROM ok),
    cont AS (SELECT DISTINCT okg.doc_id FROM okg JOIN evg USING (gram)),
    rel AS (SELECT ok.* FROM ok
            WHERE NOT EXISTS (SELECT 1 FROM cont WHERE cont.doc_id = ok.doc_id)),
    spl AS (SELECT lang, source, n_words,
                   CASE WHEN {_D_MD5INT.format(x="CAST(doc_id AS VARCHAR)")} % 100 < 80
                        THEN 'train'
                        WHEN {_D_MD5INT.format(x="CAST(doc_id AS VARCHAR)")} % 100 < 90
                        THEN 'val'
                        ELSE 'test' END AS split
            FROM rel)
    SELECT lang, source, split,
           count(*) AS n_docs,
           CAST(sum(n_words) AS BIGINT) AS n_tokens
    FROM spl GROUP BY 1, 2, 3
    """,
    doc="The RELEASE capstone — the last mile every published corpus "
    "walks before tokenization, composing four registered stages end "
    "to end: exact dedup (min-id survivor per text) → quality gate "
    "(the Gopher word-count band + the oracle-proven heuristic "
    "quality_score ≥ 0.8 — the DISCRIMINATING rules on this corpus; "
    "the full Gopher/C4 English-stopword and sentence-punctuation "
    "cards reject 100% of the synthetic fixture, which would make "
    "the capstone a trivially-empty frame, the same reason "
    "text_langid uses corpus-matched markers) → 8-gram "
    "DECONTAMINATION against the benchmark slice (every 10th doc "
    "plays the eval set; contaminated TRAIN docs are dropped, the "
    "reverse orientation of decontaminate_eval_8gram — a release "
    "protects the benchmark, not itself) → stable md5 80/10/10 "
    "split → the per-(lang, source, split) doc/token accounting "
    "table a release README publishes.  Every stage is the already-"
    "proven operator (dedup.exact_dedup, text.quality_score, "
    "dedup.ngram_contamination's semi-join, split_train_val_test's "
    "bucket map) and the oracle re-derives the ENTIRE chain "
    "independently.  Scale shape: one text-key shuffle (dedup), "
    "map-only quality gate, one gram equi-join against the (tiny, "
    "broadcastable) benchmark gram set, one final (lang, source, "
    "split) agg — no new shuffle class beyond the smoked components.",
    tags=("ext", "pipeline", "capstone", "dedup", "decontamination"),
)
def corpus_release_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fiware_cosmos_orion_flink_connector_examples_spark.functions.hashing import (
        md5int64,
    )

    docs = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    ev = docs.filter(F.col("doc_id") % 10 == 0)
    tr = docs.filter(F.col("doc_id") % 10 != 0)
    keep = dedup.exact_dedup(tr, ["text"], "doc_id").select(
        F.col("keep_id").alias("doc_id")
    )
    sur = tr.join(keep, "doc_id")
    gated = sur.withColumn(
        "n_words", text.token_count("text").cast("long")
    ).withColumn("_q", text.quality_score("text"))
    ok = gated.filter(
        (F.col("n_words") >= 50)
        & (F.col("n_words") <= 100_000)
        & (F.col("_q") >= 0.8)
    )
    cont = dedup.ngram_contamination(ev, ok, "doc_id", n=8)
    rel = ok.join(cont.select("doc_id"), "doc_id", "left_anti")
    bucket = F.pmod(md5int64(F.col("doc_id").cast("string")), F.lit(100))
    split = (
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    )
    return (
        rel.select(
            "lang", "source", split.alias("split"), F.col("n_words").alias("_nw")
        )
        .groupBy("lang", "source", "split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("_nw").cast("long").alias("n_tokens"),
        )
    )


@register(
    "mixture_epoch_plan",
    oracle=r"""
    WITH c AS (
      SELECT source, count(*) AS n_docs,
             CAST(sum(len(regexp_extract_all(text, '\S+'))) AS BIGINT)
               AS n_tokens
      FROM documents WHERE text IS NOT NULL GROUP BY 1),
    den AS (SELECT list_aggregate(list_sort(list(sqrt(CAST(n_tokens AS DOUBLE)))),
                                  'sum') AS d
            FROM c)
    SELECT source, n_docs, n_tokens,
           round(sqrt(CAST(n_tokens AS DOUBLE)) / d, 6) AS weight,
           CAST(floor(1000000.0 * sqrt(CAST(n_tokens AS DOUBLE)) / d) AS BIGINT)
             AS target_tokens,
           round(CAST(floor(1000000.0 * sqrt(CAST(n_tokens AS DOUBLE)) / d)
                      AS DOUBLE) / n_tokens, 6) AS epochs
    FROM c CROSS JOIN den
    """,
    doc="The mixture EPOCH table — the per-source sampling-weights/"
    "epochs table LLaMA-style data sections publish: per source, "
    "available docs and tokens, temperature-weighted target share "
    "(w ∝ tokens^0.5, T=0.5 — the sample_temperature_mixture "
    "rebalance applied to TOKENS, the unit training actually "
    "consumes), target tokens for a 1M-token budget, and epochs = "
    "target/available (>1 ⟹ the source repeats, the signal data "
    "engineers act on).  The sqrt denominator folds over a SORTED "
    "list so the float total is summation-order-free across engines "
    "(stats_exact_moments discipline).  Scale shape: ONE (source) "
    "hash-agg with map-side partials (shuffle carries |sources| "
    "rows), a |sources|-row fold, map-only arithmetic — nothing "
    "doc-scale past the scan.",
    tags=("ext", "sample", "mixture", "report"),
)
def mixture_epoch_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    counts = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(text.token_count("text")).cast("long").alias("n_tokens"),
    )
    den = counts.agg(
        F.aggregate(
            F.sort_array(F.collect_list(F.sqrt(F.col("n_tokens").cast("double")))),
            F.lit(0.0),
            lambda a, x: a + x,
        ).alias("d")
    )
    share = F.sqrt(F.col("n_tokens").cast("double")) / F.col("d")
    tgt = F.floor(F.lit(1_000_000.0) * share)
    return counts.crossJoin(F.broadcast(den)).select(
        "source",
        "n_docs",
        "n_tokens",
        F.round(share, 6).alias("weight"),
        tgt.cast("long").alias("target_tokens"),
        F.round(tgt.cast("double") / F.col("n_tokens"), 6).alias("epochs"),
    )


def _nb_chain_sql() -> str:
    """The quality_nb_classifier oracle chain, reused verbatim as a
    subquery so the calibration oracle scores with the EXACT same SQL
    the classifier hash-proved (one source of truth, no drift)."""
    from fiware_cosmos_orion_flink_connector_examples_spark.plans.registry import (
        QUERIES,
    )

    return QUERIES["quality_nb_classifier"].oracle


@register(
    "quality_nb_calibration",
    oracle=f"""
    WITH sc AS ({_nb_chain_sql()}),
    b AS (SELECT quantile_cont(nb_score, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9])
            AS bnds
          FROM sc),
    d AS (SELECT CAST(len(list_filter(b.bnds, x -> sc.nb_score > x)) AS INTEGER)
                 AS decile,
                 sc.label
          FROM sc CROSS JOIN b)
    SELECT decile,
           count(*) AS n_docs,
           CAST(sum(CASE WHEN label = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
           CAST(sum(CASE WHEN label = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n_neg,
           CAST(sum(CASE WHEN label IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_unlabeled,
           CASE WHEN sum(CASE WHEN label IS NOT NULL THEN 1 ELSE 0 END) > 0
                THEN round(sum(CASE WHEN label = 1 THEN 1 ELSE 0 END)
                           / CAST(sum(CASE WHEN label IS NOT NULL THEN 1 ELSE 0 END)
                                  AS DOUBLE), 6)
                END AS pos_rate
    FROM d GROUP BY 1
    """,
    doc="Classifier CALIBRATION / reliability table — the eval artifact "
    "a model-based filter ships with: equi-depth decile-bucket the NB "
    "scores (exact interpolated boundaries from ONE 9-double agg "
    "broadcast back — the quality_decile_counts discipline, no ntile "
    "global sort) and report, per decile, doc count, distant-label "
    "composition (+1/-1/unlabeled), and the positive rate among "
    "labeled docs — read it to pick the filter threshold and to see "
    "whether score order actually tracks label quality (it must rise "
    "with the decile; property-pinned on the fixture).  Scores come "
    "from the SAME text.nb_quality_scores pass the classifier query "
    "proved; the oracle wraps the classifier's proven SQL chain as a "
    "subquery — one source of truth.  Scale shape: the classifier's "
    "joins + one 9-double agg + one 10-row group — nothing new.",
    tags=("ext", "text", "X4", "quality", "classifier", "report"),
)
def quality_nb_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", spread=True)
    # persist the narrow (nb_score, label) frame: the decile-boundary
    # agg and the bucketing crossJoin both consume it, and its lineage
    # is the full NB scoring DAG (persist_base discipline)
    sc = text.nb_quality_scores(docs).select("nb_score", "label").persist()
    bnds = sc.agg(
        F.percentile(
            "nb_score", F.array(*[F.lit(x / 10.0) for x in range(1, 10)])
        ).alias("bnds")
    )
    bucketed = sc.crossJoin(F.broadcast(bnds)).select(
        F.size(F.filter("bnds", lambda x: F.col("nb_score") > x)).alias("decile"),
        "label",
    )
    agg = bucketed.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(F.col("label") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_pos"),
        F.sum(F.when(F.col("label") == -1, 1).otherwise(0))
        .cast("long")
        .alias("n_neg"),
    )
    labeled = F.col("n_pos") + F.col("n_neg")
    return agg.select(
        "decile",
        "n_docs",
        "n_pos",
        "n_neg",
        (F.col("n_docs") - labeled).cast("long").alias("n_unlabeled"),
        F.when(
            labeled > 0, F.round(F.col("n_pos") / labeled.cast("double"), 6)
        ).alias("pos_rate"),
    )


@register(
    "embedding_pca_envelope",
    oracle=r"""
    WITH v AS (SELECT embedding::DOUBLE[] AS ev FROM embeddings
               WHERE embedding IS NOT NULL)
    SELECT CAST(count(*) AS BIGINT) AS n_vectors,
           CAST(max(len(ev)) AS INTEGER) AS dim,
           8 AS k,
           TRUE AS proj_var_le_total,
           TRUE AS proj_var_ge_kdim_share
    FROM v
    """,
    doc="Driver-visible PCA correctness envelope (the "
    "approx_sketches_bounded lineage, applied to the numpy "
    "eigendecomposition no SQL engine can re-derive): fit k=8 "
    "components via similarity.pca_fit (covariance from the "
    "DISTRIBUTED covariance_moments reduce — shuffle is batches × "
    "dim² doubles, corpus-row-independent; only the dim×dim model "
    "matrix reaches the driver; eigh + sign-stabilization make "
    "refits bit-identical), project every vector with the map-only "
    "Arrow pass, and emit the two identities exact PCA must satisfy "
    "— projected variance ≤ total variance, and ≥ the k/dim share "
    "(top-k eigenvalues ≥ k × mean eigenvalue, always) — as booleans "
    "the oracle asserts TRUE, beside n_vectors and dim the oracle "
    "re-derives exactly.  A broken eigensolve, centering bug, or "
    "projection transpose now hash-fails the driver row: a wrong "
    "basis loses variance (first boolean) or captures less than the "
    "uniform share (second).",
    tags=("ext", "embedding", "X3", "pca", "envelope"),
)
def embedding_pca_envelope(spark: SparkSession, sf_dir: str) -> DataFrame:
    k = 8
    emb = load_table(spark, sf_dir, "embeddings")
    mean, comps, _vals = similarity.pca_fit(
        emb,
        k=k,
        cache_key=(spark.sparkContext.applicationId, sf_dir, "embeddings"),
    )
    proj = similarity.pca_project(emb, mean, comps)
    pstats = proj.agg(
        F.sum(
            F.aggregate(
                F.transform("proj", lambda x: x * x),
                F.lit(0.0),
                lambda a, x: a + x,
            )
        ).alias("pss")
    )
    base = emb.filter(F.col("embedding").isNotNull()).select(
        F.col("embedding").cast("array<double>").alias("_v")
    )
    per_dim = (
        base.select(F.posexplode("_v").alias("pos", "x"))
        .groupBy("pos")
        .agg(
            F.sum("x").alias("s"),
            F.sum(F.col("x") * F.col("x")).alias("ss"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    tv = per_dim.agg(
        F.sum(
            (F.col("ss") - F.col("s") * F.col("s") / F.col("n"))
            / (F.col("n") - 1)
        ).alias("tv"),
        F.max("n").cast("long").alias("n_vectors"),
        (F.max("pos") + 1).cast("int").alias("dim"),
    )
    pv = F.col("pss") / (F.col("n_vectors") - 1).cast("double")
    return pstats.crossJoin(F.broadcast(tv)).select(
        "n_vectors",
        "dim",
        F.lit(k).cast("int").alias("k"),
        (pv <= F.col("tv") * F.lit(1.0 + 1e-9)).alias("proj_var_le_total"),
        (
            pv
            >= (F.lit(float(k)) / F.col("dim").cast("double"))
            * F.col("tv")
            * F.lit(1.0 - 1e-9)
        ).alias("proj_var_ge_kdim_share"),
    )


# --- retrieval pillar (round 11): BM25 + hybrid fusion ----------------------

_D_BM25 = r"""
  qt(query_id, term) AS (VALUES {qvals}),
  ex AS (SELECT doc_id, unnest(regexp_extract_all(text, '\S+')) AS term
         FROM documents WHERE text IS NOT NULL),
  tf AS (SELECT doc_id, term, count(*) AS tf FROM ex GROUP BY 1, 2),
  dl AS (SELECT doc_id, count(*) AS dl FROM ex GROUP BY 1),
  dfreq AS (SELECT term, count(DISTINCT doc_id) AS df FROM ex GROUP BY 1),
  stats AS (SELECT count(*) AS n_docs, sum(dl) AS sum_dl FROM dl),
  contrib AS (
    SELECT qt.query_id, tf.doc_id,
           CAST(round(
             ln(1.0 + (CAST(n_docs AS DOUBLE) - df + 0.5) / (CAST(df AS DOUBLE) + 0.5))
             * CAST(tf AS DOUBLE) * (1.2 + 1.0)
             / (CAST(tf AS DOUBLE)
                + 1.2 * ((1.0 - 0.75)
                         + 0.75 * CAST(dl AS DOUBLE)
                           / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))))
           * 1e12) AS BIGINT) AS cq
    FROM tf JOIN qt USING (term) JOIN dfreq USING (term)
         JOIN dl ON dl.doc_id = tf.doc_id CROSS JOIN stats
  ),
  bm25 AS (SELECT query_id, doc_id, sum(cq) AS sq FROM contrib GROUP BY 1, 2)
"""

_BM25_QUERIES = [
    (1, "hash"),
    (1, "join"),
    (2, "customer"),
    (2, "order"),
    (2, "table"),
    (3, "vector"),
    (3, "stream"),
]
_D_BM25_QVALS = ", ".join(f"({q}, '{t}')" for q, t in _BM25_QUERIES)


@register(
    "bm25_topk",
    oracle=f"""
    WITH {_D_BM25.format(qvals=_D_BM25_QVALS)}
    SELECT CAST(query_id AS INTEGER) AS query_id, doc_id,
           CAST(rank AS INTEGER) AS rank,
           round(CAST(sq AS DOUBLE) / 1e12, 6) AS score
    FROM (SELECT query_id, doc_id, sq,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY sq DESC, doc_id) AS rank
          FROM bm25)
    WHERE rank <= 10
    """,
    doc="X4 BM25 keyword retrieval (k1=1.2, b=0.75, Lucene idf): top-10 "
    "docs per query for a 3-query literal workload — the lexical half "
    "of the retrieval pillar beside the ANN stack.  Query terms are "
    "BROADCAST onto the exploded token stream BEFORE any shuffle, so "
    "tf carries posting-list rows only and df derives from tf's "
    "(doc, term)-unique rows with no second scan; doc length is "
    "map-only regexp_count on the raw scan (no explode); the (N, Σdl) "
    "scalars ride a 1-row broadcast cross join — per-query cost is "
    "O(df(term)), never corpus-wide.  Each contribution is quantized "
    "to integer picounits and summed order-free (the LM/NB "
    "discipline); ranking orders by the exact int64, so top-k "
    "membership is engine-stable.  The per-query rank window "
    "partitions on query_id over posting-bounded rows (the "
    "ann_topk_bruteforce shape).",
    tags=("ext", "text", "X4", "retrieval", "bm25"),
)
def bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    qterms = spark.createDataFrame(_BM25_QUERIES, "query_id int, term string")
    scored = text.bm25_scores(docs, qterms)
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score_q12"), F.asc("doc_id")
    )
    return (
        scored.select("*", F.row_number().over(w).alias("rank"))
        .filter(F.col("rank") <= 10)
        .select("query_id", "doc_id", F.col("rank").cast("int").alias("rank"), "score")
    )


@register(
    "hybrid_rrf_topk",
    oracle=f"""
    WITH {_D_BM25.format(qvals="(0, 'hash'), (0, 'join')")},
    lex AS (
      SELECT doc_id AS id,
             CAST(row_number() OVER (ORDER BY sq DESC, doc_id) AS INTEGER)
               AS rank_lex
      FROM bm25 QUALIFY rank_lex <= 50
    ),
    qv AS (SELECT {_D_NORM.format(v='embedding::DOUBLE[]')} AS qv
           FROM embeddings WHERE vec_id = 0 AND embedding IS NOT NULL),
    scored AS (
      SELECT vec_id AS id, {_D_COS_N.format(a='qv', b='nv')} AS cos
      FROM (SELECT vec_id, {_D_NORM.format(v='embedding::DOUBLE[]')} AS nv
            FROM embeddings WHERE embedding IS NOT NULL AND vec_id != 0)
           CROSS JOIN qv
    ),
    vec AS (
      SELECT id, CAST(row_number() OVER (ORDER BY cos DESC, id) AS INTEGER)
               AS rank_vec
      FROM scored QUALIFY rank_vec <= 50
    ),
    fused AS (
      SELECT coalesce(lex.id, vec.id) AS id, rank_lex, rank_vec,
             coalesce(1.0 / (60 + rank_lex), 0.0)
               + coalesce(1.0 / (60 + rank_vec), 0.0) AS rrf
      FROM lex FULL OUTER JOIN vec ON lex.id = vec.id
    )
    SELECT id, rank_lex, rank_vec, round(rrf, 9) AS rrf,
           CAST(fused_rank AS INTEGER) AS fused_rank
    FROM (SELECT *, row_number() OVER (ORDER BY rrf DESC, id) AS fused_rank
          FROM fused)
    WHERE fused_rank <= 10
    """,
    doc="X3/X4 hybrid retrieval — reciprocal-rank fusion (RRF, k=60) of "
    "the BM25 lexical top-50 (query terms 'hash join') and the "
    "vector-cosine top-50 (query vector = embedding 0) over the same "
    "id space: the modern RAG retrieval shape, where neither ranker "
    "alone wins.  Both candidate lists are top-k-bounded BEFORE the "
    "fusion full-outer join, so the fused frame holds ≤100 rows at "
    "any corpus size; rrf = 1/(60+r_lex) + 1/(60+r_vec) is a fixed "
    "two-term double expression (engine-identical bit-for-bit — no "
    "variable-order summation), ties broken on id.  Lexical ranks "
    "order by the exact quantized int64 BM25 sum; vector ranks by "
    "the rounded normalized dot (the topk_cosine_bruteforce "
    "contract).",
    tags=("ext", "similarity", "text", "X3", "X4", "retrieval", "hybrid"),
)
def hybrid_rrf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # round 12: lex-ranking / vec-ranking / RRF fusion now run through
    # the shared operators.retrieval core — the SAME expressions the
    # index-served path uses, which is what makes the served-equals
    # pin (hybrid_rrf_served_equals) a real guarantee
    from fiware_cosmos_orion_flink_connector_examples_spark.operators import (
        retrieval,
    )

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    qterms = spark.createDataFrame([(0, "hash"), (0, "join")], "query_id int, term string")
    lex = retrieval.rank_lexical(text.bm25_scores(docs, qterms), 50)
    vec = retrieval.rank_vector(
        similarity.topk_cosine_bruteforce(emb, emb.filter(F.col("vec_id") == 0), k=50),
        50,
    )
    return retrieval.rrf_fuse(lex, vec, k=10).select(
        "id", "rank_lex", "rank_vec", "rrf", "fused_rank"
    )


def _search_index(spark, sf_dir: str) -> str:
    """The search index (``search_index_write``) over ``sf_dir``'s
    documents, built once per process through ``_capstone_cache`` and
    shared by ``hybrid_rrf_served_topk`` (BM25) and
    ``phrase_index_served_equals`` (phrase counts), so bench's min-of-N
    measures the SERVE cost after the first run pays the build — the
    real serving economics (build once, query many)."""

    def build(work: str) -> None:
        docs = load_table(spark, sf_dir, "documents")
        text.search_index_write(docs, f"{work}/idx", n_buckets=4)

    base = _capstone_cache("search_idx", _sf_print(spark, sf_dir, "documents"), build)
    return f"{base}/idx"


def _ivf_served_index(spark, sf_dir: str) -> str:
    """The IVF index (``ann_index_write``: lists snapshot table +
    centroids in the index root) over ``sf_dir``'s embeddings, built
    once per process like ``_search_index``."""

    def build(work: str) -> None:
        emb = load_table(spark, sf_dir, "embeddings")
        cents = similarity.kmeans_fit_sample(
            emb, k=8, cache_key=("hybrid_served", sf_dir)
        )
        similarity.ann_index_write(emb, f"{work}/ivf", cents)

    base = _capstone_cache("ivf_idx", _sf_print(spark, sf_dir, "embeddings"), build)
    return f"{base}/ivf"


@register(
    "hybrid_rrf_served_topk",
    oracle=f"""
    WITH {_D_BM25.format(qvals="(0, 'hash'), (0, 'join')")},
    lex AS (
      SELECT doc_id AS id,
             CAST(row_number() OVER (ORDER BY sq DESC, doc_id) AS INTEGER)
               AS rank_lex
      FROM bm25 QUALIFY rank_lex <= 50
    ),
    qv AS (SELECT {_D_NORM.format(v='embedding::DOUBLE[]')} AS qv
           FROM embeddings WHERE vec_id = 0 AND embedding IS NOT NULL),
    scored AS (
      SELECT vec_id AS id, {_D_COS_N.format(a='qv', b='nv')} AS cos
      FROM (SELECT vec_id, {_D_NORM.format(v='embedding::DOUBLE[]')} AS nv
            FROM embeddings WHERE embedding IS NOT NULL AND vec_id != 0)
           CROSS JOIN qv
    ),
    vec AS (
      SELECT id, CAST(row_number() OVER (ORDER BY cos DESC, id) AS INTEGER)
               AS rank_vec
      FROM scored QUALIFY rank_vec <= 50
    ),
    fused AS (
      SELECT coalesce(lex.id, vec.id) AS id, rank_lex, rank_vec,
             coalesce(1.0 / (60 + rank_lex), 0.0)
               + coalesce(1.0 / (60 + rank_vec), 0.0) AS rrf
      FROM lex FULL OUTER JOIN vec ON lex.id = vec.id
    )
    SELECT id, rank_lex, rank_vec, round(rrf, 9) AS rrf,
           CAST(fused_rank AS INTEGER) AS fused_rank
    FROM (SELECT *, row_number() OVER (ORDER BY rrf DESC, id) AS fused_rank
          FROM fused)
    WHERE fused_rank <= 10
    """,
    doc="X3/X4 INDEX-SERVED hybrid retrieval, hash-checked END-TO-END: "
    "bm25_from_index over the search index's postings/doclen tables + "
    "ann_index_search over the file-pruned IVF inverted lists "
    "(nprobe=all → exhaustive, bit-identical to brute force), fused "
    "by the SAME retrieval.rrf core as the in-memory hybrid_rrf_topk "
    "— and the oracle is that query's full DuckDB SQL, so the driver "
    "hash-proves the served path's actual rows, not just an equality "
    "claim.  Equality holds by construction: stored-index BM25 shares "
    "_bm25_score_parts with the from-corpus scorer, and the fusion "
    "expression is one shared function.  The indexes build once per "
    "process into a fingerprinted temp dir, so repeat runs "
    "measure the SERVE cost — the 100 TB economics this path exists "
    "for (posting-bounded + cell-pruned scans instead of corpus "
    "scans).",
    tags=("ext", "similarity", "text", "X3", "X4", "retrieval", "hybrid"),
)
def hybrid_rrf_served_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fiware_cosmos_orion_flink_connector_examples_spark.operators import (
        retrieval,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    qterms = spark.createDataFrame([(0, "hash"), (0, "join")], "query_id int, term string")
    return retrieval.hybrid_rrf_from_indexes(
        spark,
        _search_index(spark, sf_dir),
        _ivf_served_index(spark, sf_dir),
        qterms,
        emb.filter(F.col("vec_id") == 0),
        k_candidates=50,
        k=10,
    ).select("id", "rank_lex", "rank_vec", "rrf", "fused_rank")


@register(
    "heavy_hitters_cms",
    oracle=f"""
    WITH ex AS (SELECT unnest(regexp_extract_all(text, '\\S+')) AS term
                FROM documents WHERE text IS NOT NULL),
    tot AS (SELECT count(*) AS n_tokens FROM ex),
    exact AS (SELECT term, count(*) AS exact_cnt FROM ex GROUP BY 1),
    top AS (SELECT term, exact_cnt FROM exact
            ORDER BY exact_cnt DESC, term LIMIT 20),
    buckets AS (
      SELECT term, d,
             {_D_MD5INT.format(x="concat('cms', d, ':', term)")} % 1024 AS bucket
      FROM ex CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS d)
    ),
    sketch AS (SELECT d, bucket, count(*) AS c FROM buckets GROUP BY 1, 2),
    est AS (
      SELECT t.term, min(s.c) AS cms_est
      FROM top t
      CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS d) dd
      JOIN sketch s
        ON s.d = dd.d
       AND s.bucket = {_D_MD5INT.format(x="concat('cms', dd.d, ':', t.term)")} % 1024
      GROUP BY 1
    )
    SELECT t.term, t.exact_cnt, e.cms_est,
           TRUE AS est_ge_exact, TRUE AS within_eps
    FROM top t JOIN est e ON e.term = t.term
    """,
    doc="Mergeable count-min sketch + driver-visible error envelope "
    "(the approx_sketches_bounded discipline): a depth-4 × width-1024 "
    "CMS over the corpus token stream — per-partition sketches are "
    "plain (d, bucket) partial counts, so the structure merges by "
    "addition (the store-and-merge shape HLL daily uses for distinct "
    "counts, here for FREQUENCIES).  Estimates for the exact top-20 "
    "tokens (TakeOrderedAndProject candidates — no global sort) are "
    "min-over-rows lookups against the 4096-row sketch.  The oracle "
    "re-derives the whole sketch (same seeded md5 buckets) AND "
    "asserts the two CMS guarantees as literal TRUE booleans: "
    "est ≥ exact (structural — min of counters that each saw every "
    "occurrence) and est ≤ exact + 4·N/w (Markov overshoot bound at "
    "4× the per-row mean, P(violate) ≤ 4⁻⁴ per row independently — "
    "deterministic on any fixed corpus+seed; verified at sf0.001/"
    "0.01/0.1).  A broken hash, bucket, or merge hash-fails the row.",
    tags=("ext", "sketch", "approx", "envelope"),
)
def heavy_hitters_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    res, caches = _heavy_hitters_cms_frames(spark, sf_dir)
    return eagerly(res, *caches)


def _heavy_hitters_cms_frames(spark: SparkSession, sf_dir: str):
    """(result frame, persisted caches) — split out so the plan test
    can pin the sketch shape on the PRE-checkpoint plan."""
    from fiware_cosmos_orion_flink_connector_examples_spark.functions.hashing import (
        cms_buckets,
    )

    depth, width = 4, 1024
    docs = load_table(spark, sf_dir, "documents", spread=True)
    ex = docs.filter(F.col("text").isNotNull()).select(
        F.explode(text.tokens("text")).alias("term")
    )
    bucket_cols = cms_buckets(F.col("term"), depth, width)
    # ONE tokenize pass (round 18, the F5 derivation discipline, guide
    # §2.3/§2.4): the exact per-term counts are the sufficient
    # statistic for every other frame — previously sketch, exact and
    # tot EACH re-scanned + re-tokenized the corpus (3 passes).  The
    # sketch is derived at VOCAB scale via the exact integer identity
    # Σ_occurrences 1[bucket] == Σ_terms exact_cnt·1[bucket], and
    # n_tokens == Σ exact_cnt.  persisted: three consumers, all
    # vocab-bounded; released once the result is materialized.
    # Interleaved on/off A/B (min-of-5, one session): 0.79 vs 0.97 s,
    # every on-arm under its adjacent off-arm.
    exact = (
        ex.groupBy("term").agg(F.count(F.lit(1)).alias("exact_cnt")).persist()
    )
    sketch = (
        exact.select(
            "exact_cnt",
            F.posexplode(F.array(*bucket_cols)).alias("d", "bucket"),
        )
        .groupBy("d", "bucket")
        .agg(F.sum("exact_cnt").alias("c"))
    )
    # coalesce: sum over an empty vocab is NULL where count(*) was 0
    tot = exact.agg(
        F.coalesce(F.sum("exact_cnt"), F.lit(0).cast("long")).alias("n_tokens")
    )
    # distributed top-k (TakeOrderedAndProject), then rank the 20-row frame
    top = exact.orderBy(F.desc("exact_cnt"), F.asc("term")).limit(20)
    probes = top.select(
        "term",
        "exact_cnt",
        F.posexplode(F.array(*bucket_cols)).alias("d", "bucket"),
    )
    est = (
        F.broadcast(probes)
        .join(sketch, ["d", "bucket"])
        .groupBy("term", "exact_cnt")
        .agg(F.min("c").alias("cms_est"))
    )
    res = est.crossJoin(F.broadcast(tot)).select(
        "term",
        "exact_cnt",
        "cms_est",
        (F.col("cms_est") >= F.col("exact_cnt")).alias("est_ge_exact"),
        (
            F.col("cms_est")
            <= F.col("exact_cnt")
            + (F.lit(4.0) * F.col("n_tokens") / F.lit(float(width))).cast("bigint")
        ).alias("within_eps"),
    )
    return res, [exact]


@register(
    "events_decayed_engagement",
    oracle="""
    WITH ref AS (SELECT max(ts) AS t_ref FROM events),
    w AS (
      SELECT user_id,
             CAST(round(exp(-((epoch_us(t_ref) - epoch_us(ts))
                              / 86400000000.0) / 7.0) * 1e12) AS BIGINT) AS wq
      FROM events CROSS JOIN ref
    ),
    s AS (SELECT user_id, count(*) AS n_events, sum(wq) AS sq
          FROM w GROUP BY 1),
    top AS (SELECT user_id, n_events, sq FROM s
            ORDER BY sq DESC, user_id LIMIT 20)
    SELECT user_id, n_events,
           round(CAST(sq AS DOUBLE) / 1e12, 6) AS decayed_score,
           CAST(row_number() OVER (ORDER BY sq DESC, user_id) AS INTEGER)
             AS rank
    FROM top
    """,
    doc="Time-decayed (EWMA-style) engagement score: per user, "
    "Σ exp(-age/τ) over their events with τ = 7 days, anchored at the "
    "corpus max timestamp (a 1-row broadcast) — the recency-weighted "
    "activity feature ranking/abuse systems maintain, mergeable "
    "because the decay reference is fixed (shift-invariant: re-"
    "anchoring multiplies every score by one constant).  Each event's "
    "weight is one double exp() quantized to integer picounits; the "
    "per-user score is the order-free int64 SUM (the LM/NB "
    "discipline), so cross-engine top-20 membership and ranking are "
    "exact.  Map-only weights + ONE user-keyed partial agg + "
    "distributed top-k (TakeOrderedAndProject) — no global sort, no "
    "window over the corpus.",
    tags=("ext", "events", "temporal", "decay"),
)
def events_decayed_engagement(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    ref = ev.agg(F.max("ts").alias("t_ref"))
    age_days = (
        F.unix_micros(F.col("t_ref")) - F.unix_micros(F.col("ts"))
    ).cast("double") / F.lit(86400000000.0)
    w = ev.crossJoin(F.broadcast(ref)).select(
        "user_id",
        F.round(F.exp(-age_days / F.lit(7.0)) * F.lit(1e12)).cast("long").alias("wq"),
    )
    s = w.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"), F.sum("wq").alias("sq")
    )
    top = s.orderBy(F.desc("sq"), F.asc("user_id")).limit(20)
    wr = Window.orderBy(F.desc("sq"), F.asc("user_id"))
    return top.select(
        "user_id",
        "n_events",
        F.round(F.col("sq").cast("double") / F.lit(1e12), 6).alias("decayed_score"),
        F.row_number().over(wr).cast("int").alias("rank"),
    )


@register(
    "cms_merge_equals_oneshot",
    oracle=f"""
    WITH ex AS (SELECT source, unnest(regexp_extract_all(text, '\\S+')) AS term
                FROM documents WHERE text IS NOT NULL),
    b AS (
      SELECT source, d,
             {_D_MD5INT.format(x="concat('cms', d, ':', term)")} % 1024 AS bucket
      FROM ex CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS d)
    ),
    cells AS (SELECT d, bucket, count(*) AS c FROM b GROUP BY 1, 2)
    SELECT CAST((SELECT count(DISTINCT source) FROM ex) AS BIGINT) AS n_sources,
           CAST(count(*) AS BIGINT) AS n_cells,
           CAST(sum(c) AS BIGINT) AS total_count,
           TRUE AS merged_equals_oneshot
    FROM cells
    """,
    doc="Driver-visible mergeability proof for the count-min sketch "
    "(the hll_merge_equals_oneshot discipline, for FREQUENCIES): "
    "per-source CMS sketches summed cell-wise must equal the one-shot "
    "whole-corpus sketch EXACTLY — CMS cells are plain counters, so "
    "merge is lossless addition (this is what lets 100 TB ingest "
    "build per-partition/per-day sketches and fold them without "
    "rescanning).  n_sources / n_cells / total_count are SQL-derived "
    "(total_count must be 4·N — every token lands in exactly one "
    "bucket per row); the cell-wise equality rides as an "
    "oracle-asserted TRUE boolean, so a broken merge, seed drift, or "
    "lost cell hash-fails the driver row.",
    tags=("ext", "sketch", "approx", "envelope", "mergeable"),
)
def cms_merge_equals_oneshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fiware_cosmos_orion_flink_connector_examples_spark.functions.hashing import (
        cms_buckets,
    )

    depth, width = 4, 1024
    docs = load_table(spark, sf_dir, "documents", spread=True)
    ex = docs.filter(F.col("text").isNotNull()).select(
        "source", F.explode(text.tokens("text")).alias("term")
    )
    cells = ex.select(
        "source",
        F.posexplode(F.array(*cms_buckets(F.col("term"), depth, width))).alias(
            "d", "bucket"
        ),
    )
    # Round-18 measured-and-REJECTED: persisting per_source (bounded,
    # |sources|×depth×width rows) to derive n_sources from it — saving
    # the third corpus tokenize — read consistently ~1.4× SLOWER
    # interleaved on/off in one session (mins 1.74 vs 1.39; the persist
    # breaks the fused tokenize→posexplode→agg pipeline for a tokenize
    # that is cheap).  oneshot stays an INDEPENDENT corpus pass in any
    # variant — merged == oneshot is the mergeability proof (the F13
    # arms-stay-independent line).
    per_source = cells.groupBy("source", "d", "bucket").agg(
        F.count(F.lit(1)).alias("c")
    )
    merged = per_source.groupBy("d", "bucket").agg(F.sum("c").alias("mc"))
    oneshot = cells.groupBy("d", "bucket").agg(F.count(F.lit(1)).alias("oc"))
    cmp = (
        merged.join(oneshot, ["d", "bucket"], "full_outer")
        .agg(
            F.min(
                F.coalesce(F.col("mc"), F.lit(-1)) == F.coalesce(F.col("oc"), F.lit(-2))
            ).alias("merged_equals_oneshot"),
            F.count(F.lit(1)).alias("n_cells"),
            F.sum("oc").alias("total_count"),
        )
    )
    nsrc = ex.agg(F.countDistinct("source").alias("n_sources"))
    return cmp.crossJoin(F.broadcast(nsrc)).select(
        F.col("n_sources").cast("long").alias("n_sources"),
        F.col("n_cells").cast("long").alias("n_cells"),
        F.col("total_count").cast("long").alias("total_count"),
        "merged_equals_oneshot",
    )


@register(
    "quantile_histogram_sketch",
    oracle="""
    WITH b AS (SELECT event_type, min(value) AS lo, max(value) AS hi,
                      count(*) AS n
               FROM events WHERE value IS NOT NULL GROUP BY 1),
    binned AS (
      SELECT e.event_type,
             CAST(least(floor((e.value - b.lo) / ((b.hi - b.lo) / 256.0)), 255)
                  AS INTEGER) AS bin,
             count(*) AS c
      FROM events e JOIN b USING (event_type)
      WHERE e.value IS NOT NULL AND b.hi > b.lo
      GROUP BY 1, 2
    ),
    cum AS (
      SELECT event_type, bin, c,
             coalesce(sum(c) OVER (PARTITION BY event_type ORDER BY bin
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND 1 PRECEDING), 0) AS cb
      FROM binned
    ),
    est AS (
      SELECT c5.event_type,
             (SELECT min(b.lo + (c2.bin + (0.5 * b2.n - c2.cb) / c2.c)
                          * ((b.hi - b.lo) / 256.0))
              FROM cum c2 JOIN b b2 ON b2.event_type = c2.event_type
                          JOIN b ON b.event_type = c2.event_type
              WHERE c2.event_type = c5.event_type
                AND c2.cb + c2.c >= 0.5 * b2.n AND c2.cb < 0.5 * b2.n)
               AS est_p50,
             (SELECT min(b.lo + (c2.bin + (0.95 * b2.n - c2.cb) / c2.c)
                          * ((b.hi - b.lo) / 256.0))
              FROM cum c2 JOIN b b2 ON b2.event_type = c2.event_type
                          JOIN b ON b.event_type = c2.event_type
              WHERE c2.event_type = c5.event_type
                AND c2.cb + c2.c >= 0.95 * b2.n AND c2.cb < 0.95 * b2.n)
               AS est_p95
      FROM (SELECT DISTINCT event_type FROM cum) c5
    )
    SELECT e.event_type, b.n,
           round(e.est_p50, 6) AS est_p50, round(e.est_p95, 6) AS est_p95,
           TRUE AS p50_within_binwidth, TRUE AS p95_within_binwidth
    FROM est e JOIN b USING (event_type)
    """,
    doc="Mergeable equi-width histogram quantile sketch + driver-"
    "visible envelope (the third sketch family beside HLL distincts "
    "and CMS frequencies): per event_type, 256 integer bin counters "
    "over the [min, max] value range — per-partition histograms merge "
    "by ADDITION (store per-day/shard, fold on read; bounds ride the "
    "sketch).  p50/p95 are estimated by linear interpolation inside "
    "the covering bin, which structurally bounds the error by ONE BIN "
    "WIDTH — |est − x_⌈q·n⌉| ≤ (hi−lo)/256 against the DISCRETE "
    "order statistic (which provably shares the estimate's covering "
    "bin; the interpolated percentile_cont is NOT a sound comparator "
    "— it blends order stats across possibly-empty bins) — asserted "
    "as oracle-TRUE booleans.  Estimates themselves are derived from "
    "integer counters + the two bound doubles, so the oracle "
    "re-derives them EXACTLY (hash-verified), unlike an opaque KLL "
    "blob.  Shape: one (type, bin) partial agg, a ≤256-row-per-type "
    "cumulative window, bounds via one 3-double agg broadcast back.",
    tags=("ext", "sketch", "approx", "envelope", "mergeable"),
)
def quantile_histogram_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    nbins = 256
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    bounds = ev.groupBy("event_type").agg(
        F.min("value").alias("lo"),
        F.max("value").alias("hi"),
        F.count(F.lit(1)).alias("n"),
    )
    w_col = (F.col("hi") - F.col("lo")) / F.lit(float(nbins))
    binned = (
        ev.join(F.broadcast(bounds), "event_type")
        .filter(F.col("hi") > F.col("lo"))
        .select(
            "event_type",
            F.least(
                F.floor((F.col("value") - F.col("lo")) / w_col),
                F.lit(nbins - 1),
            )
            .cast("int")
            .alias("bin"),
        )
        .groupBy("event_type", "bin")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    wcum = (
        Window.partitionBy("event_type")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = binned.withColumn("cb", F.coalesce(F.sum("c").over(wcum), F.lit(0)))

    def interp(q: float):
        target = F.lit(q) * F.col("n")
        inside = (F.col("cb") + F.col("c") >= target) & (F.col("cb") < target)
        return F.min(
            F.when(
                inside,
                F.col("lo")
                + (F.col("bin") + (target - F.col("cb")) / F.col("c")) * w_col,
            )
        )

    est = (
        cum.join(F.broadcast(bounds), "event_type")
        .groupBy("event_type")
        .agg(interp(0.5).alias("p50_raw"), interp(0.95).alias("p95_raw"))
    )
    # the envelope verifier is the DISCRETE order statistic at rank
    # ⌈q·n⌉: by the covering-bin argument the k-th smallest value and
    # the interpolated estimate sit in the SAME bin (cb < q·n ≤ k ≤
    # cb+c), so |est − x_k| ≤ bin width is STRUCTURAL.  The
    # interpolated percentile_cont is NOT a sound comparator — it
    # blends adjacent order statistics across possibly-EMPTY bins, so
    # its distance to the covering bin is unbounded on sparse tails
    # (observed on the fixture).  Per-type rank is the bounded
    # verifier companion (the approx_sketches_bounded convention: at
    # 100 TB run it on a sampled slice).
    wr = Window.partitionBy("event_type").orderBy("value")
    ranked = (
        ev.select("event_type", "value")
        .withColumn("rn", F.row_number().over(wr))
        .join(F.broadcast(bounds.select("event_type", "n")), "event_type")
    )
    exact = ranked.groupBy("event_type").agg(
        F.min(
            F.when(F.col("rn") == F.ceil(F.lit(0.5) * F.col("n")), F.col("value"))
        ).alias("x50"),
        F.min(
            F.when(F.col("rn") == F.ceil(F.lit(0.95) * F.col("n")), F.col("value"))
        ).alias("x95"),
    )
    return (
        est.join(F.broadcast(bounds), "event_type")
        .join(F.broadcast(exact), "event_type")
        .select(
            "event_type",
            "n",
            F.round("p50_raw", 6).alias("est_p50"),
            F.round("p95_raw", 6).alias("est_p95"),
            (
                F.abs(F.col("p50_raw") - F.col("x50"))
                <= w_col * F.lit(1.0 + 1e-9)
            ).alias("p50_within_binwidth"),
            (
                F.abs(F.col("p95_raw") - F.col("x95"))
                <= w_col * F.lit(1.0 + 1e-9)
            ).alias("p95_within_binwidth"),
        )
    )


@register(
    "phrase_match_topk",
    oracle=r"""
    WITH t AS (SELECT doc_id, source, regexp_extract_all(text, '\S+') AS t
               FROM documents WHERE text IS NOT NULL),
    c AS (
      SELECT doc_id, source,
             len([i for i in range(1, len(t))
                  if t[i] = 'hash' AND t[i+1] = 'join']) AS n_occurrences
      FROM t
    ),
    top AS (SELECT doc_id, source, n_occurrences FROM c
            WHERE n_occurrences > 0
            ORDER BY n_occurrences DESC, doc_id LIMIT 20)
    SELECT doc_id, source, CAST(n_occurrences AS BIGINT) AS n_occurrences,
           CAST(row_number() OVER (ORDER BY n_occurrences DESC, doc_id)
                AS INTEGER) AS rank
    FROM top
    """,
    doc="X4 exact PHRASE search ('hash join' as adjacent tokens — the "
    "quoted-query retrieval primitive BM25's bag-of-words cannot "
    "express): per doc, count positions i with t[i]='hash' ∧ "
    "t[i+1]='join' via zip_with over the token array and its 1-shifted "
    "self — ENTIRELY row-local column arithmetic, zero shuffles before "
    "the distributed top-20 (TakeOrderedAndProject).  The same count "
    "over a positional posting index (posexplode + (doc, pos+1) "
    "equi-join of the two terms' postings) is the stored-index "
    "variant; row-local wins when the corpus is already being "
    "scanned, the posting join when an index exists and the scan is "
    "the cost (the bm25_from_index trade).",
    tags=("ext", "text", "X4", "retrieval", "phrase"),
)
def phrase_match_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    toks = text.tokens("text")
    n = F.size(toks)
    heads = F.slice(toks, 1, F.greatest(n - 1, F.lit(0)))
    tails = F.slice(toks, 2, F.greatest(n - 1, F.lit(0)))
    hits = F.zip_with(
        heads,
        tails,
        lambda a, b: ((a == F.lit("hash")) & (b == F.lit("join"))).cast("int"),
    )
    cnt = F.aggregate(hits, F.lit(0), lambda acc, x: acc + x).cast("long")
    scored = (
        docs.filter(F.col("text").isNotNull())
        .select("doc_id", "source", cnt.alias("n_occurrences"))
        .filter(F.col("n_occurrences") > 0)
    )
    top = scored.orderBy(F.desc("n_occurrences"), F.asc("doc_id")).limit(20)
    wr = Window.orderBy(F.desc("n_occurrences"), F.asc("doc_id"))
    return top.select(
        "doc_id",
        "source",
        "n_occurrences",
        F.row_number().over(wr).cast("int").alias("rank"),
    )


@register(
    "phrase_index_served_equals",
    oracle=r"""
    WITH t AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS t
               FROM documents WHERE text IS NOT NULL),
    c AS (
      SELECT doc_id,
             len([i for i in range(1, len(t))
                  if t[i] = 'hash' AND t[i+1] = 'join']) AS n
      FROM t
    )
    SELECT CAST(1 AS BOOLEAN) AS served_equal,
           CAST(count(*) FILTER (WHERE n > 0) AS BIGINT) AS n_docs,
           CAST(coalesce(sum(n), 0) AS BIGINT) AS total_occurrences
    FROM c
    """,
    doc="X4 phrase-serving pin — the POSITIONAL POSTING INDEX variant "
    "phrase_match_topk's doc names: per-(term, doc) sorted position "
    "arrays stored as the search index's positions sub-table beside "
    "the BM25 postings (same pkey, same root-published merges), phrase "
    "counts served by folding each next term in via a doc-keyed join + "
    "row-local array_contains(p+i) filter — the scan touches only "
    "the phrase's terms' posting rows (Σ df, never the corpus).  The "
    "query serves 'hash join' counts from the search index it shares "
    "with hybrid_rrf_served_topk (built once per process), and "
    "emits (a) set-equality with the row-local zip_with counter as an "
    "oracle-asserted TRUE boolean, plus (b) the matched-doc count and "
    "total occurrences, both verified against DuckDB's independent "
    "position arithmetic — so the hash match proves the INDEX path's "
    "numbers, not just the equality claim.",
    tags=("ext", "text", "X4", "retrieval", "phrase", "envelope"),
)
def phrase_index_served_equals(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = text.tokens("text")
    n = F.size(toks)
    heads = F.slice(toks, 1, F.greatest(n - 1, F.lit(0)))
    tails = F.slice(toks, 2, F.greatest(n - 1, F.lit(0)))
    hits = F.zip_with(
        heads,
        tails,
        lambda a, b: ((a == F.lit("hash")) & (b == F.lit("join"))).cast("int"),
    )
    cnt = F.aggregate(hits, F.lit(0), lambda acc, x: acc + x).cast("long")
    rowlocal = (
        docs.filter(F.col("text").isNotNull())
        .select("doc_id", cnt.alias("n_occurrences"))
        .filter(F.col("n_occurrences") > 0)
    )

    # the index is the shared build-once fixture; the row-local verify
    # side still scans the corpus per run
    served = text.phrase_count_from_index(
        spark, _search_index(spark, sf_dir), ["hash", "join"]
    )
    # matched-doc sets are phrase-selective (tiny): collect ONCE
    # each and derive equality + the aggregates driver-side
    # (exceptAll both ways re-ran the index scan three times)
    served_rows = {tuple(r) for r in served.collect()}
    rowlocal_rows = {tuple(r) for r in rowlocal.collect()}
    equal = served_rows == rowlocal_rows
    n_docs = len(served_rows)
    total = sum(n for _, n in served_rows)
    return spark.createDataFrame(
        [(bool(equal), int(n_docs), int(total))],
        "served_equal boolean, n_docs bigint, total_occurrences bigint",
    )


@register(
    "snapshot_upsert_capstone",
    oracle="""
    WITH o AS (SELECT o_orderkey AS k,
                      CAST(round(o_totalprice * 100) AS BIGINT) AS pc
               FROM orders WHERE o_orderkey % 4 = 1),
    final AS (
      SELECT k,
             CASE WHEN k % 10 = 3 THEN pc + 222 ELSE pc END AS pc
      FROM o WHERE k % 10 != 7
      UNION ALL
      SELECT k + 1000000000, CAST(555 AS BIGINT) FROM o WHERE k % 200 = 101
    )
    SELECT (SELECT count(*) FROM final)            AS n_rows,
           CAST(coalesce((SELECT sum(pc) FROM final), 0) AS BIGINT) AS sum_price_c,
           (SELECT count(*) FROM o)                AS v1_rows,
           (SELECT count(*) FROM o WHERE k % 100 = 1) AS v2_inserts,
           (SELECT count(*) FROM o WHERE k % 10 = 3)  AS v2_updates,
           (SELECT count(*) FROM o WHERE k % 10 = 7)  AS v2_deletes,
           (SELECT count(*) FROM o WHERE k % 10 = 3)  AS v3_updates,
           (SELECT count(*) FROM o WHERE k % 200 = 1) AS v3_deletes
    """,
    doc="[ext] STORAGE capstone, hash-checked end-to-end against the "
    "raw input: write the orders table as a KEYED SNAPSHOT TABLE, "
    "apply two deterministic MERGE commits (updates + inserts + "
    "conditional deletes derived arithmetically from o_orderkey), "
    "then report (a) the final table's row count and exact "
    "integer-cents price sum read back through snapshot_read, (b) "
    "time travel to v1, and (c) the per-commit CDC feed's "
    "insert/update/delete counts read from the change logs — every "
    "number independently recomputed by DuckDB from `orders` alone, "
    "so the driver hash-proves the merge semantics, snapshot "
    "isolation, and change-log accounting in one row.  Scale shape: "
    "the merges are bucket-pruned copy-on-write (cost ∝ touched "
    "buckets), the feed reads O(changed rows) from the per-commit "
    "logs, and commit metadata is O(batch) segment manifests — the "
    "design the 25M-row smoke in SCALING.md measures.",
    tags=("ext", "storage", "snapshot", "merge", "cdc", "envelope"),
)
def snapshot_upsert_capstone(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fiware_cosmos_orion_flink_connector_examples_spark.sources import layout

    orders = load_table(spark, sf_dir, "orders")
    # quarter-slice keeps the bench cost in band; the semantics the
    # query proves (merge/CDC/time-travel) are size-independent
    base = orders.filter(F.col("o_orderkey") % 4 == 1).select(
        F.col("o_orderkey").alias("k"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("pc"),
    )

    def build(root: str) -> None:
        path = f"{root}/t"
        layout.snapshot_write_keyed(spark, base, path, "k", n_buckets=8)
        upd2 = (
            base.filter(F.col("k") % 10 == 3)
            .select("k", (F.col("pc") + 111).alias("pc"), F.lit(False).alias("_del"))
            .unionByName(
                base.filter(F.col("k") % 10 == 7).select(
                    "k", F.lit(None).cast("long").alias("pc"), F.lit(True).alias("_del")
                )
            )
            .unionByName(
                base.filter(F.col("k") % 100 == 1).select(
                    (F.col("k") + F.lit(1_000_000_000)).alias("k"),
                    F.lit(555).cast("long").alias("pc"),
                    F.lit(False).alias("_del"),
                )
            )
        )
        layout.snapshot_merge(spark, path, upd2, "k", delete_col="_del")
        upd3 = (
            base.filter(F.col("k") % 10 == 3)
            .select("k", (F.col("pc") + 222).alias("pc"), F.lit(False).alias("_del"))
            .unionByName(
                base.filter(F.col("k") % 200 == 1).select(
                    (F.col("k") + F.lit(1_000_000_000)).alias("k"),
                    F.lit(None).cast("long").alias("pc"),
                    F.lit(True).alias("_del"),
                )
            )
        )
        layout.snapshot_merge(spark, path, upd3, "k", delete_col="_del")

    # round 15 (VERDICT r14 #2): build-once fixture cache — repeat runs
    # measure the READ surface (snapshot_read, time travel, CDC feed)
    path = _capstone_cache(
        "snapshot_upsert", _sf_print(spark, sf_dir, "orders"), build
    ) + "/t"
    fin = layout.snapshot_read(spark, path).agg(
        F.count(F.lit(1)).alias("n"), F.sum("pc").alias("s")
    ).collect()[0]
    v1_rows = layout.snapshot_read(spark, path, 1).count()
    feed = {
        (r["_version"], r["_change"]): r["n"]
        for r in layout.snapshot_changes_feed(spark, path, 1)
        .groupBy("_version", "_change")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    row = (
        int(fin["n"]),
        int(fin["s"] or 0),  # SUM over an empty table is NULL
        int(v1_rows),
        int(feed.get((2, "insert"), 0)),
        int(feed.get((2, "update"), 0)),
        int(feed.get((2, "delete"), 0)),
        int(feed.get((3, "update"), 0)),
        int(feed.get((3, "delete"), 0)),
    )
    return spark.createDataFrame(
        [row],
        "n_rows bigint, sum_price_c bigint, v1_rows bigint, v2_inserts bigint, "
        "v2_updates bigint, v2_deletes bigint, v3_updates bigint, v3_deletes bigint",
    )


@register(
    "retrieval_mrr_ndcg",
    oracle=f"""
    WITH {_D_BM25.format(qvals="(0, 'hash'), (0, 'join')")},
    t AS (SELECT doc_id, regexp_extract_all(text, '\\S+') AS tk
          FROM documents WHERE text IS NOT NULL),
    rel AS (SELECT doc_id,
                   len([x for x in range(1, len(tk))
                        if tk[x] = 'hash' AND tk[x+1] = 'join']) > 0 AS r
            FROM t),
    topk AS (SELECT doc_id,
                    CAST(row_number() OVER (ORDER BY sq DESC, doc_id) AS INTEGER) AS rk
             FROM bm25 QUALIFY rk <= 10),
    j AS (SELECT rk, coalesce(r, FALSE) AS r
          FROM topk LEFT JOIN rel USING (doc_id)),
    s AS (SELECT coalesce(sum(CASE WHEN r THEN
                   CAST(round(1e12 / log2(rk + 1)) AS BIGINT) END), 0) AS dcg_q,
                 min(CASE WHEN r THEN rk END) AS first_rel,
                 coalesce(sum(CASE WHEN r THEN 1 END), 0) AS n_rel_topk
          FROM j),
    tot AS (SELECT count(*) FILTER (WHERE r) AS n_rel_total FROM rel),
    ideal AS (SELECT coalesce(sum(CAST(round(1e12 / log2(i + 1)) AS BIGINT)), 0)
                       AS idcg_q
              FROM (SELECT unnest(generate_series(1, least(n_rel_total, 10)))
                      AS i FROM tot))
    SELECT round(CASE WHEN first_rel IS NULL THEN 0.0
                      ELSE 1.0 / first_rel END, 6) AS mrr,
           round(CASE WHEN idcg_q = 0 THEN 0.0
                      ELSE CAST(dcg_q AS DOUBLE) / CAST(idcg_q AS DOUBLE)
                 END, 6) AS ndcg_at_10,
           CAST(n_rel_topk AS BIGINT) AS n_rel_topk,
           CAST(n_rel_total AS BIGINT) AS n_rel_total
    FROM s, tot, ideal
    """,
    doc="X3/X4 retrieval EVALUATION — the quality loop a retrieval "
    "stack ships with: MRR and nDCG@10 of the BM25 ranking for query "
    "'hash join' against a deterministic binary relevance oracle: "
    "the doc contains the exact PHRASE (adjacent tokens), a STRICTER "
    "label than BM25's bag-of-words — so the metrics genuinely "
    "discriminate (bag-of-words hits without adjacency score as "
    "misses) and the whole chain is SQL-derivable and hash-checked.  Per-rank DCG contributions are "
    "picounit-quantized int64 before summing (order-free exactness, "
    "the repo's float-determinism convention); IDCG generates the "
    "ideal ranks with sequence/range under the same quantization; "
    "MRR is the exact 1/first-relevant-rank.  Scale shape: top-k is "
    "TakeOrderedAndProject over the posting-bounded BM25 scores, the "
    "relevance join is k-bounded, and the corpus-wide label count is "
    "one map-side-combined agg.",
    tags=("ext", "text", "X3", "X4", "retrieval", "evaluation"),
)
def retrieval_mrr_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fiware_cosmos_orion_flink_connector_examples_spark.operators import (
        retrieval,
    )

    docs = load_table(spark, sf_dir, "documents")
    qterms = spark.createDataFrame(
        [(0, "hash"), (0, "join")], "query_id int, term string"
    )
    topk = retrieval.rank_lexical(text.bm25_scores(docs, qterms), 10)
    toks = text.tokens("text")
    n = F.size(toks)
    heads = F.slice(toks, 1, F.greatest(n - 1, F.lit(0)))
    tails = F.slice(toks, 2, F.greatest(n - 1, F.lit(0)))
    phrase_hits = F.zip_with(
        heads,
        tails,
        lambda a, b: ((a == F.lit("hash")) & (b == F.lit("join"))).cast("int"),
    )
    rel = docs.filter(F.col("text").isNotNull()).select(
        F.col("doc_id"),
        (F.aggregate(phrase_hits, F.lit(0), lambda acc, x: acc + x) > 0).alias("r"),
    )
    j = topk.join(rel, topk["id"] == rel["doc_id"], "left").select(
        F.col("rank_lex").alias("rk"),
        F.coalesce(F.col("r"), F.lit(False)).alias("r"),
    )
    quant = F.round(F.lit(1e12) / F.log2(F.col("rk") + 1)).cast("long")
    s = j.agg(
        F.coalesce(F.sum(F.when(F.col("r"), quant)), F.lit(0)).alias("dcg_q"),
        F.min(F.when(F.col("r"), F.col("rk"))).alias("first_rel"),
        F.coalesce(F.sum(F.when(F.col("r"), F.lit(1))), F.lit(0)).alias("n_rel_topk"),
    )
    tot = rel.agg(F.sum(F.col("r").cast("long")).alias("n_rel_total"))
    joined = s.crossJoin(F.broadcast(tot))
    ideal = joined.select(
        "*",
        F.explode_outer(
            F.when(
                F.col("n_rel_total") > 0,
                F.sequence(
                    F.lit(1), F.least(F.col("n_rel_total"), F.lit(10)).cast("int")
                ),
            )
        ).alias("i"),
    )
    iq = F.round(F.lit(1e12) / F.log2(F.col("i") + 1)).cast("long")
    out = ideal.groupBy("dcg_q", "first_rel", "n_rel_topk", "n_rel_total").agg(
        F.coalesce(F.sum(F.when(F.col("i").isNotNull(), iq)), F.lit(0)).alias(
            "idcg_q"
        )
    )
    return out.select(
        F.round(
            F.when(F.col("first_rel").isNull(), F.lit(0.0)).otherwise(
                F.lit(1.0) / F.col("first_rel")
            ),
            6,
        ).alias("mrr"),
        F.round(
            F.when(F.col("idcg_q") == 0, F.lit(0.0)).otherwise(
                F.col("dcg_q").cast("double") / F.col("idcg_q").cast("double")
            ),
            6,
        ).alias("ndcg_at_10"),
        F.col("n_rel_topk").cast("long").alias("n_rel_topk"),
        F.col("n_rel_total").cast("long").alias("n_rel_total"),
    )


@register(
    "search_index_atomic_capstone",
    oracle=r"""
    WITH base AS (SELECT doc_id, text FROM documents
                  WHERE text IS NOT NULL AND doc_id % 4 = 1),
    mod AS (
      SELECT doc_id,
             CASE WHEN doc_id % 7 = 3 THEN 'hash join hash join'
                  ELSE text END AS text
      FROM base
      WHERE NOT (doc_id % 11 = 5 AND doc_id % 7 != 3)
      UNION ALL
      SELECT 1000000001, 'hash join'
    ),
    t AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS t FROM mod),
    c AS (
      SELECT doc_id,
             len([i for i in range(1, len(t))
                  if t[i] = 'hash' AND t[i+1] = 'join']) AS n
      FROM t
    ),
    t1 AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS t FROM base),
    c1 AS (
      SELECT doc_id,
             len([i for i in range(1, len(t))
                  if t[i] = 'hash' AND t[i+1] = 'join']) AS n
      FROM t1
    )
    SELECT CAST(count(*) FILTER (WHERE n > 0) AS BIGINT) AS n_docs,
           CAST(coalesce(sum(n), 0) AS BIGINT) AS total_occurrences,
           (SELECT CAST(count(*) AS BIGINT) FROM t WHERE len(t) > 0)
             AS n_indexed_docs,
           (SELECT CAST(count(*) FILTER (WHERE n > 0) AS BIGINT) FROM c1)
             AS n_docs_v1,
           (SELECT CAST(coalesce(sum(n), 0) AS BIGINT) FROM c1)
             AS total_occurrences_v1
    FROM c
    """,
    doc="[ext] ATOMIC MULTI-TABLE SERVING-INDEX capstone (round 14, "
    "VERDICT r13 #2/#3), hash-checked end-to-end against the raw "
    "corpus (quarter-slice doc_id%4=1 — the snapshot_upsert_capstone "
    "bench-band discipline; the semantics are slice-independent): "
    "build the VERSIONED combined search index (search_index_write — "
    "BM25 postings + doclen + docterms + positional postings as "
    "snapshot sub-tables under ONE atomic index root), apply a "
    "deterministic edit batch (docs with doc_id%7=3 rewritten, one "
    "inserted) TOGETHER WITH a delete batch (doc_id%11=5, unedited) "
    "as ONE atomic multi-table root commit with a txn watermark, then "
    "serve 'hash join' phrase counts and the indexed-doc count off "
    "the PINNED root — every number independently recomputed by "
    "DuckDB from `documents` alone, so the driver hash-proves the "
    "root protocol end to end: changed-doc stale-key deletion (no "
    "ghost postings), real multi-table deletes riding the same "
    "commit, cross-table consistency of the served snapshot, AND "
    "root-level TIME TRAVEL (the same phrase served at root v1 "
    "reproduces the pre-edit corpus exactly — v1-pinned counts are "
    "hash-checked against DuckDB over the UNEDITED slice).  Scale "
    "shape: merges are insert-aware bucket-pruned COW on every "
    "sub-table, the root publish is one O(1) rename, and the serve "
    "touches only the phrase terms' posting rows (Σ df, never the "
    "corpus).",
    tags=("ext", "storage", "text", "X4", "retrieval", "snapshot", "envelope"),
)
def search_index_atomic_capstone(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fiware_cosmos_orion_flink_connector_examples_spark.sources import (
        layout,
    )

    def build(root_dir: str) -> None:
        docs = (
            load_table(spark, sf_dir, "documents")
            .filter(F.col("text").isNotNull() & (F.col("doc_id") % 4 == 1))
            .select("doc_id", "text")
            # consumed by 4 sub-table builds + the edit/delete
            # derivations: materialize the quarter-slice once
            # (slice-bounded by design)
            .localCheckpoint(eager=True)
        )
        edits = docs.filter(F.col("doc_id") % 7 == 3).select(
            "doc_id", F.lit("hash join hash join").alias("text")
        ).unionByName(
            spark.createDataFrame(
                [(1000000001, "hash join")], "doc_id long, text string"
            )
        )
        dels = docs.filter(
            (F.col("doc_id") % 11 == 5) & (F.col("doc_id") % 7 != 3)
        ).select("doc_id")
        idx = f"{root_dir}/idx"
        text.search_index_write(docs, idx, n_buckets=2)
        text.search_index_ingest(
            spark, edits, idx, txn_app="edit", txn_id=1, delete_ids=dels
        )

    # round 15 (VERDICT r14 #2): build-once fixture cache — repeat runs
    # measure the SERVE surface (pinned phrase serves + root time travel)
    idx = _capstone_cache(
        "search_idx_atomic", _sf_print(spark, sf_dir, "documents"), build
    ) + "/idx"
    served = {
        tuple(r)
        for r in text.phrase_count_from_index(
            spark, idx, ["hash", "join"]
        ).collect()
    }
    # cross-table TIME TRAVEL: the same serve pinned to root v1
    # reproduces the PRE-EDIT corpus — hash-proven below against
    # DuckDB arithmetic over the unedited slice
    served_v1 = {
        tuple(r)
        for r in text.phrase_count_from_index(
            spark, idx, ["hash", "join"], root_version=1
        ).collect()
    }
    root = layout.index_root_resolve(spark, idx)
    n_indexed = layout.snapshot_read(
        spark, f"{idx}/doclen", version=root["tables"]["doclen"]
    ).count()
    return spark.createDataFrame(
        [
            (
                len(served),
                int(sum(n for _, n in served)),
                int(n_indexed),
                len(served_v1),
                int(sum(n for _, n in served_v1)),
            )
        ],
        "n_docs bigint, total_occurrences bigint, n_indexed_docs bigint, "
        "n_docs_v1 bigint, total_occurrences_v1 bigint",
    )


@register(
    "ann_drift_monitor",
    oracle=None,  # recall@k of a kmeans-trained IVF index isn't ANSI-SQL-
    # expressible; rows-only with in-row envelope booleans, the exact
    # invariants pinned by pytest (test_ext_operators / similarity)
    doc="[ext] X3 ANN DRIFT MONITOR + ATOMIC REBUILD, driver-registered "
    "(VERDICT r13 directive #5), running on the ANN "
    "index (inverted lists as a snapshot table bucketed by coarse "
    "cell, centroids pinned in the index root — adds are atomic "
    "merges, rebuild flips centroids+lists in ONE root rename): train "
    "an IVF index on two thirds of the embedding corpus, add the rest "
    "under FROZEN centroids (the FAISS add-after-train contract — "
    "sustained ingest "
    "degrades cell geometry silently), then emit the operator's alarm "
    "numbers: recall@5 probed exhaustively (envelope: exactly 1.0 — "
    "the search is pinned row-identical to brute force at nprobe=all), "
    "recall@5 at nprobe=1 before and after ann_index_rebuild retrains "
    "on the full contents (observability values — bounded-probe recall "
    "at tiny nprobe is geometry-noisy, so no ordering is claimed), "
    "plus the rebuild's DETERMINISTIC integrity envelopes: exhaustive "
    "recall is still exactly 1.0 through the atomic root flip, "
    "and the rebuilt index holds every vector (no loss through the "
    "flip).  The probe set is a bounded deterministic sample (<=16 "
    "queries), so monitor cost is independent of index size — the "
    "maintenance-cadence economics the 100 TB deployment needs.",
    tags=("ext", "similarity", "X3", "ann", "envelope"),
)
def ann_drift_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    import json
    import os

    schema = (
        "n_probe_queries bigint, recall_exhaustive double, "
        "exhaustive_is_exact boolean, recall_drifted double, "
        "recall_rebuilt double, rebuild_keeps_exact boolean, "
        "rebuild_preserves_vectors boolean"
    )
    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull()
    )
    head = emb.filter(F.col("vec_id") % 3 != 0)
    tail = emb.filter(F.col("vec_id") % 3 == 0)
    if head.isEmpty():
        # degenerate corpus (empty ingest day): nothing to train on —
        # a zero-query monitor vacuously reports healthy
        return spark.createDataFrame(
            [(0, 1.0, True, 1.0, 1.0, True, True)], schema
        )

    def _n_vectors(idx: str):
        from fiware_cosmos_orion_flink_connector_examples_spark.sources import (
            layout,
        )

        root = layout.index_root_resolve(spark, idx)
        (name, ver), = root["tables"].items()
        return layout.snapshot_read(spark, f"{idx}/{name}", version=ver).count()

    def build(root_dir: str) -> None:
        idx = f"{root_dir}/ivf"
        cents = similarity.kmeans_fit_sample(
            head, k=8, cache_key=("ann_drift_head", sf_dir)
        )
        # the registered row proves the ANN serving path (atomic add +
        # root-flip rebuild), not just the monitor arithmetic
        similarity.ann_index_write(head, idx, cents)
        similarity.ann_index_add(spark, tail, idx)
        # the PRE-rebuild observations exist only before the root flip —
        # persist them with the fixture (deterministic: seeded kmeans,
        # fixed probe sample) so cached repeats serve them
        # one shared sample + ONE brute-force pass for both probe
        # depths (the brute side is nprobe-independent)
        pre_pair = similarity.ann_index_recall_multi(
            spark, idx, k=5, nprobes=(len(cents), 1), max_probe=16
        )
        pre = {
            "n_before": _n_vectors(idx),
            "full": pre_pair[len(cents)],
            "drifted": pre_pair[1],
        }
        similarity.ann_index_rebuild(spark, idx, k_centroids=8)
        with open(f"{root_dir}/pre.json", "w") as fh:
            json.dump(pre, fh)

    # round 15 (VERDICT r14 #2): build-once fixture cache — repeat runs
    # measure the MONITOR surface (bounded-probe recalls on the rebuilt
    # index), the maintenance-cadence cost the operator actually pays
    base = _capstone_cache(
        "ann_drift", _sf_print(spark, sf_dir, "embeddings"), build
    )
    idx = f"{base}/ivf"
    with open(f"{base}/pre.json") as fh:
        pre = json.load(fh)
    # the monitor's repeat-run cost: one shared sample + ONE
    # brute-force pass serves both probe depths (ann_index_recall_multi)
    post_pair = similarity.ann_index_recall_multi(
        spark, idx, k=5, nprobes=(1, 8), max_probe=16
    )
    rebuilt, rebuilt_full = post_pair[1], post_pair[8]
    n_after = _n_vectors(idx)
    full, drifted = pre["full"], pre["drifted"]
    return spark.createDataFrame(
        [
            (
                int(full["n_queries"]),
                round(float(full["recall_at_k"]), 6),
                bool(full["recall_at_k"] == 1.0),
                round(float(drifted["recall_at_k"]), 6),
                round(float(rebuilt["recall_at_k"]), 6),
                bool(rebuilt_full["recall_at_k"] == 1.0),
                bool(pre["n_before"] == n_after),
            )
        ],
        schema,
    )


@register(
    "snapshot_zorder_scan",
    oracle="""
    SELECT TRUE AS scan_correct,
           TRUE AS pruned,
           count(*) AS n_rows,
           CAST(coalesce(sum(CAST(round(value * 100) AS BIGINT)), 0)
                AS BIGINT) AS sum_vc
    FROM events
    WHERE user_id BETWEEN 3 AND 7
      AND CAST(round(value * 100) AS BIGINT) BETWEEN 2000 AND 12000
    """,
    doc="[ext] STORAGE data-skipping capstone (the Delta OPTIMIZE "
    "ZORDER analog, proven end-to-end through the snapshot manifest): "
    "write events as a snapshot table, Z-ORDER compact it on "
    "(user_id, value-cents) via compact_files(zorder_by=...), then "
    "answer a 2-D box predicate through snapshot_scan_multi — the "
    "multi-column stats-pruned scan that ANDs per-file [min,max] "
    "skipping decisions across dimensions.  Emits (a) an "
    "oracle-asserted boolean that the pruned scan's rows EQUAL the "
    "full-read filter (correctness regardless of layout), (b) a "
    "boolean that files were actually skipped (the clustering is "
    "real, not a silent no-op — the round-13 compact_files lesson), "
    "and (c) the box's row count and exact integer-cents sum, "
    "independently recomputed by DuckDB from raw events — so the "
    "driver hash-proves the skipping path returns exactly the right "
    "data.  Scale shape: the compaction is one maintenance-pass "
    "shuffle; every later box scan opens only curve-local files "
    "(manifest-level skipping, the metadata twin of row-group "
    "pruning).",
    tags=("ext", "storage", "snapshot", "zorder", "scan", "envelope"),
)
def snapshot_zorder_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fiware_cosmos_orion_flink_connector_examples_spark.sources import layout

    box = {"user_id": (3, 7), "vc": (2000, 12000)}

    def build(root_dir: str) -> None:
        ev = load_table(spark, sf_dir, "events").select(
            "event_id",
            "user_id",
            F.round(F.col("value") * 100).cast("long").alias("vc"),
        )
        layout.snapshot_commit(
            spark, ev, f"{root_dir}/t", stats_cols=["user_id", "vc"]
        )
        layout.compact_files(
            spark, f"{root_dir}/t", target_files=16, zorder_by=["user_id", "vc"]
        )

    # round 15 (VERDICT r14 #2): build-once fixture cache — repeat runs
    # measure the SCAN surface (the pruned box read vs the full read)
    path = _capstone_cache(
        "zorder_scan", _sf_print(spark, sf_dir, "events"), build
    ) + "/t"
    df, n_read, n_total = layout.snapshot_scan_multi(spark, path, box)
    got = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("vc").alias("s"),
    ).collect()[0]
    full = (
        layout.snapshot_read(spark, path)
        .filter(
            F.col("user_id").between(3, 7) & F.col("vc").between(2000, 12000)
        )
        .agg(F.count(F.lit(1)).alias("n"), F.sum("vc").alias("s"))
        .collect()[0]
    )
    row = (
        bool(got["n"] == full["n"] and (got["s"] or 0) == (full["s"] or 0)),
        bool(n_read < n_total),
        int(got["n"]),
        int(got["s"] or 0),
    )
    return spark.createDataFrame(
        [row],
        "scan_correct boolean, pruned boolean, n_rows bigint, sum_vc bigint",
    )


@register(
    "snapshot_bloom_lookup",
    oracle="""
    WITH t AS (SELECT o_orderkey AS k,
                      CAST(round(o_totalprice * 100) AS BIGINT) AS pc
               FROM orders WHERE o_orderkey % 4 != 2)
    SELECT (SELECT min(k) FROM t WHERE k % 4 = 1)  AS found_key,
           (SELECT pc FROM t
            WHERE k = (SELECT min(k) FROM t WHERE k % 4 = 1)) AS price_c,
           TRUE AS pruned,
           TRUE AS absent_zero
    """,
    doc="[ext] STORAGE equality-skipping capstone: write orders (minus "
    "the k%4=2 stripe) as THREE interleaved single-file appends with a "
    "per-file BLOOM sidecar on the key (declared on the first commit, "
    "auto-maintained by the appends), then (a) point-look-up a key "
    "that lives in exactly one file — the bloom must skip at least one "
    "file where min/max stats cannot (every chunk spans the whole key "
    "range), and (b) probe a key that is INSIDE every file's range but "
    "absent from the table (the excluded stripe's smallest key) — the "
    "bloom reads ZERO files, the skipping range stats can never "
    "provide.  The found key and its exact integer-cents price are "
    "independently recomputed by DuckDB, so the driver hash-proves the "
    "pruned path returns the right row, and the two booleans are "
    "oracle-asserted TRUE.  Bitmaps are sized ~16 bits per key "
    "(fpp<0.2%%, deterministic per dataset — xxhash64 positions).  "
    "Scale shape: lookups read O(bloom-positive files), never the "
    "table; bitmaps ride the commit's O(batch) segment metadata.",
    tags=("ext", "storage", "snapshot", "bloom", "lookup", "envelope"),
)
def snapshot_bloom_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fiware_cosmos_orion_flink_connector_examples_spark.sources import layout

    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("pc"),
    )
    base = orders.filter(F.col("k") % 4 != 2)
    # ONE probe-discovery scan (round 17): count/present/absent were two
    # separate collects over the same table — conditional aggs merge them
    agg = orders.agg(
        F.count(F.when(F.col("k") % 4 != 2, F.lit(1))).alias("n"),
        F.min(F.when(F.col("k") % 4 == 1, F.col("k"))).alias("present"),
        F.min(F.when(F.col("k") % 4 == 2, F.col("k"))).alias("m"),
    ).collect()[0]
    absent = agg["m"]
    schema = (
        "found_key bigint, price_c bigint, pruned boolean, absent_zero boolean"
    )
    if agg["present"] is None or absent is None:
        # empty ingest day: no probe targets exist — vacuously healthy
        return spark.createDataFrame([(0, 0, True, True)], schema)
    per_file = max(1, int(agg["n"]) // 3)
    bits = 1 << max(14, (per_file * 16 - 1).bit_length())

    def build(root_dir: str) -> None:
        first = True
        for r in (0, 1, 3):
            chunk = base.filter(F.col("k") % 4 == r).coalesce(1)
            layout.snapshot_commit(
                spark,
                chunk,
                f"{root_dir}/t",
                mode="overwrite" if first else "append",
                stats_cols=["k"],
                bloom_cols=["k"] if first else None,
                bloom_bits=bits,
            )
            first = False

    # round 15 (VERDICT r14 #2): build-once fixture cache — repeat runs
    # measure the LOOKUP surface (bloom-pruned point probes)
    path = _capstone_cache(
        "bloom_lookup", _sf_print(spark, sf_dir, "orders"), build
    ) + "/t"
    hit, n1, t1 = layout.snapshot_point_lookup(
        spark, path, "k", int(agg["present"])
    )
    row = hit.collect()
    miss, n2, _ = layout.snapshot_point_lookup(spark, path, "k", int(absent))
    n_miss = miss.count()
    out = (
        int(row[0]["k"]),
        int(row[0]["pc"]),
        bool(len(row) == 1 and n1 < t1),
        bool(n_miss == 0 and n2 == 0),
    )
    return spark.createDataFrame([out], schema)


@register(
    "incremental_view_capstone",
    oracle="""
    WITH o AS (SELECT o_orderkey AS k,
                      CAST(round(o_totalprice * 100) AS BIGINT) AS pc
               FROM orders WHERE o_orderkey % 4 = 1),
    final AS (
      SELECT CASE WHEN k % 50 = 3 THEN 99 ELSE k % 10 END AS g,
             CASE WHEN k % 10 = 3 THEN pc + 222 ELSE pc END AS pc
      FROM o WHERE k % 10 != 7
      UNION ALL
      SELECT 55 AS g, CAST(555 AS BIGINT) AS pc
      FROM o WHERE k % 200 = 101 AND k % 400 != 101
    )
    SELECT g, count(*) AS n_rows,
           CAST(sum(pc) AS BIGINT) AS sum_pc
    FROM final GROUP BY g ORDER BY g
    """,
    doc="[ext] INCREMENTAL VIEW MAINTENANCE capstone, hash-checked "
    "end-to-end against the raw input: write the orders quarter-slice "
    "as a keyed snapshot table with a group column, materialize a "
    "count/sum GROUP BY view (operators/ivm.py), then drive TWO merge "
    "commits through it — value updates, GROUP-MOVING updates (rows "
    "relocating to group 99 must leave their old group's totals), "
    "inserts into a brand-new group, and deletes that empty part of "
    "it — syncing the view INCREMENTALLY after each commit via CDC "
    "post-images + update pre-images (never recomputing a group; the "
    "delta merge and the consumed-source watermark are one atomic "
    "view commit, exactly-once).  The final view contents — every "
    "group's maintained row count and integer-cents sum — are "
    "independently recomputed by DuckDB from `orders` alone, so the "
    "driver hash-proves the maintenance algebra (+new/-pre/-old) "
    "across moves, deletes, and multi-round increments.  Scale shape: "
    "each sync reads O(changed rows) from the commit logs, one "
    "delta aggregation shuffle, one bucket-pruned COW merge — the "
    "source is never rescanned after materialization.",
    tags=("ext", "storage", "snapshot", "ivm", "cdc", "envelope"),
)
def incremental_view_capstone(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fiware_cosmos_orion_flink_connector_examples_spark.operators import ivm
    from fiware_cosmos_orion_flink_connector_examples_spark.sources import layout

    orders = load_table(spark, sf_dir, "orders")
    base = orders.filter(F.col("o_orderkey") % 4 == 1).select(
        F.col("o_orderkey").alias("k"),
        (F.col("o_orderkey") % 10).alias("g"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("pc"),
    )
    newg = F.when(F.col("k") % 50 == 3, F.lit(99)).otherwise(F.col("k") % 10)

    def build(root_dir: str) -> None:
        src, view = f"{root_dir}/src", f"{root_dir}/view"
        layout.snapshot_write_keyed(spark, base, src, "k", n_buckets=8)
        ivm.agg_view_create(spark, src, view, ["g"], ["pc"], n_buckets=4)
        upd2 = (
            base.filter(F.col("k") % 10 == 3)
            .select("k", newg.alias("g"), (F.col("pc") + 111).alias("pc"),
                    F.lit(False).alias("_del"))
            .unionByName(
                base.filter(F.col("k") % 10 == 7).select(
                    "k", F.lit(None).cast("long").alias("g"),
                    F.lit(None).cast("long").alias("pc"),
                    F.lit(True).alias("_del"),
                )
            )
            .unionByName(
                base.filter(F.col("k") % 200 == 101).select(
                    (F.col("k") + F.lit(1_000_000_000)).alias("k"),
                    F.lit(55).cast("long").alias("g"),
                    F.lit(555).cast("long").alias("pc"),
                    F.lit(False).alias("_del"),
                )
            )
        )
        layout.snapshot_merge(spark, src, upd2, "k", delete_col="_del")
        ivm.agg_view_sync(spark, src, view, ["g"], ["pc"])
        upd3 = (
            base.filter(F.col("k") % 10 == 3)
            .select("k", newg.alias("g"), (F.col("pc") + 222).alias("pc"),
                    F.lit(False).alias("_del"))
            .unionByName(
                base.filter(F.col("k") % 400 == 101).select(
                    (F.col("k") + F.lit(1_000_000_000)).alias("k"),
                    F.lit(None).cast("long").alias("g"),
                    F.lit(None).cast("long").alias("pc"),
                    F.lit(True).alias("_del"),
                )
            )
        )
        layout.snapshot_merge(spark, src, upd3, "k", delete_col="_del")
        ivm.agg_view_sync(spark, src, view, ["g"], ["pc"])

    # round 15 (VERDICT r14 #2): build-once fixture cache — repeat runs
    # measure the VIEW-READ surface
    view = _capstone_cache(
        "ivm_capstone", _sf_print(spark, sf_dir, "orders"), build
    ) + "/view"
    out = (
        ivm.agg_view_read(spark, view)
        .select(
            F.col("g").cast("long").alias("g"),
            F.col("_n").cast("long").alias("n_rows"),
            F.col("sum_pc").cast("long").alias("sum_pc"),
        )
        .orderBy("g")
        .collect()
    )
    return spark.createDataFrame(
        [(int(r["g"]), int(r["n_rows"]), int(r["sum_pc"])) for r in out],
        "g bigint, n_rows bigint, sum_pc bigint",
    )


@register(
    "distinct_view_capstone",
    oracle="""
    WITH o AS (SELECT o_orderkey AS k, o_orderpriority AS prio,
                      o_custkey AS cust
               FROM orders WHERE o_orderkey % 4 = 1),
    final AS (
      SELECT prio,
             CASE WHEN k % 10 = 3 THEN cust + 1000000 ELSE cust END AS cust
      FROM o WHERE k % 10 != 7
    )
    SELECT prio, count(DISTINCT cust) AS n_distinct_cust,
           count(*) AS n_rows,
           min(cust) AS min_cust, max(cust) AS max_cust
    FROM final GROUP BY prio ORDER BY prio
    """,
    doc="[ext] EXACT COUNT-DISTINCT + MIN/MAX view capstone: the "
    "classic IVM reduction — COUNT(DISTINCT customer) per priority "
    "maintained as a (group, value)-pair count view over the snapshot "
    "CDC feed, so value-MOVING updates (a merge relocates k%10=3 "
    "orders to synthetic customers) and deletes (k%10=7 removed) "
    "adjust the distinct count EXACTLY — the operation no mergeable "
    "sketch (HLL) supports.  The SAME pair state serves per-group "
    "MIN/MAX (extremes_view_read): an extremum whose last row dies "
    "falls back to the next live value — the aggregate plain "
    "delta-IVM cannot keep.  One merge commit drives the maintenance; "
    "every number is recomputed independently by DuckDB from `orders` "
    "alone, so the driver hash-proves the pair-view algebra "
    "end-to-end.  Scale shape: the sync reads O(changed rows) from "
    "the commit log, maintains O(live pairs) state, and both reads "
    "are one aggregation over the pairs — the source is never "
    "rescanned.",
    tags=("ext", "storage", "snapshot", "ivm", "distinct", "envelope"),
)
def distinct_view_capstone(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fiware_cosmos_orion_flink_connector_examples_spark.operators import ivm
    from fiware_cosmos_orion_flink_connector_examples_spark.sources import layout

    orders = load_table(spark, sf_dir, "orders")
    base = orders.filter(F.col("o_orderkey") % 4 == 1).select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderpriority").alias("prio"),
        F.col("o_custkey").alias("cust"),
    )

    def build(root_dir: str) -> None:
        src, view = f"{root_dir}/src", f"{root_dir}/view"
        layout.snapshot_write_keyed(spark, base, src, "k", n_buckets=8)
        ivm.distinct_view_create(spark, src, view, ["prio"], "cust", n_buckets=4)
        upd = (
            base.filter(F.col("k") % 10 == 3)
            .select("k", "prio", (F.col("cust") + 1_000_000).alias("cust"),
                    F.lit(False).alias("_del"))
            .unionByName(
                base.filter(F.col("k") % 10 == 7).select(
                    "k", F.lit(None).cast("string").alias("prio"),
                    F.lit(None).cast("long").alias("cust"),
                    F.lit(True).alias("_del"),
                )
            )
        )
        layout.snapshot_merge(spark, src, upd, "k", delete_col="_del")
        ivm.distinct_view_sync(spark, src, view, ["prio"], "cust")

    # round 15 (VERDICT r14 #2): build-once fixture cache — repeat runs
    # measure the pair-view READ surface (distinct counts + extremes)
    view = _capstone_cache(
        "distinct_view", _sf_print(spark, sf_dir, "orders"), build
    ) + "/view"
    dv = ivm.distinct_view_read(spark, view, ["prio"], "cust")
    ev = ivm.extremes_view_read(spark, view, ["prio"], "cust").select(
        "prio", "min_cust", "max_cust"
    )
    out = (
        dv.join(ev, "prio")
        .select(
            "prio",
            F.col("n_distinct_cust").cast("long").alias("n_distinct_cust"),
            F.col("_n").cast("long").alias("n_rows"),
            F.col("min_cust").cast("long").alias("min_cust"),
            F.col("max_cust").cast("long").alias("max_cust"),
        )
        .orderBy("prio")
        .collect()
    )
    return spark.createDataFrame(
        [
            (
                r["prio"],
                int(r["n_distinct_cust"]),
                int(r["n_rows"]),
                int(r["min_cust"]),
                int(r["max_cust"]),
            )
            for r in out
        ],
        "prio string, n_distinct_cust bigint, n_rows bigint, "
        "min_cust bigint, max_cust bigint",
    )


# --- round 15: fixture-cached storage capstones + pipeline atomicity --------


# (name, fingerprint) -> build dir of every capstone built in this process
_CAPSTONE_DIRS: dict[tuple[str, str], str] = {}


def _capstone_cache(name: str, fingerprint: str, build) -> str:
    """Build-once memo for self-building storage capstones: the named
    build runs ONCE per (name, fingerprint) in this process, into a
    fresh ``sg_capstone_<name>_*`` temp dir, and repeat runs (bench
    min-of-N, re-queries in a session) measure the SERVE cost against
    that dir — build once, query many.  Nothing outlives the process:
    every fresh process executes the full build, and the dir is
    removed at interpreter exit.  The
    fingerprint carries a CONTENT term (``_sf_print``: parquet-footer
    stats and compressed sizes, not just row counts), so testdata
    rewritten in place at the same path misses the memo instead of
    serving a stale build.  Snapshot manifests record ABSOLUTE file
    paths, so the build dir keeps its name for its whole life."""
    import atexit
    import shutil
    import tempfile

    key = (name, fingerprint)
    if key not in _CAPSTONE_DIRS:
        work = tempfile.mkdtemp(prefix=f"sg_capstone_{name}_")
        atexit.register(shutil.rmtree, work, True)
        build(work)
        _CAPSTONE_DIRS[key] = work
    return _CAPSTONE_DIRS[key]


def _sf_print(spark: SparkSession, sf_dir: str, *tables: str) -> str:
    """Fixture fingerprint for the named tables: row counts PLUS a
    parquet-FOOTER content digest (every column chunk's min/max/nulls/
    compressed size across all row groups — metadata the reader parses
    anyway, zero data read), so testdata regenerated at identical row
    counts fingerprints differently (VERDICT r15 #6: the old
    counts-only print served stale fixtures in that case and the hash
    mismatch pointed at the wrong suspect)."""
    import hashlib
    import os

    import pyarrow.parquet as pq

    parts = []
    for t in tables:
        path = os.path.join(sf_dir, f"{t}.parquet")
        # a table may be one file (the driver's testdata) or a
        # Spark-written directory of part files
        files = (
            sorted(
                os.path.join(path, f)
                for f in os.listdir(path)
                if f.endswith(".parquet")
            )
            if os.path.isdir(path)
            else [path]
        )
        h = hashlib.md5()
        n_rows = 0
        for f in files:
            md = pq.ParquetFile(f).metadata
            n_rows += md.num_rows
            for rg in range(md.num_row_groups):
                g = md.row_group(rg)
                for c in range(g.num_columns):
                    col = g.column(c)
                    st = col.statistics
                    h.update(
                        f"{col.total_compressed_size}:"
                        f"{st.min if st and st.has_min_max else ''}:"
                        f"{st.max if st and st.has_min_max else ''}:"
                        f"{st.null_count if st else ''}|".encode(
                            "utf-8", "backslashreplace"
                        )
                    )
        parts.append(f"{n_rows}.{h.hexdigest()[:10]}")
    return f"{os.path.abspath(sf_dir)}:{':'.join(parts)}"


@register(
    "join_view_capstone",
    oracle="""
    WITH f0 AS (SELECT o_orderkey AS k, o_custkey AS j,
                       CAST(round(o_totalprice * 100) AS BIGINT) AS pc
                FROM orders WHERE o_orderkey % 4 = 1),
    f1 AS (SELECT k,
                  CASE WHEN k % 10 = 3 THEN k % 150 ELSE j END AS j,
                  CASE WHEN k % 10 = 3 THEN pc + 111 ELSE pc END AS pc
           FROM f0 WHERE k % 10 != 7),
    d1 AS (SELECT c_custkey AS j,
                  CASE WHEN c_custkey % 13 = 2 THEN 'MOVED'
                       ELSE c_mktsegment END AS seg
           FROM customer WHERE c_custkey % 17 != 3)
    SELECT seg, count(*) AS n_rows, CAST(sum(pc) AS BIGINT) AS sum_pc,
           CAST((sum(pc) * 10000) // count(*) AS BIGINT) AS avg_pc_e4,
           TRUE AS avg_reader_consistent
    FROM f1 JOIN d1 USING (j)
    GROUP BY seg ORDER BY seg
    """,
    doc="[ext] INCREMENTAL JOIN VIEW capstone (round 15, VERDICT r14 "
    "#5), hash-checked end-to-end against the raw tables: a count/sum "
    "view over orders JOIN customer ON custkey — group column from "
    "the DIMENSION side, measure from the FACT side — maintained by "
    "the delta-join rule dA x B_new + A_old x dB off BOTH tables' CDC "
    "feeds.  One fact-side merge (price updates, FK MOVES re-homing "
    "orders to other customers, deletes) and one dimension-side merge "
    "(segment moves regrouping EVERY matching order, customer deletes "
    "dropping their joined facts) each advance the view in one atomic "
    "commit; the final per-segment row count, exact integer-cents "
    "sum, and integer-quantized average (the free avg reader off the "
    "same state, VERDICT r14 #5) are recomputed independently by "
    "DuckDB from orders+customer alone.  Scale shape: delta sides are "
    "span-bounded one-scan reads; the dimension (keyed BY the join "
    "column) is read BUCKET-PRUNED to the delta's keys; the view "
    "merge is bucket-pruned COW — neither table is ever re-joined in "
    "full after materialization.  Build-once fixture cache: repeat "
    "runs measure the view-serve cost.",
    tags=("ext", "storage", "snapshot", "ivm", "join", "envelope"),
)
def join_view_capstone(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fiware_cosmos_orion_flink_connector_examples_spark.operators import ivm
    from fiware_cosmos_orion_flink_connector_examples_spark.sources import layout

    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    facts = orders.filter(F.col("o_orderkey") % 4 == 1).select(
        F.col("o_orderkey").alias("k"),
        F.col("o_custkey").alias("j"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("pc"),
    )
    dims = cust.select(
        F.col("c_custkey").alias("j"), F.col("c_mktsegment").alias("seg")
    )

    def build(path: str) -> None:
        a, b, view = f"{path}/facts", f"{path}/dims", f"{path}/view"
        layout.snapshot_write_keyed(spark, facts, a, "k", n_buckets=8)
        layout.snapshot_write_keyed(spark, dims, b, "j", n_buckets=4)
        ivm.join_view_create(spark, a, b, view, "j", ["seg"], ["pc"], n_buckets=4)
        upd_a = (
            facts.filter(F.col("k") % 10 == 3)
            .select(
                "k",
                (F.col("k") % 150).alias("j"),
                (F.col("pc") + 111).alias("pc"),
                F.lit(False).alias("_del"),
            )
            .unionByName(
                facts.filter(F.col("k") % 10 == 7).select(
                    "k",
                    F.lit(None).cast("long").alias("j"),
                    F.lit(None).cast("long").alias("pc"),
                    F.lit(True).alias("_del"),
                )
            )
        )
        layout.snapshot_merge(spark, a, upd_a, "k", delete_col="_del")
        ivm.join_view_sync(spark, a, b, view, "j", ["seg"], ["pc"])
        upd_b = (
            dims.filter((F.col("j") % 13 == 2) & (F.col("j") % 17 != 3))
            .select("j", F.lit("MOVED").alias("seg"), F.lit(False).alias("_del"))
            .unionByName(
                dims.filter(F.col("j") % 17 == 3).select(
                    "j", F.lit(None).cast("string").alias("seg"),
                    F.lit(True).alias("_del"),
                )
            )
        )
        layout.snapshot_merge(spark, b, upd_b, "j", delete_col="_del")
        ivm.join_view_sync(spark, a, b, view, "j", ["seg"], ["pc"])

    base = _capstone_cache(
        "join_view", _sf_print(spark, sf_dir, "orders", "customer"), build
    )
    v = ivm.avg_view_read(spark, f"{base}/view", ["pc"])
    return (
        v.select(
            "seg",
            F.col("_n").cast("long").alias("n_rows"),
            F.col("sum_pc").cast("long").alias("sum_pc"),
            F.expr("(sum_pc * 10000) div _n").cast("long").alias("avg_pc_e4"),
            # the avg reader IS sum/_n — proven as an in-row envelope
            (
                F.abs(
                    F.col("avg_pc")
                    - F.col("sum_pc").cast("double") / F.col("_n")
                )
                < 1e-9
            ).alias("avg_reader_consistent"),
        )
        .orderBy("seg")
    )


@register(
    "pipeline_atomic_capstone",
    oracle=r"""
    WITH base AS (SELECT doc_id, text, source, n_chars FROM documents
                  WHERE text IS NOT NULL AND doc_id % 4 = 3),
    mod AS (
      SELECT doc_id,
             CASE WHEN doc_id % 7 = 2 THEN 'hash join pipeline'
                  ELSE text END AS text,
             CASE WHEN doc_id % 7 = 2 THEN 'edited' ELSE source END AS source,
             CASE WHEN doc_id % 7 = 2 THEN 18 ELSE n_chars END AS n_chars
      FROM base WHERE NOT (doc_id % 11 = 4 AND doc_id % 7 != 2)
      UNION ALL
      SELECT 2000000001, 'hash join', 'new', 9
    ),
    t AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS t FROM mod),
    ph AS (SELECT doc_id,
                  len([i for i in range(1, len(t))
                       if t[i] = 'hash' AND t[i+1] = 'join']) AS n
           FROM t)
    SELECT (SELECT count(*) FROM mod) AS n_src_rows,
           (SELECT count(DISTINCT source) FROM mod) AS n_view_groups,
           (SELECT CAST(sum(n_chars) AS BIGINT) FROM mod) AS total_chars,
           CAST(count(*) FILTER (WHERE n > 0) AS BIGINT) AS phrase_docs,
           CAST(coalesce(sum(n), 0) AS BIGINT) AS phrase_occurrences
    FROM ph
    """,
    doc="[ext] PIPELINE-ATOMIC CATALOG capstone, hash-checked "
    "end-to-end against the raw corpus: bootstrap a "
    "whole lakehouse pipeline — documents slice as a keyed snapshot "
    "SOURCE, an incremental count/sum VIEW by source, and the "
    "versioned combined SEARCH INDEX — under ONE catalog root "
    "(layout.catalog_commit generalizes the index-root protocol to N "
    "arbitrary tables at arbitrary paths), then drive one batch "
    "(edits that regroup + re-index docs, deletes, one insert) "
    "through operators.pipeline.pipeline_apply_legs: source MERGE + "
    "ivm.agg_view_sync + text.search_index_sync publish as ONE atomic "
    "root rename.  Every served number — source rows and char totals "
    "READ OFF THE MAINTAINED VIEW at its pinned version, phrase "
    "counts off the pinned index root — is recomputed independently "
    "by DuckDB from `documents` alone, so the driver hash-proves the "
    "cross-table coherence of the published root (crash-injection "
    "atomicity is pytest-pinned in test_pipeline_atomic.py).  Scale "
    "shape: every leg is O(changed rows) with bucket-pruned merges; "
    "the publish is one O(1) rename.  Build-once fixture cache: "
    "repeat runs measure the catalog-serve cost.",
    tags=("ext", "storage", "snapshot", "catalog", "ivm", "X4", "envelope"),
)
def pipeline_atomic_capstone(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fiware_cosmos_orion_flink_connector_examples_spark.operators import (
        pipeline,
    )
    from fiware_cosmos_orion_flink_connector_examples_spark.sources import layout

    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull() & (F.col("doc_id") % 4 == 3))
        .select("doc_id", "text", "source", "n_chars")
    )

    def build(path: str) -> None:
        cat = f"{path}/cat"
        legs = [
            pipeline.source_leg(
                "source", f"{path}/src", "doc_id", n_buckets=2,
                txn_app="pipeline-src",
            ),
            pipeline.agg_view_leg(
                "view", f"{path}/view", "source", ["source"], ["n_chars"],
                txn_app="pipeline-view",
            ),
            pipeline.search_index_leg(
                "search", f"{path}/idx", "source", n_buckets=2,
                txn_app="pipeline-idx",
            ),
        ]
        pipeline.pipeline_create_legs(spark, cat, legs, {"source": docs})
        batch = (
            docs.filter(F.col("doc_id") % 7 == 2)
            .select(
                "doc_id",
                F.lit("hash join pipeline").alias("text"),
                F.lit("edited").alias("source"),
                F.lit(18).cast("long").alias("n_chars"),
                F.lit(False).alias("_del"),
            )
            .unionByName(
                docs.filter(
                    (F.col("doc_id") % 11 == 4) & (F.col("doc_id") % 7 != 2)
                ).select(
                    "doc_id",
                    F.lit(None).cast("string").alias("text"),
                    F.lit(None).cast("string").alias("source"),
                    F.lit(None).cast("long").alias("n_chars"),
                    F.lit(True).alias("_del"),
                )
            )
            .unionByName(
                spark.createDataFrame(
                    [(2_000_000_001, "hash join", "new", 9, False)],
                    "doc_id long, text string, source string, "
                    "n_chars long, _del boolean",
                )
            )
        )
        pipeline.pipeline_apply_legs(spark, cat, legs, {"source": batch}, 1)

    from fiware_cosmos_orion_flink_connector_examples_spark.operators import (
        text as _text,
    )

    base = _capstone_cache(
        "pipeline_atomic", _sf_print(spark, sf_dir, "documents"), build
    )
    cat = f"{base}/cat"
    res = layout.catalog_resolve(spark, cat)
    view = layout.snapshot_read(
        spark, res["tables"]["view"]["path"], res["tables"]["view"]["version"]
    )
    agg = view.agg(
        F.sum("_n").alias("n_src_rows"),
        F.count(F.lit(1)).alias("n_view_groups"),
        F.sum("sum_n_chars").alias("total_chars"),
    ).collect()[0]
    served = {
        tuple(r)
        for r in _text.phrase_count_from_index(
            spark,
            res["tables"]["search"]["path"],
            ["hash", "join"],
            root_version=res["tables"]["search"]["version"],
        ).collect()
    }
    return spark.createDataFrame(
        [
            (
                int(agg["n_src_rows"]),
                int(agg["n_view_groups"]),
                int(agg["total_chars"]),
                len(served),
                int(sum(n for _, n in served)),
            )
        ],
        "n_src_rows bigint, n_view_groups bigint, total_chars bigint, "
        "phrase_docs bigint, phrase_occurrences bigint",
    )


@register(
    "maintenance_report",
    oracle=None,  # filesystem-layout inspection (file sizes, segment
    # chains) isn't ANSI-SQL-expressible; rows-only with in-row
    # envelope booleans, the recommend-then-clear invariant pytest pins
    doc="[ext] LAYOUT-HEALTH ADVISOR driver row (VERDICT r14 #7): "
    "build a deliberately unhealthy snapshot table (many tiny "
    "single-bucket appends -> segment-chain growth + small files + "
    "stats-coverage decay), read layout.maintenance_report, run "
    "EXACTLY the maintenance it recommends (compact_files restores "
    "clustering, skipping metadata, and collapses the segment chain), "
    "and re-read: the envelope booleans assert the advisor "
    "recommended before and reports CLEAN after, scan results are "
    "identical across the maintenance (read-only advisor, rewrite-"
    "preserving compaction), and coverage returns to 100%.  Scale "
    "shape: the report is one manifest resolve + O(live files) "
    "metadata RPCs, never a data read — the maintenance-cadence "
    "economics a 100 TB table's OPTIMIZE scheduler needs.",
    tags=("ext", "storage", "snapshot", "maintenance", "envelope"),
)
def maintenance_report_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from fiware_cosmos_orion_flink_connector_examples_spark.sources import layout

    orders = load_table(spark, sf_dir, "orders")
    slice_ = orders.filter(F.col("o_orderkey") % 50 == 1).select(
        F.col("o_orderkey").alias("k"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("pc"),
    )
    tmp = tempfile.mkdtemp(prefix="maint_report_")
    path = f"{tmp}/t"
    # persisted: the 6 commit chunks below each filter this slice — un-
    # cached, every commit re-scans+re-projects the orders parquet
    slice_ = slice_.persist()
    try:
        # 6 stripes as separate commits: only the first records stats,
        # so coverage decays; the chain grows past max_segments; files
        # stay tiny (6 commits keeps the bench row ~2 s — the proof is
        # threshold-crossing, not volume)
        first = True
        for r in range(6):
            chunk = slice_.filter(F.col("k") % 6 == r).coalesce(1)
            layout.snapshot_commit(
                spark,
                chunk,
                path,
                mode="overwrite" if first else "append",
                stats_cols=["k"] if first else None,
            )
            first = False
        before = layout.maintenance_report(
            spark, path, max_segments=4, min_avg_file_bytes=8 << 20
        )
        sum_before = layout.snapshot_read(spark, path).agg(
            F.sum("pc").alias("s"), F.count(F.lit(1)).alias("n")
        ).collect()[0]
        recommended = set(before["recommendations"])
        layout.compact_files(spark, path, target_files=2, stats_cols=["k"])
        after = layout.maintenance_report(
            spark, path, max_segments=4, min_avg_file_bytes=1
        )
        sum_after = layout.snapshot_read(spark, path).agg(
            F.sum("pc").alias("s"), F.count(F.lit(1)).alias("n")
        ).collect()[0]
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(
        [
            (
                bool("compact_files" in recommended),
                bool(
                    any(r.startswith("compact_files(refresh") for r in recommended)
                ),
                bool(before["n_segments"] > 4),
                bool(after["recommendations"] == []),
                bool(
                    sum_before["s"] == sum_after["s"]
                    and sum_before["n"] == sum_after["n"]
                ),
                bool(all(v == 1.0 for v in after["stats_coverage"].values())),
                int(before["n_files"]),
                int(after["n_files"]),
            )
        ],
        "recommended_compaction boolean, recommended_stats_refresh boolean, "
        "chain_grew boolean, clean_after boolean, data_preserved boolean, "
        "stats_coverage_full boolean, files_before bigint, files_after bigint",
    )


@register(
    "left_join_view_capstone",
    oracle="""
    WITH f0 AS (SELECT o_orderkey AS k, o_custkey AS j,
                       CAST(round(o_totalprice * 100) AS BIGINT) AS pc
                FROM orders WHERE o_orderkey % 4 = 1),
    f1 AS (SELECT k,
                  CASE WHEN k % 20 = 6 THEN k % 150 ELSE j END AS j,
                  CASE WHEN k % 10 = 3 THEN pc + 111 ELSE pc END AS pc
           FROM f0 WHERE k % 10 != 7),
    d0 AS (SELECT c_custkey AS j, c_mktsegment AS seg FROM customer
           WHERE c_custkey % 3 != 1),
    d1 AS (SELECT j, seg FROM d0 WHERE j % 17 != 2
           UNION ALL
           SELECT c_custkey, 'RESTORED' FROM customer WHERE c_custkey % 9 = 1)
    SELECT seg, count(*) AS n_rows, CAST(sum(pc) AS BIGINT) AS sum_pc
    FROM f1 LEFT JOIN d1 USING (j)
    GROUP BY seg ORDER BY seg
    """,
    doc="[ext] LEFT OUTER JOIN VIEW capstone (round 15): the "
    "null-extension algebra on top of the inner delta-join — orders "
    "LEFT JOIN a customer dimension that is MISSING a third of its "
    "keys, so unmatched orders aggregate under the NULL segment.  One "
    "fact-side merge (price updates, FK moves between matched and "
    "unmatched keys, deletes) and one dimension-side merge (restoring "
    "absent customers — every fact at those keys must LEAVE the NULL "
    "group exactly once, the 0-to-positive match-count flip — plus "
    "customer deletes flipping facts back) each advance the view in "
    "one atomic commit; the final per-segment counts and exact "
    "integer-cents sums, including the NULL-segment row, are "
    "recomputed independently by DuckDB with a raw LEFT JOIN over "
    "orders+customer.  Scale shape: flips are computed from per-key "
    "signed counts of the dimension delta against the dimension's "
    "OLD pinned version (bucket-pruned to just the delta's keys), and "
    "the re-homed facts read pruned to flipped keys — a dimension "
    "insert matching a million facts costs those facts, never a "
    "re-join.  Build-once fixture cache: repeats measure view serve.",
    tags=("ext", "storage", "snapshot", "ivm", "join", "envelope"),
)
def left_join_view_capstone(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fiware_cosmos_orion_flink_connector_examples_spark.operators import ivm
    from fiware_cosmos_orion_flink_connector_examples_spark.sources import layout

    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    facts = orders.filter(F.col("o_orderkey") % 4 == 1).select(
        F.col("o_orderkey").alias("k"),
        F.col("o_custkey").alias("j"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("pc"),
    )
    dims = cust.filter(F.col("c_custkey") % 3 != 1).select(
        F.col("c_custkey").alias("j"), F.col("c_mktsegment").alias("seg")
    )

    def build(path: str) -> None:
        a, b, view = f"{path}/facts", f"{path}/dims", f"{path}/view"
        layout.snapshot_write_keyed(spark, facts, a, "k", n_buckets=8)
        layout.snapshot_write_keyed(spark, dims, b, "j", n_buckets=4)
        ivm.join_view_create(
            spark, a, b, view, "j", ["seg"], ["pc"], n_buckets=4, how="left"
        )
        upd_a = (
            facts.filter(F.col("k") % 10 == 3)
            .select(
                "k",
                F.when(F.col("k") % 20 == 6, F.col("k") % 150)
                .otherwise(F.col("j"))
                .alias("j"),
                (F.col("pc") + 111).alias("pc"),
                F.lit(False).alias("_del"),
            )
            .unionByName(
                facts.filter((F.col("k") % 20 == 6) & (F.col("k") % 10 != 3))
                .select(
                    "k",
                    (F.col("k") % 150).alias("j"),
                    "pc",
                    F.lit(False).alias("_del"),
                )
            )
            .unionByName(
                facts.filter(F.col("k") % 10 == 7).select(
                    "k",
                    F.lit(None).cast("long").alias("j"),
                    F.lit(None).cast("long").alias("pc"),
                    F.lit(True).alias("_del"),
                )
            )
        )
        layout.snapshot_merge(spark, a, upd_a, "k", delete_col="_del")
        ivm.join_view_sync(spark, a, b, view, "j", ["seg"], ["pc"], how="left")
        upd_b = (
            cust.filter(F.col("c_custkey") % 9 == 1)
            .select(
                F.col("c_custkey").alias("j"),
                F.lit("RESTORED").alias("seg"),
                F.lit(False).alias("_del"),
            )
            .unionByName(
                dims.filter(F.col("j") % 17 == 2).select(
                    "j", F.lit(None).cast("string").alias("seg"),
                    F.lit(True).alias("_del"),
                )
            )
        )
        layout.snapshot_merge(spark, b, upd_b, "j", delete_col="_del")
        ivm.join_view_sync(spark, a, b, view, "j", ["seg"], ["pc"], how="left")

    base = _capstone_cache(
        "left_join_view",
        _sf_print(spark, sf_dir, "orders", "customer"),
        build,
    )
    return (
        ivm.agg_view_read(spark, f"{base}/view")
        .select(
            "seg",
            F.col("_n").cast("long").alias("n_rows"),
            F.col("sum_pc").cast("long").alias("sum_pc"),
        )
        .orderBy("seg")
    )


# --- round 16: declarative pipeline legs capstone ---------------------------


@register(
    "pipeline_legs_capstone",
    oracle=r"""
    WITH base AS (SELECT doc_id, text, source, n_chars FROM documents
                  WHERE text IS NOT NULL AND doc_id % 4 = 1),
    mod AS (
      SELECT doc_id,
             CASE WHEN doc_id % 7 = 2 THEN 'hash join pipeline'
                  ELSE text END AS text,
             CASE WHEN doc_id % 7 = 2 THEN 'edited' ELSE source END AS source,
             CASE WHEN doc_id % 7 = 2 THEN 18 ELSE n_chars END AS n_chars
      FROM base WHERE NOT (doc_id % 11 = 4 AND doc_id % 7 != 2)
      UNION ALL
      SELECT 2000000002, 'hash join legs', 'new', 14
    ),
    dims0 AS (SELECT DISTINCT source,
                     CASE WHEN length(source) % 2 = 0 THEN 'even'
                          ELSE 'odd' END AS cat
              FROM base),
    dims1 AS (
      SELECT source, cat FROM dims0 WHERE source NOT IN ('edited', 'new')
      UNION ALL
      SELECT * FROM (VALUES ('edited', 'ed'), ('new', 'nw')) v(source, cat)
    ),
    dims AS (SELECT source,
                    CASE WHEN source NOT IN ('edited', 'new')
                              AND length(source) % 2 = 0
                         THEN 'flip' ELSE cat END AS cat
             FROM dims1 WHERE source != 'src19'),
    t AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS t FROM mod),
    ph AS (SELECT doc_id,
                  len([i for i in range(1, len(t))
                       if t[i] = 'hash' AND t[i+1] = 'join']) AS n
           FROM t),
    phx AS (SELECT CAST(count(*) FILTER (WHERE n > 0) AS BIGINT) AS phrase_docs,
                   CAST(coalesce(sum(n), 0) AS BIGINT) AS phrase_occurrences
            FROM ph)
    SELECT cat, count(*) AS n_rows, CAST(sum(n_chars) AS BIGINT) AS sum_chars,
           phx.phrase_docs, phx.phrase_occurrences
    FROM mod JOIN dims USING (source) CROSS JOIN phx
    GROUP BY cat, phx.phrase_docs, phx.phrase_occurrences
    ORDER BY cat
    """,
    doc="[ext] DECLARATIVE PIPELINE LEGS capstone (round 16, VERDICT "
    "r15 #1), hash-checked end-to-end against the raw corpus: a "
    "member set declared as legs — documents slice SOURCE + derived "
    "dims SOURCE + incremental JOIN VIEW (docs ⋈ dims grouped by the "
    "dimension category) + versioned SEARCH INDEX — bootstrapped with "
    "pipeline_create_legs and advanced by ONE pipeline_apply_legs "
    "batch that merges BOTH sources (doc edits/deletes/insert; dim "
    "category flips, upserts, one dim delete) and publishes ONE "
    "catalog root: a source merge + a join-view sync + a search-index "
    "sync as one rename, exactly the directive's shape.  Every served "
    "number — per-category join-view rows at the pinned version, "
    "phrase counts at the pinned index root — is recomputed "
    "independently by DuckDB from `documents` alone, so the driver "
    "hash-proves the cross-member coherence of the published root "
    "(crash-injection atomicity and replay are pytest-pinned in "
    "test_pipeline_legs.py).  Scale shape: every leg is O(changed "
    "rows); the dim-side category flips regroup exactly the touched "
    "join keys via the delta-join rule; the publish is one O(1) "
    "rename.  Build-once fixture cache: repeat runs measure the "
    "catalog-serve cost.",
    tags=("ext", "storage", "snapshot", "catalog", "ivm", "join", "X4"),
)
def pipeline_legs_capstone(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fiware_cosmos_orion_flink_connector_examples_spark.operators import (
        pipeline,
    )
    from fiware_cosmos_orion_flink_connector_examples_spark.operators import (
        text as _text,
    )
    from fiware_cosmos_orion_flink_connector_examples_spark.sources import layout

    docs0 = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull() & (F.col("doc_id") % 4 == 1))
        .select("doc_id", "text", "source", "n_chars")
    )
    dims0 = docs0.select("source").distinct().select(
        "source",
        F.when(F.length("source") % 2 == 0, F.lit("even"))
        .otherwise(F.lit("odd"))
        .alias("cat"),
    )

    def legs(path: str) -> list[dict]:
        return [
            pipeline.source_leg("docs", f"{path}/docs", "doc_id", n_buckets=2),
            pipeline.source_leg("dims", f"{path}/dims", "source", n_buckets=2),
            pipeline.join_view_leg(
                "by_cat", f"{path}/by_cat", "docs", "dims", "source",
                ["cat"], ["n_chars"], n_buckets=2,
            ),
            pipeline.search_index_leg(
                "search", f"{path}/search", "docs", n_buckets=2
            ),
        ]

    def build(path: str) -> None:
        member_legs = legs(path)
        pipeline.pipeline_create_legs(
            spark, f"{path}/cat", member_legs,
            {"docs": docs0, "dims": dims0},
        )
        docs_batch = (
            docs0.filter(F.col("doc_id") % 7 == 2)
            .select(
                "doc_id",
                F.lit("hash join pipeline").alias("text"),
                F.lit("edited").alias("source"),
                F.lit(18).cast("long").alias("n_chars"),
                F.lit(False).alias("_del"),
            )
            .unionByName(
                docs0.filter(
                    (F.col("doc_id") % 11 == 4) & (F.col("doc_id") % 7 != 2)
                ).select(
                    "doc_id",
                    F.lit(None).cast("string").alias("text"),
                    F.lit(None).cast("string").alias("source"),
                    F.lit(None).cast("long").alias("n_chars"),
                    F.lit(True).alias("_del"),
                )
            )
            .unionByName(
                spark.createDataFrame(
                    [(2_000_000_002, "hash join legs", "new", 14, False)],
                    "doc_id long, text string, source string, "
                    "n_chars long, _del boolean",
                )
            )
        )
        dims_batch = (
            dims0.filter(
                (F.length("source") % 2 == 0)
                & ~F.col("source").isin("edited", "new")
            )
            .select("source", F.lit("flip").alias("cat"),
                    F.lit(False).alias("_del"))
            .unionByName(
                spark.createDataFrame(
                    [("edited", "ed", False), ("new", "nw", False),
                     ("src19", None, True)],
                    "source string, cat string, _del boolean",
                )
            )
        )
        pipeline.pipeline_apply_legs(
            spark, f"{path}/cat", member_legs,
            {"docs": docs_batch, "dims": dims_batch}, batch_id=1,
        )

    base = _capstone_cache(
        "pipeline_legs", _sf_print(spark, sf_dir, "documents"), build
    )
    res = layout.catalog_resolve(spark, f"{base}/cat")
    view = layout.snapshot_read(
        spark, res["tables"]["by_cat"]["path"], res["tables"]["by_cat"]["version"]
    )
    served = {
        tuple(r)
        for r in _text.phrase_count_from_index(
            spark,
            res["tables"]["search"]["path"],
            ["hash", "join"],
            root_version=res["tables"]["search"]["version"],
        ).collect()
    }
    phrase_docs = len(served)
    phrase_occ = int(sum(n for _, n in served))
    return (
        view.select(
            "cat",
            F.col("_n").cast("long").alias("n_rows"),
            F.col("sum_n_chars").cast("long").alias("sum_chars"),
            F.lit(phrase_docs).cast("long").alias("phrase_docs"),
            F.lit(phrase_occ).cast("long").alias("phrase_occurrences"),
        )
        .orderBy("cat")
    )


@register(
    "join_view_fk_pruned_capstone",
    oracle="""
    WITH f AS (SELECT o_orderkey AS k, o_custkey AS j,
                      CAST(round(o_totalprice * 100) AS BIGINT) AS pc
               FROM orders WHERE o_orderkey % 4 = 2),
    d0 AS (SELECT c_custkey AS j, c_mktsegment AS seg FROM customer
           WHERE c_custkey % 3 = 0),
    d AS (SELECT j, CASE WHEN j <= 30 AND j % 2 = 1 THEN 'MOVED'
                         ELSE seg END AS seg
          FROM d0 WHERE NOT (j <= 30 AND j % 2 = 0))
    SELECT seg, count(*) AS n_rows, CAST(sum(pc) AS BIGINT) AS sum_pc,
           TRUE AS fk_pruned
    FROM f JOIN d USING (j)
    GROUP BY seg ORDER BY seg
    """,
    doc="[ext] FK-PRUNED JOIN VIEW capstone (round 16): the fact side "
    "of an incremental join view is keyed by its OWN primary key (not "
    "the join column), so bucket pruning cannot apply — instead the "
    "fact table is compacted sorted-by-FK with min/max stats + Bloom "
    "sidecars on the FK, and the dimension-delta sync reads it "
    "through `_pruned_join_side`'s tier 2 "
    "(layout.snapshot_prune_files_for_values: zone-map range test AND "
    "bitmap membership per file, no data file opened to decide).  One "
    "dimension merge (segment moves + deletes over a contiguous "
    "custkey band) advances the view; the final per-segment rows are "
    "recomputed independently by DuckDB from orders+customer, and the "
    "fk_pruned envelope boolean asserts the band's keys kept strictly "
    "fewer fact files than the manifest holds (the 100 TB shape: a "
    "dimension delta of K keys reads O(K) fact files off a clustered "
    "fact table, never O(table)).  Build-once fixture cache: repeat "
    "runs measure the view-serve cost.",
    tags=("ext", "storage", "snapshot", "ivm", "join", "bloom", "envelope"),
)
def join_view_fk_pruned_capstone(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fiware_cosmos_orion_flink_connector_examples_spark.operators import ivm
    from fiware_cosmos_orion_flink_connector_examples_spark.sources import layout

    facts = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 4 == 2)
        .select(
            F.col("o_orderkey").alias("k"),
            F.col("o_custkey").alias("j"),
            F.round(F.col("o_totalprice") * 100).cast("long").alias("pc"),
        )
    )
    dims0 = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % 3 == 0)
        .select(F.col("c_custkey").alias("j"), F.col("c_mktsegment").alias("seg"))
    )
    band = F.col("j") <= 30

    def build(path: str) -> None:
        a, b, view = f"{path}/facts", f"{path}/dims", f"{path}/view"
        layout.snapshot_write_keyed(spark, facts, a, "k", n_buckets=2)
        # cluster on the FK and record the metadata tier 2 prunes by;
        # chunk each bucket into ~8 FK-contiguous files so zone maps
        # have something to skip at every SF
        n = facts.count()
        layout.compact_files(
            spark, a, sort_by="j", stats_cols=["j"], bloom_cols=["j"],
            max_records_per_file=max(32, n // 16),
        )
        layout.snapshot_write_keyed(spark, dims0, b, "j", n_buckets=2)
        ivm.join_view_create(spark, a, b, view, "j", ["seg"], ["pc"], n_buckets=2)
        upd_b = (
            dims0.filter(band & (F.col("j") % 2 == 1))
            .select("j", F.lit("MOVED").alias("seg"), F.lit(False).alias("_del"))
            .unionByName(
                dims0.filter(band & (F.col("j") % 2 == 0)).select(
                    "j", F.lit(None).cast("string").alias("seg"),
                    F.lit(True).alias("_del"),
                )
            )
        )
        layout.snapshot_merge(spark, b, upd_b, "j", delete_col="_del")
        ivm.join_view_sync(spark, a, b, view, "j", ["seg"], ["pc"])

    base = _capstone_cache(
        "join_view_fk_pruned", _sf_print(spark, sf_dir, "orders", "customer"),
        build,
    )
    # the envelope: the band's keys must keep strictly fewer fact files
    # than the manifest holds (deterministic: sorted compaction + fixed
    # band; bloom false positives are deterministic xxhash64 positions)
    probe_keys = [r["j"] for r in dims0.filter(band).select("j").collect()]
    kept, total = layout.snapshot_prune_files_for_values(
        spark, f"{base}/facts", "j", probe_keys
    )
    return (
        ivm.agg_view_read(spark, f"{base}/view")
        .select(
            "seg",
            F.col("_n").cast("long").alias("n_rows"),
            F.col("sum_pc").cast("long").alias("sum_pc"),
            F.lit(bool(0 < len(kept) < total)).alias("fk_pruned"),
        )
        .orderBy("seg")
    )


def _pair_view_state(spark: SparkSession, sf_dir: str) -> str:
    """The SHARED maintained pair-view fixture the top-k and
    percentile capstones both read (one state, many readers — the
    point): orders slice keyed by orderkey, (prio, pc) pair view,
    one churn merge (price bumps, deletes, two sentinel inserts) and
    one delete-the-maximum merge, each followed by a sync."""
    from fiware_cosmos_orion_flink_connector_examples_spark.operators import ivm
    from fiware_cosmos_orion_flink_connector_examples_spark.sources import layout

    facts = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 4 == 0)
        .select(
            F.col("o_orderkey").alias("k"),
            F.col("o_orderpriority").alias("prio"),
            F.round(F.col("o_totalprice") * 100).cast("long").alias("pc"),
        )
    )

    def build(path: str) -> None:
        src, view = f"{path}/src", f"{path}/view"
        layout.snapshot_write_keyed(spark, facts, src, "k", n_buckets=4)
        ivm.distinct_view_create(spark, src, view, ["prio"], "pc", n_buckets=4)
        upd = (
            facts.filter((F.col("k") % 9 == 4) & (F.col("k") % 7 != 5))
            .select("k", "prio", (F.col("pc") + 1).alias("pc"),
                    F.lit(False).alias("_del"))
            .unionByName(
                facts.filter(F.col("k") % 7 == 5).select(
                    "k", F.lit(None).cast("string").alias("prio"),
                    F.lit(None).cast("long").alias("pc"),
                    F.lit(True).alias("_del"),
                )
            )
            .unionByName(
                spark.createDataFrame(
                    [
                        (9_000_000_001, "1-URGENT", 9_999_999_900, False),
                        (9_000_000_002, "1-URGENT", 9_999_999_800, False),
                    ],
                    "k long, prio string, pc long, _del boolean",
                )
            )
        )
        layout.snapshot_merge(spark, src, upd, "k", delete_col="_del")
        ivm.distinct_view_sync(spark, src, view, ["prio"], "pc")
        # delete the CURRENT maximum — the surviving sentinel must take
        # rank 1 (the dead extremum's pair row dies with its last row)
        layout.snapshot_merge(
            spark, src,
            spark.createDataFrame(
                [(9_000_000_001, None, None, True)],
                "k long, prio string, pc long, _del boolean",
            ),
            "k", delete_col="_del",
        )
        ivm.distinct_view_sync(spark, src, view, ["prio"], "pc")

    return _capstone_cache(
        "topk_view", _sf_print(spark, sf_dir, "orders"), build
    )


@register(
    "topk_view_capstone",
    oracle="""
    WITH f0 AS (SELECT o_orderkey AS k, o_orderpriority AS prio,
                       CAST(round(o_totalprice * 100) AS BIGINT) AS pc
                FROM orders WHERE o_orderkey % 4 = 0),
    f1 AS (SELECT k, prio,
                  CASE WHEN k % 9 = 4 THEN pc + 1 ELSE pc END AS pc
           FROM f0 WHERE k % 7 != 5
           UNION ALL SELECT 9000000002, '1-URGENT', 9999999800),
    pairs AS (SELECT prio, pc, count(*) AS _n FROM f1 GROUP BY prio, pc)
    SELECT prio, pc, _n, CAST(rnk AS BIGINT) AS rank FROM (
      SELECT prio, pc, _n,
             row_number() OVER (PARTITION BY prio ORDER BY pc DESC) AS rnk
      FROM pairs) t
    WHERE rnk <= 3
    ORDER BY prio, rank
    """,
    doc="[ext] MAINTAINED EXACT TOP-K capstone (round 16): per-group "
    "top-3 order prices served off the SAME maintained pair-view "
    "state the distinct-count and min/max readers use "
    "(ivm.topk_view_read) — exact under value-moving updates AND "
    "deletes, the case no top-k sketch (CMS heap, space-saving) can "
    "guarantee.  The build drives one churn merge (price bumps, row "
    "deletes, TWO sentinel inserts above every real price) and then "
    "DELETES the larger sentinel in a second merge — the final rank-1 "
    "row of its group must be the SURVIVING sentinel, proving the "
    "dead extremum's pair row died and the next value took over "
    "automatically.  Every (group, value, count, rank) row is "
    "recomputed independently by DuckDB from `orders` alone.  Scale "
    "shape: maintenance is the standard signed pair-view sync "
    "(O(changed rows), bucket-pruned); the read is one window over "
    "O(live pairs), never the source.  Build-once fixture cache: "
    "repeat runs measure the state-serve cost.",
    tags=("ext", "storage", "snapshot", "ivm", "topk", "envelope"),
)
def topk_view_capstone(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fiware_cosmos_orion_flink_connector_examples_spark.operators import ivm

    base = _pair_view_state(spark, sf_dir)
    return (
        ivm.topk_view_read(spark, f"{base}/view", ["prio"], "pc", 3)
        .select(
            "prio",
            F.col("pc").cast("long").alias("pc"),
            F.col("_n").cast("long").alias("_n"),
            F.col("rank").cast("long").alias("rank"),
        )
        .orderBy("prio", "rank")
    )


@register(
    "quantile_view_capstone",
    oracle="""
    WITH f0 AS (SELECT o_orderkey AS k, o_orderpriority AS prio,
                       CAST(round(o_totalprice * 100) AS BIGINT) AS pc
                FROM orders WHERE o_orderkey % 4 = 0),
    f1 AS (SELECT k, prio,
                  CASE WHEN k % 9 = 4 THEN pc + 1 ELSE pc END AS pc
           FROM f0 WHERE k % 7 != 5
           UNION ALL SELECT 9000000002, '1-URGENT', 9999999800)
    SELECT prio,
           percentile_disc(0.5) WITHIN GROUP (ORDER BY pc) AS p50_pc,
           percentile_disc(0.9) WITHIN GROUP (ORDER BY pc) AS p90_pc
    FROM f1 GROUP BY prio ORDER BY prio
    """,
    doc="[ext] MAINTAINED EXACT PERCENTILES capstone (round 16): "
    "per-group exact p50/p90 order prices (PERCENTILE_DISC semantics, "
    "row-weighted) served off the SAME maintained pair-view state the "
    "top-k capstone reads — ivm.quantile_view_read is a cumulative "
    "sum over O(live pairs), exact under the fixture's deletes and "
    "value-moving updates (a t-digest/KLL sketch cannot subtract a "
    "deleted observation), recomputed independently by DuckDB's "
    "percentile_disc over the churned slice of `orders`.  One state, "
    "four readers: distinct counts, min/max, top-k, percentiles — the "
    "'build once, read many' economics the pair view exists for (and "
    "the build here is literally shared with topk_view_capstone via "
    "the fixture cache: the second capstone costs one window read).  "
    "Scale shape: maintenance O(changed rows); reads O(live pairs).",
    tags=("ext", "storage", "snapshot", "ivm", "quantile", "envelope"),
)
def quantile_view_capstone(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fiware_cosmos_orion_flink_connector_examples_spark.operators import ivm

    base = _pair_view_state(spark, sf_dir)
    return (
        ivm.quantile_view_read(spark, f"{base}/view", ["prio"], "pc", [0.5, 0.9])
        .select(
            "prio",
            F.col("p50_pc").cast("long").alias("p50_pc"),
            F.col("p90_pc").cast("long").alias("p90_pc"),
        )
        .orderBy("prio")
    )


@register(
    "cdc_stream_source_capstone",
    oracle="""
    WITH f0 AS (SELECT o_orderkey AS k,
                       CAST(round(o_totalprice * 100) AS BIGINT) AS pc
                FROM orders WHERE o_orderkey % 4 = 3)
    SELECT CAST(1 AS BIGINT) AS _version, 'insert' AS _change, k, pc FROM f0
    UNION ALL
    SELECT 2, 'update', k, pc + 1 FROM f0 WHERE k % 9 = 4 AND k % 7 != 5
    UNION ALL
    SELECT 2, 'delete', k, pc FROM f0 WHERE k % 7 = 5
    UNION ALL
    SELECT 2, 'insert', 9000000001, 4242
    """,
    doc="[ext] NATIVE CDC STREAMING SOURCE capstone (round 16): the "
    "snapshot commit log consumed as a first-class Structured "
    "Streaming source — spark.readStream.format('snapshot_cdc') over "
    "a churned orders slice (PySpark 4 Python Data Source API: "
    "version-number offsets, driver planning is metadata-only, row "
    "reading runs EXECUTOR-side one partition per recorded delta "
    "file).  The drained feed — bootstrap inserts at _version 1, the "
    "merge's update/delete/insert rows at _version 2, update "
    "pre-images excluded, deletes carrying the OLD row — is "
    "recomputed independently by DuckDB from `orders` alone, so the "
    "driver hash-proves the source's end-to-end semantics "
    "(checkpointed exactly-once restart is pytest-pinned in "
    "test_cdc_stream.py).  Scale shape: offsets are commit versions, "
    "so the checkpoint IS the cursor; a backlog fans out one "
    "partition per delta file instead of funneling the driver.  The "
    "table build is fixture-cached; each run drains a fresh stream.",
    tags=("ext", "storage", "snapshot", "cdc", "streaming", "envelope"),
)
def cdc_stream_source_capstone(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from fiware_cosmos_orion_flink_connector_examples_spark.sources import (
        cdc_stream,
        layout,
    )

    facts = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 4 == 3)
        .select(
            F.col("o_orderkey").alias("k"),
            F.round(F.col("o_totalprice") * 100).cast("long").alias("pc"),
        )
    )

    def build(path: str) -> None:
        src = f"{path}/src"
        layout.snapshot_write_keyed(spark, facts, src, "k", n_buckets=4)
        upd = (
            facts.filter((F.col("k") % 9 == 4) & (F.col("k") % 7 != 5))
            .select("k", (F.col("pc") + 1).alias("pc"),
                    F.lit(False).alias("_del"))
            .unionByName(
                facts.filter(F.col("k") % 7 == 5).select(
                    "k", F.lit(None).cast("long").alias("pc"),
                    F.lit(True).alias("_del"),
                )
            )
            .unionByName(
                spark.createDataFrame(
                    [(9_000_000_001, 4242, False)],
                    "k long, pc long, _del boolean",
                )
            )
        )
        layout.snapshot_merge(spark, src, upd, "k", delete_col="_del")

    base = _capstone_cache(
        "cdc_stream_src", _sf_print(spark, sf_dir, "orders"), build
    )
    cdc_stream.register(spark)
    rows: list = []

    def sink(batch: DataFrame, batch_id: int) -> None:
        rows.extend(tuple(r) for r in batch.collect())

    ck = tempfile.mkdtemp(prefix="cdc_cap_ck_")
    try:
        q = (
            spark.readStream.format("snapshot_cdc")
            .option("startVersion", 0)
            .load(f"{base}/src")
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination(300)
        finally:
            q.stop()
    finally:
        shutil.rmtree(ck, ignore_errors=True)
    return spark.createDataFrame(
        rows, "_version bigint, _change string, k bigint, pc bigint"
    )


@register(
    "snapshot_mor_capstone",
    oracle="""
    WITH o AS (SELECT o_orderkey AS k,
                      CAST(round(o_totalprice * 100) AS BIGINT) AS pc
               FROM orders WHERE o_orderkey % 4 = 2),
    final AS (
      SELECT k,
             CASE WHEN k % 10 = 4 THEN pc + 222 ELSE pc END AS pc
      FROM o WHERE k % 10 != 8
      UNION ALL
      SELECT k + 1000000000, CAST(555 AS BIGINT) FROM o WHERE k % 200 = 102
    )
    SELECT (SELECT count(*) FROM final)            AS n_rows,
           CAST(coalesce((SELECT sum(pc) FROM final), 0) AS BIGINT) AS sum_price_c,
           (SELECT count(*) FROM o WHERE k % 10 = 4) * 2
             + (SELECT count(*) FROM o WHERE k % 10 = 8)
             + (SELECT count(*) FROM o WHERE k % 200 = 2) AS dv_positions,
           TRUE AS v1_files_retained,
           TRUE AS v2_files_retained
    """,
    doc="[ext] MERGE-ON-READ capstone (round 17, VERDICT r16 #1): the "
    "snapshot_upsert op-stream shape (two merge commits of updates + "
    "deletes + inserts derived arithmetically from o_orderkey) applied "
    "with mode='mor' — matched keys' old rows become per-file POSITION "
    "DELETE sidecars (layout.snapshot_merge mor branch), NO bucket is "
    "ever rewritten, and the final table read back through the "
    "DV-anti-joining snapshot_read must hash-equal DuckDB's "
    "reconstruction of the same op stream (the COW-equivalence proof). "
    "The row also hash-proves the DV accounting (total recorded "
    "positions = matched rows per commit, recomputed by DuckDB from "
    "`orders` alone) and the write-amplification envelope as "
    "oracle-asserted booleans: every v1 AND v2 data file is still live "
    "in the final manifest — a 1-row update to a 1 GB bucket writes a "
    "tiny sidecar, not a gigabyte (the binding 100 TB cost for "
    "scattered-key GDPR-delete / dedup-tombstone traffic).  Scale "
    "shape: merge cost O(batch + matched-bucket probe read), read "
    "overhead one anti-join against O(deleted positions) that "
    "broadcasts below 4M rows and disappears entirely once "
    "compact_files materializes the DVs.",
    tags=("ext", "storage", "snapshot", "merge", "mor", "dv", "envelope"),
)
def snapshot_mor_capstone(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fiware_cosmos_orion_flink_connector_examples_spark.sources import layout

    orders = load_table(spark, sf_dir, "orders")
    base = orders.filter(F.col("o_orderkey") % 4 == 2).select(
        F.col("o_orderkey").alias("k"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("pc"),
    )

    def build(root: str) -> None:
        path = f"{root}/t"
        layout.snapshot_write_keyed(spark, base, path, "k", n_buckets=8)
        upd2 = (
            base.filter(F.col("k") % 10 == 4)
            .select("k", (F.col("pc") + 111).alias("pc"), F.lit(False).alias("_del"))
            .unionByName(
                base.filter(F.col("k") % 10 == 8).select(
                    "k", F.lit(None).cast("long").alias("pc"), F.lit(True).alias("_del")
                )
            )
            .unionByName(
                base.filter(F.col("k") % 100 == 2).select(
                    (F.col("k") + F.lit(1_000_000_000)).alias("k"),
                    F.lit(555).cast("long").alias("pc"),
                    F.lit(False).alias("_del"),
                )
            )
        )
        layout.snapshot_merge(spark, path, upd2, "k", delete_col="_del", mode="mor")
        upd3 = (
            base.filter(F.col("k") % 10 == 4)
            .select("k", (F.col("pc") + 222).alias("pc"), F.lit(False).alias("_del"))
            .unionByName(
                base.filter(F.col("k") % 200 == 2).select(
                    (F.col("k") + F.lit(1_000_000_000)).alias("k"),
                    F.lit(None).cast("long").alias("pc"),
                    F.lit(True).alias("_del"),
                )
            )
        )
        layout.snapshot_merge(spark, path, upd3, "k", delete_col="_del", mode="mor")

    path = _capstone_cache(
        "snapshot_mor", _sf_print(spark, sf_dir, "orders"), build
    ) + "/t"
    fin = layout.snapshot_read(spark, path).agg(
        F.count(F.lit(1)).alias("n"), F.sum("pc").alias("s")
    ).collect()[0]
    m = layout.snapshot_manifest(spark, path)
    final_files = set(m["files"])
    v1_kept = set(layout.snapshot_manifest(spark, path, 1)["files"]) <= final_files
    v2_kept = set(layout.snapshot_manifest(spark, path, 2)["files"]) <= final_files
    dv_positions = int(sum(m["dv_rows"].values()))
    return spark.createDataFrame(
        [(
            int(fin["n"]),
            int(fin["s"] or 0),
            dv_positions,
            bool(v1_kept),
            bool(v2_kept),
        )],
        "n_rows bigint, sum_price_c bigint, dv_positions bigint, "
        "v1_files_retained boolean, v2_files_retained boolean",
    )


@register(
    "snapshot_restore_capstone",
    oracle="""
    WITH o AS (SELECT o_orderkey AS k,
                      CAST(round(o_totalprice * 100) AS BIGINT) AS pc
               FROM orders WHERE o_orderkey % 4 = 3)
    SELECT (SELECT count(*) FROM o) AS n_rows,
           CAST((SELECT sum(CASE WHEN k % 10 = 5 THEN pc + 77 ELSE pc END)
                 FROM o) AS BIGINT) AS sum_price_c,
           TRUE AS bad_version_differs,
           TRUE AS restore_equals_target,
           TRUE AS feed_raises_across_restore
    """,
    doc="[ext] RESTORE/ROLLBACK capstone (round 17, VERDICT r16 #2): "
    "write orders as a keyed snapshot table, apply a good merge (v2), "
    "a BAD merge corrupting every price (v3), then "
    "layout.snapshot_restore(path, 2) — a METADATA-ONLY new commit "
    "(v4) re-pinning v2's file list, no data copied.  The final read "
    "must hash-equal DuckDB's independent reconstruction of the v2 "
    "state from `orders` alone (restore-then-query ≡ querying v_N — "
    "the driver row VERDICT r16 asked for), with oracle-asserted "
    "booleans proving the contracts: the bad version still serves by "
    "time travel (history preserved until vacuum), the restored head "
    "row-equals the target version, and the CDC feed RAISES across "
    "the restore (change_mode='truncate' — consumers re-bootstrap "
    "rather than silently double-count undone commits).  Scale shape: "
    "restore cost is O(target version's file count) metadata writes — "
    "recovering a 100 TB table from a bad write costs the same as "
    "recovering a 100 MB one.",
    tags=("ext", "storage", "snapshot", "restore", "envelope"),
)
def snapshot_restore_capstone(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fiware_cosmos_orion_flink_connector_examples_spark.sources import layout

    orders = load_table(spark, sf_dir, "orders")
    base = orders.filter(F.col("o_orderkey") % 4 == 3).select(
        F.col("o_orderkey").alias("k"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("pc"),
    )

    def build(root: str) -> None:
        path = f"{root}/t"
        layout.snapshot_write_keyed(spark, base, path, "k", n_buckets=8)
        upd2 = base.filter(F.col("k") % 10 == 5).select(
            "k", (F.col("pc") + 77).alias("pc"), F.lit(False).alias("_del")
        )
        layout.snapshot_merge(spark, path, upd2, "k", delete_col="_del")
        bad = base.select("k", F.lit(-1).cast("long").alias("pc"))
        layout.snapshot_merge(spark, path, bad, "k")
        layout.snapshot_restore(spark, path, 2)

    path = _capstone_cache(
        "snapshot_restore", _sf_print(spark, sf_dir, "orders"), build
    ) + "/t"
    fin = layout.snapshot_read(spark, path).agg(
        F.count(F.lit(1)).alias("n"), F.sum("pc").alias("s")
    ).collect()[0]
    bad_sum = layout.snapshot_read(spark, path, 3).agg(
        F.sum("pc").alias("s")
    ).collect()[0]["s"]
    tgt = layout.snapshot_read(spark, path, 2).agg(
        F.count(F.lit(1)).alias("n"), F.sum("pc").alias("s")
    ).collect()[0]
    restore_eq = (int(fin["n"]), int(fin["s"] or 0)) == (
        int(tgt["n"]), int(tgt["s"] or 0)
    )
    try:
        layout.snapshot_changes_feed(spark, path, 3, 4)
        feed_raises = False
    except layout.SnapshotTruncateInFeed:
        feed_raises = True
    return spark.createDataFrame(
        [(
            int(fin["n"]),
            int(fin["s"] or 0),
            bool(int(bad_sum or 0) != int(fin["s"] or 0)),
            bool(restore_eq),
            bool(feed_raises),
        )],
        "n_rows bigint, sum_price_c bigint, bad_version_differs boolean, "
        "restore_equals_target boolean, feed_raises_across_restore boolean",
    )


def _composite_join_state(spark: SparkSession, sf_dir: str) -> str:
    """Shared round-17 fixture: a COMPOSITE-KEY incremental join
    (orders facts ⋈ customer dims ON (j1, j2), where j1 = custkey//50
    and j2 = custkey%50 — a genuine two-column equi-join key) with TWO
    maintained views off the same sources:

    * ``view_agg``  — grouped by [seg], sums [pc] (the composite-key
      capstone reads this);
    * ``view_pair`` — grouped by [seg, v] with v = pc % 97: PAIR-VIEW
      state over the JOINED frame (the pair-readers capstone reads
      this through distinct/extremes/top-k/quantile readers).

    Facts are keyed by their own PK and compacted sorted-by-j1 with
    min/max stats on j1 + Bloom sidecars on j2, so the dims-delta sync
    reads the fact side through ``_pruned_join_side``'s per-component
    ANDed tier-2 pruning.  Churn: one facts merge (price bumps that
    MOVE v, deletes) and one dims merge (segment moves + deletes over
    the contiguous custkey band <= 60 → j1 ∈ {0, 1}), then ONE sync
    spanning both sides' commits."""
    from fiware_cosmos_orion_flink_connector_examples_spark.operators import ivm
    from fiware_cosmos_orion_flink_connector_examples_spark.sources import layout

    facts = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 4 == 1)
        .select(
            F.col("o_orderkey").alias("k"),
            F.expr("o_custkey div 50").cast("long").alias("j1"),
            F.pmod(F.col("o_custkey"), F.lit(50)).cast("long").alias("j2"),
            F.round(F.col("o_totalprice") * 100).cast("long").alias("pc"),
        )
        .withColumn("v", F.pmod(F.col("pc"), F.lit(97)))
    )
    dims = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % 3 == 1)
        .select(
            F.col("c_custkey").alias("ck"),
            F.expr("c_custkey div 50").cast("long").alias("j1"),
            F.pmod(F.col("c_custkey"), F.lit(50)).cast("long").alias("j2"),
            F.col("c_mktsegment").alias("seg"),
        )
    )
    jc = ["j1", "j2"]

    def build(path: str) -> None:
        a, b = f"{path}/facts", f"{path}/dims"
        layout.snapshot_write_keyed(spark, facts, a, "k", n_buckets=2)
        n = facts.count()
        layout.compact_files(
            spark, a, sort_by="j1", stats_cols=["j1"], bloom_cols=["j2"],
            max_records_per_file=max(32, n // 16),
        )
        layout.snapshot_write_keyed(spark, dims, b, "ck", n_buckets=2)
        ivm.join_view_create(
            spark, a, b, f"{path}/view_agg", jc, ["seg"], ["pc"], n_buckets=2
        )
        ivm.join_view_create(
            spark, a, b, f"{path}/view_pair", jc, ["seg", "v"], [],
            txn_app="pair-view", n_buckets=2,
        )
        upd_a = (
            facts.filter((F.col("k") % 9 == 1) & (F.col("k") % 7 != 2))
            .select(
                "k", "j1", "j2", (F.col("pc") + 5).alias("pc"),
                F.pmod(F.col("pc") + 5, F.lit(97)).alias("v"),
                F.lit(False).alias("_del"),
            )
            .unionByName(
                facts.filter(F.col("k") % 7 == 2).select(
                    "k",
                    F.lit(None).cast("long").alias("j1"),
                    F.lit(None).cast("long").alias("j2"),
                    F.lit(None).cast("long").alias("pc"),
                    F.lit(None).cast("long").alias("v"),
                    F.lit(True).alias("_del"),
                )
            )
        )
        layout.snapshot_merge(spark, a, upd_a, "k", delete_col="_del")
        # the COW merge rewrote its buckets as one unsorted file each —
        # re-compact to restore j1 clustering + per-file skipping
        # metadata (the documented merge-heavy lifecycle; the
        # change_mode='none' commit is span-transparent to the views)
        layout.compact_files(
            spark, a, sort_by="j1", stats_cols=["j1"], bloom_cols=["j2"],
            max_records_per_file=max(32, n // 16),
        )
        band = F.col("ck") <= 60
        upd_b = (
            dims.filter(band & (F.col("ck") % 2 == 1))
            .select(
                "ck", "j1", "j2", F.lit("MOVED").alias("seg"),
                F.lit(False).alias("_del"),
            )
            .unionByName(
                dims.filter(band & (F.col("ck") % 2 == 0)).select(
                    "ck",
                    F.lit(None).cast("long").alias("j1"),
                    F.lit(None).cast("long").alias("j2"),
                    F.lit(None).cast("string").alias("seg"),
                    F.lit(True).alias("_del"),
                )
            )
        )
        layout.snapshot_merge(spark, b, upd_b, "ck", delete_col="_del")
        ivm.join_view_sync(spark, a, b, f"{path}/view_agg", jc, ["seg"], ["pc"])
        ivm.join_view_sync(
            spark, a, b, f"{path}/view_pair", jc, ["seg", "v"], [],
            txn_app="pair-view",
        )

    return _capstone_cache(
        "composite_join", _sf_print(spark, sf_dir, "orders", "customer"), build
    )


# Final-state CTEs shared by both round-17 join capsule oracles: the
# churned facts (price bumps move v, k%7==2 deleted) and churned dims
# (band ck<=60: odd → MOVED, even → deleted), joined on the COMPOSITE
# key — DuckDB reconstructs everything from orders+customer alone.
_COMPOSITE_JOIN_CTES = """
    f0 AS (SELECT o_orderkey AS k, o_custkey // 50 AS j1,
                  o_custkey % 50 AS j2,
                  CAST(round(o_totalprice * 100) AS BIGINT) AS pc
           FROM orders WHERE o_orderkey % 4 = 1),
    f1 AS (SELECT k, j1, j2,
                  CASE WHEN k % 9 = 1 THEN pc + 5 ELSE pc END AS pc
           FROM f0 WHERE k % 7 != 2),
    f AS (SELECT k, j1, j2, pc, pc % 97 AS v FROM f1),
    d0 AS (SELECT c_custkey AS ck, c_custkey // 50 AS j1,
                  c_custkey % 50 AS j2, c_mktsegment AS seg
           FROM customer WHERE c_custkey % 3 = 1),
    d AS (SELECT j1, j2,
                 CASE WHEN ck <= 60 AND ck % 2 = 1 THEN 'MOVED'
                      ELSE seg END AS seg
          FROM d0 WHERE NOT (ck <= 60 AND ck % 2 = 0)),
    j AS (SELECT seg, pc, v
          FROM f JOIN d ON f.j1 = d.j1 AND f.j2 = d.j2)
"""


@register(
    "join_view_composite_key_capstone",
    oracle=f"""
    WITH {_COMPOSITE_JOIN_CTES}
    SELECT seg, count(*) AS n_rows, CAST(sum(pc) AS BIGINT) AS sum_pc,
           TRUE AS composite_pruned
    FROM j GROUP BY seg ORDER BY seg
    """,
    doc="[ext] COMPOSITE-KEY JOIN VIEW capstone (round 17, VERDICT "
    "r16 #3): an incremental join view over a genuine TWO-COLUMN "
    "equi-join key (j1, j2) = (custkey//50, custkey%50) — "
    "join_view_create/sync take the key as a LIST, the delta algebra "
    "rides tuples, and NULL in any component never matches.  The "
    "fact side is keyed by its own PK (bucket pruning on the tuple "
    "impossible), compacted sorted-by-j1 with min/max stats on j1 + "
    "Bloom sidecars on j2, so the dims-delta sync file-prunes PER "
    "COMPONENT and intersects (`_pruned_join_side` tiers now "
    "compose).  One facts merge + one dims merge (contiguous band "
    "ck<=60 → j1 ∈ {0,1}) churn both sides before ONE sync spans "
    "them; final per-segment rows recompute independently in DuckDB "
    "from orders+customer, and the composite_pruned envelope asserts "
    "the band's component keys keep strictly fewer fact files than "
    "the manifest holds (the 100 TB shape: a K-key dimension delta "
    "reads O(K) fact files off natural columns — no pre-concatenated "
    "surrogate key, which is exactly what broke pruning before).  "
    "Build-once fixture cache: repeat runs measure the view-serve "
    "cost.",
    tags=("ext", "storage", "snapshot", "ivm", "join", "composite", "envelope"),
)
def join_view_composite_key_capstone(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from fiware_cosmos_orion_flink_connector_examples_spark.operators import ivm
    from fiware_cosmos_orion_flink_connector_examples_spark.sources import layout

    base = _composite_join_state(spark, sf_dir)
    # envelope: the churn band's component keys (j1 ∈ {0,1}; j2 = the
    # band custkeys mod 50) must keep strictly fewer fact files than
    # the manifest holds — per-component prune, intersected
    dims_band = (
        load_table(spark, sf_dir, "customer")
        .filter((F.col("c_custkey") % 3 == 1) & (F.col("c_custkey") <= 60))
    )
    j1_keys = sorted(
        r[0]
        for r in dims_band.select(
            F.expr("c_custkey div 50").cast("long")
        ).distinct().collect()
    )
    j2_keys = sorted(
        r[0]
        for r in dims_band.select(
            F.pmod(F.col("c_custkey"), F.lit(50)).cast("long")
        ).distinct().collect()
    )
    kept1, total = layout.snapshot_prune_files_for_values(
        spark, f"{base}/facts", "j1", j1_keys
    )
    kept2, _ = layout.snapshot_prune_files_for_values(
        spark, f"{base}/facts", "j2", j2_keys
    )
    kept = set(kept1) & set(kept2)
    return (
        ivm.agg_view_read(spark, f"{base}/view_agg")
        .select(
            "seg",
            F.col("_n").cast("long").alias("n_rows"),
            F.col("sum_pc").cast("long").alias("sum_pc"),
            F.lit(bool(0 < len(kept) < total)).alias("composite_pruned"),
        )
        .orderBy("seg")
    )


@register(
    "join_pair_readers_capstone",
    oracle=f"""
    WITH {_COMPOSITE_JOIN_CTES},
    g AS (SELECT seg, count(DISTINCT v) AS n_distinct_v,
                 min(v) AS min_v, max(v) AS max_v,
                 percentile_disc(0.5) WITHIN GROUP (ORDER BY v) AS p50_v
          FROM j GROUP BY seg),
    r AS (SELECT seg, v AS top2_v FROM (
            SELECT seg, v,
                   row_number() OVER (PARTITION BY seg ORDER BY v DESC)
                     AS rnk
            FROM (SELECT DISTINCT seg, v FROM j)) t
          WHERE rnk = 2)
    SELECT g.seg AS seg, n_distinct_v, min_v, max_v, p50_v, top2_v
    FROM g LEFT JOIN r ON g.seg = r.seg
    ORDER BY seg
    """,
    doc="[ext] PAIR-VIEW READERS OVER A JOIN VIEW capstone (round 17, "
    "VERDICT r16 #6): a join view grouped by (seg, v) IS pair-view "
    "state over the JOINED frame — no new machinery, the insight is "
    "the reduction — so all four pair readers serve EXACT answers "
    "over a maintained two-table join: distinct_view_read (exact "
    "COUNT(DISTINCT v) per segment), extremes_view_read (min/max "
    "that survive deletes of the current extremum), topk_view_read "
    "(the rank-2 distinct value), quantile_view_read (row-weighted "
    "exact PERCENTILE_DISC median over JOINED rows).  The fixture's "
    "churn moves values (price bumps change v), deletes fact rows, "
    "re-segments and deletes dimension rows — every case a sketch "
    "cannot subtract — and DuckDB recomputes every cell from the "
    "joined reconstruction of orders+customer.  Scale shape: "
    "maintenance is the standard signed two-source sync (O(changed "
    "rows × matched rows), component-pruned sides); each reader is "
    "one pass over O(live (seg, v) pairs), never the join.  The "
    "fixture is SHARED with join_view_composite_key_capstone — one "
    "maintained state, five readers across two driver rows.",
    tags=("ext", "storage", "snapshot", "ivm", "topk", "quantile", "envelope"),
)
def join_pair_readers_capstone(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fiware_cosmos_orion_flink_connector_examples_spark.operators import ivm

    base = _composite_join_state(spark, sf_dir)
    view = f"{base}/view_pair"
    dist = ivm.distinct_view_read(spark, view, ["seg"], "v").select(
        "seg", F.col("n_distinct_v").cast("long").alias("n_distinct_v")
    )
    ext = ivm.extremes_view_read(spark, view, ["seg"], "v").select(
        "seg",
        F.col("min_v").cast("long").alias("min_v"),
        F.col("max_v").cast("long").alias("max_v"),
    )
    med = ivm.quantile_view_read(spark, view, ["seg"], "v", [0.5]).select(
        "seg", F.col("p50_v").cast("long").alias("p50_v")
    )
    top2 = (
        ivm.topk_view_read(spark, view, ["seg"], "v", 2)
        .filter(F.col("rank") == 2)
        .select("seg", F.col("v").cast("long").alias("top2_v"))
    )
    return (
        dist.join(ext, "seg")
        .join(med, "seg")
        .join(top2, "seg", "left_outer")
        .orderBy("seg")
    )
