"""Deduplication operators ([ext] X1/X2 — BASELINE.json's LLM-data-
pipeline mandate): exact, n-gram Jaccard, MinHash+LSH, SimHash,
embedding-cosine.

Scale design (the part that matters at 100 TB):
  * Exact dedup = hash-groupBy on a normalization key — one shuffle of
    (key, doc_id), never full rows.
  * MinHash signatures/shingles are per-row array expressions (no
    shuffle); LSH banding turns the O(n²) pair space into an
    equi-join on (band_idx, band_hash) — only colliding docs meet.
  * SimHash candidate generation uses pigeonhole banding: for hamming
    radius r, split the fingerprint into r+1 bands; any pair within r
    must agree on ≥1 band ⇒ equi-join on bands has NO false negatives.
  * Embedding near-dup blocks on a coarse key (label) before the
    quadratic verify — at scale swap the key for an IVF centroid id.

Everything hashes via md5int64 (functions/hashing.py) so the DuckDB
oracle reproduces identical integers.  Paper anchors: top-k similarity
(EDBT'20), REPOSE (ICDE'21) for the prune-then-verify shape.
"""

from __future__ import annotations

import pandas as pd  # module-level: pandas_udf resolves string type hints here

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from fiware_cosmos_orion_flink_connector_examples_spark.functions.hashing import (
    md5int64,  # noqa: F401  (re-exported for oracle-reproducible hashing)
)
from fiware_cosmos_orion_flink_connector_examples_spark.operators.caching import _ModelLRU
from fiware_cosmos_orion_flink_connector_examples_spark.operators.text import TOKEN_RE

_P31 = 2147483647  # 2^31 - 1 (Mersenne prime) — universal-hash modulus


def exact_dedup(df: DataFrame, key_cols: list[str], id_col: str) -> DataFrame:
    """Keep the lowest-id row per duplicate group (deterministic, unlike
    dropDuplicates' arbitrary survivor).  One hash shuffle on the key."""
    return df.groupBy(*key_cols).agg(
        F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_copies")
    )


def shingles(col: Column | str = "text", n: int = 3, distinct: bool = True) -> Column:
    """Word n-gram shingles as an array column (per-row, no shuffle);
    ``distinct=True`` (default) dedups per doc.  Docs shorter than n
    tokens yield an empty array.

    Built by zip_with over n shifted slices of the token array, NOT by
    per-index element_at: higher-order array functions evaluate
    interpreted (outside whole-stage codegen), and random access inside
    the lambda re-evaluates the source expression per reference —
    measured 18× slower on the sf0.1 corpus (16.4 s vs 0.9 s)."""
    c = F.col(col) if isinstance(col, str) else col
    toks = F.regexp_extract_all(c, F.lit(TOKEN_RE), 0)
    length = F.greatest(F.size(toks) - (n - 1), F.lit(0))
    grams = F.slice(toks, 1, length)
    for j in range(1, n):
        nxt = F.slice(toks, j + 1, length)
        grams = F.zip_with(grams, nxt, lambda a, b: F.concat(a, F.lit(" "), b))
    return F.array_distinct(grams) if distinct else grams


def with_shingles(df: DataFrame, id_col: str, text_col: str = "text", n: int = 3) -> DataFrame:
    return df.select(F.col(id_col), shingles(text_col, n).alias("sh"))


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs via the inverted-index join:
    explode shingles → self-join on shingle → per-pair intersection
    count → jaccard = i / (|A| + |B| - i).  Only docs sharing ≥1
    shingle ever meet — the join IS the candidate pruning.

    ``max_shingle_df`` is the 100 TB knob: the self-join's cost is
    Σ df(s)² over shingles, so ONE boilerplate shingle shared by 1M
    docs yields 10¹² join rows.  With a cap, shingles whose document
    frequency exceeds it are dropped from the *candidate* index (cost
    per shingle now ≤ cap²), and candidates are verified with exact
    Jaccard over the full shingle arrays — scores stay exact; the only
    possible loss is a pair whose ENTIRE overlap is capped boilerplate,
    which at threshold ≥0.8 means near-identical docs made of
    corpus-wide boilerplate (measured: cap=64 changes nothing on the
    sf0.01/sf0.1 corpora, where max df is 7/25)."""
    from pyspark import StorageLevel

    sh = with_shingles(df, id_col, text_col, n).withColumn("n_sh", F.size("sh"))
    # both sides of the posting self-join read ex; the two exchanges
    # differ in aliases so Catalyst cannot reuse them — persist so the
    # corpus is scanned+shingled once
    ex = sh.select(F.col(id_col), "n_sh", F.explode("sh").alias("s")).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    if max_shingle_df is None:
        a = ex.select(
            F.col(id_col).alias("d1"), F.col("n_sh").alias("n1"), F.col("s")
        )
        b = ex.select(
            F.col(id_col).alias("d2"), F.col("n_sh").alias("n2"), F.col("s")
        )
        # shuffle-hash, not broadcast: the exploded posting table is big on
        # both sides (never broadcastable at corpus scale), and building a
        # multi-million-row broadcast hashmap measured 3× slower locally
        inter = (
            a.hint("shuffle_hash")
            .join(b.hint("shuffle_hash"), ["s"])
            .filter(F.col("d1") < F.col("d2"))
            .groupBy("d1", "d2", "n1", "n2")
            .agg(F.count(F.lit(1)).alias("i"))
        )
        jacc = F.col("i") / (F.col("n1") + F.col("n2") - F.col("i"))
        return (
            inter.select("d1", "d2", F.round(jacc, 6).alias("jaccard"))
            .filter(F.col("jaccard") >= threshold)
        )
    # ex (persisted above) feeds three subplans here: df-count, capped
    # posting join, per-doc hot sets.  hot list is tiny by construction
    # (shingles with df > cap) ⇒ both the anti- and semi-joins broadcast
    hot = (
        ex.groupBy("s")
        .agg(F.count(F.lit(1)).alias("dfreq"))
        .filter(F.col("dfreq") > max_shingle_df)
        .select("s")
    )
    posts = ex.join(F.broadcast(hot), "s", "left_anti")
    a = posts.select(F.col(id_col).alias("d1"), F.col("n_sh").alias("n1"), "s")
    b = posts.select(F.col(id_col).alias("d2"), F.col("n_sh").alias("n2"), "s")
    # exact count of shared NON-hot shingles, same count-agg shape (and
    # cost) as the uncapped path — no shingle arrays shipped per pair
    inter_capped = (
        a.hint("shuffle_hash")
        .join(b.hint("shuffle_hash"), ["s"])
        .filter(F.col("d1") < F.col("d2"))
        .groupBy("d1", "d2", "n1", "n2")
        .agg(F.count(F.lit(1)).alias("i_c"))
    )
    # correction term: each doc's (few) hot shingles as a small set;
    # i = i_capped + |hot(A) ∩ hot(B)| makes the score EXACT for every
    # pair that shares ≥1 capped shingle.  Only pairs whose ENTIRE
    # overlap is hot boilerplate are missed (the documented tradeoff).
    hot_doc = (
        ex.join(F.broadcast(hot), "s", "left_semi")
        .groupBy(id_col)
        .agg(F.collect_set("s").alias("hs"))
    )
    empty = F.array().cast("array<string>")
    h1 = hot_doc.select(F.col(id_col).alias("d1"), F.col("hs").alias("hs1"))
    h2 = hot_doc.select(F.col(id_col).alias("d2"), F.col("hs").alias("hs2"))
    i_full = F.col("i_c") + F.size(
        F.array_intersect(F.coalesce("hs1", empty), F.coalesce("hs2", empty))
    )
    jacc = i_full / (F.col("n1") + F.col("n2") - i_full)
    # no broadcast hint on hot_doc: if boilerplate is corpus-wide the
    # hot-set table is itself large — stats/AQE pick the strategy
    return (
        inter_capped.join(h1, "d1", "left")
        .join(h2, "d2", "left")
        .select("d1", "d2", F.round(jacc, 6).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 24,
    keep_shingles: bool = False,
) -> DataFrame:
    """MinHash signatures as ``num_hashes`` flat columns h0..h{k-1}.

    Explode shingles once, compute all seeded hashes as plain
    (codegen'd) column expressions, then ONE hash aggregate taking the
    per-seed min — vectorized partial+final agg; shuffle volume is one
    signature row per doc.  (The array-fold formulation evaluates
    interpreted and was ~10× slower.)

    ``keep_shingles=True`` additionally reassembles the distinct
    shingle set as an ``sh`` column via collect_set in the SAME
    aggregate — one pass over the corpus feeds both LSH banding and
    the exact-Jaccard verify, instead of re-scanning + re-shingling
    the documents for the verify join (the round-1 double-compute)."""
    sh = with_shingles(df, id_col, text_col, n).filter(F.size("sh") > 0)
    ex = sh.select(F.col(id_col), F.explode("sh").alias("s"))
    # One xxhash64 per shingle + a universal-hash family over Z_p
    # (p = 2^31-1): h_j = (a_j·base + b_j) mod p.  All terms < 2^62 so
    # no overflow even under ANSI mode.  The LSH internals don't need
    # cross-engine reproducibility — the oracle checks the *verified
    # jaccard* output — so the fast JVM hash is safe here (unlike
    # simhash/fingerprints, which the oracle recomputes via md5).
    import random

    rng = random.Random(0)
    coeffs = [(rng.randrange(1, _P31), rng.randrange(0, _P31)) for _ in range(num_hashes)]
    # SQL-string expressions (F.expr), not Column chains: the Column
    # form issued ~6 py4j round trips per hash (measured 0.39 s of
    # pure plan construction per call at 24 hashes); the string form
    # parses JVM-side in one call each.  Expression tree identical —
    # the shared `base` Column was inlined into every h_j anyway, and
    # whole-stage codegen CSEs the common pmod(xxhash64(s), p) subtree
    # at runtime (round 17, guide §1.2 step 2).
    hashed = ex.select(
        F.col(id_col),
        *([F.col("s")] if keep_shingles else []),
        *[
            F.expr(
                f"pmod({a} * pmod(xxhash64(s), {_P31}) + {b}, {_P31}) AS h{j}"
            )
            for j, (a, b) in enumerate(coeffs)
        ],
    )
    aggs = [F.expr(f"min(h{j}) AS h{j}") for j in range(num_hashes)]
    if keep_shingles:
        # set semantics — shingles are already distinct per doc, and the
        # verify step only uses size + array_intersect (order-invariant)
        aggs.append(F.collect_set("s").alias("sh"))
    return hashed.groupBy(id_col).agg(*aggs)


def _minhash_bands(
    sig: DataFrame, id_col: str, num_hashes: int, rows_per_band: int
) -> DataFrame:
    """Explode a signature table into (id, band, band-hash) rows.

    Built as one SQL-string expression (see minhash_signatures — same
    py4j round-trip economics, same analyzed plan)."""
    n_bands = num_hashes // rows_per_band
    structs = ", ".join(
        "struct({bi} AS band, md5(concat_ws(',', {cols})) AS bh)".format(
            bi=bi,
            cols=", ".join(
                f"h{bi * rows_per_band + j}" for j in range(rows_per_band)
            ),
        )
        for bi in range(n_bands)
    )
    return sig.select(
        F.col(id_col), F.expr(f"explode(array({structs})) AS b")
    ).select(F.col(id_col), F.col("b.band").alias("band"), F.col("b.bh").alias("bh"))


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 24,
    rows_per_band: int = 2,
) -> DataFrame:
    """LSH banding: hash each band of ``rows_per_band`` signature slots;
    docs colliding in ANY band become candidate pairs.  With 24 hashes
    b=12/r=2: P(candidate | j=0.8) ≈ 1 - (1-0.64)^12 ≈ 0.999995 —
    recall is effectively 1 for the ≥0.8 pairs the verify step keeps."""
    sig = minhash_signatures(df, id_col, text_col, n, num_hashes)
    bands = _minhash_bands(sig, id_col, num_hashes, rows_per_band)
    a = bands.select(F.col(id_col).alias("d1"), "band", "bh")
    b = bands.select(F.col(id_col).alias("d2"), "band", "bh")
    return (
        a.join(b, ["band", "bh"])
        .filter(F.col("d1") < F.col("d2"))
        .select("d1", "d2")
        .distinct()
    )


def minhash_dedup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
    num_hashes: int = 24,
    rows_per_band: int = 2,
) -> DataFrame:
    """MinHash-LSH prune + exact Jaccard verify: candidates from
    banding, then true shingle-set jaccard via array_intersect on the
    two docs' shingle arrays.

    The corpus is scanned and shingled exactly ONCE: the signature
    aggregate carries the shingle set along (``keep_shingles=True``)
    and the table is persisted, so banding, the d1 side, and the d2
    side of the verify all reuse one materialization instead of three
    separate scan+shingle plans (the round-1 shape)."""
    from pyspark import StorageLevel

    sig = minhash_signatures(
        df, id_col, text_col, n, num_hashes, keep_shingles=True
    ).persist(StorageLevel.MEMORY_AND_DISK)
    cands = (
        _minhash_bands(sig, id_col, num_hashes, rows_per_band)
        .alias("a")
        .join(
            _minhash_bands(sig, id_col, num_hashes, rows_per_band).alias("b"),
            ["band", "bh"],
        )
        .select(
            F.col(f"a.{id_col}").alias("d1"), F.col(f"b.{id_col}").alias("d2")
        )
        .filter(F.col("d1") < F.col("d2"))
        .distinct()
    )
    s1 = sig.select(F.col(id_col).alias("d1"), F.col("sh").alias("sh1"))
    s2 = sig.select(F.col(id_col).alias("d2"), F.col("sh").alias("sh2"))
    joined = cands.join(s1, "d1").join(s2, "d2")
    inter = F.size(F.array_intersect("sh1", "sh2")).cast("double")
    union = (F.size("sh1") + F.size("sh2")).cast("double") - inter
    return (
        joined.select(
            "d1", "d2", F.round(inter / union, 6).alias("jaccard")
        )
        .filter(F.col("jaccard") >= threshold)
    )


def simhash_bands(sim_col: Column, bits: int = 60, n_bands: int = 4) -> list[Column]:
    """Split a ``bits``-bit simhash into ``n_bands`` contiguous bit
    bands (returned as BIGINT band values)."""
    band_bits = bits // n_bands
    mask = (1 << band_bits) - 1
    return [
        F.shiftright(sim_col, i * band_bits).bitwiseAND(F.lit(mask)).alias(f"band{i}")
        for i in range(n_bands)
    ]


def ngram_jaccard_pairs_incremental(
    df_new: DataFrame,
    df_corpus: DataFrame,
    id_col: str,
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Incremental near-dup detection: jaccard pairs between a NEW
    batch and the full corpus (which may include the batch) — the
    daily-ingest dedup shape.  The posting join is new-side × corpus-
    side instead of a corpus self-join, so per-day cost is
    O(Σ df_new(s)·df_corpus(s)), linear in the batch for stable shingle
    frequencies — the full corpus is never self-joined again.  Returns
    (new_id, match_id, jaccard) with new_id ≠ match_id; a new-vs-new
    duplicate appears once per ordered pair direction where both sides
    are new — callers wanting unordered pairs filter new_id < match_id.
    """
    sh_new = with_shingles(df_new, id_col, text_col, n).withColumn("n_sh", F.size("sh"))
    sh_all = with_shingles(df_corpus, id_col, text_col, n).withColumn(
        "n_sh", F.size("sh")
    )
    ex_new = sh_new.select(
        F.col(id_col).alias("new_id"), F.col("n_sh").alias("n1"), F.explode("sh").alias("s")
    )
    ex_all = sh_all.select(
        F.col(id_col).alias("match_id"), F.col("n_sh").alias("n2"), F.explode("sh").alias("s")
    )
    inter = (
        ex_new.hint("shuffle_hash")
        .join(ex_all.hint("shuffle_hash"), ["s"])
        .filter(F.col("new_id") != F.col("match_id"))
        .groupBy("new_id", "match_id", "n1", "n2")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    jacc = F.col("i") / (F.col("n1") + F.col("n2") - F.col("i"))
    return inter.select(
        "new_id", "match_id", F.round(jacc, 6).alias("jaccard")
    ).filter(F.col("jaccard") >= threshold)


def simhash_dedup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    max_hamming: int = 3,
    bits: int = 60,
) -> DataFrame:
    """SimHash near-dup pairs within hamming radius via pigeonhole
    banding (r+1 bands ⇒ exact recall), then bit_count verify."""
    from fiware_cosmos_orion_flink_connector_examples_spark.operators.text import (
        simhash_table,
    )

    from pyspark import StorageLevel

    n_bands = max_hamming + 1
    sim = simhash_table(df, id_col, text_col, bits)
    # persist: the md5-based signature aggregate is the expensive part
    # and both self-join sides read it
    bands = (
        sim.select(
            F.col(id_col),
            "sim",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(i).alias("band"),
                            b.alias("bv"),
                        )
                        for i, b in enumerate(simhash_bands(F.col("sim"), bits, n_bands))
                    ]
                )
            ).alias("b"),
        )
        .select(F.col(id_col), "sim", F.col("b.band").alias("band"), F.col("b.bv").alias("bv"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    a = bands.select(F.col(id_col).alias("d1"), F.col("sim").alias("sim1"), "band", "bv")
    b = bands.select(F.col(id_col).alias("d2"), F.col("sim").alias("sim2"), "band", "bv")
    ham = F.bit_count(F.col("sim1").bitwiseXOR(F.col("sim2")))
    # hamming filter BEFORE the distinct: a pair colliding in k of the
    # r+1 bands appears k times — dropping non-qualifying pairs first
    # shrinks the dedup shuffle to qualifying pairs only
    return (
        a.join(b, ["band", "bv"])
        .filter(F.col("d1") < F.col("d2"))
        .select("d1", "d2", ham.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def band_explode(
    df: DataFrame,
    id_col: str,
    hash_col: str,
    bits: int = 64,
    n_bands: int = 8,
) -> DataFrame:
    """Pigeonhole band rows for an n-bit hash column: one (id, _h,
    band, bv) row per contiguous bit band, extracted with
    ``shiftrightunsigned`` (sign-safe for full-width int64 hashes).
    Shared by the batch banded join (``hash_dup_pairs``) and the
    streaming bucket-state twin (``jobs.streaming_hash_dedup``) — both
    sides MUST band identically or the stream misses pairs the batch
    finds."""
    # n_bands > bits would make band_bits=0/mask=0 — every band value
    # 0, degenerating the equi-join into an O(n^2) self-join (ADVICE
    # r7 #2).  raise, not assert: under `python -O` a bare assert is
    # stripped and the degenerate mode silently returns (ADVICE r8 #2
    # — the image/audio grid guards already use ValueError for this).
    if bits // n_bands < 1:
        raise ValueError(f"n_bands={n_bands} exceeds bits={bits}")
    band_bits = bits // n_bands
    mask = (1 << band_bits) - 1
    h = F.col(hash_col)
    return df.select(
        F.col(id_col),
        h.alias("_h"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.shiftrightunsigned(h, i * band_bits)
                        .bitwiseAND(F.lit(mask))
                        .alias("bv"),
                    )
                    for i in range(n_bands)
                ]
            )
        ).alias("b"),
    ).select(
        F.col(id_col), "_h", F.col("b.band").alias("band"), F.col("b.bv").alias("bv")
    )


def hash_dup_pairs(
    hashes: DataFrame,
    id_col: str,
    hash_col: str = "phash",
    max_hamming: int = 6,
    bits: int = 64,
    n_bands: int | None = None,
    materialize: bool = True,
    band_df_cap: int | None = None,
) -> DataFrame:
    """Near-dup pairs within Hamming radius over a PRECOMPUTED n-bit
    hash column (perceptual image hashes, audio fingerprints — any
    fixed-width fingerprint; ``simhash_dedup_pairs`` owns the text
    path because it also builds the signature).  Pigeonhole banding:
    with ``n_bands`` >= max_hamming + 1 contiguous bit bands, any pair
    within the radius shares at least one EXACT band — so candidates
    come from ``n_bands`` self-equi-joins on (band, value), never
    row x row — then a ``bit_count(xor)`` verify.  Exact recall at
    exact cost: banding is a prune, the verify is the truth.

    Unlike ``simhash_bands`` (60-bit, sign-free) the full-width 64-bit
    case can carry the SIGN bit, so bands extract with
    ``shiftrightunsigned`` — an arithmetic shift would smear the sign
    across every high band and silently merge buckets.

    Shape at 100 TB: the hash table is one int64 per image (the bytes
    never reach this operator); each band join shuffles on (band,
    value) with skew bounded by the most-populous bucket — constant
    images pile into one bucket the same way boilerplate grams pile
    into a posting list.  ``band_df_cap`` is that remedy made real
    (the ngram_jaccard_pairs_capped discipline): buckets holding more
    than the cap drop from CANDIDATE generation, so a million
    identical thumbnails cannot quadratically explode one partition.
    Recall trade, stated exactly: a pair is lost only if EVERY band
    the two hashes share is over the cap — near-identical floods (the
    thing the cap prunes) are precisely the pairs a dedup would
    collapse to one representative anyway, and exact-duplicate floods
    are cheaper handled by exact_dedup on the hash value first.
    Hamming filter runs BEFORE the pair distinct so the final shuffle
    carries qualifying pairs only.

    The exploded bands frame is persisted (both join sides read it, so
    an upstream decode pass runs once, not twice); with the default
    ``materialize=True`` the (qualifying-pairs-only, small) result is
    checkpointed eagerly and that cache released before returning
    (ADVICE r7 #3).  Pass ``materialize=False`` to compose lazily —
    the caller then owns the bands cache via
    ``spark.catalog.clearCache()`` after consumption.

    Returns (d1, d2, hamming) with d1 < d2, one row per pair."""
    from pyspark import StorageLevel

    from fiware_cosmos_orion_flink_connector_examples_spark.operators.caching import (
        eagerly,
    )

    if n_bands is None:
        n_bands = max_hamming + 2 if bits % (max_hamming + 2) == 0 else max_hamming + 1
    if n_bands < max_hamming + 1:
        # assert would vanish under -O, silently losing recall (a pair
        # differing in every band shares no bucket) — ADVICE r8 #2.
        raise ValueError(
            f"pigeonhole needs >= max_hamming+1 bands (got n_bands={n_bands}, "
            f"max_hamming={max_hamming})"
        )
    # keep the PERSISTED handle separate from any frame derived from
    # it: unpersist matches the cached plan by sameResult, so calling
    # it on the capped semi-join below would be a silent no-op and the
    # exploded-bands cache would outlive the session (review finding,
    # round 8).
    bands_p = band_explode(hashes, id_col, hash_col, bits, n_bands).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    bands = bands_p
    if band_df_cap is not None:
        cool = (
            bands_p.groupBy("band", "bv")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") <= band_df_cap)
            .select("band", "bv")
        )
        bands = bands_p.join(cool, ["band", "bv"], "left_semi")
    a = bands.select(F.col(id_col).alias("d1"), F.col("_h").alias("h1"), "band", "bv")
    b = bands.select(F.col(id_col).alias("d2"), F.col("_h").alias("h2"), "band", "bv")
    ham = F.bit_count(F.col("h1").bitwiseXOR(F.col("h2")))
    out = (
        a.join(b, ["band", "bv"])
        .filter(F.col("d1") < F.col("d2"))
        .select("d1", "d2", ham.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )
    return eagerly(out, bands_p) if materialize else out


# Measured regimes for pair-endpoint joins (tools/pair_join_crossover
# .py, now deleted, in git history; local[32], synthetic pair sets over
# a 400k-doc frame): the two
# plans are within noise up to ~100k pairs (0.61 vs 0.58 s at 100k)
# and shuffle pulls ahead once the pair set rivals the corpus (0.67 vs
# 1.12 s at 500k, 1.41 vs 12.4 s at 16M) — locally the corpus is small
# enough that its two doc-id exchanges are nearly free, so the timing
# crossover sits wherever |pairs| ≈ |corpus|.  At 100 TB the economics
# invert: the corpus exchanges the shuffle regime pays are the
# dominant cost, so broadcast is right whenever the pair set FITS —
# and the gate therefore bounds broadcast BYTES, not local wall-clock.
# 16M pairs ≈ 0.6 GB pairs + ~1 GB with attached sources, inside the
# 8 GB broadcast cap / typical driver heap with margin; above it the
# no-hint plan falls back to the always-works shuffle equi-joins.
BROADCAST_PAIR_MAX = 16_000_000


def gated_broadcast(
    df: DataFrame, row_max: int
) -> tuple[DataFrame, DataFrame, bool]:
    """SIZE-GATED broadcast hint (the attach_pair_sides discipline as
    a reusable primitive): persist ``df``, probe its row count with a
    bounded ``limit(max+1).count()``, and return it WITH the broadcast
    hint only below ``row_max`` — above, the unhinted frame joins via
    ordinary shuffle equi-joins that work at any size.  Use for any
    derived small-in-practice side (dup-doc-id sets, report frames)
    whose worst case is corpus-scale.  Returns (maybe_hinted, persisted
    handle, was_small); callers release the handle after materializing
    (``caching.eagerly``)."""
    from pyspark import StorageLevel

    p = df.persist(StorageLevel.MEMORY_AND_DISK)
    probe = min(row_max + 1, (1 << 31) - 1)
    small = p.limit(probe).count() <= row_max
    return (F.broadcast(p) if small else p), p, small


# Doc-ID SET broadcast bound: one long per row, so rows ≈ bytes/24 with
# object overhead — 32M ids ≈ 0.75 GB broadcast, safe under the 8 GB
# cap / typical executor heap.  A dirty crawl's dup-doc set is a large
# FRACTION of the corpus (30-50% is common at ≥0.8 jaccard), so unlike
# pair sets this side outgrows broadcast quickly at scale.
BROADCAST_IDSET_MAX = 32_000_000


def attach_pair_sides(
    pairs: DataFrame,
    s1: DataFrame,
    s2: DataFrame,
    broadcast_pair_max: int = BROADCAST_PAIR_MAX,
) -> tuple[DataFrame, DataFrame]:
    """Attach per-doc attributes to BOTH endpoints of a dup-pair set —
    the join behind every "which sources/shards/days duplicate each
    other" profile — with a SIZE-GATED strategy (VERDICT r6 #2 /
    r7 #1): dup-pair sets are usually tiny relative to the corpus
    (pairs, not documents), so both endpoint lookups broadcast the
    pair side onto the corpus scan and the corpus never shuffles.  But
    a ≥0.8-similarity crawl corpus can emit BILLIONS of pairs, where an
    unconditional broadcast dies on the driver or Spark's 8 GB
    broadcast cap — above ``broadcast_pair_max`` the explicit hints are
    dropped and the plan falls back to doc-id-keyed shuffle equi-joins
    (the ``connected_components`` crossover discipline: probe the size,
    pick the regime).

    The probe is one bounded ``limit(max+1).count()`` on the PERSISTED
    pair set, so the (possibly expensive) upstream pair detection runs
    once — the main plan reuses the cache.  Callers own the returned
    ``pairs_persisted`` handle: unpersist after materializing the
    result (``caching.eagerly`` does both in one call).

    ``s1`` must carry join column ``d1``, ``s2`` column ``d2``.
    Returns ``(joined, pairs_persisted)`` where ``joined`` =
    pairs ⋈ s1 ⋈ s2 with identical rows in either regime.
    """
    # the persist + clamped size probe is gated_broadcast — ONE home
    # for the idiom, not a second hand-maintained copy (review
    # finding, round 8)
    maybe_pairs, pairs_p, small = gated_broadcast(pairs, broadcast_pair_max)
    if small:
        joined = s2.join(F.broadcast(s1.join(maybe_pairs, "d1")), "d2")
    else:
        joined = s2.join(s1.join(maybe_pairs, "d1"), "d2")
    return joined, pairs_p


def connected_components(
    pairs: DataFrame, max_iters: int = 20, driver_pair_max: int = 1_000_000
) -> DataFrame:
    """Duplicate-cluster assignment: connected components over a
    near-dup pair graph via min-label propagation — cluster_id = the
    smallest doc id reachable from each doc.  The LLM-pipeline capstone
    step: after pair detection, keep ONE representative per component.

    Iteration cost discipline (the 100 TB part):
      * ``edges`` is persisted before the loop — the (possibly very
        expensive) upstream pair-detection plan executes exactly ONCE,
        not once per iteration.
      * ``labels`` is ``localCheckpoint``-ed (materialized, lineage
        truncated) every iteration — without this the plan deepens each
        round and iteration k re-executes all k-1 predecessors
        (O(k²) total work, the round-1 scale-killer).
        localCheckpoint is executor-local; on a real cluster with
        preemption use ``spark.sparkContext.setCheckpointDir`` +
        ``.checkpoint()`` for the reliable variant — same shape.
      * Fixpoint detection is a plain ``sum(label)`` aggregate:
        min-label propagation only ever lowers labels, so the sum is
        strictly monotone decreasing and "sum unchanged ⟺ converged"
        — one cheap scan of materialized data, no self-join diff.

    Each round does min-label propagation PLUS pointer jumping
    (label ← min(label, label-of-label)), so convergence is
    O(log diameter) rounds, not O(diameter): a 20-round cap covers any
    graph a dedup workload can produce (near-dup clusters converge in
    1-2 rounds; even a 10⁵-node chain needs ~17).  Without the jump,
    a chain longer than max_iters would silently return unconverged
    labels.  ``pairs`` needs columns d1, d2.  Returns
    (doc_id, cluster_id) for every doc appearing in a pair.

    Strategy auto-select (same bounded-driver discipline as quantizer
    training and the unigram literal path): dedup pair graphs are
    usually TINY relative to the corpus — pairs, not documents — so
    when the persisted edge list holds ≤ ``driver_pair_max`` pairs it
    is collected and solved with union-find (union-by-min + path
    compression, identical min-reachable-id labels) in one pass: the
    iterative path costs iterations × Spark's per-job floor, which
    dominates end-to-end time for small graphs.  Above the bound the
    distributed loop below runs unchanged; a pytest pins both paths to
    identical labels on the same graph.

    The default bound is MEASURED, not guessed (tools/cc_crossover.py,
    now deleted, in git history; local[32], random pair graphs over 4P
    docs): driver vs distributed
    wall-clock is 2.5 s vs 8.0 s at 50k pairs, 2.0 s vs 11.1 s at 200k,
    7.6 s vs 21.7 s at 800k — the crossover sits well above 10⁶ pairs,
    and a 10⁶-pair collect is ~16 MB / a ~2M-entry dict, far below any
    driver limit.  The distributed loop earns its keep only when the
    pair list itself is too big to collect (catastrophically duplicated
    corpora), exactly when it's the only option."""
    from pyspark import StorageLevel

    # persist the PAIR list, not the doubled edge list: the (possibly
    # very expensive) upstream pair-detection plan executes exactly once
    # — a union of two projections of an UNcached plan would run it
    # twice (measured 2.5 s vs 1.0 s at sf0.1)
    pairs_p = pairs.select("d1", "d2").persist(StorageLevel.MEMORY_AND_DISK)
    id_type = pairs.schema["d1"].dataType.simpleString()
    if pairs_p.limit(driver_pair_max + 1).count() <= driver_pair_max:
        parent: dict = {}

        def find(x):
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:  # path compression
                parent[x], x = root, parent[x]
            return root

        for r in pairs_p.collect():  # bounded by driver_pair_max
            a, b = r["d1"], r["d2"]
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:
                # union-by-min keeps every root the component MINIMUM,
                # matching the loop's min-label fixpoint exactly
                lo, hi = (ra, rb) if ra < rb else (rb, ra)
                parent[hi] = lo
        rows = [(x, find(x)) for x in parent]
        pairs_p.unpersist()
        return pairs.sparkSession.createDataFrame(
            rows, f"doc_id {id_type}, cluster_id {id_type}"
        )
    edges = (
        pairs_p.select(F.col("d1").alias("a"), F.col("d2").alias("b"))
        .unionByName(pairs_p.select(F.col("d2").alias("a"), F.col("d1").alias("b")))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    labels = (
        edges.select(F.col("a").alias("doc_id"))
        .distinct()
        .withColumn("label", F.col("doc_id"))
        .localCheckpoint()
    )
    prev_sum = labels.agg(F.sum("label")).first()[0]
    for _ in range(max_iters):
        nbr = (
            edges.join(labels, edges["b"] == labels["doc_id"])
            .groupBy("a")
            .agg(F.min("label").alias("nbr_label"))
        )
        # pointer jumping against the MATERIALIZED previous labels
        # (labels are doc ids, so every label value exists as a doc_id):
        # label ← min(label, neighbors' labels, label-of-label).  Both
        # joins read the checkpointed table, so the jump adds one cheap
        # join, not a recompute; distance to the component minimum
        # roughly halves per round ⇒ O(log diameter) rounds total.
        hop = labels.select(F.col("doc_id").alias("p"), F.col("label").alias("p_label"))
        jumped = (
            labels.join(hop, labels["label"] == hop["p"], "left")
            .select("doc_id", F.col("p_label").alias("jump_label"))
        )
        labels = (
            labels.join(nbr, labels["doc_id"] == nbr["a"], "left")
            .join(jumped, "doc_id", "left")
            .select(
                "doc_id",
                F.least(
                    F.col("label"),
                    F.coalesce(F.col("nbr_label"), F.col("label")),
                    F.coalesce(F.col("jump_label"), F.col("label")),
                ).alias("label"),
            )
            .localCheckpoint()
        )
        new_sum = labels.agg(F.sum("label")).first()[0]
        if new_sum == prev_sum:
            break
        prev_sum = new_sum
    edges.unpersist()
    pairs_p.unpersist()
    return labels.select("doc_id", F.col("label").alias("cluster_id"))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity of two array<double> columns as a strict
    left-to-right fold (bitwise-reproducible in DuckDB's
    list_dot_product over DOUBLE[])."""
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )
    na = F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda s, v: s + v))
    nb = F.sqrt(F.aggregate(F.transform(b, lambda x: x * x), F.lit(0.0), lambda s, v: s + v))
    return dot / (na * nb)


def l2_normalize(v: Column) -> Column:
    """x / |x| as one per-row pass.  Pair scorers normalize each vector
    ONCE before the join and then use the plain dot product — cosine()
    inside the pair loop recomputes both norms per PAIR (3× the fold
    work; quadratic in pair count).  DuckDB twin:
    ``list_transform(v, x -> x / sqrt(list_dot_product(v, v)))``.

    The norm must NOT be referenced inside the transform lambda: any
    outer expression used in a lambda body is inlined and re-evaluated
    per element (the measured element_at trap, SCALING.md) — the old
    form evaluated the 64-element norm aggregate 128× per row.  Binding
    it through array_repeat evaluates it per ROW, then zip_with divides
    element-wise; values are bit-identical (same x / norm divisions).
    Zero vector → divisor 1 → stays the zero vector (below any
    threshold), avoiding ANSI DIVIDE_BY_ZERO."""
    norm = F.sqrt(
        F.aggregate(F.transform(v, lambda x: x * x), F.lit(0.0), lambda s, x: s + x)
    )
    safe = F.when(norm == 0.0, F.lit(1.0)).otherwise(norm)
    return F.zip_with(v, F.array_repeat(safe, F.size(v)), lambda x, nr: x / nr)


def dot(a: Column, b: Column) -> Column:
    """Left-to-right dot-product fold (≙ DuckDB list_dot_product)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def dot_vectorized():
    """Arrow-vectorized pair dot product, BIT-IDENTICAL to the
    sequential fold: accumulate dimension-by-dimension across the batch
    (``acc += A[:,d] * B[:,d]``) — same left-to-right order per row as
    ``dot()``/DuckDB list_dot_product.  (A plain ``(A*B).sum(axis=1)``
    would use pairwise summation and drift in the low bits, breaking
    the oracle hash.)

    NOT used in embedding_dup_pairs: shipping two 64-dim arrays per
    pair through Arrow measured 30% SLOWER than the interpreted JVM
    fold at sf0.1 — reach for this only when per-pair compute is large
    relative to transfer (high-dim vectors, many pairs per input row)."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def pair_dot(a: pd.Series, b: pd.Series) -> pd.Series:
        if len(a) == 0:
            return pd.Series([], dtype="float64")
        A = np.asarray(a.tolist(), dtype="float64")
        B = np.asarray(b.tolist(), dtype="float64")
        acc = np.zeros(len(A), dtype="float64")
        for d in range(A.shape[1]):
            acc += A[:, d] * B[:, d]
        return pd.Series(acc)

    return pair_dot


def _sequential_normalize(M):
    """numpy L2-normalize with the JVM fold's exact summation order:
    per-dim sequential accumulation for the norm (NOT numpy's pairwise
    .sum()), zero norm → divisor 1.  Bit-identical to ``l2_normalize``
    and to the DuckDB oracle's list_transform/list_dot_product."""
    import numpy as np

    acc = np.zeros(len(M))
    for j in range(M.shape[1]):
        acc += M[:, j] * M[:, j]
    norms = np.sqrt(acc)
    norms[norms == 0.0] = 1.0
    return M / norms[:, None]


def _cell_scorer(threshold: float):
    """applyInPandas kernel: candidate (d1<d2, cos) pairs within one
    block, via per-dimension outer-product accumulation — the fold's
    left-to-right order, so raw scores are bit-identical to the
    interpreted JVM fold and DuckDB's list_dot_product.

    Emits RAW (unrounded) cosines filtered at ``threshold - 1e-6``; the
    caller applies ``F.round(cos, 6)`` and the exact threshold JVM-side.
    Rounding must NOT happen here: numpy rounds half-to-even while JVM
    F.round and DuckDB round() are half-up, so a midpoint double would
    break the cross-engine hash (ADVICE r4).  The 1e-6 slack is ≥ the
    half-ulp of 6-dp rounding, so every pair whose ROUNDED cosine can
    reach the threshold survives to the JVM filter."""
    import numpy as np
    import pandas as pd

    # keep every pair that could round up to >= threshold (half-ulp 5e-7)
    th_lo = float(threshold) - 1e-6

    def score_cell(pdf: pd.DataFrame) -> pd.DataFrame:
        G = np.asarray(pdf["v"].tolist(), dtype="float64")
        ids = pdf["d"].to_numpy()
        n = len(G)
        if n < 2:
            # empty frame dtypes follow the incoming id column so the
            # Arrow schema works for any id type, not just bigint
            empty = pd.Series([], dtype=pdf["d"].dtype)
            return pd.DataFrame(
                {"d1": empty, "d2": empty, "cos": pd.Series([], dtype="float64")}
            )
        S = np.zeros((n, n))
        for j in range(G.shape[1]):
            col = G[:, j]
            S += col[:, None] * col[None, :]
        iu = np.triu_indices(n, 1)
        cos = S[iu]
        a, b = ids[iu[0]], ids[iu[1]]
        lo, hi = np.minimum(a, b), np.maximum(a, b)
        m = cos >= th_lo
        return pd.DataFrame({"d1": lo[m], "d2": hi[m], "cos": cos[m]})

    return score_cell


def _round_filter_pairs(pairs: DataFrame, threshold: float) -> DataFrame:
    """JVM-side finisher for ``_cell_scorer`` output: round to 6 dp with
    Spark's half-up semantics (matching the DuckDB oracle) and apply the
    exact threshold.  One place so both blocked variants stay uniform."""
    return pairs.select(
        "d1", "d2", F.round(F.col("cos"), 6).alias("cos")
    ).filter(F.col("cos") >= threshold)


def embedding_dup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str = "label",
    threshold: float = 0.4,
) -> DataFrame:
    """Embedding-cosine near-dup: block on a pre-existing ``block_col``
    column, verify cosine within blocks.

    Same two-stage Arrow plan as the IVF variant (one mapInPandas
    normalize pass → groupBy(block) → vectorized cell scorer), sharing
    its bit-identical summation-order kernels — the former equi-join +
    interpreted-dot formulation measured 1.8 s at sf0.1 vs 0.6 s here
    with an unchanged oracle hash."""
    import pandas as pd

    blk_type = df.schema[block_col].dataType.simpleString()
    id_type = df.schema[id_col].dataType.simpleString()
    base = df.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("d"),
        F.col(block_col).alias("blk"),
        F.col(vec_col).cast("array<double>").alias("_vec"),
    )

    def norm_pass(it):
        import numpy as np

        for pdf in it:
            M = np.asarray(pdf["_vec"].tolist(), dtype="float64")
            if len(M) == 0:
                continue
            yield pd.DataFrame(
                {"d": pdf["d"], "blk": pdf["blk"], "v": list(_sequential_normalize(M))}
            )

    index = base.mapInPandas(norm_pass, f"d {id_type}, blk {blk_type}, v array<double>")
    pairs = index.groupBy("blk").applyInPandas(
        _cell_scorer(threshold), f"d1 {id_type}, d2 {id_type}, cos double"
    )
    return _round_filter_pairs(pairs, threshold)


def embedding_dup_pairs_ivf(
    df: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.4,
    nprobe: int = 2,
    cell_cap: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-dup blocked on a TRAINED IVF centroid id —
    the end-to-end 100 TB path: no pre-existing label column needed,
    the block key comes from ``similarity.kmeans_fit_sample`` (bounded
    driver-side training) and assignment is the Arrow-vectorized numpy
    matmul.  Quadratic only inside a centroid cell (~nprobe·n/k docs).

    Pairs straddling a centroid boundary are the recall risk of any
    blocking, so each vector is indexed under its ``nprobe`` nearest
    centroids (multi-assignment): a pair is found if ANY cell is
    shared, and duplicates from multi-cell co-residence are collapsed
    by the distinct.  Measured on the sf0.001 fixture at k=8: recall
    0.30 (nprobe=1) → 0.77 (nprobe=2) vs the brute-force truth set —
    and 0.08 for the pre-existing-label blocking it replaces; index
    size scales as nprobe·n.

    Physical plan (one Arrow pass + one shuffle, no pair join): a
    ``mapInPandas`` pass fuses probe assignment and normalization (one
    numpy matmul + a sequential per-dim norm accumulation that is
    bit-identical to the JVM fold), then ``groupBy(cell)`` shuffles the
    index ONCE and an ``applyInPandas`` scorer emits each cell's
    over-threshold pairs from a vectorized per-dim outer-product
    accumulation — again the fold's exact left-to-right summation, so
    results are byte-equal to the former equi-join + interpreted-dot
    formulation (equality asserted when this replaced it: 503/503 pairs
    at sf0.1, 3.07 s → 0.85 s).  Per-cell work is O(c²·d) vectorized
    with c ≈ nprobe·n/k held constant by adaptive k; the residual skew
    risk is a hot CELL (applyInPandas groups can't split — AQE skew
    handling does not apply inside a group).

    ``cell_cap`` bounds that risk (VERDICT r4 #4): cells larger than the
    cap are split into ``ceil(size/cap)`` sub-blocks ROUND-ROBIN by the
    row's rank within its cell (deterministic exact balance — a hash
    split only balances in expectation and its binomial tail breached
    the bound in testing), and every UNORDERED SUB-BLOCK PAIR (i ≤ j)
    becomes its own scorer group — a HARD guarantee that no Arrow group
    ever holds more than ``2·cell_cap`` vectors, while every within-cell
    pair is still scored (a pair from subs i,j co-resides in group
    (min,max); within-sub pairs appear in several groups and collapse in
    the existing ``distinct`` because the raw per-pair dot is
    bit-identical wherever computed).  Work inflates ≤2× over the
    unsplit quadratic for hot cells only; group memory becomes
    O(cell_cap·d) regardless of skew.  The split path persists the index
    (consumed by both the size-count and the scorer — at 100 TB you
    would checkpoint this n·nprobe-row index anyway) and pays one
    within-cell sort for the rank; with ``cell_cap=None`` the plan is
    byte-identical to round 4's."""
    import numpy as np
    import pandas as pd

    if not centroids:
        # training saw an empty corpus: exact single-block scoring —
        # identical (d1, d2, cos) contract, free on the empty corpus
        # that produced the empty quantizer
        return embedding_dup_pairs(
            df.withColumn("_all", F.lit(0)), id_col, vec_col, "_all", threshold
        ).distinct()
    id_type = df.schema[id_col].dataType.simpleString()
    C = np.asarray(centroids, dtype="float64")
    c_norms = (C * C).sum(axis=1)

    def fused_index(it):
        for pdf in it:
            M = np.asarray(pdf["_vec"].tolist(), dtype="float64")
            if len(M) == 0:
                continue
            d = -2.0 * (M @ C.T) + c_norms
            cells = np.argsort(d, axis=1, kind="stable")[:, :nprobe].astype("int32")
            yield pd.DataFrame(
                {
                    "d": pdf["_id"],
                    "cells": list(cells),
                    "v": list(_sequential_normalize(M)),
                }
            )

    base = df.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("_id"), F.col(vec_col).cast("array<double>").alias("_vec")
    )
    index = base.mapInPandas(
        fused_index, f"d {id_type}, cells array<int>, v array<double>"
    ).select("d", F.explode("cells").alias("blk"), "v")
    pair_schema = f"d1 {id_type}, d2 {id_type}, cos double"
    if cell_cap is None:
        pairs = index.groupBy("blk").applyInPandas(_cell_scorer(threshold), pair_schema)
    else:
        index = index.persist()
        sizes = index.groupBy("blk").agg(F.count(F.lit(1)).alias("_n"))
        w = Window.partitionBy("blk").orderBy("d")
        sub = (
            index.join(F.broadcast(sizes), "blk")
            .withColumn("_nsub", F.ceil(F.col("_n") / F.lit(int(cell_cap))).cast("int"))
            # round-robin on within-cell rank: bucket sizes differ by ≤1
            # and never exceed ceil(n/nsub) ≤ cell_cap — a hard bound
            .withColumn(
                "_sub", F.pmod(F.row_number().over(w) - 1, F.col("_nsub")).cast("int")
            )
        )
        # replicate each row to every sub-block pair it participates in
        rep = sub.select(
            "d",
            "v",
            "blk",
            "_sub",
            F.explode(F.sequence(F.lit(0), F.col("_nsub") - 1)).alias("_t"),
        ).select(
            "d",
            "v",
            "blk",
            F.least("_sub", "_t").alias("_g1"),
            F.greatest("_sub", "_t").alias("_g2"),
        )
        pairs = rep.groupBy("blk", "_g1", "_g2").applyInPandas(
            _cell_scorer(threshold), pair_schema
        )
    return _round_filter_pairs(pairs, threshold).distinct()


def shingle_rows(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    n: int = 8,
    distinct: bool = True,
    keep_pos: bool = False,
    token_re: str | None = None,
    hashed: bool = False,
) -> DataFrame:
    """Exploded word n-gram table (id, gram) built the codegen way:
    posexplode tokens → ``n-1`` window ``lead``s per doc → one
    ``concat_ws``.  Same gram set as ``shingles()``/explode, but every
    expression stays inside whole-stage codegen; the ``shingles()``
    zip_with chain evaluates interpreted and costs ~2.3× more at n=8
    (2.6 s vs 1.1 s on the sf0.1 corpus).  Prefer this form whenever
    the consumer wants gram ROWS (posting lists, joins); keep
    ``shingles()`` where a per-doc ARRAY is required (MinHash
    signatures, per-pair verify).

    Cost: one shuffle+sort on (id, pos) for the window — at 100 TB the
    token table partitions by doc and sorts within partitions only.
    ``distinct=False`` skips the per-doc dedup shuffle (enough for the
    build side of a semi-join, where duplicates are harmless).
    ``keep_pos=True`` retains the gram's 0-based start token position
    as ``_pos`` (occurrence rows, so it forces ``distinct=False``
    semantics) — the span-REMOVAL path needs it to know which tokens
    to cut.

    ``token_re`` overrides the ``\\S+`` whitespace tokenizer (e.g.
    ``text.BPE_RE`` for subword pre-tokens — the sub-word-fidelity
    span-dedup path); a learned-merge BPE segmenter would swap the
    posexplode stage for an Arrow tokenizer pass, leaving everything
    downstream unchanged.  ``hashed=True`` replaces the concat-string
    gram with a TOKEN-ID formulation: each token maps to an int64 id
    (``xxhash64``), the window ``lead``s ride the ids (8-byte sort
    keys instead of strings), and the gram key is one ``xxhash64``
    over the n ids — so every downstream posting-list shuffle carries
    a single int64 per gram instead of an n-token string, the
    token-id economics of Lee et al.'s suffix-array ExactSubstr.  Id
    assignment needs no vocab build or join: the hash IS the id.
    Gram equality is then 64-bit-fingerprint equality — collisions
    (expected ~|grams|²/2⁶⁵: ~3 false merges per 10¹⁰ distinct grams)
    can only over-CUT a span, the conservative direction for dedup."""
    toks = F.regexp_extract_all(
        F.col(text_col), F.lit(token_re if token_re is not None else TOKEN_RE), 0
    )
    ex = df.select(F.col(id_col), F.posexplode(toks).alias("_pos", "_tok"))
    w = Window.partitionBy(id_col).orderBy("_pos")
    tok0 = F.xxhash64("_tok") if hashed else F.col("_tok")
    parts = [tok0] + [F.lead(tok0, j).over(w) for j in range(1, n)]
    cols = [F.col(id_col)] + ([F.col("_pos")] if keep_pos else [])
    gram = F.xxhash64(*parts) if hashed else F.concat_ws(" ", *parts)
    g = ex.select(
        *cols,
        gram.alias("gram"),
        F.lead(tok0, n - 1).over(w).isNotNull().alias("_full"),
    ).filter(F.col("_full")).drop("_full")
    if keep_pos:
        return g
    return g.distinct() if distinct else g


def ngram_contamination(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str,
    text_col: str = "text",
    n: int = 8,
) -> DataFrame:
    """Train→eval contamination check: eval docs sharing at least one
    word ``n``-gram with ANY train doc, with the count of distinct
    shared grams.  The benchmark-decontamination primitive (the usual
    n is 8–13 whole-word grams).

    Shape: both sides shingle via the codegen'd ``shingle_rows`` path,
    and the eval side LEFT SEMI joins the raw (non-distinct) train
    gram rows — a semi-join ignores build-side duplicates, so the
    train side never pays a distinct aggregation; existence is the
    equi-join itself, never a quadratic doc×doc comparison.  At
    100 TB the train gram set is the natural candidate for a
    bloom-filter broadcast (build once, reuse across eval shards);
    the exact semi-join here IS the verify step.

    Returns (id_col, n_shared_grams), contaminated eval docs only.
    """
    tr = shingle_rows(train, id_col, text_col, n, distinct=False).select("gram")
    ev = shingle_rows(eval_df, id_col, text_col, n, distinct=True)
    # eval grams are distinct per doc → count(*) = distinct shared
    return ev.join(tr, "gram", "left_semi").groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_shared_grams")
    )


def repeated_span_report(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    n: int = 8,
) -> DataFrame:
    """Cross-document repeated-span report — the whole-word-gram
    approximation of suffix-array substring dedup (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"; their
    ExactSubstr removes any ≥50-token span that occurs verbatim
    elsewhere in the corpus).  Every positional word ``n``-gram
    occurrence is a DUPLICATE span iff the same gram occurs in any
    LOWER-id document — first-occurrence-wins, the same deterministic
    keep rule as exact_dedup.  Returns per-doc totals
    ``(id, n_spans, n_dup_spans, dup_frac)`` for every doc with at
    least one full span (≥ n tokens).

    Shape: positional gram OCCURRENCES via the codegen'd
    ``shingle_rows`` path (``distinct=False``), collapsed map-side to
    (gram, id, cnt); ``first_id`` is a frameless window ``min`` over
    each gram's posting list (never a join back onto raw occurrences —
    see the inline note), then a per-doc agg.  Never doc×doc; the
    gram table is computed exactly once.  Each shuffle carries strictly
    less than the one before (occurrence-pairs → posting rows → docs);
    boilerplate-gram skew is the posting-list df, bounded the same way
    as the Jaccard joins (df-cap pre-filter).  For remove-not-report,
    the same posting rows carry the span positions to cut
    (shingle_rows keeps ``_pos`` one select away).
    """
    # Single-pass formulation: an agg-then-join design (per-gram
    # min(id) map joined back onto the gram rows) consumes the gram
    # table TWICE — the two exchanges differ (partial-agg rows vs raw
    # grams) so Catalyst cannot reuse them, and persisting 10⁶-scale
    # exploded string rows costs more than recomputing them (measured:
    # join 1.51 s, join+persist 1.6 s, this 0.9 s at sf0.1).  Instead
    # collapse occurrences to (gram, id, cnt) — map-side partial
    # combine shrinks the first shuffle to per-map distinct pairs —
    # then first_id is a frameless window min over the gram posting
    # list.  Partition size = docs-per-gram (the df of the inverted
    # index), the same skew exposure as the Jaccard posting joins;
    # pathological boilerplate grams get the df-cap pre-filter
    # (ngram_jaccard_pairs_capped) before this operator.
    g = shingle_rows(df, id_col, text_col, n, distinct=False)
    gd = g.groupBy("gram", id_col).agg(F.count(F.lit(1)).alias("_cnt"))
    w = Window.partitionBy("gram")
    gd = gd.withColumn("_first", F.min(id_col).over(w))
    return (
        gd.groupBy(id_col)
        .agg(
            F.sum("_cnt").alias("n_spans"),
            F.sum(
                F.when(F.col("_first") < F.col(id_col), F.col("_cnt")).otherwise(
                    F.lit(0)
                )
            ).alias("n_dup_spans"),
        )
        .withColumn(
            "dup_frac",
            F.round(F.col("n_dup_spans").cast("double") / F.col("n_spans"), 4),
        )
    )


def remove_repeated_spans(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    n: int = 8,
    min_run: int | None = None,
    token_re: str | None = None,
    hashed_grams: bool = False,
) -> DataFrame:
    """Cross-document repeated-span REMOVAL — the cut-the-span half of
    ExactSubstr dedup (Lee et al. 2022 remove every ≥50-token span
    that occurs verbatim elsewhere; this is the whole-word n-gram
    approximation on the same first-occurrence-wins keep rule as
    ``repeated_span_report``): any token covered by a positional
    ``n``-gram whose gram also occurs in a LOWER-id document is cut;
    the surviving tokens are re-joined in position order.  The lowest
    -id holder of a gram keeps all its occurrences, so every corpus
    span survives in exactly its first document.

    Output (id, n_tokens, n_removed, text_clean) — one row per input
    doc, including docs fully covered (empty ``text_clean``) and docs
    shorter than ``n`` tokens (nothing removable).

    ``min_run`` is the ExactSubstr-faithful length gate (Lee et al.
    cut only spans of ≥50 tokens): when set, a covered token is cut
    only if it sits in a MAXIMAL consecutive covered run of at least
    ``min_run`` tokens — short incidental n-gram overlaps (idioms,
    citations) survive, long verbatim boilerplate goes.  Implemented
    as the gaps-and-islands trick on the covered-position rows
    (``pos - row_number()`` constant within a consecutive run, then a
    frameless per-island count) — one extra doc-keyed window over
    covered positions only, nothing corpus-scale.

    Shape — all equi-joins and aggs, never doc×doc:
      1. positional gram occurrences (``shingle_rows`` keep_pos path;
         window over (id, pos) sorts within doc partitions only);
      2. duplicate occurrences via frameless per-gram ``min(id)``
         window (posting-list partitions — the inverted-index df, the
         same skew bound as the Jaccard joins);
      3. covered token positions: explode each duplicate span into its
         ``n`` positions + distinct (overlap collapse) — row growth is
         n× DUPLICATE spans only, not n× corpus;
      4. surviving tokens by (id, pos) anti-join; per-doc re-assembly
         via ``sort_array(collect_list(struct(pos, tok)))`` — position
         order re-join, deterministic across partitionings;
      5. per-doc totals come from ``size(tokens)`` on the base scan
         (no explode), so zero-token docs still emit a row.
    Each shuffle after (2) carries only duplicate-span-scale rows; at
    100 TB the dominant costs are the two token-scale exchanges
    ((id, pos) window and anti-join), both partitioned by doc id.
    """
    # NULL text is dropped at the boundary (matching chunk_documents):
    # size(regexp_extract_all(NULL)) is -1/NULL depending on ANSI mode,
    # which would leak n_tokens=-1 rows (ADVICE r6)
    df = df.filter(F.col(text_col).isNotNull())
    g = shingle_rows(
        df, id_col, text_col, n, keep_pos=True,
        token_re=token_re, hashed=hashed_grams,
    )
    wg = Window.partitionBy("gram")
    dup = (
        g.withColumn("_first", F.min(id_col).over(wg))
        .filter(F.col("_first") < F.col(id_col))
        .select(id_col, "_pos")
    )
    return _cut_covered_tokens(df, id_col, text_col, dup, n, min_run, token_re)


def remove_repeated_spans_bpe(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    n: int = 8,
    min_run: int | None = None,
) -> DataFrame:
    """Sub-word-fidelity ExactSubstr span removal (VERDICT r7 #2):
    ``remove_repeated_spans`` over BPE PRE-TOKENS (letter runs, digit
    runs, single punctuation — ``text.BPE_RE``, the byte-pair
    pre-tokenization split) with int64 TOKEN-ID grams.

    Why it exists: Lee et al. 2022 deduplicate on BPE token-id
    sequences, where whitespace never forms a token — so reflowed or
    re-spaced boilerplate ("end.Start" vs "end. Start" vs
    "end .\\nStart") produces the SAME token stream and still gets
    cut.  The ``\\S+`` word-gram path glues punctuation to whichever
    word it touches, so any re-spacing around punctuation changes the
    grams and lets the span escape (the r7 gap; property-tested).

    n counts SUBWORD tokens, so the same ``n`` spans less text than
    the word path — callers wanting Lee et al.'s ≥50-token gate pass
    ``min_run=50`` over these subword positions, a faithful unit
    match.  ``text_clean`` re-joins surviving subword tokens with
    single spaces (a token-stream view, the unit this dedup operates
    in), and whitespace-reflowed duplicates of one span therefore
    clean to IDENTICAL text — the canonicalization is the point.

    Scale shape is the word path's (posting-window min over an
    inverted gram index, never doc×doc) with two deltas: ~1.3× more
    token rows (punctuation split off), and every gram key an int64
    fingerprint instead of an n-word string — the posting shuffle
    carries 8-byte keys, which at 100 TB more than pays for the extra
    rows.  See ``shingle_rows(hashed=True)`` for the collision
    arithmetic (over-cut only, ~3 per 10¹⁰ grams)."""
    from fiware_cosmos_orion_flink_connector_examples_spark.operators.text import BPE_RE

    return remove_repeated_spans(
        df, id_col, text_col, n, min_run, token_re=BPE_RE, hashed_grams=True
    )


def remove_intra_doc_repeats(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    n: int = 8,
    min_run: int | None = None,
) -> DataFrame:
    """WITHIN-document repetition removal: cut every token covered by a
    positional ``n``-gram whose gram already occurred EARLIER IN THE
    SAME DOCUMENT — the cleaning pass for self-repetitive docs (chat
    logs, scraped pages with repeated headers/footers, generation
    loops) that cross-doc span dedup deliberately exempts.  First
    occurrence within the doc survives; later occurrences go.

    Composes with the cross-doc pass: ``repeated_span_report``'s
    repetition target is the corpus, this one's is the doc — run this
    first so boilerplate repeated both within and across docs is
    counted once per doc by the cross-doc stage.

    Shape: the per-(id, gram) first position is a frameless window min
    PARTITIONED BY (id, gram) — the shuffle key includes the doc id,
    so partition width is occurrences-of-one-gram-in-one-doc (bounded
    by doc length, immune to corpus-wide boilerplate skew — strictly
    narrower than the cross-doc posting window), then the shared cut
    tail.  Output (id, n_tokens, n_removed, text_clean)."""
    # NULL text dropped at the boundary — see remove_repeated_spans
    df = df.filter(F.col(text_col).isNotNull())
    g = shingle_rows(df, id_col, text_col, n, keep_pos=True)
    wg = Window.partitionBy(id_col, "gram")
    dup = (
        g.withColumn("_first_pos", F.min("_pos").over(wg))
        .filter(F.col("_first_pos") < F.col("_pos"))
        .select(id_col, "_pos")
    )
    return _cut_covered_tokens(df, id_col, text_col, dup, n, min_run)


def remove_contaminated_spans(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str,
    text_col: str = "text",
    n: int = 8,
    min_run: int | None = None,
    token_re: str | None = None,
    hashed_grams: bool = False,
) -> DataFrame:
    """Span-level DECONTAMINATION: cut from each train doc every token
    covered by a positional ``n``-gram that occurs ANYWHERE in the
    eval corpus — the surgical alternative to
    ``ngram_contamination``'s drop-the-whole-doc flagging (a 5 000-
    token doc quoting one benchmark question keeps its other 4 990
    tokens).  Same keep rule direction as production decontamination:
    eval text must never survive into training data, so the cut side
    is train.

    Shape: train's positional gram occurrences LEFT SEMI join the raw
    (non-distinct) eval gram rows — the build side never pays a
    distinct agg, identical to ``ngram_contamination``'s join — then
    the shared ``_cut_covered_tokens`` tail (explode → optional
    ``min_run`` islands gate → anti-join → position-ordered
    re-assembly).  At 100 TB the eval side is benchmark-sized (MBs),
    so Catalyst broadcasts it and the train side never shuffles for
    the probe; the bloom-word variant of the build side
    (``ngram_contamination_bloom``) drops in unchanged if the eval
    gram set ever outgrows a broadcast.

    Output (id, n_tokens, n_removed, text_clean), one row per train
    doc."""
    # NULL text dropped at the boundary — see remove_repeated_spans.
    # token_re/hashed_grams mirror remove_repeated_spans: the BPE
    # subword + token-id-gram form closes the same reflow escape for
    # DECONTAMINATION (benchmark text re-spaced into training pages
    # must still be cut — registered as decontaminate_spans_bpe).
    train = train.filter(F.col(text_col).isNotNull())
    g = shingle_rows(
        train, id_col, text_col, n, keep_pos=True,
        token_re=token_re, hashed=hashed_grams,
    )
    dirty = shingle_rows(
        eval_df, id_col, text_col, n, distinct=False,
        token_re=token_re, hashed=hashed_grams,
    ).select("gram")
    dup = g.join(dirty, "gram", "left_semi").select(id_col, "_pos")
    return _cut_covered_tokens(train, id_col, text_col, dup, n, min_run, token_re)


def _cut_covered_tokens(
    df: DataFrame,
    id_col: str,
    text_col: str,
    dup: DataFrame,
    n: int,
    min_run: int | None,
    token_re: str | None = None,
) -> DataFrame:
    """Shared removal tail: ``dup`` holds (id, _pos) start positions of
    the spans to cut; expand to covered token positions, optionally
    gate to maximal runs >= min_run, anti-join the token table, and
    re-assemble surviving tokens in position order.

    Rejected design (measured r6): an array-only tail — per-doc
    ``collect_set`` of span starts joined onto the doc frame, then
    ``F.filter(tokens, t_i -> !exists(starts, s -> s<=i<=s+n-1))`` —
    is bit-identical and 1.4× faster at sf0.1 (1.50 vs 2.09 s: no
    token re-explode, no anti-join, no re-assembly shuffle).  But its
    per-doc cost is O(tokens × dup_starts): linear on lightly-
    contaminated docs, QUADRATIC on fully-duplicated ones — and
    whole-doc duplicates are precisely what span dedup exists to cut,
    so the cliff sits on the hot input.  This tail stays linear per
    token regardless of dup density (explode is n× dup spans, the
    anti-join and window are per-row), which is the property that
    survives 100 TB."""
    toks = F.regexp_extract_all(
        F.col(text_col), F.lit(token_re if token_re is not None else TOKEN_RE), 0
    )
    ex = df.select(F.col(id_col), F.posexplode(toks).alias("_pos", "_tok"))
    removed = dup.select(
        F.col(id_col),
        F.explode(
            F.sequence(F.col("_pos"), F.col("_pos") + F.lit(n - 1))
        ).alias("_pos"),
    ).distinct()
    if min_run is not None:
        # keep only positions inside maximal covered runs >= min_run:
        # pos - row_number() is constant exactly within a consecutive
        # run, and the frameless count over (id, run) is its length
        wrun = Window.partitionBy(id_col).orderBy("_pos")
        removed = (
            removed.withColumn(
                "_grp", F.col("_pos") - F.row_number().over(wrun)
            )
            .withColumn(
                "_run_len",
                F.count(F.lit(1)).over(Window.partitionBy(id_col, "_grp")),
            )
            .filter(F.col("_run_len") >= min_run)
            .select(id_col, "_pos")
        )
    kept = ex.join(removed, [id_col, "_pos"], "left_anti")
    cleaned = kept.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("_n_kept"),
        F.concat_ws(
            " ",
            F.transform(
                F.sort_array(F.collect_list(F.struct("_pos", "_tok"))),
                lambda s: s["_tok"],
            ),
        ).alias("text_clean"),
    )
    totals = df.select(F.col(id_col), F.size(toks).cast("long").alias("n_tokens"))
    return totals.join(cleaned, id_col, "left").select(
        id_col,
        "n_tokens",
        (F.col("n_tokens") - F.coalesce(F.col("_n_kept"), F.lit(0)))
        .cast("long")
        .alias("n_removed"),
        F.coalesce(F.col("text_clean"), F.lit("")).alias("text_clean"),
    )



# Bloom word arrays memoized per (session, corpus tag, hyperparams) —
# same discipline as _QUANTIZER_CACHE: the bloom is a TRAIN-corpus
# artifact, so repeated queries (and bench min-of-N repeats) must not
# re-pay the build scan.  Values are bits/64 int64s (128 KiB at 2^20).
_BLOOM_CACHE = _ModelLRU(cap=32)


def ngram_contamination_bloom(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str,
    text_col: str = "text",
    n: int = 8,
    bloom_bits: int = 1 << 20,
    bloom_hashes: int = 4,
    cache_key: tuple | None = None,
) -> DataFrame:
    """``ngram_contamination`` with the broadcast-bloom prune its
    docstring promises for 100 TB — now implemented, same exact output
    (bloom has no false negatives; survivors pass the exact semi-join
    verify, so false positives are filtered back out).

    Build (fully distributed, Spark-first): train grams hash to
    ``bloom_hashes`` bit positions via JVM ``xxhash64(gram, seed)``;
    positions fold into int64 WORDS with ``bit_or`` aggregation —
    partial aggregation does the heavy lifting executor-side and the
    driver collects at most ``bloom_bits/64`` (word, bits) rows
    (16 KiB-scale at the 2²⁰-bit default), never the gram set.
    ``cache_key`` memoizes the built words per (session, corpus) like
    the IVF/PQ quantizers — the bloom is a train-corpus artifact and
    re-paying its build scan per query would cost more than the exact
    join it replaces at small SF.

    Probe: eval grams compute the SAME JVM hash positions (no Python
    reimplementation of xxhash64 to drift) and look each word up
    through a LEFT broadcast join against the (word, bits) table — one
    tiny build-side per hash, whole-stage-codegen bit tests, ZERO
    Python in the plan (plan-shape-asserted).  Two probe designs were
    measured and rejected: a constant-folded 16k-long array literal is
    NOT folded by Catalyst (CreateArray re-evaluates per row — 2.3 s
    for 10k grams), and an Arrow UDF gets duplicated onto the TRAIN
    side by constraint propagation through the semi-join key, where
    every gram passes by construction (pure wasted Python work).

    The probe is a map-side filter dropping clean grams BEFORE the
    shuffle into the exact verify join, which is the whole economics:
    at 100 TB the eval shard's shuffle volume falls by the bloom's
    pass rate while the train side still builds its postings once.
    FP rate ≈ (1-e^(-kn/m))^k — size ``bloom_bits`` ≥ ~10× the
    distinct train-gram count for ~1% and the verify join stays tiny."""
    import numpy as np

    tr_grams = shingle_rows(train, id_col, text_col, n, distinct=False).select("gram")
    ev = shingle_rows(eval_df, id_col, text_col, n, distinct=True)

    def positions(gram_col):
        return [
            F.pmod(F.xxhash64(gram_col, F.lit(i)), F.lit(bloom_bits))
            for i in range(bloom_hashes)
        ]

    full_key = None
    words = None
    if cache_key is not None:
        full_key = (*cache_key, "bloom", n, bloom_bits, bloom_hashes, text_col, id_col)
        words = _BLOOM_CACHE.get(full_key)
    if words is None:
        words_agg = (
            tr_grams.select(F.explode(F.array(*positions(F.col("gram")))).alias("pos"))
            .groupBy((F.col("pos") / 64).cast("long").alias("word"))
            .agg(
                F.bit_or(
                    F.call_function(
                        "shiftleft", F.lit(1).cast("long"), (F.col("pos") % 64).cast("int")
                    )
                ).alias("bits")
            )
        )
        n_words = (bloom_bits + 63) // 64
        words = np.zeros(n_words, dtype="int64")
        for r in words_agg.collect():  # ≤ bloom_bits/64 rows by construction
            words[r["word"]] = r["bits"]
        if full_key is not None:
            _BLOOM_CACHE[full_key] = words

    candidates = bloom_probe_filter(ev, words, bloom_bits, bloom_hashes)
    # exact verify: only bloom-surviving grams reach the shuffle
    return candidates.join(tr_grams, "gram", "left_semi").groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_shared_grams")
    )


def bloom_probe_filter(
    df: DataFrame,
    words,
    bloom_bits: int = 1 << 20,
    bloom_hashes: int = 4,
    gram_col: str = "gram",
) -> DataFrame:
    """Apply the broadcast-join bloom membership test to ANY DataFrame
    with a ``gram_col`` — batch or STREAMING: each probe is a
    stream-static LEFT broadcast join against the tiny nonzero
    (word, bits) table plus a codegen'd bit test, both
    streaming-legal, so the SAME prune runs in a Structured Streaming
    ingest pipeline (stream/batch unification, pytest-pinned).
    ``words`` is the int64 word array from the build in
    ``ngram_contamination_bloom`` (or ``_BLOOM_CACHE``)."""
    import numpy as np

    W = np.asarray(words, dtype="int64")
    nz = np.flatnonzero(W)
    spark = df.sparkSession
    words_tbl = spark.createDataFrame(
        [(int(i), int(W[i])) for i in nz], "word long, bits long"
    )
    out = df
    for i in range(bloom_hashes):
        p = F.pmod(F.xxhash64(F.col(gram_col), F.lit(i)), F.lit(bloom_bits))
        wd = words_tbl.select(F.col("word").alias(f"_w{i}"), F.col("bits").alias(f"_b{i}"))
        out = (
            out.join(F.broadcast(wd), F.shiftright(p, 6) == F.col(f"_w{i}"), "left")
            .filter(
                F.call_function(
                    "shiftright",
                    F.coalesce(F.col(f"_b{i}"), F.lit(0).cast("long")),
                    (p % 64).cast("int"),
                ).bitwiseAND(F.lit(1))
                == 1
            )
            .drop(f"_w{i}", f"_b{i}")
        )
    return out


def remove_duplicate_lines(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
) -> DataFrame:
    """Corpus-wide duplicate-LINE removal — the hash-dedup first stage
    of CCNet (Wenzek et al. 2020 §3.1: every normalized paragraph is
    hashed and all copies beyond the corpus-first occurrence are
    dropped; it removes boilerplate — headers, cookie banners, nav
    bars — before any model-based stage).  Reference scope: the
    reference repo has no corpus operators; this is [ext] X2 mandated
    by BASELINE.json.

    Keep rule: a line occurrence survives iff its (id, pos) equals the
    corpus-wide minimum (id, pos) for that normalized line — i.e. only
    the FIRST occurrence anywhere survives, intra-doc repeats
    included.  Normalization here is trim(); whitespace-only lines are
    dropped entirely (CCNet normalizes harder — lowercase/digits —
    which composes by swapping the norm expression).

    Output: one row per input doc — (id, n_lines, n_removed,
    text_clean) where n_lines counts non-empty lines and text_clean
    re-joins survivors in position order with '\\n'.

    Shape — agg-then-join, NOT a per-line window (deliberately the
    opposite choice from remove_repeated_spans' posting window): the
    skew case here is the COMMON case — one cookie-banner line in
    millions of docs means one window partition holding millions of
    rows in a single task, while min(struct(id, pos)) is a
    partial-aggable agg, so the hot line collapses to one row per map
    task before the shuffle.  The join back on the line string is a
    plain equi-join AQE can skew-split.  Re-assembly is the
    sort_array(collect_list(struct(pos, line))) position-order fold
    (deterministic across partitionings); docs losing every line
    still emit a row via the left join from the base scan.  At scale,
    swap the join key for xxhash64(norm) to shrink the shuffle (64-bit
    collisions ≈ birthday(n_lines); CCNet ships the same tradeoff with
    SHA1-64) — kept as the exact string here so the DuckDB oracle is
    collision-free.
    """
    df = df.filter(F.col(text_col).isNotNull())
    kept = _line_first_occurrences(_line_occurrences(df, id_col, text_col), id_col)
    return _line_dedup_output(df, kept, id_col, text_col)


def _line_occurrences(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, pos, norm) rows: trimmed non-empty lines with position."""
    lines = df.select(
        id_col, F.posexplode(F.split(text_col, "\n")).alias("pos", "_raw")
    )
    return lines.select(
        id_col, "pos", F.trim(F.col("_raw")).alias("norm")
    ).filter(F.col("norm") != "")


def _line_first_occurrences(occ: DataFrame, id_col: str) -> DataFrame:
    """Keep rule shared by the full and incremental passes: an
    occurrence survives iff its (id, pos) equals the corpus-wide
    minimum for its normalized line — min(struct) is a partial-aggable
    AGG (the hot boilerplate line collapses map-side), the join back
    an AQE-skew-splittable equi-join."""
    firsts = occ.groupBy("norm").agg(
        F.min(F.struct(id_col, "pos")).alias("_first")
    )
    return occ.join(firsts, "norm").filter(
        (F.col(id_col) == F.col(f"_first.{id_col}"))
        & (F.col("pos") == F.col("_first.pos"))
    )


def _line_dedup_output(
    df: DataFrame, kept: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Position-order re-assembly + per-doc totals, shared by the full
    and incremental passes.  n_lines is row-local on the base scan (no
    explode), so docs with zero surviving (or zero non-empty) lines
    still emit a row."""
    clean = kept.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("_n_kept"),
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "norm"))),
                lambda s: s["norm"],
            ),
            "\n",
        ).alias("text_clean"),
    )
    tot = df.select(
        id_col,
        F.size(
            F.filter(
                F.transform(F.split(text_col, "\n"), F.trim),
                lambda l: l != "",
            )
        ).alias("n_lines"),
    )
    return tot.join(clean, id_col, "left").select(
        id_col,
        F.col("n_lines").cast("long").alias("n_lines"),
        (F.col("n_lines") - F.coalesce(F.col("_n_kept"), F.lit(0)))
        .cast("long")
        .alias("n_removed"),
        F.coalesce(F.col("text_clean"), F.lit("")).alias("text_clean"),
    )


def remove_duplicate_lines_incremental(
    new_docs: DataFrame,
    old_docs: DataFrame,
    id_col: str,
    text_col: str = "text",
) -> DataFrame:
    """Daily-ingest variant of ``remove_duplicate_lines`` — the
    production shape (the ``dedup_incremental_batch`` pattern at line
    granularity): yesterday's corpus is an IMMUTABLE line index, only
    the new batch streams against it.  A new doc's line occurrence
    survives iff the normalized line appears in NO old doc AND its
    (id, pos) is the minimum within the new batch — i.e. the new
    batch is deduplicated against history first, then within itself,
    which composes to exactly ``remove_duplicate_lines`` over
    (old ∪ new) from the new docs' point of view when old ids sort
    below new ids.

    Output: one row per NEW doc — (id, n_lines, n_removed,
    text_clean), same contract as the full pass.

    Shape: the old index collapses to DISTINCT norms (one agg —
    at re-ingest scale this is the stored index, not a recompute),
    the new batch's first-occurrence detection is the same
    partial-aggable min(struct) agg, and history filtering is one
    LEFT ANTI equi-join of new occurrences against the index —
    O(batch × df) postings work per ingest, never a corpus re-join.
    """
    new_docs = new_docs.filter(F.col(text_col).isNotNull())
    new_occ = _line_occurrences(new_docs, id_col, text_col)
    old_index = (
        _line_occurrences(
            old_docs.filter(F.col(text_col).isNotNull()), id_col, text_col
        )
        .select("norm")
        .distinct()
    )
    kept = _line_first_occurrences(new_occ, id_col).join(
        old_index, "norm", "left_anti"
    )
    return _line_dedup_output(new_docs, kept, id_col, text_col)


def semdedup_keep(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str = "label",
) -> DataFrame:
    """Semantic dedup representative selection — the SemDeDup keep rule
    (Abbas et al. 2023): cluster the embedding space, find near-dup
    pairs WITHIN clusters, and from every duplicate group keep the one
    member with the LOWEST cosine similarity to its cluster centroid
    (the most "edge-of-cluster" exemplar — the paper's choice, which
    preserves diversity where keep-random or keep-first would not).
    Reference scope: the reference repo has no corpus operators; this
    is [ext] X2/X3 mandated by BASELINE.json.

    ``pairs`` is the within-block near-dup pair set (``d1``/``d2``,
    e.g. from ``embedding_dup_pairs`` — label blocks here, the trained
    IVF variant at 100 TB).  Duplicate groups are the connected
    components of that graph (``connected_components`` — min-label
    union-find below the measured 1M-pair crossover, the distributed
    loop above it).

    Output: one row per non-null vector — (id, block, cluster_id,
    cos_centroid, is_kept) where cluster_id = the component minimum
    (own id for singletons), cos_centroid = round(dot(v̂, ĉ), 6) against
    the block centroid, and is_kept marks the per-component argmin of
    (cos_centroid, id).  Survivors of the dedup = rows with is_kept.

    Scale shape: the centroid is ONE posexplode + (block, dim) hash
    aggregate in exact integer micro-units (the embedding_label_centroids
    / _revenue_cents discipline — float summation is order-dependent
    across engines and partitionings, integers are not), re-assembled
    to an array and broadcast back (blocks × dims rows, corpus-size-
    independent).  Scoring is one map-only JVM fold pass (l2_normalize
    + dot — strict left-to-right, ≙ DuckDB list_dot_product).  The
    representative is a partial-aggable min(struct(cos, id)) agg +
    equi-join — the remove_duplicate_lines discipline, NOT a per-
    cluster window: a pathological million-member duplicate group
    collapses map-side instead of sorting in one task.
    """
    base = df.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("_id"),
        F.col(block_col).alias("_blk"),
        F.col(vec_col).cast("array<double>").alias("_v"),
    )
    ex = base.select("_blk", F.posexplode("_v").alias("_pos", "_x"))
    cent = ex.groupBy("_blk", "_pos").agg(
        F.sum(F.round(F.col("_x") * 1_000_000).cast("long")).alias("_sm"),
        F.count(F.lit(1)).alias("_n"),
    )
    # ordered re-assembly: sort_array over (pos, value) structs is the
    # deterministic array fold used by the line-dedup re-assembly
    cvec = cent.groupBy("_blk").agg(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("_pos").alias("p"),
                        (F.col("_sm").cast("double") / F.col("_n") / F.lit(1_000_000.0)).alias("c"),
                    )
                )
            ),
            lambda s: s["c"],
        ).alias("_cv")
    )
    scored = base.join(F.broadcast(cvec), "_blk").select(
        "_id",
        "_blk",
        F.round(dot(l2_normalize(F.col("_v")), l2_normalize(F.col("_cv"))), 6).alias(
            "cos_centroid"
        ),
    )
    comps = connected_components(pairs).select(
        F.col("doc_id").alias("_id"), F.col("cluster_id").alias("_comp")
    )
    lab = scored.join(comps, "_id", "left").withColumn(
        "cluster_id", F.coalesce(F.col("_comp"), F.col("_id"))
    )
    rep = lab.groupBy("cluster_id").agg(
        F.min(F.struct(F.col("cos_centroid").alias("c"), F.col("_id").alias("d"))).alias("_r")
    )
    return (
        lab.join(rep, "cluster_id")
        .select(
            F.col("_id").alias(id_col),
            F.col("_blk").alias(block_col),
            "cluster_id",
            "cos_centroid",
            (F.col("_id") == F.col("_r.d")).alias("is_kept"),
        )
    )


def minhash_contamination(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str,
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
    num_hashes: int = 24,
    rows_per_band: int = 2,
) -> DataFrame:
    """FUZZY benchmark decontamination — near-duplicate overlap between
    the train corpus and an eval/benchmark set via MinHash-LSH banding
    (the whole-word-8-gram `ngram_contamination` catches verbatim
    leaks; paraphrased or lightly-edited leaks need the jaccard radar).

    Asymmetric by construction (the ngram_jaccard_pairs_incremental
    discipline): the eval set is TINY relative to train, so its banded
    signature table broadcasts onto the streamed train bands — the
    train corpus is never self-joined, per-run cost is O(train bands ×
    eval band buckets), linear in train.

    The train side's signature aggregate deliberately does NOT carry
    shingle arrays (`keep_shingles=False`): materializing every train
    doc's shingle set through the agg is corpus-scale memory — the
    2M-doc smoke OOMed an 8g heap doing exactly that.  Instead, the
    verify step re-shingles ONLY the band-collision candidates
    (broadcast semi-join of the candidate id set back onto the corpus
    scan, then the per-row `shingles()` array builder — map-only):
    candidates are eval-driven and band-selective, orders of magnitude
    smaller than the corpus.  Eval-side arrays ride its (small)
    signature table as before.

    Returns (train_id, eval_id, jaccard) with jaccard ≥ threshold: the
    train docs to DROP before a release, with the benchmark doc they
    leak.  At threshold 0.8 with 12 bands × 2 rows banding recall is
    1-(1-0.64)^12 ≈ 0.999995, so the verified output equals the exact
    brute-force answer (the dedup_minhash_lsh oracle argument).
    """
    from pyspark import StorageLevel

    from fiware_cosmos_orion_flink_connector_examples_spark.operators.caching import (
        eagerly,
    )

    sig_tr = minhash_signatures(train, id_col, text_col, n, num_hashes)
    sig_ev = minhash_signatures(
        eval_df, id_col, text_col, n, num_hashes, keep_shingles=True
    ).persist(StorageLevel.MEMORY_AND_DISK)
    cands = (
        _minhash_bands(sig_tr, id_col, num_hashes, rows_per_band)
        .alias("a")
        .join(
            F.broadcast(_minhash_bands(sig_ev, id_col, num_hashes, rows_per_band)).alias("b"),
            ["band", "bh"],
        )
        .select(
            F.col(f"a.{id_col}").alias("train_id"),
            F.col(f"b.{id_col}").alias("eval_id"),
        )
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # verify: re-shingle ONLY candidate train docs (map-only array
    # build on a broadcast-semi-join-filtered scan), never the corpus
    cand_ids = cands.select(F.col("train_id").alias(id_col)).distinct()
    s1 = (
        train.join(F.broadcast(cand_ids), id_col, "left_semi")
        .select(
            F.col(id_col).alias("train_id"),
            shingles(text_col, n=n, distinct=True).alias("sh1"),
        )
    )
    s2 = sig_ev.select(F.col(id_col).alias("eval_id"), F.col("sh").alias("sh2"))
    inter = F.size(F.array_intersect("sh1", "sh2")).cast("double")
    union = (F.size("sh1") + F.size("sh2")).cast("double") - inter
    out = (
        cands.join(s1, "train_id")
        .join(F.broadcast(s2), "eval_id")
        .select(
            "train_id", "eval_id", F.round(inter / union, 6).alias("jaccard")
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return eagerly(out, sig_ev, cands)


def minhash_contamination_flagged(
    docs: DataFrame,
    eval_flag: Column,
    id_col: str,
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
    num_hashes: int = 24,
    rows_per_band: int = 2,
) -> DataFrame:
    """ONE-PASS ``minhash_contamination`` for the common case where the
    train and eval sides are row-disjoint SLICES OF ONE FRAME (split by
    ``eval_flag``): both sides' signatures come out of a single corpus
    tokenize+shingle+hash+agg pass — the two-frame API scans and
    shingles the corpus once PER SIDE, which at 100 TB is a full extra
    corpus pass just to slice off the (tiny) eval set.  Output is
    row-identical to ``minhash_contamination(docs.filter(~flag),
    docs.filter(flag), ...)`` — same seeded hash family, same banding,
    same exact-jaccard verify (pytest-pinned).

    The eval side's verify shingle sets ride the SAME aggregate via
    ``collect_set(when(flag, s))`` — nulls are skipped, so train rows
    buffer nothing (preserving the keep_shingles=False memory contract
    the two-frame path documents).  The signature table (doc-scale,
    ``num_hashes`` longs per doc) persists once and serves banding for
    both sides."""
    import random

    from pyspark import StorageLevel

    from fiware_cosmos_orion_flink_connector_examples_spark.operators.caching import (
        eagerly,
    )

    base = docs.select(
        F.col(id_col), F.col(text_col), eval_flag.alias("_ev")
    ).filter(F.col(text_col).isNotNull())
    sh = base.select(
        F.col(id_col),
        F.col("_ev"),
        shingles(text_col, n=n, distinct=True).alias("sh"),
    ).filter(F.size("sh") > 0)
    ex = sh.select(F.col(id_col), "_ev", F.explode("sh").alias("s"))
    rng = random.Random(0)
    coeffs = [
        (rng.randrange(1, _P31), rng.randrange(0, _P31))
        for _ in range(num_hashes)
    ]
    hbase = F.pmod(F.xxhash64(F.col("s")), F.lit(_P31))
    hashed = ex.select(
        F.col(id_col),
        F.col("_ev"),
        F.col("s"),
        *[
            F.pmod(F.lit(a) * hbase + F.lit(b), F.lit(_P31)).alias(f"h{j}")
            for j, (a, b) in enumerate(coeffs)
        ],
    )
    sig = (
        hashed.groupBy(id_col)
        .agg(
            F.max("_ev").alias("_ev"),
            *[F.min(f"h{j}").alias(f"h{j}") for j in range(num_hashes)],
            F.collect_set(F.when(F.col("_ev"), F.col("s"))).alias("sh"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    sig_tr = sig.filter(~F.col("_ev"))
    sig_ev = sig.filter(F.col("_ev"))
    cands = (
        _minhash_bands(sig_tr, id_col, num_hashes, rows_per_band)
        .alias("a")
        .join(
            F.broadcast(
                _minhash_bands(sig_ev, id_col, num_hashes, rows_per_band)
            ).alias("b"),
            ["band", "bh"],
        )
        .select(
            F.col(f"a.{id_col}").alias("train_id"),
            F.col(f"b.{id_col}").alias("eval_id"),
        )
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # verify: re-shingle ONLY candidate train docs (map-only array
    # build on a broadcast-semi-join-filtered scan), never the corpus
    cand_ids = cands.select(F.col("train_id").alias(id_col)).distinct()
    s1 = (
        docs.filter(~eval_flag)
        .join(F.broadcast(cand_ids), id_col, "left_semi")
        .select(
            F.col(id_col).alias("train_id"),
            shingles(text_col, n=n, distinct=True).alias("sh1"),
        )
    )
    s2 = sig_ev.select(F.col(id_col).alias("eval_id"), F.col("sh").alias("sh2"))
    inter = F.size(F.array_intersect("sh1", "sh2")).cast("double")
    union = (F.size("sh1") + F.size("sh2")).cast("double") - inter
    out = (
        cands.join(s1, "train_id")
        .join(F.broadcast(s2), "eval_id")
        .select(
            "train_id", "eval_id", F.round(inter / union, 6).alias("jaccard")
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return eagerly(out, sig, cands)
