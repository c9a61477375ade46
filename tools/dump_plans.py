"""Regenerate PLANS.md: the formatted physical plan of each headline
query at sf0.01 — reviewable evidence that pushdown/broadcast/top-k
shapes hold.  Run: python tools/dump_plans.py

With query names, write each one's plan to DIR/<query>.txt instead
(SPARK_GRAFT_SF_DIR, default sf0.01); a before/after pair is one run on
each checkout:  python tools/dump_plans.py --out DIR q1 q2 ..."""

from __future__ import annotations

import argparse
import os
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from fiware_cosmos_orion_flink_connector_examples_spark.plans.registry import QUERIES
from fiware_cosmos_orion_flink_connector_examples_spark.session import get_spark

HEADLINE = [
    "ngsi_window_min",
    "tpch_q1_pricing_summary",
    "tpch_q3_shipping_priority",
    "tpch_q5_region_revenue",
    "filter_projection_pushdown",
    "topk_orders_by_price",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "ann_topk_bruteforce",
    "events_sessionize",
    "tpch_q8_market_share",
    "tpch_q19_discounted_revenue",
    "dedup_ngram_jaccard_capped",
    "events_asof_latest_order",
    "events_range_pairs",
    "window_lag_order_gaps",
    "window_running_revenue",
    "tfidf_top_terms",
    "decontaminate_eval_8gram",
    "embedding_quantize_int8",
    "events_latest_per_user",
    "window_trailing_revenue",
    "stats_exact_moments",
    "text_repetition_topk",
    # round 5 additions
    "decontaminate_bloom_8gram",
    "ann_topk_pq_batch",
    "multimodal_decode_real",
    "span_dedup_repeated_8gram",
    "events_funnel_conversion",
    "outliers_mad_by_type",
    "embedding_dim_stats",
    "quality_filter_funnel",
    "source_unigram_kl",
    "sample_token_budget",
    "events_type_islands",
    # round 6 additions
    "span_dedup_removed",
    "corpus_prep_pipeline",
    "decontaminate_spans_8gram",
    "span_dedup_intra_doc",
    "events_resample_locf",
    "events_transition_matrix",
    "ann_topk_mmr",
    "dup_matrix_by_source",
    "events_user_trend",
    "bpe_pair_stats",
    "embedding_covariance",
    "quality_decile_counts",
    "events_dau_wau",
    "events_cep_signup_purchase",
    "events_user_360",
    # round 7-8 additions
    "dedup_image_phash",
    "span_dedup_removed_bpe",
    "crossmodal_doc_profile",
    "dedup_audio_fingerprint",
    "quality_nb_classifier",
    "sample_temperature_mixture",
    "corpus_curate_nb",
    "text_bigram_logprob",
    "doc_chunks",
    # round 9 additions
    "text_bigram_logprob_kn",
    "text_trigram_logprob_kn",
    "quality_nb_classifier_bigram",
    "corpus_curate_ccnet",
    "sample_dsir",
    "audio_banding_exact_bounded",
    "ann_pq_paths_bit_equal",
    "hll_merge_equals_oneshot",
    "text_gopher_rules",
    "text_gopher_repetition",
    "text_c4_rules",
    "line_dedup_removed",
    "ann_hard_negatives",
    "ivf_dedup_recall_bounded",
    "corpus_curate_rules",
    "line_dedup_incremental",
    "rules_pass_rates",
    "bm25_topk",
    "hybrid_rrf_topk",
    "heavy_hitters_cms",
    "cms_merge_equals_oneshot",
    "events_decayed_engagement",
    "quantile_histogram_sketch",
    "phrase_match_topk",
    "hybrid_rrf_served_topk",
    "retrieval_mrr_ndcg",
    "dedup_semantic_semdedup",
    "decontaminate_fuzzy_minhash",
    "curriculum_shard_order",
    "corpus_release_pipeline",
]

SF = "/root/testdata/sf0.01"


def _formatted(spark, df) -> str:
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    ).rstrip()


def dump_named(spark, out_dir: Path, names: list[str]) -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", SF)
    out_dir.mkdir(parents=True, exist_ok=True)
    for name in names:
        try:
            plan = _formatted(spark, QUERIES[name].fn(spark, sf_dir))
        except Exception as exc:  # noqa: BLE001 — report and continue
            print(f"FAILED {name}: {exc}", flush=True)
            continue
        (out_dir / f"{name}.txt").write_text(f"# {name}, sf_dir={sf_dir}\n{plan}\n")
        print(f"wrote {out_dir / name}.txt", flush=True)


def dump_headline(spark) -> None:
    out = [
        "# PLANS — formatted physical plans of headline queries (sf0.01)",
        "",
        "Generated by `python tools/dump_plans.py`; regenerate after plan-affecting",
        "changes.  What to look for: `PushedFilters`/`ReadSchema` on scans,",
        "`BroadcastHashJoin` on dimension joins, `TakeOrderedAndProject` for top-k,",
        "paired `HashAggregate`s (partial+final) around each `Exchange`.",
        "",
    ]
    for name in HEADLINE:
        plan = _formatted(spark, QUERIES[name].fn(spark, SF))
        out += [f"## {name}", "", "```", plan, "```", ""]
    (REPO / "PLANS.md").write_text("\n".join(out))
    print(f"wrote PLANS.md ({len(HEADLINE)} plans)")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--out", type=Path, help="directory for DIR/<query>.txt")
    ap.add_argument("queries", nargs="*")
    args = ap.parse_args()
    if args.queries and args.out is None:
        ap.error("named queries need --out DIR")
    spark = get_spark(app_name="dump-plans", cpus=8)
    spark.sparkContext.setLogLevel("ERROR")
    if args.queries:
        dump_named(spark, args.out, args.queries)
    else:
        dump_headline(spark)
    spark.stop()


if __name__ == "__main__":
    main()
