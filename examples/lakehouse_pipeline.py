"""The STORAGE/serving flow end to end — what the round-12 snapshot
tier composes into (no reference analog; engine-native):

  documents → keyed snapshot table (atomic manifest commits) →
  streaming micro-batch UPSERTs (exactly-once MERGE sink, replayed
  batch is a no-op) → per-commit CDC feed → **exactly-once CDC-driven
  index sync** (search_index_sync: the changed docs merge into EVERY
  sub-table of a VERSIONED BM25+phrase index and publish as ONE atomic
  index root whose txn watermark is the source-table version consumed
  — a replayed span is a no-op, served results equal a from-scratch
  rebuild of the final corpus) → file+metadata compaction → time
  travel → vacuum.

The CDC→index-sync step is the composition the two pillars exist for:
a lake table is the system of record, the serving indexes follow it
incrementally (O(changed docs) per sync, never a corpus rescan), the
root publish makes the multi-table index update atomic (round 14; a
reader can never see postings scored against a stale doclen), and
the equality check at the end proves no drift.

Run: python examples/lakehouse_pipeline.py [--sf-dir /root/testdata/sf0.001]
"""

from __future__ import annotations

import argparse
import sys
import tempfile
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))



def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    args = ap.parse_args()

    from fiware_cosmos_orion_flink_connector_examples_spark.operators import text
    from fiware_cosmos_orion_flink_connector_examples_spark.session import get_spark
    from fiware_cosmos_orion_flink_connector_examples_spark.sources import layout
    from fiware_cosmos_orion_flink_connector_examples_spark.sources.tables import (
        load_table,
    )

    spark = get_spark(app_name="lakehouse-pipeline")
    spark.sparkContext.setLogLevel("ERROR")
    docs = load_table(spark, args.sf_dir, "documents").select("doc_id", "text")

    with tempfile.TemporaryDirectory() as tmp:
        table = f"{tmp}/docs_table"
        idx = f"{tmp}/search_idx"
        cursor = f"{tmp}/cdc_cursor"

        # 1. system of record: the first 80% of the corpus as a keyed
        #    snapshot table, and the VERSIONED combined search index
        #    (BM25 + phrase sub-tables under one atomic root) from it
        head = docs.filter("doc_id % 5 != 0")
        v1 = layout.snapshot_write_keyed(spark, head, table, "doc_id", n_buckets=8)
        text.search_index_write(head, idx, n_buckets=4)
        print(f"v{v1}: snapshot table + versioned index over {head.count()} docs")

        # 2. streaming UPSERTs: two micro-batches through the
        #    exactly-once MERGE sink — new docs arrive, one doc is
        #    edited; a replayed batch id is a no-op
        sink = layout.snapshot_merge_stream(table, "doc_id", "ingest-app")
        batch0 = docs.filter("doc_id % 5 = 0 AND doc_id % 10 != 5")
        edited = spark.createDataFrame(
            [(3, "hash join hash join edited doc")], "doc_id long, text string"
        )
        batch1 = docs.filter("doc_id % 10 = 5").unionByName(edited)
        sink(batch0, 0)
        sink(batch1, 1)
        sink(batch1, 1)  # redelivery: exactly-once makes this a no-op
        latest = layout.snapshot_latest_version(spark, table)
        print(f"v{latest}: {layout.snapshot_read(spark, table).count()} docs "
              "after 2 micro-batch UPSERTs (+1 replay, absorbed)")

        # 3. exactly-once CDC index sync: one call tails the feed,
        #    applies the span's net changes to every index sub-table,
        #    and publishes ONE root carrying the consumed source
        #    version as its txn watermark; replaying the same span
        #    (crashed consumer whose cursor never advanced) is a no-op
        root_v, cur = text.search_index_sync(spark, table, idx, cursor_path=cursor)
        replay_v, _ = text.search_index_sync(spark, table, idx, cursor=0)
        assert replay_v == root_v, "replayed span must be a no-op"
        root = layout.index_root_resolve(spark, idx)
        print(f"CDC sync: index root v{root_v} (txn watermark "
              f"{root['txn']['cdc-index-sync']} = table v{cur}); "
              "replayed span absorbed")

        # 4. no-drift proof: served phrase counts off the synced index
        #    equal a from-scratch index of the table's CURRENT content
        rebuilt = f"{tmp}/rebuilt_idx"
        current = layout.snapshot_read(spark, table)
        text.search_index_write(current, rebuilt, n_buckets=4)
        synced = {
            (r["doc_id"], r["n_occurrences"])
            for r in text.phrase_count_from_index(spark, idx, ["hash", "join"]).collect()
        }
        scratch = {
            (r["doc_id"], r["n_occurrences"])
            for r in text.phrase_count_from_index(
                spark, rebuilt, ["hash", "join"]
            ).collect()
        }
        assert synced == scratch and (3, 2) in synced, "index drift!"
        print(f"no-drift proof: {len(synced)} phrase-matching docs identical "
              "between CDC-synced and rebuilt indexes")

        # 5. incremental aggregate view (round 14): a count/sum GROUP BY
        #    view follows the SAME commit log — synced in O(changed
        #    rows) via CDC post-images + update pre-images, never a
        #    recompute; its watermark is the consumed table version
        from fiware_cosmos_orion_flink_connector_examples_spark.operators import ivm
        from pyspark.sql import functions as F

        view = f"{tmp}/len_by_bucket_view"
        lens = f"{tmp}/docs_lens"
        base_len = layout.snapshot_read(spark, table, v1).select(
            "doc_id",
            (F.col("doc_id") % 3).alias("g"),
            F.length("text").cast("long").alias("chars"),
        )
        layout.snapshot_write_keyed(spark, base_len, lens, "doc_id", n_buckets=4)
        ivm.agg_view_create(spark, lens, view, ["g"], ["chars"])
        delta = layout.snapshot_read(spark, table).select(
            "doc_id",
            (F.col("doc_id") % 3).alias("g"),
            F.length("text").cast("long").alias("chars"),
        ).subtract(base_len)
        layout.snapshot_merge(spark, lens, delta, "doc_id")
        ivm.agg_view_sync(spark, lens, view, ["g"], ["chars"])
        expect = {
            (r["g"], r["n"], r["s"])
            for r in layout.snapshot_read(spark, lens)
            .groupBy("g")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("chars").alias("s"))
            .collect()
        }
        got = {
            (r["g"], r["_n"], r["sum_chars"])
            for r in ivm.agg_view_read(spark, view).collect()
        }
        assert got == expect, "view drift!"
        print(f"incremental view: {len(got)} groups follow the commit log, "
              "view == recompute")

        # 6. maintenance: compact data+metadata (z-order the lens table
        #    on its two query dimensions), time-travel, vacuum, and a
        #    bloom-pruned point lookup on the compacted table
        layout.compact_files(spark, table)
        layout.compact_files(
            spark, lens, zorder_by=["g", "chars"], bloom_cols=["doc_id"],
            max_records_per_file=256,
        )
        _, n_read, n_total = layout.snapshot_point_lookup(spark, lens, "doc_id", 3)
        assert layout.snapshot_read(spark, table, v1).count() == head.count()
        out = layout.vacuum_snapshots(spark, table, keep_last=2)
        print(f"maintenance: compacted (+zorder/bloom on lens: point lookup "
              f"read {n_read}/{n_total} files); vacuum reclaimed "
              f"{out['deleted_files']} files / {out['deleted_segments']} segments; "
              f"final table still {layout.snapshot_read(spark, table).count()} docs")

        # 7. PIPELINE-ATOMIC upgrade: steps 2-5 above are
        #    each exactly-once but commit independently — a reader
        #    between them sees a fresh source with a stale view.  The
        #    catalog root closes that window: source merge + view sync
        #    + index sync publish as ONE rename; a crash before the
        #    publish leaves the previous coherent root serving, and
        #    the retry completes the same batch.
        from fiware_cosmos_orion_flink_connector_examples_spark.operators import (
            pipeline,
        )

        cat = f"{tmp}/catalog"
        pdocs = docs.select(
            "doc_id", "text", (F.col("doc_id") % 3).alias("g"),
            F.length("text").cast("long").alias("chars"),
        )
        plegs = [
            pipeline.source_leg(
                "source", f"{tmp}/p_src", "doc_id", n_buckets=4,
                txn_app="pipeline-src",
            ),
            pipeline.agg_view_leg(
                "view", f"{tmp}/p_view", "source", ["g"], ["chars"],
                txn_app="pipeline-view",
            ),
            pipeline.search_index_leg(
                "search", f"{tmp}/p_idx", "source", n_buckets=4,
                txn_app="pipeline-idx",
            ),
        ]
        pipeline.pipeline_create_legs(spark, cat, plegs, {"source": pdocs})
        batch = spark.createDataFrame(
            [(3, "hash join rewritten again", 0, 25, False)],
            "doc_id long, text string, g long, chars long, _del boolean",
        )
        try:
            pipeline.pipeline_apply_legs(
                spark, cat, plegs, {"source": batch}, 1,
                _crash_before_publish=True,
            )
        except RuntimeError:
            pass  # crashed mid-pipeline: sub-commits dangle, root serves v1
        assert layout.catalog_resolve(spark, cat)["version"] == 1
        v = pipeline.pipeline_apply_legs(spark, cat, plegs, {"source": batch}, 1)
        res = layout.catalog_resolve(spark, cat)
        print(f"pipeline-atomic: crash left catalog v1 serving the old "
              f"coherent pipeline; retry published v{v} pinning source "
              f"v{res['tables']['source']['version']} + view "
              f"v{res['tables']['view']['version']} + index root "
              f"v{res['tables']['search']['version']} in ONE rename")

        # 8. DECLARATIVE member sets (round 16): the pipeline is a leg
        #    list — here facts + dims sources, a join view grouped by
        #    the dimension attribute, and a view-over-view CASCADE
        #    (a second join view reading the FIRST view as its fact
        #    side) — all advanced and published as one root per batch.
        legs = [
            pipeline.source_leg("facts", f"{tmp}/l_facts", "doc_id"),
            pipeline.source_leg("dims", f"{tmp}/l_dims", "g"),
            pipeline.join_view_leg(
                "by_label", f"{tmp}/l_by_label", "facts", "dims", "g",
                ["label"], ["chars"],
            ),
            pipeline.agg_view_leg(
                "per_g", f"{tmp}/l_per_g", "facts", ["g"], ["chars"],
            ),
            pipeline.join_view_leg(
                "cascade", f"{tmp}/l_cascade", "per_g", "dims", "g",
                ["label"], ["sum_chars"],
            ),
        ]
        dims = spark.createDataFrame(
            [(0, "even"), (1, "one"), (2, "two")], "g long, label string"
        )
        cat2 = f"{tmp}/catalog2"
        pipeline.pipeline_create_legs(
            spark, cat2, legs, {"facts": pdocs, "dims": dims}
        )
        pipeline.pipeline_apply_legs(
            spark, cat2, legs,
            {
                "facts": batch,
                "dims": spark.createDataFrame(
                    [(2, "deux", False)], "g long, label string, _del boolean"
                ),
            },
            batch_id=1,
        )
        res2 = layout.catalog_resolve(spark, cat2)
        labels = {
            r["label"]: r["sum_chars"]
            for r in layout.snapshot_read(
                spark,
                res2["tables"]["by_label"]["path"],
                res2["tables"]["by_label"]["version"],
            ).collect()
        }
        print(f"declarative legs: catalog v{res2['version']} pins "
              f"{len(res2['tables'])} members; join view by label = {labels} "
              f"(cascade view synced parent-first in the same publish)")

    print("lakehouse pipeline OK")


if __name__ == "__main__":
    main()
