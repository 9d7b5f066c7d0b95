#!/usr/bin/env python
"""Regenerate PLANS.md: formatted physical plans of the flagship and the
plan-shape-critical queries, with the properties each plan must exhibit.
Run after changing any operator: python scripts/dump_plans.py
"""

from __future__ import annotations

import sys

REPO = __file__.rsplit("/scripts/", 1)[0]
sys.path.insert(0, REPO)

SHOW = [
    ("extract_pipeline",
     "single narrow MapInArrow pipeline; only Exchange = input-spread repartition below the kernel"),
    ("filter_project",
     "PushedFilters on l_shipdate/l_discount reach the parquet scan; ReadSchema pruned to 4 columns"),
    ("broadcast_dim_join",
     "BroadcastHashJoin for both dims; no SortMergeJoin"),
    ("topk_vocab",
     "TakeOrderedAndProject instead of a global sort; two-phase hash count"),
    ("rollup_stats",
     "expand + two-phase HashAggregate for the grouping sets"),
    ("dedup_minhash_lsh",
     "signatures are in-array per-doc minima (no explode->groupBy exchange); pairs from ONE equality self-join on (band, band_hash) with a.doc_id < b.doc_id (the oracle's shape; no id list collected per bucket); no cross join"),
    ("dedup_corpus_keep",
     "verification Jaccard computed on LSH candidates only — candidates BROADCAST into per-pair array_intersect over the persisted doc-array relation (r7: no corpus-wide exploded-shingle join); exact losers from ONE digest aggregation (no join-back); every join equality-keyed (hash/broadcast); no CartesianProduct, no BroadcastNestedLoop, no rangepartitioning (global sort), no GlobalLimit"),
    ("extract_host_metrics",
     "two exchange phases: (host, _salt) partial then host final — the skew-salting contract"),
    ("decontaminate",
     "benchmark shingle set BROADCAST (BroadcastHashJoin); the 100-TB training side never shuffles for the membership probe"),
    ("lm_unigram_score",
     "tf join is an equality shuffle on the token (SortMergeJoin/ShuffledHashJoin) — no vocabulary broadcast, no cross join"),
    ("asof_join",
     "union + single hashpartitioning exchange on user_id for the ordered window — no range join, no BroadcastNestedLoop"),
    ("line_dedup",
     "doc-level line-array base persisted (InMemoryTableScan feeds hot-set agg and reassembly); hot-line marking = BroadcastHashJoin -> covered-position rollup (scales with contaminated docs); reassembly is in-array row math — NO corpus-wide collect_list exchange"),
    ("containment_pairs",
     "shingle-equality blocking with df cap; asymmetric scores from the candidate-only intersection — no CartesianProduct, no all-pairs"),
    ("winnow_matches",
     "fingerprint selection inside the Arrow kernel (per-doc dedup + carried set sizes: no global distinct, no sizes rejoin); pair generation is ONE groupBy(fp_hash) posting-list aggregation with the df cap folded in (r7: no hot-set rollup, no self-join, no persist) — no global window, no nested-loop join"),
    ("winnow_fingerprints_np",
     "ZERO-shuffle kernel form: one input-spread Exchange below MapInPandas, NO HashAggregate — selection happens in NumPy per document"),
    ("passage_retrieval",
     "per-chunk vectors + norms are in-array row math (r7: no explode->groupBy embed exchange, no norm window); the dimension-sized probe set collects into ONE broadcast row scored per chunk by zip_with dots gated on shared-bucket existence — no pair-relation aggregation, no cross join; top-k via probe-partitioned WindowGroupLimit"),
    ("semantic_dedup",
     "pinned-centroid assignment is plan-literal algebra; pairing joins on the cell key only (the published per-cluster cost) — no CartesianProduct"),
    ("cms_token_counts",
     "counter relation (≤ DEPTH×WIDTH rows) BROADCAST to the probe lookup; sketch build is ONE map-side-combinable aggregation"),
    ("template_fingerprint",
     "tag extraction is JVM regexp inside the scan stage — no Python eval; aggregation key is the 32-char sig (tiny shuffle rows)"),
    ("host_communities",
     "per LPA round: one adjacency-on-labels equality join + combinable min-struct argmax; localCheckpoint truncates iterated lineage — no graph-sized window, no cartesian"),
    ("lsh_recall_eval",
     "one persisted doc-array relation feeds both sides: truth = shingle-equality blocking over its exploded cache, candidates = banded buckets of in-array signatures; the comparison is one (id1,id2) equality left join — never all-pairs"),
    ("dedup_incremental",
     "two hashpartitioning exchanges on content_hash (batch + history digests); the first-occurrence Window runs on the probe join's output partitioning — no third shuffle"),
    ("seq_pack",
     "recursive prefix sum: doc-level cumsum partitioned by bkt, bucket-level cumsum partitioned by super-bucket (both parallel); counts cached HASH-PARTITIONED BY BKT (r7) so the rollup and the window read the cache's partitioning; the ONLY Exchange SinglePartition is the n/bucket_docs^2-row SUPER rollup"),
    ("dedup_bloom",
     "batch side is ONE narrow mapInPandas probe against the broadcast bitmap — no join, no shuffle of the batch; the only exchanges build the (bounded, m-bit) history position set"),
    ("corpus_mix",
     "doc table scanned once; per-source totals are a tiny two-phase agg rejoined via broadcast/AQE; no SortMergeJoin of the doc table against itself, no CartesianProduct (the 1-row totals crossJoin is a broadcast)"),
    ("passage_dedup",
     "ONE persisted doc-level line-array base (passages explode off the cache for both consumers — r7: no second persist, no collect_list rebuild); hot set broadcast; covered-positions join equality-keyed with NO forced broadcast (contamination-proportional size); reassembly in-array; no CartesianProduct"),
    ("crawl_schedule",
     "slot window PARTITIONED BY HOST (no Exchange SinglePartition anywhere — per-host serialization is the politeness constraint, not a global sort); the delay UDF runs over the tiny policy dimension before the join"),
    ("ann_ivf_pinned",
     "centroids are plan literals (no broadcast variable, no collect of trained state); scoring is an equality join on the cell key — no CartesianProduct, no BroadcastNestedLoop"),
    ("dsir_score",
     "the 1024-bucket weight dim rides a BroadcastHashJoin into the per-doc score aggregation; the only SinglePartition is the 1-row corpus-totals aggregate; the bigram stream shuffles once"),
    ("dsir_sample",
     "the resample is TakeOrderedAndProject (per-partition top-k) — no rangepartitioning/global Sort for the k winners"),
    ("image_ahash_dedup",
     "fingerprints come from ONE zero-pre-shuffle Arrow kernel pass; the candidate join is band-bucket equality (hash join) with bit_count(xor) verify — no CartesianProduct"),
    ("lang_id_posterior",
     "r7 Arrow fast path: the dimension-sized NB model is collected+broadcast and scoring is ONE MapInPandas over the augmented text — zero scoring shuffle, no corpus-sized aggregation or window (the relational twin stays pytest-pinned equal)"),
    ("dedup_minhash_incremental",
     "history/batch band tables join on (band, band_hash) equality; candidate-only verification via broadcast candidates + per-pair array_intersect over the persisted doc-array relation (r7) — never all-pairs, no corpus-wide exploded-shingle exchange"),
    ("curriculum_plan",
     "the decile threshold is an order statistic over the distinct-score histogram dim (the ONE tiny ordered window); phase/shard/key are pure expressions — no corpus-sized sort anywhere"),
]


def main() -> int:
    import __spark_entry__ as entrymod
    from sbb_ocr_postcorrection_spark.pipeline import build_session

    spark = build_session(app="plans", cores=8, shuffle_partitions=16)
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()
    out = [
        "# PLANS — formatted physical plans of the shape-critical queries",
        "",
        "Generated by `python scripts/dump_plans.py` (sf0.001 inputs; plan",
        "SHAPE is scale-independent). Each section states the property the",
        "plan must exhibit; tests/test_plans.py asserts them mechanically.",
        "",
    ]
    for name, prop in SHOW:
        df = qs[name](spark, "/root/testdata/sf0.001")
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        out.append(f"## {name}\n\n**Required property:** {prop}\n")
        out.append("```\n" + plan.strip() + "\n```\n")
    with open(f"{REPO}/PLANS.md", "w") as f:
        f.write("\n".join(out))
    print("PLANS.md written")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
