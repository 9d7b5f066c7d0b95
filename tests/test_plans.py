"""Physical-plan assertions: the plans we ship are the plans we want.

These encode the scale contract (SURVEY.md §4.2): filters reach the parquet
scan, small dims broadcast, per-document kernels stay shuffle-free, and
column pruning keeps the binary html column out of metric-only subtrees.
"""

import pytest

from sbb_ocr_postcorrection_spark.operators import relational as R

SF_DIR = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_to_scan(spark):
    df = R.filter_project(spark, SF_DIR)
    plan = plan_of(df)
    assert "PushedFilters: [" in plan
    assert "IsNotNull(l_shipdate)" in plan or "GreaterThanOrEqual(l_shipdate" in plan


def test_column_pruning(spark):
    df = R.filter_project(spark, SF_DIR)
    plan = plan_of(df)
    # ReadSchema must not include unused wide columns
    assert "l_comment" not in plan
    assert "l_returnflag" not in plan.split("ReadSchema")[-1]


def test_broadcast_join_chosen(spark):
    plan = plan_of(R.broadcast_dim_join(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_semi_anti_are_joins_not_scans(spark):
    semi = plan_of(R.routing_semi(spark, SF_DIR))
    anti = plan_of(R.routing_anti(spark, SF_DIR))
    assert "LeftSemi" in semi
    assert "LeftAnti" in anti
    # the right-side date filter of the anti join must be pushed to its scan
    assert "PushedFilters: [IsNotNull(l_shipdate), GreaterThanOrEqual(l_shipdate" in anti


def test_extract_kernel_no_shuffle(spark):
    """The fused extract itself is shuffle-free; the only Exchange in
    the flagship plan is the deliberate input-spread repartition below the
    kernel (toy parquet = one split)."""
    from sbb_ocr_postcorrection_spark.queries import extract_flagship

    plan = plan_of(extract_flagship(spark, SF_DIR))
    assert plan.count("Exchange") == 1
    assert "REPARTITION_BY_NUM" in plan
    # no exchange above the kernel: the repartition must precede it
    assert plan.index("Exchange") > plan.index("MapInArrow")


def test_agg_is_two_phase(spark):
    plan = plan_of(R.equijoin_agg(spark, SF_DIR))
    # partial + final hash aggregation around a single exchange
    assert plan.count("HashAggregate") >= 2


def test_topk_uses_take_ordered(spark):
    plan = plan_of(R.topk_vocab(spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan


def test_salted_host_agg_is_two_phase(spark):
    """The skew-safe host aggregation must shuffle on (host, salt) first,
    then on host — two separate hash-agg pairs with two exchanges, never a
    single groupBy(host) (the north rule's salting contract)."""
    import pyarrow.parquet as pq
    import tempfile, os
    from sbb_ocr_postcorrection_spark.datagen import generate_pages, pages_to_arrow
    from sbb_ocr_postcorrection_spark.kernels_spark import extract_pages
    from sbb_ocr_postcorrection_spark.pipeline import salted_host_agg

    path = os.path.join(tempfile.mkdtemp(), "p.parquet")
    pq.write_table(pages_to_arrow(generate_pages(50, seed=2)), path)
    df = extract_pages(spark.read.parquet(path))
    agg = salted_host_agg(df, ("chars_out", "sum"), ("url", "count"))
    plan = plan_of(agg)
    assert plan.count("HashAggregate") >= 4  # partial+final × two phases
    assert "_salt" in plan
    assert plan.count("Exchange hashpartitioning") >= 2


def test_whole_stage_codegen_on_relational_path(spark):
    df = R.cer_bucket_hist(spark, SF_DIR)
    df.collect()  # AQE finalizes the plan (and codegen spans) on execution
    plan = plan_of(df)
    # '*(n)' prefixes mark WholeStageCodegen stages in the plan string
    assert "*(1)" in plan or "WholeStageCodegen" in plan
    assert "isFinalPlan=true" in plan


def test_mets_dim_join_broadcasts(spark):
    """The METS link dimension is tiny by construction — the remap join
    must broadcast it, never sort-merge the fact side."""
    from sbb_ocr_postcorrection_spark.operators.mets import mets_link_table

    plan = plan_of(mets_link_table(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_bloom_probe_batch_side_never_shuffles(spark):
    """bloom_gate's batch probe must be a narrow mapInPandas against the
    broadcast bitmap — no join and no hash exchange of the batch rows
    themselves (injected relations isolate the probe from the synth
    fixture's remap join)."""
    from sbb_ocr_postcorrection_spark.operators.dedup import bloom_gate

    hist = spark.createDataFrame([(1, "x"), (2, "y")], "doc_id long, text string")
    batch = spark.createDataFrame([(11, "x"), (12, "z")], "doc_id long, text string")
    plan = plan_of(bloom_gate(spark, SF_DIR, history=hist, batch=batch))
    assert "MapInPandas" in plan
    for bad in ("Join", "Exchange hashpartitioning", "Sort "):
        assert bad not in plan, f"{bad} leaked into the bloom probe:\n{plan}"
    # the k bit positions are JVM plan columns feeding the kernel (the
    # r3-verdict fix: the kernel is a pure bitmap gather, no Python md5)
    assert "_bp0" in plan and "pmod" in plan


def test_corpus_mix_joins_are_broadcast(spark):
    """source_mix_sample: the per-source totals rejoin and the 1-row
    grand-total cross join must both build on the TINY side (broadcast) —
    the document table is never sort-merge-joined or cartesian-expanded."""
    from sbb_ocr_postcorrection_spark.operators.textstats import source_mix_sample

    plan = plan_of(source_mix_sample(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_ivf_pinned_equality_join_no_trained_state(spark):
    """ivf_topk_pinned: centroids are plan literals (no torch/broadcast
    state), scoring joins probes to candidates on the cell key only."""
    from sbb_ocr_postcorrection_spark.operators.similarity import ivf_topk_pinned

    plan = plan_of(ivf_topk_pinned(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "hashpartitioning(cell" in plan or "BroadcastHashJoin" in plan


def test_passage_dedup_plan_shapes(spark):
    """passage_dedup: hot-set join broadcasts, the covered-position join is
    equality-keyed without a FORCED broadcast (it scales with contaminated
    docs), both persisted relations feed their two consumers from cache,
    and nothing degenerates to a cartesian."""
    from sbb_ocr_postcorrection_spark.operators.lines import passage_dedup

    plan = plan_of(passage_dedup(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "InMemoryTableScan" in plan


def test_crawl_schedule_no_global_window(spark):
    """crawl_schedule's slot window is partitioned by host — a global
    (SinglePartition) window would funnel the whole crawl frontier
    through one task; the delay UDF evaluates on the policy dimension
    side, not per page row."""
    from sbb_ocr_postcorrection_spark.sources.robots import crawl_schedule

    plan = plan_of(crawl_schedule(spark, SF_DIR))
    assert "SinglePartition" not in plan
    assert "hashpartitioning(host" in plan


def test_crawl_cube_single_pass(spark):
    """CUBE compiles to ONE Expand + one aggregation (one shuffle for all
    four grouping levels), not four separate jobs."""
    from sbb_ocr_postcorrection_spark.operators.urls import crawl_cube

    plan = plan_of(crawl_cube(spark, SF_DIR))
    assert "Expand" in plan
    assert plan.count("Exchange") <= 2  # one agg shuffle (+AQE read)
    assert "CartesianProduct" not in plan


def test_r5_ops_plan_shapes(spark):
    """Round-5 additions keep their scale contracts: no cartesian
    products anywhere, the probe side of passage_retrieval broadcasts,
    winnowing matches join on the fingerprint key (equality, not
    nested-loop), and template fingerprinting is pure JVM (no Python
    eval stage)."""
    from sbb_ocr_postcorrection_spark.operators.dedup import (
        containment_pairs,
    )
    from sbb_ocr_postcorrection_spark.operators.similarity import (
        passage_retrieval,
        semantic_dedup,
    )
    from sbb_ocr_postcorrection_spark.operators.webstruct import (
        template_fingerprint,
    )
    from sbb_ocr_postcorrection_spark.operators.winnow import winnow_matches

    for df in (
        winnow_matches(spark, SF_DIR),
        containment_pairs(spark, SF_DIR),
        semantic_dedup(spark, SF_DIR),
    ):
        plan = plan_of(df)
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan

    rp = plan_of(passage_retrieval(spark, SF_DIR))
    assert "BroadcastHashJoin" in rp, "probe vectors must broadcast"
    assert "CartesianProduct" not in rp

    tp = plan_of(template_fingerprint(spark, SF_DIR))
    assert "BatchEvalPython" not in tp and "ArrowEvalPython" not in tp
    assert "regexp_extract_all" in tp


def test_r5_late_ops_plan_shapes(spark):
    """Late round-5 additions keep the scale contracts: the LPA loop and
    its community rollup never plan a cartesian or nested-loop join, the
    recall eval's candidate/truth comparison is equality-keyed, and the
    per-template kernel metrics keep the extraction stage Python-only at
    the kernel seam (ArrowEval for mapInPandas, no row-at-a-time
    BatchEvalPython)."""
    from sbb_ocr_postcorrection_spark.operators.dedup import lsh_recall_eval
    from sbb_ocr_postcorrection_spark.operators.linkgraph import (
        community_profiles,
        host_communities,
    )
    from sbb_ocr_postcorrection_spark.operators.webstruct import (
        template_extract_metrics,
    )

    for df in (
        host_communities(spark, SF_DIR),
        community_profiles(spark, SF_DIR),
        lsh_recall_eval(spark, SF_DIR),
    ):
        plan = plan_of(df)
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan

    tp = plan_of(template_extract_metrics(spark, SF_DIR))
    assert "CartesianProduct" not in tp
    assert "BatchEvalPython" not in tp  # only the Arrow kernel seam


def test_winnow_np_kernel_zero_shuffle(spark):
    """Winnow selection happens INSIDE the Arrow kernel, so the
    fingerprint relation needs no aggregation at all — the plan is
    MapInPandas over the input spread, with no HashAggregate and no
    more than the single repartition Exchange."""
    from sbb_ocr_postcorrection_spark.operators.winnow import (
        winnow_fingerprints,
    )

    plan = plan_of(winnow_fingerprints(spark, SF_DIR))
    assert "MapInPandas" in plan
    assert "HashAggregate" not in plan
    assert plan.count("Exchange") <= 2  # the input-spread repartition
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan


def test_passage_retrieval_single_candidate_embed(spark):
    """The r6 norm-carrying rewrite: candidate norms ride the vector
    rows, so the plan embeds the candidate side ONCE — the dots ⋈ norms
    join over the probe×passage pair relation is gone (no join keyed on
    (doc_id, chunk_id) AFTER the dot aggregation)."""
    from sbb_ocr_postcorrection_spark.operators.similarity import (
        passage_retrieval,
    )

    plan = plan_of(passage_retrieval(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    # exactly one window over (doc_id, chunk_id) — the norm attach —
    # and the explode-side token aggregation appears for probe + cand
    # sides only (a third copy would mean the old norms recompute)
    assert plan.count("MapInPandas") == 0  # all-JVM path stays JVM


def test_selection_ops_plan_shapes(spark):
    """r6 selection family keeps the scale contracts: the DSIR weight
    dim broadcasts into the per-doc score join, the resample is
    TakeOrderedAndProject (per-partition top-k, no global Sort+Exchange
    for the k rows), CCNet terciles never plan a SinglePartition (the
    PR-curve histogram discipline), and the divergence matrix never goes
    cartesian on anything corpus-sized."""
    from sbb_ocr_postcorrection_spark.operators import selection as sel

    sc = plan_of(sel.dsir_score(spark, SF_DIR))
    assert "BroadcastHashJoin" in sc, "weight dim must broadcast"
    assert "CartesianProduct" not in sc

    sp = plan_of(sel.dsir_sample(spark, SF_DIR))
    assert "TakeOrderedAndProject" in sp
    assert "CartesianProduct" not in sp

    cb = plan_of(sel.ccnet_buckets(spark, SF_DIR))
    assert "SinglePartition" not in cb
    assert "CartesianProduct" not in cb

    dv = plan_of(sel.source_divergence(spark, SF_DIR))
    assert "CartesianProduct" not in dv

    mt = plan_of(sel.mix_temperature(spark, SF_DIR))
    assert "BroadcastHashJoin" in mt, "source dim must broadcast"
    assert "SinglePartition" not in mt


def test_ahash_plan_shapes(spark):
    """aHash family: the fingerprint stage is ONE Arrow kernel pass with
    zero shuffles before it; the dedup candidate join is band-bucket
    equality (hash join), never a cartesian."""
    from sbb_ocr_postcorrection_spark.operators import multimodal as mm

    hp = plan_of(mm.image_ahash(spark, SF_DIR))
    assert "ArrowEvalPython" in hp or "MapInPandas" in hp
    assert "Exchange hashpartitioning" not in hp

    dp = plan_of(mm.image_ahash_dedup(spark, SF_DIR))
    assert "CartesianProduct" not in dp
    assert "bit_count" in dp


def test_r6_late_ops_plan_shapes(spark):
    """Late r6 additions keep the scale contracts: the NB language model
    and the anagram confusion dim broadcast, the triplet probe set
    broadcasts, and nothing corpus-sized plans a cartesian product."""
    from sbb_ocr_postcorrection_spark.operators.anagram import (
        anagram_candidates,
    )
    from sbb_ocr_postcorrection_spark.operators.langprofile import (
        lang_id_posterior,
    )
    from sbb_ocr_postcorrection_spark.operators.similarity import (
        triplet_mining,
    )

    # r7 fast path: scoring is ONE Arrow kernel over the augmented text —
    # no corpus-sized aggregation, window or join anywhere in the plan
    lp = plan_of(lang_id_posterior(spark, SF_DIR))
    assert "MapInPandas" in lp
    for bad in ("HashAggregate", "Window", "SortMergeJoin", "CartesianProduct"):
        assert bad not in lp, f"{bad} leaked into the posterior scoring:\n{lp}"

    ac = plan_of(anagram_candidates(spark, SF_DIR))
    assert "CartesianProduct" not in ac
    # the vocab x vocab candidate lookup must be an equality hash join
    # on the shifted key, not a nested loop
    assert "adj_key" in ac
    assert ("SortMergeJoin" in ac) or ("BroadcastHashJoin" in ac)

    tm = plan_of(triplet_mining(spark, SF_DIR))
    assert "CartesianProduct" not in tm


def test_shingle_explode_filter_stays_off_the_scan(spark):
    """shingle_table explodes the inline shingle expression, never a
    projected array attribute: over an attribute, InferFiltersFromGenerate
    adds size(<array>) > 0 and pushes it — tokenizer and array_distinct
    included — into the scan below the input-spread repartition, so
    every document is shingled twice, once on a single partition. Array
    relations are exploded only off a persisted cache, where the inferred
    filter reads the cached column."""
    import re

    from sbb_ocr_postcorrection_spark.operators.dedup import (
        containment_pairs,
        decontaminate,
        jaccard_pairs,
    )

    node = re.compile(r"^[\s:+\-|*()\d]*Filter\b")
    for df in (
        jaccard_pairs(spark, SF_DIR),
        decontaminate(spark, SF_DIR),
        containment_pairs(spark, SF_DIR),
    ):
        filters = [ln for ln in plan_of(df).splitlines() if node.match(ln)]
        assert filters, "expected Filter nodes in the plan"
        bad = [ln for ln in filters if "array_distinct" in ln]
        assert not bad, "shingling leaked into a Filter:\n" + "\n".join(bad)
