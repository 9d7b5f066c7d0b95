"""The composite data-curation pipeline: every per-document filter family
in one keep/drop verdict.

This is the flow a pretraining-data user actually runs over a crawl:
exact + near dedup → benchmark decontamination → language gate (P5
analog) → host-reputation gate (whole-host filtering) → quality
heuristics → repetition filter (Gopher-style) → unigram-LM rarity filter
(CCNet analog), producing one row per document with `keep` and the FIRST
reason it was dropped (precedence: duplicates beat everything — a
duplicate's content verdict is irrelevant, its keeper carries it;
contamination beats content filters — an eval-overlapping doc must go
regardless of quality; a doc's OWN failed language gate beats its host's
bad reputation, so bad_host marks exactly the individually-fine pages
dragged down by their neighbors).

Composition is deliberate: each stage is the already-oracle-checked
operator, joined on doc_id (equality-keyed, AQE-coalesced). The DuckDB
oracle composes the same stage SQL as CTEs, so the COMPOSITE is
hash-checked end to end, not just its parts. Stage logic lives in ONE
place: the per-document stages take an injected base relation, and the
composite persists that relation once (slot-keyed), so the three content
filters read a cached (doc_id, lang, source, text) table instead of
re-scanning parquet per stage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from .dedup import decontaminate, deduplicate_corpus, minhash_doc_arrays
from .relational import load, persist_slot
from .textstats import lang_id, lm_unigram_score, quality_score, repetition_stats
from .urls import host_reputation_gate, synth_host_expr


def curate_corpus(spark, sf_dir) -> DataFrame:
    """(doc_id, lang, source, keep, reason) — the end-to-end curation
    verdict. Reason precedence: exact_dup / near_dup (from the dedup
    composite) > contaminated > lang_filtered > bad_host > low_quality >
    repetitive > lm_rare_tokens > kept."""
    # projected BEFORE the persist: the cache holds only the columns the
    # content stages read (source/n_chars would bloat it and the persist
    # boundary blocks column pruning); and before the spread, which is why
    # this is not spread_scan(...).select(...): that puts the Project above
    # the round-robin Exchange, a different plan
    docs = persist_slot(
        "curation_docs",
        load(spark, sf_dir, "documents")
        .select("doc_id", "lang", "text")
        .repartition(spark.sparkContext.defaultParallelism),
    )
    # ONE per-document shingle-array relation shared by dedup (in-array
    # signatures + array verification) and decontamination (bench + train
    # sides read the exploded view straight off the cache) — four
    # consumers, one tokenize+shingle+md5 pass (r7: the exploded
    # corpus-wide table is never materialized at all)
    mh_base = persist_slot(
        "curation_mh_base", minhash_doc_arrays(spark, sf_dir)
    )
    sh = mh_base.select(
        "doc_id", "lang", F.explode("sh_arr").alias("shingle")
    )
    dd = deduplicate_corpus(spark, sf_dir, base=mh_base).select(
        "doc_id",
        "lang",
        "source",
        F.col("keep").alias("dedup_keep"),
        F.col("drop_reason").alias("dedup_reason"),
    )
    # min_overlap=8: with word-3-gram shingles over a small vocabulary,
    # single-shingle collisions are chance, not leakage — the composite
    # demands a sustained overlap before dropping (the standalone
    # decontaminate query keeps the sharp >=1 default for auditing)
    dec = decontaminate(spark, sf_dir, min_overlap=8, sh=sh, docs=docs).select(
        "doc_id", "contaminated"
    )
    # persisted: the lang bit is read three times (the verdict join, the
    # host-stats aggregation, the host rejoin) — two ints per doc, so the
    # cache is tiny and the tokenize+stopword pass runs ONCE
    lang = persist_slot(
        "curation_lang",
        lang_id(spark, sf_dir, docs=docs).select("doc_id", "lang_pass"),
    )
    # the host gate reuses the lang relation's bit (per_doc injection, the
    # sh=/docs= convention) — no third tokenize+stopword pass
    host = host_reputation_gate(
        spark,
        sf_dir,
        per_doc=lang.select(
            "doc_id", synth_host_expr(F.col("doc_id")).alias("host"), "lang_pass"
        ),
    ).select("doc_id", "host_pass")
    qual = quality_score(spark, sf_dir, docs=docs).select("doc_id", "quality_keep")
    rep = repetition_stats(spark, sf_dir, docs=docs).select("doc_id", "repetition_keep")
    lm = lm_unigram_score(spark, sf_dir, docs=docs).select("doc_id", "lm_keep")
    joined = (
        dd.join(dec, "doc_id")
        .join(lang, "doc_id")
        .join(host, "doc_id")
        .join(qual, "doc_id")
        .join(rep, "doc_id")
        .join(lm, "doc_id")
    )
    reason = (
        F.when(F.col("dedup_keep") == 0, F.col("dedup_reason"))
        .when(F.col("contaminated") == 1, F.lit("contaminated"))
        .when(F.col("lang_pass") == 0, F.lit("lang_filtered"))
        .when(F.col("host_pass") == 0, F.lit("bad_host"))
        .when(F.col("quality_keep") == 0, F.lit("low_quality"))
        .when(F.col("repetition_keep") == 0, F.lit("repetitive"))
        .when(F.col("lm_keep") == 0, F.lit("lm_rare_tokens"))
        .otherwise(F.lit("kept"))
    )
    return joined.select(
        "doc_id",
        "lang",
        "source",
        (reason == "kept").cast("int").alias("keep"),
        reason.alias("reason"),
    )


def curation_report(spark, sf_dir) -> DataFrame:
    """Per-(source, reason) rollup of the curation verdict with the share
    of the source it represents — the acceptance report a corpus build
    prints per slice. The window runs over the ALREADY-AGGREGATED
    (source × reason) relation (≤ sources × 9 reasons rows), so its
    shuffle is trivial; the heavy lifting is the verdict itself."""
    v = curate_corpus(spark, sf_dir)
    agg = v.groupBy("source", "reason").agg(F.count(F.lit(1)).alias("n_docs"))
    tot = Window.partitionBy("source")
    return agg.select(
        "source",
        "reason",
        "n_docs",
        F.round(F.col("n_docs") * 100.0 / F.sum("n_docs").over(tot), 6).alias(
            "pct_of_source"
        ),
    )
