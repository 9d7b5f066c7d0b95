"""Sequence packing: lay the corpus token stream into fixed-length
training context windows.

The last step of a training-data pipeline: documents are concatenated (an
EOS slot after each) and the stream is cut into fixed-size windows
(SEQ_LEN tokens). A window usually spans several short documents or a
slice of one long document. This operator computes the layout — which
window(s) each document lands in and per-window occupancy — from token
COUNTS only (pure integer arithmetic, so the whole layout is
DuckDB-oracle-checkable; materializing the token ids themselves is a
per-slice encode with the trained vocabulary).

Scale design (100 TB): the naive layout needs a GLOBAL running offset per
document — `sum(len) OVER (ORDER BY doc_id)` — which Spark executes as a
single-partition window: the whole corpus funnels through one task. Here
the prefix sum is TWO-LEVEL instead: documents are bucketed by doc_id
range; per-bucket totals (a tiny two-phase aggregation) get their own
running offsets; each document's offset = its bucket's offset + a
within-bucket cumsum, where the window is partitioned BY BUCKET — every
partition-level window is parallel and bounded by the bucket size. The
bucket-offset relation has |corpus|/BUCKET_DOCS rows and is itself
prefix-summed the SAME way (buckets → super-buckets): the only
single-partition window in the whole plan runs over |corpus|/BUCKET_DOCS²
super rows — a trillion docs at BUCKET_DOCS=10^4 is 10^8 buckets but only
10^4 super rows through one task (the toy default of 64 keeps the
test-scale plan multi-bucket; tests patch a smaller BUCKET_DOCS to exercise
the multi-super path too). The within-bucket window and the final per-window
aggregation shuffle on different keys (bucket, then window_id) — two
exchanges plus the small bucket rollup, no global sort anywhere. All
id/offset arithmetic is integer DIV, exact at any long magnitude (a
double-based floor(x/y) loses exactness past 2^53).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from .relational import load, persist_slot

# layout constants — the DuckDB oracle interpolates THESE constants
SEQ_LEN = 128
BUCKET_DOCS = 64


def _pack_spans(spark, sf_dir, docs=None) -> DataFrame:
    """The packing layout's doc↔window span relation: (doc_id, window_id,
    slots_here) — shared by sequence_pack (per-window rollup) and
    shard_manifest (per-shard provenance rollup). Two-level prefix sum,
    no global-sort window (see sequence_pack's docstring)."""
    from ..functions.exprs import tokens_expr

    d = docs if docs is not None else load(spark, sf_dir, "documents")
    # repartition BY BUCKET before the CPU-heavy tokenize (the
    # shingle_table rule: a single-split toy parquet must not run it
    # single-threaded) — hashing on bkt (r7) instead of round-robin means
    # the bucket rollup's groupBy(bkt) and the within-bucket window both
    # reuse the cached partitioning: two corpus exchanges gone; bkt =
    # doc_id DIV BUCKET_DOCS is uniform by construction, so no skew.
    # persist: counts feeds BOTH the bucket rollup and the placement — the
    # corpus-wide tokenize is the dominant cost and must run once.
    # +1: the EOS slot after every document
    counts = persist_slot(
        "seq_pack_counts",
        d.select(
            "doc_id",
            F.expr(f"doc_id DIV {BUCKET_DOCS}").alias("bkt"),
            "text",
        )
        .repartition(spark.sparkContext.defaultParallelism, "bkt")
        .select(
            "doc_id",
            "bkt",
            # null text ≡ empty doc (1 EOS slot): size(NULL) is NULL under
            # ANSI and a null count would silently DROP the doc from the
            # layout (null offsets explode to nothing) — every document
            # must occupy stream space
            F.coalesce(
                F.size(tokens_expr(F.col("text"))) + 1, F.lit(1)
            ).alias("n_slots"),
        ),
    )
    # level 1: per-bucket totals → running bucket offsets. The bucket
    # rollup gets the SAME two-level treatment recursively (the docstring's
    # "recurse if one level is not enough", delivered): buckets group into
    # super-buckets, the within-super cumsum is partitioned (parallel), and
    # the only single-partition window left runs over the SUPER rollup —
    # |corpus| / BUCKET_DOCS² rows (10^12 docs at BUCKET_DOCS=10^4 → 10^4
    # super rows through one task, instead of 10^8 buckets).
    bkt_totals = counts.groupBy("bkt").agg(F.sum("n_slots").alias("bkt_slots"))
    sb = F.expr(f"bkt DIV {BUCKET_DOCS}")
    super_w = Window.orderBy("sbkt").rowsBetween(Window.unboundedPreceding, -1)
    super_offsets = (
        bkt_totals.groupBy(sb.alias("sbkt"))
        .agg(F.sum("bkt_slots").alias("sb_slots"))
        .select(
            "sbkt",
            F.coalesce(F.sum("sb_slots").over(super_w), F.lit(0)).alias("sb_off"),
        )
    )
    in_super_w = (
        Window.partitionBy("sbkt")
        .orderBy("bkt")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    bucket_offsets = (
        bkt_totals.withColumn("sbkt", sb)
        .withColumn(
            "in_sb_off", F.coalesce(F.sum("bkt_slots").over(in_super_w), F.lit(0))
        )
        .join(super_offsets, "sbkt")
        .select("bkt", (F.col("sb_off") + F.col("in_sb_off")).alias("bkt_off"))
    )
    # level 2: within-bucket cumsum, parallel across buckets
    doc_w = (
        Window.partitionBy("bkt")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    # no forced broadcast hint: at sane BUCKET_DOCS the offsets relation
    # is tiny and the planner broadcasts it on stats; a forced hint would
    # OOM if a caller mis-sizes BUCKET_DOCS on a huge corpus
    placed = (
        counts.withColumn(
            "in_bkt_off", F.coalesce(F.sum("n_slots").over(doc_w), F.lit(0))
        )
        .join(bucket_offsets, "bkt")
        .select(
            "doc_id",
            "n_slots",
            (F.col("bkt_off") + F.col("in_bkt_off")).alias("off"),
        )
    )
    # each doc spans windows floor(off/W) .. floor((off+n_slots-1)/W);
    # slots of doc in window w = overlap of [off, off+n) with [wW, (w+1)W)
    w0 = F.expr(f"off DIV {SEQ_LEN}")
    w1 = F.expr(f"(off + n_slots - 1) DIV {SEQ_LEN}")
    spans = placed.select(
        "doc_id",
        "off",
        "n_slots",
        F.explode(F.sequence(w0, w1)).alias("window_id"),
    ).select(
        "doc_id",
        "window_id",
        (
            F.least(
                F.col("off") + F.col("n_slots"),
                (F.col("window_id") + 1) * SEQ_LEN,
            )
            - F.greatest(F.col("off"), F.col("window_id") * SEQ_LEN)
        ).alias("slots_here"),
    )
    return spans


def sequence_pack(spark, sf_dir, docs=None) -> DataFrame:
    """Per context window: (window_id, n_tokens, n_docs, first_doc,
    last_doc). n_tokens == SEQ_LEN for every window except the last
    (n_tokens counts occupied slots: document tokens + one EOS slot per
    document, truncated at the stream end).
    """
    spans = _pack_spans(spark, sf_dir, docs=docs)
    return spans.groupBy("window_id").agg(
        F.sum("slots_here").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_docs"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


SHARD_WINDOWS = 8  # context windows per output shard


def shard_manifest(spark, sf_dir, docs=None) -> DataFrame:
    """Per-output-shard provenance manifest — the data card a trainer
    reads before consuming a shard: how many tokens/docs, how many
    distinct sources feed it, which source dominates (by occupied
    slots, pinned tie-break), and the shard's English share.

    At 100 TB this is the audit artifact that catches a mis-mixed shard
    (one source flooding a file, a language concentration the mix law
    should have prevented) BEFORE it burns training compute — the
    export_audit idea applied at shard granularity.

    Scale shape: the span relation (two-level prefix sum, no global
    window) joins doc attributes on doc_id once; per-(shard, source)
    slot totals are a dimension (≤ |sources| rows per shard), so the
    dominant-source pick is a window over that dimension, not the
    corpus."""
    d = docs if docs is not None else load(spark, sf_dir, "documents")
    spans = _pack_spans(spark, sf_dir, docs=docs).withColumn(
        "shard_id", F.expr(f"window_id DIV {SHARD_WINDOWS}")
    )
    attrs = d.select("doc_id", "source", "lang")
    sp = spans.join(attrs, "doc_id")
    per_src = sp.groupBy("shard_id", "source").agg(
        F.sum("slots_here").cast("long").alias("src_slots")
    )
    w = Window.partitionBy("shard_id").orderBy(
        F.desc("src_slots"), F.asc("source")
    )
    top = (
        per_src.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "shard_id",
            F.col("source").alias("top_source"),
            F.col("src_slots").alias("top_source_slots"),
        )
    )
    roll = sp.groupBy("shard_id").agg(
        F.countDistinct("window_id").cast("long").alias("n_windows"),
        F.sum("slots_here").cast("long").alias("n_tokens"),
        F.countDistinct("doc_id").cast("long").alias("n_docs"),
        F.countDistinct("source").cast("long").alias("n_sources"),
        F.sum(F.when(F.col("lang") == "en", F.col("slots_here")).otherwise(0))
        .cast("long")
        .alias("en_slots"),
    )
    return roll.join(top, "shard_id").select(
        "shard_id",
        "n_windows",
        "n_tokens",
        "n_docs",
        "n_sources",
        "top_source",
        "top_source_slots",
        F.round(F.col("en_slots") * 100.0 / F.col("n_tokens"), 6).alias(
            "en_pct"
        ),
    )
