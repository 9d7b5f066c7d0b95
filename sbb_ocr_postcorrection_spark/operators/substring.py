"""Token-level exact-substring deduplication — the deduplicate-text-datasets
shape (Lee et al. 2022: drop every ≥50-token span that repeats across
documents), the one LLM-dedup modality the repo lacked beside its line-,
passage-, MinHash-, SimHash- and embedding-level families (VERDICT r4
next-step #5).

Suffix arrays are the single-node tool for this; the Spark-native
equivalent used here is sorted shingle ANCHORS: a duplicated token span of
length ≥ L contains the exact L-token window starting at every position of
its first |span|−L+1 tokens, so

* anchor relation: md5-60bit of each L-token window per position — one
  in-array expansion + explode (corpus-token-sized, the algorithm's
  irreducible bulk; the 8-byte int key keeps the shuffle payload small);
* hot anchors: two-phase countDistinct(doc_id) ≥ SUBSTR_DUP_DF on the window
  hash — duplicated-content-vocabulary-sized output;
* covered anchors: equality join back on the hash. NO broadcast hint:
  the covered set scales with contamination volume (the passage_dedup
  r3 lesson — a banner on every page makes it corpus-sized), AQE
  broadcasts it when stats allow;
* span merge: gaps-and-islands over anchor starts per document
  ([p, p+L−1] merges with the next anchor iff p_next ≤ p_prev + L),
  windows partitioned by doc_id — never global;
* removal: positions inside any merged span drop; the survivors
  reassemble in order. Everything is integer/string-decidable, so the
  whole flow replays in DuckDB and the driver hash-checks it.

Reference analog: the repo's own passage windows (operators/lines.py
passage_dedup) lifted from line granularity to token granularity; the
reference itself has no dedup (SURVEY §2 beyond-reference family).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from ..functions.exprs import md5_60, tokens_expr as _tokens
from .relational import load, persist_slot

SUBSTR_L = 50      # minimum duplicate span length, in tokens
SUBSTR_DUP_DF = 2  # distinct docs that must share a window to mark it

# driver-fixture augmentation: the synthetic corpus has no natural
# >= L-token cross-document span, so even doc_ids get this fixed 60-token
# paragraph prepended (the passage_dedup convention) — detection must
# recover EXACTLY tokens [1, 60] in every even doc and nothing else
SUBSTR_BOILER = " ".join(f"spantoken{i:02d}" for i in range(60))


def substring_dedup(spark, sf_dir, docs=None) -> DataFrame:
    """(doc_id, n_tokens, n_spans, n_dropped, text_deduped): cross-document
    duplicate token spans of length ≥ SUBSTR_L removed from every document
    carrying them (module docstring: anchors → hot → islands → removal)."""
    if docs is None:
        d = load(spark, sf_dir, "documents").select(
            "doc_id",
            F.when(
                F.col("doc_id") % 2 == 0,
                F.concat(
                    F.lit(SUBSTR_BOILER + " "), F.coalesce("text", F.lit(""))
                ),
            )
            .otherwise(F.col("text"))
            .alias("text"),
        )
    else:
        d = docs
    toks = persist_slot(
        "substring_toks",
        d.repartition(spark.sparkContext.defaultParallelism).select(
            "doc_id", _tokens(F.col("text")).alias("toks")
        ),
    )
    # 1-based anchor start p → 60-bit hash of the L-token window at p
    anchors_arr = F.when(
        F.size("toks") >= SUBSTR_L,
        F.transform(
            F.sequence(F.lit(1), F.size("toks") - (SUBSTR_L - 1)),
            lambda i: F.struct(
                i.alias("p"),
                md5_60(F.concat_ws(" ", F.slice("toks", i, SUBSTR_L))).alias(
                    "h"
                ),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<p:int,h:long>>"))
    anch = persist_slot(
        "substring_anchors",
        toks.select("doc_id", F.explode(anchors_arr).alias("a")).select(
            "doc_id", F.col("a.p").alias("p"), F.col("a.h").alias("h")
        ),
    )
    hot = (
        anch.groupBy("h")
        .agg(F.countDistinct("doc_id").alias("adf"))
        .filter(F.col("adf") >= SUBSTR_DUP_DF)
        .select("h")
    )
    cov = anch.join(hot, "h").select("doc_id", "p")
    # gaps-and-islands over [p, p+L-1] intervals: a new island starts when
    # this anchor no longer overlaps/abuts the running covered region
    w = Window.partitionBy("doc_id").orderBy("p")
    prev_max = F.max("p").over(w.rowsBetween(Window.unboundedPreceding, -1))
    isl = cov.withColumn(
        "new_isl",
        F.when(prev_max.isNull() | (F.col("p") > prev_max + SUBSTR_L), 1)
        .otherwise(0),
    ).withColumn(
        "isl", F.sum("new_isl").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    spans_arr = (
        isl.groupBy("doc_id", "isl")
        .agg(
            F.min("p").cast("int").alias("s"),
            (F.max("p") + SUBSTR_L - 1).cast("int").alias("e"),
        )
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list(F.struct("s", "e"))).alias("spans"))
    )
    j = toks.join(spans_arr, "doc_id", "left")
    spans = F.coalesce(F.col("spans"), F.array().cast("array<struct<s:int,e:int>>"))
    idxed = F.transform(
        F.col("toks"), lambda t, i: F.struct((i + 1).alias("pos"), t.alias("t"))
    )
    kept = F.filter(
        idxed,
        lambda x: ~F.exists(
            spans, lambda sp: (x["pos"] >= sp["s"]) & (x["pos"] <= sp["e"])
        ),
    )
    return j.select(
        "doc_id",
        F.size("toks").cast("int").alias("n_tokens"),
        F.coalesce(F.size("spans"), F.lit(0)).cast("int").alias("n_spans"),
        (F.size("toks") - F.size(kept)).cast("int").alias("n_dropped"),
        F.concat_ws(" ", F.transform(kept, lambda x: x["t"])).alias(
            "text_deduped"
        ),
    )
