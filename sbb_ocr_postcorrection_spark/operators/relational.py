"""Core relational operators (SURVEY.md §2.2-2.7 mappings).

Each operator takes (spark, sf_dir) and returns a DataFrame; the matching
DuckDB oracle SQL lives in queries.py. The helpers above the operators
(load, spread_scan, docs_input, persist_slot, cents) are the input and
caching plumbing the whole operator layer shares. Every computed column
is aliased so Spark and oracle column names agree (driver hash contract).

Scale notes are inline per operator: which side broadcasts, where the
shuffle lands, why the plan survives 100× data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def spread_scan(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """A fresh scan of table ``name`` spread round-robin over the cores —
    the toy parquet is one split, which would otherwise run the whole
    operator as a single task."""
    return load(spark, sf_dir, name).repartition(
        spark.sparkContext.defaultParallelism
    )


def docs_input(
    spark: SparkSession, sf_dir: str, docs: DataFrame | None = None
) -> DataFrame:
    """The per-document operator input: an injected (shared/cached)
    relation when composing (operators/curation.py), else the spread
    documents scan."""
    if docs is not None:
        return docs
    return spread_scan(spark, sf_dir, "documents")


_PERSIST_SLOTS: dict[str, DataFrame] = {}


def persist_slot(key: str, df: DataFrame) -> DataFrame:
    """Persist df, unpersisting whatever the SAME key persisted before.

    Operators that cache a branch consumed twice in one returned plan
    (deduplicate_corpus's doc-array relation, pdf_layout_query's synthesized
    pdfs) cannot unpersist inside their own lazy plan — but repeated
    invocations in a long session (bench loops, the driver harness) must
    not accumulate orphaned cache entries. One slot per operator bounds the
    leak to a single cached DataFrame each."""
    old = _PERSIST_SLOTS.get(key)
    if old is not None:
        try:
            old.unpersist()
        except Exception:
            pass  # session of the old DF may already be stopped
    cached = df.persist()
    _PERSIST_SLOTS[key] = cached
    return cached


def cents(col_name: str):
    """Money column → exact integer cents. Source values carry exactly two
    decimals, so round(x*100) is within 1e-9 of an integer in BOTH engines —
    this kills the Spark-vs-DuckDB round-half divergence on doubles (their
    round() implementations disagree exactly at the .xx5 boundary)."""
    return F.round(F.col(col_name) * 100, 0).cast("long")


# ---------------------------------------------------------------- filters --

def filter_project(spark, sf_dir) -> DataFrame:
    """P1/P4 analog: predicate + projection, pushed to the parquet scan.
    (reference: confidence filter xml_parser.py:130-146, only_similar
    projection helpers.py:362-393)."""
    li = load(spark, sf_dir, "lineitem")
    # exact arithmetic: price in cents × discount in percent → 1e-4 dollars
    rev = (
        cents("l_extendedprice") * (100 - F.round(F.col("l_discount") * 100, 0).cast("long"))
        / 10000.0
    )
    return (
        li.filter((F.col("l_shipdate") >= "1995-01-01") & (F.col("l_discount") > 0.05))
        .select("l_orderkey", "l_linenumber", rev.alias("revenue"))
    )


def cer_bucket_hist(spark, sf_dir) -> DataFrame:
    """P8+A4: the reference's 7-band CER bucketing predicate chain
    (cli_preproc.py:761-783, copy-pasted 5×) as ONE reusable when-ladder +
    a partial/final hash agg. l_discount ∈ [0,0.1] stands in for CER."""
    from ..functions.exprs import cer_band_expr

    li = load(spark, sf_dir, "lineitem")
    bucket = cer_band_expr("l_discount").alias("cer_bucket")
    return li.groupBy(bucket).agg(F.count(F.lit(1)).alias("n_lines"))


def similarity_band(spark, sf_dir) -> DataFrame:
    """P2/P3: similarity-band filter + 0/1 encoding
    (sequence_similarity.py:23-80): allowed distance derived from a length
    column, similarity bit via when/otherwise."""
    li = load(spark, sf_dir, "lineitem")
    allowed = F.floor(F.col("l_quantity") / 10).alias("allowed_dist")
    sim = (
        F.when(F.col("l_linenumber") <= F.floor(F.col("l_quantity") / 10), 1)
        .otherwise(0)
        .alias("similarity")
    )
    return li.select("l_orderkey", "l_linenumber", allowed, sim)


# ------------------------------------------------------------------ joins --

def equijoin_agg(spark, sf_dir) -> DataFrame:
    """J1: the OCR↔GT lockstep zip re-expressed as an inner equi-join +
    aggregation (cli_preproc.py:203-217). orders⋈customer shuffles on the
    join key; AQE picks broadcast if the dim fits."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            (F.sum(cents("o_totalprice")) / 100.0).alias("sum_price"),
        )
    )


def broadcast_dim_join(spark, sf_dir) -> DataFrame:
    """J2: page-ID remapping via small dimension → explicit broadcast hash
    join (xml_parser.py:220-247 METS index analog). nation/region are
    METS-sized: always broadcast, never shuffled."""
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    dim = F.broadcast(n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey))
    return (
        c.join(dim, c.c_nationkey == dim.n_nationkey)
        .groupBy("r_name")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


def routing_semi(spark, sf_dir) -> DataFrame:
    """J5 (flagged branch): detector→translator routing as a left-semi join
    (cli_correct.py:1160-1186 index bookkeeping eliminated)."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .groupBy("c_nationkey")
        .agg(F.count(F.lit(1)).alias("n_with_orders"))
    )


def routing_anti(spark, sf_dir) -> DataFrame:
    """J5/U2 (pass-through branch): anti-membership
    (cli_preproc.py:1268 testing-keys-not-in-training analog): parts with no
    shipment in the final period — the filter on the right side is pushed
    below the anti-join."""
    p = load(spark, sf_dir, "part")
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") >= "2001-06-01")
    return (
        p.join(li, p.p_partkey == li.l_partkey, "left_anti")
        .groupBy("p_brand")
        .agg(F.count(F.lit(1)).alias("n_never_ordered"))
    )


def reassembly(spark, sf_dir) -> DataFrame:
    """J6/J7+W4: order-preserving reassembly — merge per-line branch outputs
    back by original position (cli_correct.py:1274-1282; boundary
    reconstruction :34-59): sort_array over struct(pos, payload) then concat.
    One shuffle on the parent key; no window needed."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_orderkey")
        .agg(
            F.concat_ws(
                "",
                F.transform(
                    # struct sort = (l_linenumber, l_returnflag) — the flag
                    # tie-break matters because the synthetic data has
                    # duplicate line numbers per order
                    F.array_sort(
                        F.collect_list(F.struct("l_linenumber", "l_returnflag"))
                    ),
                    lambda s: s["l_returnflag"],
                ),
            ).alias("flags_in_order"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


# ---------------------------------------------------------------- windows --

def sliding_window(spark, sf_dir) -> DataFrame:
    """W1: the 4-token sliding window (helpers.py:92-134) as a rowsBetween
    frame: each event sees the sum of itself + next 3 within its user's
    stream. One shuffle on user_id; frame evaluated streaming per partition."""
    e = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("event_id").rowsBetween(W.currentRow, 3)
    return e.select(
        "event_id",
        "user_id",
        F.round(F.sum("value").over(w), 4).alias("win_sum"),
        F.count(F.lit(1)).over(w).alias("win_len"),
    )


def gaps_islands(spark, sf_dir) -> DataFrame:
    """W2: adjacent-run segmentation (helpers.py:137-223) as classic
    gaps-and-islands: lag + gap flag + running sum = island id. Here:
    sessionize events on >30min inactivity."""
    e = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("event_id")
    # ts is TIMESTAMP_NTZ; route through LTZ (session tz pinned UTC) to epoch
    epoch = F.col("ts").cast("timestamp_ltz").cast("long")
    gap = F.when(epoch - F.lag(epoch).over(w) > 1800, 1).otherwise(0)
    sess = e.withColumn("session_id", F.sum(gap).over(w))
    return sess.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 4).alias("session_value"),
    )


def topk_per_group(spark, sf_dir) -> DataFrame:
    """W3: row_number enumeration (helpers.py:241-248) + per-group top-k:
    top 3 events by value per user, ties broken by event_id."""
    e = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy(F.desc("value"), F.asc("event_id"))
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("user_id", "rn", "event_id", "value")
    )


# ------------------------------------------------------------ aggregations --

def rollup_stats(spark, sf_dir) -> DataFrame:
    """A3: the reference's PAGE/DOC/CORPUS three-scope stats
    (sequence_similarity.py:98-115) as one ROLLUP — grouping sets instead of
    three passes."""
    li = load(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
    )


def topk_vocab(spark, sf_dir) -> DataFrame:
    """A1+A2: vocabulary count + most_common(k)
    (wordpiece.py:23-51, encoding.py:140-145): explode tokens → two-phase
    hash count → TakeOrderedAndProject. Deterministic ties: (count desc,
    word asc)."""
    d = docs_input(spark, sf_dir)
    words = F.explode(
        F.filter(F.split(F.lower(F.col("text")), " "), lambda x: x != "")
    ).alias("word")
    return (
        d.select(words)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("word"))
        .limit(100)
    )


def bigram_confusion_topk(spark, sf_dir) -> DataFrame:
    """A6: confusion-pair counting (run_dataset_statistics.py:116-135) —
    here word bigrams, most_common(50). The explode happens JVM-side via
    transform(sequence(...)) — no Python in the hot path."""
    d = docs_input(spark, sf_dir)
    toks = F.filter(F.split(F.lower(F.col("text")), " "), lambda x: x != "")
    d = d.select(toks.alias("toks"))
    bigrams = F.transform(
        F.sequence(F.lit(1), F.size("toks") - 1),
        lambda i: F.concat_ws(" ", F.element_at("toks", i), F.element_at("toks", i + 1)),
    )
    return (
        d.filter(F.size("toks") >= 2)
        .select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("bigram"))
        .limit(50)
    )


def mean_by_group(spark, sf_dir) -> DataFrame:
    """A5: mean CER analog (cli_correct.py:601-602)."""
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.avg("l_discount"), 6).alias("avg_discount"),
        F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
    )


def minmax_by_group(spark, sf_dir) -> DataFrame:
    """A8: max-sequence-length scan (encoding.py:157-171)."""
    e = load(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.round(F.max("value"), 4).alias("max_value"),
        F.round(F.min("value"), 4).alias("min_value"),
        F.count(F.lit(1)).alias("n"),
    )


def hourly_rollup(spark, sf_dir) -> DataFrame:
    """Time-window aggregation over the event stream (the batch analog of a
    tumbling window; F.window maps here to date_trunc for oracle parity)."""
    e = load(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.date_trunc("hour", "ts").alias("hour"),
            "event_type",
        )
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 4).alias("sum_value"))
    )


# -------------------------------------------------------------- set ops ----

def stratified_split(spark, sf_dir) -> DataFrame:
    """U1: the seeded stratified train/test/val split
    (cli_preproc.py:816-888) done Spark-native: a deterministic arithmetic
    hash of the key → bucket 0..9 (no engine-specific hash functions, so the
    oracle can reproduce it bit-for-bit). Split sizes per stratum returned."""
    o = load(spark, sf_dir, "orders")
    bucket = (
        ((F.col("o_orderkey") * F.lit(2654435761)) % F.lit(4294967296)) % F.lit(10)
    ).cast("int").alias("split_bucket")
    return o.groupBy("o_orderstatus", bucket).agg(
        F.count(F.lit(1)).alias("n_orders"),
        (F.sum(cents("o_totalprice")) / 100.0).alias("sum_price"),
    )


def union_slices(spark, sf_dir) -> DataFrame:
    """U4/U5: corpus union (cli_preproc.py:1175-1192) — unionByName of two
    disjoint slices then a single agg."""
    o = load(spark, sf_dir, "orders")
    a = o.filter((F.col("o_orderstatus") == "O") & (F.col("o_totalprice") < 50000))
    b = o.filter(F.col("o_orderstatus") == "F")
    return (
        a.unionByName(b)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            # exact: integer-cent sum / count, one double division at the end
            (F.round(F.sum(cents("o_totalprice")) / F.count(F.lit(1)), 0) / 100.0).alias("avg_price"),
        )
    )
