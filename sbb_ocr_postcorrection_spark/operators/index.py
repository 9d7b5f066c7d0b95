"""Inverted index + conjunctive keyword search over the corpus.

Every serious training-data pipeline grows a search surface: "which
documents contain this phrase/term set" drives contamination audits
(find the benchmark string), curation debugging (find the boilerplate),
and takedown/PII response (find the offending page). The reference's
dictionary-membership scans (SURVEY §2 P10/S13, detect.py) answer
per-token membership; this is the corpus-side dual — a term → postings
index and a multi-term AND query on top of it.

Scale shape: the postings relation (doc_id, token, tf) is one explode +
two-phase count (the token_stats shape, the only corpus-sized job);
index statistics are one more aggregation on the token key. A query
joins the postings against a TINY term dimension (broadcast), so the
scan never explodes more than the probed terms' postings; conjunctive
matching is a count-distinct-equals-n gate inside the same aggregation;
ranking is integer tf with a pinned doc_id tie-break, and top-k goes
through TakeOrderedAndProject (the window only ever sees the k
survivors). No floats anywhere — BM25-style log/idf weighting is the
documented production swap (engine-specific float math stays outside
the oracle projection by design, the approx_percentile convention).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..functions.exprs import md5_60, tokens_expr as _tokens
from .relational import docs_input

INDEX_POSTING_CAP = 20
SEARCH_TERMS = 2
SEARCH_K = 20


def token_postings(spark: SparkSession, sf_dir: str, docs=None) -> DataFrame:
    """(doc_id, token, tf): the postings relation both surfaces share."""
    d = docs_input(spark, sf_dir, docs)
    return (
        d.select("doc_id", F.explode(_tokens(F.col("text"))).alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )


def inverted_index(spark: SparkSession, sf_dir: str, docs=None) -> DataFrame:
    """Term statistics + capped postings: (token, df, cf, top_postings).
    df = document frequency, cf = collection frequency; top_postings is
    the first INDEX_POSTING_CAP doc_ids in sorted order (bounded row
    width — full postings stay relational in token_postings, which is
    how a real consumer joins against them)."""
    tf = token_postings(spark, sf_dir, docs=docs)
    return tf.groupBy("token").agg(
        F.count(F.lit(1)).cast("long").alias("df"),
        F.sum("tf").cast("long").alias("cf"),
        F.slice(
            F.sort_array(F.collect_list("doc_id")), 1, INDEX_POSTING_CAP
        ).alias("top_postings"),
    )


def keyword_search(spark: SparkSession, sf_dir: str, docs=None) -> DataFrame:
    """Conjunctive (AND) multi-term query: (rank, doc_id, score).

    The driver fixture derives its probe terms IN-PLAN — the SEARCH_TERMS
    globally most frequent tokens (cf desc, token asc tie-break) — so
    the whole query is self-contained and SQL-replayable; a real caller
    passes its own term dimension the same way. A document matches when
    it carries ALL probed terms (count(distinct matched terms) ==
    SEARCH_TERMS inside the one scoring aggregation); score = total tf of
    the probed terms, integer; top-SEARCH_K by (score desc, doc_id asc)."""
    tf = token_postings(spark, sf_dir, docs=docs)
    terms = (
        tf.groupBy("token")
        .agg(F.sum("tf").alias("cf"))
        .orderBy(F.desc("cf"), F.asc("token"))
        .limit(SEARCH_TERMS)
        .select("token")
    )
    hits = (
        tf.join(F.broadcast(terms), "token")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_matched"),
            F.sum("tf").alias("score"),
        )
        .filter(F.col("n_matched") == SEARCH_TERMS)
    )
    topk = hits.orderBy(F.desc("score"), F.asc("doc_id")).limit(SEARCH_K)
    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    return topk.select(
        F.row_number().over(w).cast("int").alias("rank"),
        "doc_id",
        F.col("score").cast("long").alias("score"),
    )


def keyword_search_bm25(spark: SparkSession, sf_dir: str, docs=None) -> DataFrame:
    """BM25-weighted ranked retrieval over the postings (VERDICT r4
    next-step #4): (rank, doc_id, score) — keyword_search's integer-tf
    ranking upgraded with document-length saturation and rarity
    weighting, the surface a contamination audit or eval-search actually
    reaches for.

    Engine-exact by construction (the lm_unigram_score discipline):
    * fixed-point k1=1.2, b=0.75 — with avgdl = TT/N the per-term
      saturation tf·(k1+1)/(tf + k1·(1−b+b·dl/avgdl)) multiplies out to
      the INTEGER ratio 22·TT·tf / (10·TT·tf + 3·TT + 9·dl·N);
    * rarity weight is the exact Robertson–Spärck-Jones odds
      (N−df+0.5)/(df+0.5) = (2N−2df+1)/(2df+1), another integer ratio —
      the classic ln(1+·) compression is the documented production swap
      (libm log rounding differs across engines, the rare_terms note);
    * each per-term score is a product of two IEEE divisions of exact
      int64s — bit-identical in Spark and DuckDB — and the per-doc sum
      folds over the SORTED addend list (array_sort → aggregate, mirrored
      by list_sort → list_reduce), so aggregation order can never
      reorder a float sum. One round(·, 4) at the very end.

    Scale shape: probe terms broadcast; the postings scan touches only
    their postings; doc-length join is one equality shuffle on doc_id
    (doc-dimension-sized, NOT broadcast); corpus constants (N, TT) ride
    in as a broadcast 1-row cross join; top-SEARCH_K is TakeOrderedAndProject."""
    d = docs_input(spark, sf_dir, docs)
    tf = token_postings(spark, sf_dir, docs=d)
    stats = tf.groupBy("token").agg(
        F.sum("tf").alias("cf"), F.count(F.lit(1)).cast("long").alias("df")
    )
    terms = (
        stats.orderBy(F.desc("cf"), F.asc("token"))
        .limit(SEARCH_TERMS)
        .select("token", "df")
    )
    dl = tf.groupBy("doc_id").agg(F.sum("tf").cast("long").alias("dl"))
    consts = d.agg(F.count(F.lit(1)).cast("long").alias("n")).crossJoin(
        dl.agg(F.coalesce(F.sum("dl"), F.lit(0)).cast("long").alias("tt"))
    )
    per = (
        tf.join(F.broadcast(terms), "token")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(consts))
    )
    idf = (2 * F.col("n") - 2 * F.col("df") + 1).cast("double") / (
        2 * F.col("df") + 1
    ).cast("double")
    sat = (22 * F.col("tt") * F.col("tf")).cast("double") / (
        10 * F.col("tt") * F.col("tf") + 3 * F.col("tt") + 9 * F.col("dl") * F.col("n")
    ).cast("double")
    scored = (
        per.select("doc_id", (idf * sat).alias("s"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_matched"),
            F.round(
                F.aggregate(
                    F.array_sort(F.collect_list("s")),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ),
                4,
            ).alias("score"),
        )
        .filter(F.col("n_matched") == SEARCH_TERMS)
    )
    topk = scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(SEARCH_K)
    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    return topk.select(
        F.row_number().over(w).cast("int").alias("rank"), "doc_id", "score"
    )


RARE_TERMS_K = 3


def rare_terms(spark: SparkSession, sf_dir: str, docs=None) -> DataFrame:
    """Per-document distinctive terms: (doc_id, rnk, token, tf, df) — the
    RARE_TERMS_K terms ranked by (df asc, tf desc, token asc). This is the
    keyword-extraction / routing-signal op (what is this page ABOUT)
    done integer-only: classic TF-IDF's log-idf is a float whose libm
    rounding differs across engines, but its RANKING inside a document
    is (almost) the lexicographic order on (rarity, frequency) used
    here — engine-exact, so the driver hash-checks it.

    Plan: postings ⋈ document-frequency stats on the token key (two-phase
    agg both sides, equality shuffle — the df side is vocab-sized, too
    big to force-broadcast at corpus scale), then a per-doc window whose
    partitions are document-sized. No floats, no global sort."""
    from pyspark.sql import Window

    tf = token_postings(spark, sf_dir, docs=docs)
    df_stats = tf.groupBy("token").agg(
        F.count(F.lit(1)).cast("long").alias("df")
    )
    j = tf.join(df_stats, "token")
    w = Window.partitionBy("doc_id").orderBy(
        F.asc("df"), F.desc("tf"), F.asc("token")
    )
    return (
        j.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= RARE_TERMS_K)
        .select("doc_id", "rnk", "token", "tf", "df")
    )


def phrase_search(spark: SparkSession, sf_dir: str, docs=None) -> DataFrame:
    """Exact phrase lookup via positional postings: (doc_id, n_matches,
    first_pos) for every document containing the phrase with exact
    token adjacency — the contamination-audit query an inverted index
    without positions cannot answer (conjunctive AND finds co-occurring
    terms anywhere; a benchmark string must match in order).

    Classic positional intersection, fully relational: the positions
    relation (doc_id, pos, token) joins the tiny (term, offset) phrase
    dimension (broadcast), each match votes for its ANCHOR (pos −
    offset), and an anchor where every phrase offset voted
    (count(distinct offset) == |phrase|) is an occurrence. Overlapping
    occurrences count separately ("a b a b" contains "a b" twice). One
    equality join + two aggregations on doc-keyed groups; no arrays
    cross task boundaries.

    The phrase is the corpus' most frequent bigram (count desc, bigram
    asc — one collect of one row, the BPE-loop discipline)."""
    d = docs_input(spark, sf_dir, docs)
    toks = d.select("doc_id", _tokens(F.col("text")).alias("toks"))
    bigram_arr = F.when(
        F.size("toks") >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size("toks") - 1),
            lambda i: F.concat_ws(" ", F.slice(F.col("toks"), i, 2)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    top = (
        toks.select(F.explode(bigram_arr).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), F.asc("bigram"))
        .limit(1)
        .collect()
    )
    if not top:
        # BPE-exhaustion-guard convention: a corpus where no document
        # has >= 2 tokens gives an empty collect, not an IndexError
        raise ValueError("corpus has no bigrams to derive a phrase from")
    phrase = top[0]["bigram"].split(" ")
    ph = spark.createDataFrame(
        [(t, i) for i, t in enumerate(phrase)], "token string, off int"
    )
    pos = toks.select("doc_id", F.posexplode("toks").alias("p", "token"))
    anchors = (
        pos.join(F.broadcast(ph), "token")
        .select("doc_id", (F.col("p") - F.col("off")).alias("anchor"), "off")
        .groupBy("doc_id", "anchor")
        .agg(F.countDistinct("off").alias("k"))
        .filter(F.col("k") == len(phrase))
    )
    return anchors.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_matches"),
        F.min("anchor").cast("int").alias("first_pos"),
    )


COLL_SCALE = 10**9   # fixed-point unit for the lift ratio
COLL_MIN = 5         # min bigram count (the standard sparse-pair gate)
COLL_K = 100         # reported collocations


def collocations(spark: SparkSession, sf_dir: str, docs=None) -> DataFrame:
    """Top-COLL_K collocations: adjacent token pairs ranked by integer
    pointwise-mutual-information lift — the corpus-statistics surface a
    tokenizer-vocabulary or phrase-mining pass starts from (and BPE's
    merge criterion, raw pair count, is its count-only cousin).

    Ranking is the exact PMI order without any float: PMI(x,y) ranks by
    p(xy)/(p(x)p(y)) = n_xy·N²/(n_pairs·n_x·n_y); the N²/n_pairs factor
    is constant across pairs, so lift_fp = n_xy·COLL_SCALE div (n_x·n_y)
    (int64 throughout — n_xy ≤ 10⁶ keeps the product far from overflow)
    induces the identical ranking, engine-exact. Ties pinned by
    (lift desc, w1, w2); pairs with n_xy < COLL_MIN dropped (the
    classic sparse-pair noise gate).

    Scale shape: bigram extraction is an in-array transform (no
    self-join of positions); two two-phase counts (pairs, unigrams); the
    unigram join keys are token-dimension-sized but NOT broadcast (open
    vocabulary grows with the corpus — sort-merge + AQE handles it);
    top-COLL_K is TakeOrderedAndProject, never a global sort.
    """
    d = docs_input(spark, sf_dir, docs)
    toks = d.select(_tokens(F.col("text")).alias("t"))
    pairs = (
        toks.where(F.size("t") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(t) - 1), "
                    "i -> struct(element_at(t, i) AS w1, "
                    "element_at(t, i + 1) AS w2))"
                )
            ).alias("p")
        )
        .select("p.w1", "p.w2")
    )
    bc = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n_xy"))
    uc = (
        toks.select(F.explode("t").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    scored = (
        bc.where(F.col("n_xy") >= COLL_MIN)
        .join(uc.select(F.col("w").alias("w1"), F.col("n").alias("n_x")), "w1")
        .join(uc.select(F.col("w").alias("w2"), F.col("n").alias("n_y")), "w2")
        .select(
            "w1",
            "w2",
            "n_xy",
            F.expr(f"(n_xy * {COLL_SCALE}) div (n_x * n_y)").alias("lift_fp"),
        )
    )
    return scored.orderBy(
        F.desc("lift_fp"), F.asc("w1"), F.asc("w2")
    ).limit(COLL_K)


CMS_DEPTH = 4       # hash rows
CMS_WIDTH = 256     # counters per row
CMS_PROBES = 30     # probed tokens (top by exact cf, pinned)


def cms_token_counts(spark, sf_dir, docs=None) -> DataFrame:
    """Count-Min sketch of the corpus token stream (Cormode &
    Muthukrishnan 2005) + probe-token estimates vs exact counts.

    The sketch is the streaming-memory path for frequency queries when
    the exact (token, tf) relation is too large to keep hot: DEPTH×WIDTH
    integer counters, every token incrementing one counter per row,
    point estimate = min over rows — an OVERestimate by construction
    (collisions only add). Emitted per probe token: the estimate, the
    exact count, and the overestimate delta ≥ 0 (the property test).

    Engine-exactness: row hashes are md5_60(row || token) mod WIDTH, so
    counter cells and minima replay bit-for-bit in the oracle — a sketch
    with a HASH-CHECKED oracle, not a tolerance test.

    Scale shape: building the sketch is ONE aggregation on (row, cell)
    — at most DEPTH×WIDTH result rows regardless of corpus size, the
    whole point — with map-side combine absorbing the token stream; the
    probe lookup joins the DEPTH-row-per-token probe relation against
    the tiny counter relation (broadcast)."""
    d = docs_input(spark, sf_dir, docs)
    tok = d.select(F.explode(_tokens(F.col("text"))).alias("token"))
    rows = tok.select(
        "token",
        F.explode(F.sequence(F.lit(0), F.lit(CMS_DEPTH - 1))).alias("r"),
    ).select(
        "token",
        "r",
        F.pmod(
            md5_60(F.concat(F.col("r").cast("string"), F.lit("|"), F.col("token"))),
            F.lit(CMS_WIDTH),
        ).cast("int").alias("cell"),
    )
    counters = rows.groupBy("r", "cell").agg(F.count(F.lit(1)).alias("c"))
    exact = tok.groupBy("token").agg(F.count(F.lit(1)).alias("exact_tf"))
    probes = exact.orderBy(F.desc("exact_tf"), F.asc("token")).limit(CMS_PROBES)
    pcells = probes.select(
        "token",
        "exact_tf",
        F.explode(F.sequence(F.lit(0), F.lit(CMS_DEPTH - 1))).alias("r"),
    ).select(
        "token",
        "exact_tf",
        "r",
        F.pmod(
            md5_60(F.concat(F.col("r").cast("string"), F.lit("|"), F.col("token"))),
            F.lit(CMS_WIDTH),
        ).cast("int").alias("cell"),
    )
    est = (
        pcells.join(F.broadcast(counters), ["r", "cell"])
        .groupBy("token", "exact_tf")
        .agg(F.min("c").alias("cms_estimate"))
    )
    return est.select(
        "token",
        "exact_tf",
        "cms_estimate",
        (F.col("cms_estimate") - F.col("exact_tf")).alias("overestimate"),
    )


HLL_BUCKETS = 64    # m = 2^6 registers
HLL_ALPHA_M2 = 2904.064  # alpha_64 * m^2 = 0.709 * 4096
_HLL_POW55 = float(1 << 55)


def hll_distinct_tokens(spark, sf_dir, docs=None) -> DataFrame:
    """HyperLogLog distinct-token estimate per source (Flajolet et al.
    2007) beside the exact count — the fixed-memory path for distinct
    statistics when the exact distinct aggregation's shuffle is the
    bottleneck (HLL_BUCKETS registers per group, mergeable, one pass).

    Determinism discipline: the register relation is integer-exact
    (bucket = md5_60 % m; rank ρ = 55 − bit_length(h div m) + 1 via the
    bin() string — no float log2), and the harmonic sum Σ 2^−M_j is
    carried as the EXACT int64 numerator Σ 2^(55−M_j) (≤ 64·2^55 < 2^63)
    so cross-engine float-sum ordering can never differ; the estimate is
    then two IEEE flops on that integer plus the published small-range
    linear-counting correction, round-4 pinned. Registers themselves are
    also emitted via n_zero so the oracle certifies the sketch state,
    not just the headline number.

    Scale shape: ONE (source, bucket) max-aggregation — 64 result rows
    per group however large the corpus, map-side combinable (max is the
    HLL merge, which is why HLL shards trivially across executors)."""
    d = docs_input(spark, sf_dir, docs)
    tok = d.select("source", F.explode(_tokens(F.col("text"))).alias("token"))
    h = md5_60(F.col("token"))
    hb = tok.select("source", h.alias("h")).select(
        "source",
        F.pmod(F.col("h"), F.lit(HLL_BUCKETS)).cast("int").alias("bucket"),
        F.expr(f"h div {HLL_BUCKETS}").alias("v"),
    )
    rho = F.when(F.col("v") == 0, F.lit(55)).otherwise(
        F.lit(55) - F.length(F.expr("bin(v)")) + 1
    )
    regs = (
        hb.select("source", "bucket", rho.cast("int").alias("rho"))
        .groupBy("source", "bucket")
        .agg(F.max("rho").alias("m"))
    )
    snum = regs.groupBy("source").agg(
        (
            F.sum(F.expr("shiftleft(CAST(1 AS BIGINT), 55 - m)"))
            + (F.lit(HLL_BUCKETS) - F.count(F.lit(1)))
            * F.lit(1 << 55).cast("long")
        ).alias("s_num"),
        F.count(F.lit(1)).alias("n_present"),
    )
    exact = tok.groupBy("source").agg(
        F.countDistinct("token").alias("exact_distinct")
    )
    v_zero = (F.lit(HLL_BUCKETS) - F.col("n_present")).alias("n_zero")
    raw = F.lit(HLL_ALPHA_M2) * F.lit(_HLL_POW55) / F.col("s_num").cast("double")
    est = F.when(
        (F.col("n_present") < HLL_BUCKETS)
        & (raw < 2.5 * HLL_BUCKETS),
        F.lit(float(HLL_BUCKETS))
        * F.log(F.lit(float(HLL_BUCKETS)) / (F.lit(HLL_BUCKETS) - F.col("n_present"))),
    ).otherwise(raw)
    return snum.join(exact, "source").select(
        "source",
        "exact_distinct",
        v_zero,
        F.col("s_num"),
        F.round(est, 4).alias("hll_estimate"),
        F.round(
            (F.round(est, 4) - F.col("exact_distinct"))
            * 100.0
            / F.col("exact_distinct"),
            4,
        ).alias("err_pct"),
    )


KEYTERMS_K = 3


def doc_keyterms(spark, sf_dir, docs=None) -> DataFrame:
    """Per-document key terms by integer TF-IDF — extractive tagging for
    retrieval/routing exports: score(d, t) = c_dt · (ilog2(N_docs) −
    ilog2(df_t)), exact int64 under the Mitchell fixed-point log2
    (operators/selection discipline; idf ≥ 0 since df ≤ N). Top-KEYTERMS_K per
    doc via a doc-keyed window (scales with the corpus), pinned ties.

    Scale shape: df is one aggregation to the vocabulary dim; the
    corpus-sized (doc, token) relation joins it on the token key (hot
    tokens join one df row each — the lm_unigram shuffle shape); N_docs
    is a 1-row broadcast."""
    from pyspark.sql import Window

    from .selection import with_ilog2
    from ..functions.exprs import tokens_expr

    d = docs_input(spark, sf_dir, docs)
    tok = d.select("doc_id", F.explode(tokens_expr(F.col("text"))).alias("token"))
    ct = tok.groupBy("doc_id", "token").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    df_t = with_ilog2(
        ct.groupBy("token").agg(F.count(F.lit(1)).cast("long").alias("df")),
        "df",
        "ldf",
    )
    nd = with_ilog2(
        d.agg(F.count(F.lit(1)).cast("long").alias("n_docs")), "n_docs", "lnd"
    ).select("lnd")
    scored = (
        ct.join(df_t, "token")
        .crossJoin(F.broadcast(nd))
        .select(
            "doc_id",
            "token",
            "c",
            "df",
            (F.col("c") * (F.col("lnd") - F.col("ldf")))
            .cast("long")
            .alias("tfidf_num"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("tfidf_num"), F.asc("token")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= KEYTERMS_K)
        .select(
            "doc_id",
            F.col("rank").cast("int").alias("rank"),
            "token",
            F.col("c").cast("long").alias("tf"),
            F.col("df").cast("long").alias("df"),
            "tfidf_num",
        )
    )
