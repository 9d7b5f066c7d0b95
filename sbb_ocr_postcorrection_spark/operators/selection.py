"""Training-data SELECTION operators: which documents make the training
mix, and in what proportion.

The reference's pipeline picks its corpus with hard filters (language,
confidence — `qurator/sbb_ocr_postcorrection/preprocessing/cli_preproc.py`
language gate); a 100-TB pretraining pipeline additionally needs
*distribution-aware* selection. This module adds the three published
methods a modern curation stack runs after the hard gates:

* **DSIR** (Xie et al., "Data Selection for Language Models via
  Importance Resampling", NeurIPS 2023): hashed-bigram importance
  weights between a small target domain and the raw pool, per-document
  log-ratio scores, and a Gumbel-race top-k resample.
* **CCNet perplexity buckets** (Wenzek et al., LREC 2020): per-language
  head/middle/tail terciles of an LM score (here the integer bigram
  surprise of operators.textstats.lm_bigram_score).
* **Temperature-scaled source mixing** (the multinomial alpha-sampling
  of XLM-R / mT5, Conneau et al. 2020): per-source inclusion rate
  proportional to n_s^(alpha-1) with alpha = 1/2.

Cross-engine exactness discipline (the lm_unigram rule: no log/exp
doubles in anything the value-hash oracle sees):

* log-space quantities use **Mitchell's fixed-point log2 approximation**
  (Mitchell 1962): ilog2(x) = S·f + S·(x − 2^f) div 2^f with
  f = floor(log2 x) = length(bin(x)) − 1 — pure int64 arithmetic
  (`bin`/`shiftleft`/`div`), bit-identical in Spark and DuckDB.
* alpha = 1/2 uses floor(sqrt(n)): IEEE sqrt is correctly rounded in
  both engines and n < 2^52 casts exactly, so the floor is deterministic
  (perfect squares hit the exact value, non-squares are irrational).
* subtraction appears only where both engines agree: `div`/`//` are only
  ever applied to NONNEGATIVE numerators (Spark truncates, DuckDB
  floors — they differ below zero), so race keys multiply instead of
  dividing by the temperature.

Scale shape: every weight/threshold relation here is dimension-sized
(DSIR_BUCKETS rows, per-language distinct-score histograms, one row per
source) and broadcast back to the corpus-sized stream; the resample is
TakeOrderedAndProject (per-partition top-k, no global sort); the heaps
checkpoints fan the vocabulary dim out ×|checkpoints| and aggregate
immediately. Nothing corpus-sized crosses the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .textstats import _base_docs, _tokens

# hashed bigram feature dim (the paper uses 10k buckets at web scale;
# 1024 keeps every bucket populated at the test SFs — a constant, not a
# data-dependent knob)
DSIR_BUCKETS = 1024
DSIR_S = 1024          # Mitchell fixed-point scale (log2 units × S)
DSIR_TAU = 16          # race temperature multiplier (key = TAU·log2(E) − score)
DSIR_K = 100           # resample size
DSIR_TARGET_LANG = "en"  # the target domain: curated English text
_U_BITS = 40           # uniform-draw width for the race

MIX_ALPHA_DEN = 2      # alpha = 1/2: inclusion rate 1/isqrt(n_s)

HEAPS_CHECKPOINTS = 16  # powers of two: 1, 2, 4, ... 2^15 docs


def _md5long(col):
    """First 15 hex chars of md5 → 60-bit nonnegative int64 (the repo's
    one hashing convention, mirrored by queries._hex2int)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def with_ilog2(df: DataFrame, x: str, out: str) -> DataFrame:
    """Append `out` = Mitchell fixed-point log2 of the POSITIVE int64
    column `x`: S·floor(log2 x) + S·(x − 2^f) div 2^f. Exact int64 in
    both engines; the piecewise-linear interpolant is within
    0.0861 + 1/S of true log2 (Mitchell 1962's analytic bound plus the
    fixed-point floor — hypothesis-pinned in tests/test_selection.py),
    ample for ranking weights."""
    return (
        df.withColumn("_f", (F.length(F.bin(F.col(x))) - 1).cast("long"))
        .withColumn("_p", F.expr("shiftleft(cast(1 as bigint), cast(_f as int))"))
        .withColumn(out, F.expr(f"_f * {DSIR_S} + (({x} - _p) * {DSIR_S}) div _p"))
        .drop("_f", "_p")
    )


def _bigram_buckets(d: DataFrame) -> DataFrame:
    """One row per bigram occurrence: (doc_id, is_target, bucket).

    The hashed-ngram featurization of DSIR §2.2: the bigram string is
    md5-hashed into DSIR_BUCKETS buckets, so the weight model is a
    fixed-width dimension no matter the corpus vocabulary."""
    toks = _tokens(F.col("text"))
    return (
        d.select(
            "doc_id",
            (F.col("lang") == DSIR_TARGET_LANG).alias("is_target"),
            toks.alias("toks"),
        )
        .where(F.size("toks") >= 2)
        .select(
            "doc_id",
            "is_target",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("toks") - 1),
                    lambda i: F.concat_ws(
                        " ",
                        F.element_at(F.col("toks"), i),
                        F.element_at(F.col("toks"), i + 1),
                    ),
                )
            ).alias("bg"),
        )
        .select(
            "doc_id",
            "is_target",
            (_md5long(F.col("bg")) % DSIR_BUCKETS).alias("bucket"),
        )
    )


def _bucket_counts(bg: DataFrame) -> DataFrame:
    """Per-bucket target (ct) and raw (cr) occurrence counts of a
    bigram-bucket stream: one hash aggregation to ≤ DSIR_BUCKETS rows."""
    return bg.groupBy("bucket").agg(
        F.sum(F.col("is_target").cast("long")).alias("ct"),
        F.sum((~F.col("is_target")).cast("long")).alias("cr"),
    )


def _weights_from_counts(spark, cnt: DataFrame) -> DataFrame:
    """Bucket weight dim (bucket, ct, cr, w) from per-bucket counts:
    buckets without a count get 0, then integer Mitchell logs.

    w_b = ilog2(ct_b+1) − ilog2(cr_b+1) + ilog2(Nr+B) − ilog2(Nt+B)
    — the fixed-point form of log(λ̂t_b / λ̂r_b) with add-one smoothing
    over target (ct) and raw (cr) occurrence counts."""
    full = spark.range(DSIR_BUCKETS).select(F.col("id").cast("long").alias("bucket"))
    cnt = full.join(cnt, "bucket", "left").select(
        "bucket",
        F.coalesce("ct", F.lit(0)).cast("long").alias("ct"),
        F.coalesce("cr", F.lit(0)).cast("long").alias("cr"),
    )
    tot = cnt.agg(
        (F.sum("ct") + DSIR_BUCKETS).cast("long").alias("nt1"),
        (F.sum("cr") + DSIR_BUCKETS).cast("long").alias("nr1"),
    )
    tot = with_ilog2(with_ilog2(tot, "nt1", "lnt"), "nr1", "lnr")
    w = cnt.withColumn("ct1", F.col("ct") + 1).withColumn("cr1", F.col("cr") + 1)
    w = with_ilog2(with_ilog2(w, "ct1", "lct"), "cr1", "lcr")
    return w.crossJoin(F.broadcast(tot.select("lnt", "lnr"))).select(
        "bucket",
        "ct",
        "cr",
        (F.col("lct") - F.col("lcr") + F.col("lnr") - F.col("lnt"))
        .cast("long")
        .alias("w"),
    )


def dsir_weights(spark, sf_dir, docs=None) -> DataFrame:
    """DSIR step 1 — train the hashed-bigram importance model.

    Output: one row per bucket (bucket, ct, cr, w). The whole "training"
    is ONE aggregation to a dimension (the lang_id_train precedent), so
    at 100 TB it is a single map-side-combinable pass over the corpus."""
    from .relational import persist_slot

    d = _base_docs(spark, sf_dir, docs)
    bg = persist_slot("dsir_bigrams", _bigram_buckets(d))
    return _weights_from_counts(spark, _bucket_counts(bg))


def dsir_score(spark, sf_dir, docs=None) -> DataFrame:
    """DSIR step 2 — per-document importance score.

    score_d = Σ_b c_{d,b} · w_b (exact int64): the fixed-point log
    importance weight log p_target(d)/p_raw(d) under the hashed bigram
    model. The weight dim (DSIR_BUCKETS rows) broadcasts; the per-doc
    bucket counts shuffle once on doc_id."""
    from .relational import persist_slot

    d = _base_docs(spark, sf_dir, docs)
    bg = persist_slot("dsir_bigrams", _bigram_buckets(d))
    w = _weights_from_counts(spark, _bucket_counts(bg)).select("bucket", "w")
    per_b = bg.groupBy("doc_id", "bucket").agg(F.count(F.lit(1)).alias("c"))
    sc = (
        per_b.join(F.broadcast(w), "bucket")
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("long").alias("n_grams"),
            F.sum(F.col("c") * F.col("w")).cast("long").alias("score"),
        )
    )
    base = d.select(
        "doc_id",
        "lang",
        (F.col("lang") == DSIR_TARGET_LANG).cast("int").alias("is_target"),
    )
    # a 0/1-token doc has no bigram features: score 0 (it carries no
    # evidence either way; the hard gates judge emptiness)
    return base.join(sc, "doc_id", "left").select(
        "doc_id",
        "lang",
        "is_target",
        F.coalesce("n_grams", F.lit(0)).cast("long").alias("n_grams"),
        F.coalesce("score", F.lit(0)).cast("long").alias("score"),
    )


def dsir_sample(spark, sf_dir, k: int = DSIR_K, docs=None) -> DataFrame:
    """DSIR step 3 — Gumbel-race top-k resample of the RAW pool.

    The paper samples ∝ exp(score/τ) without replacement; the
    deterministic analog is the exponential race (Efraimidis–Spirakis):
    draw u_d uniform from md5(doc_id), E_d = −log2(u_d) is exponential,
    and the winners minimize log2(E_d) − score_d/τ. In fixed point:
    race_key = TAU·ilog2(E_d) − score_d (MULTIPLYING by the temperature
    so no division ever sees a negative score). Top-k is
    orderBy(...).limit(k) → TakeOrderedAndProject: each partition keeps
    k rows, no global sort at any scale."""
    sc = dsir_score(spark, sf_dir, docs=docs).where(F.col("is_target") == 0)
    u = (
        _md5long(F.concat(F.lit("dsir|"), F.col("doc_id").cast("string")))
        % (1 << _U_BITS)
        + 1
    )
    sc = with_ilog2(sc.withColumn("u1", u.cast("long")), "u1", "lu")
    # E = −log2(u) in S units, shifted ≥ 1 so the outer ilog2 is defined
    sc = with_ilog2(
        sc.withColumn("e1", F.lit(_U_BITS * DSIR_S).cast("long") - F.col("lu") + 1),
        "e1",
        "le",
    )
    return (
        sc.withColumn(
            "race_key",
            (F.lit(DSIR_TAU).cast("long") * F.col("le") - F.col("score")).cast(
                "long"
            ),
        )
        .select("doc_id", "lang", "n_grams", "score", "race_key")
        .orderBy(F.col("race_key").asc(), F.col("doc_id").asc())
        .limit(k)
    )


# --------------------------------------------------------------------------
# CCNet-style per-language perplexity buckets
# --------------------------------------------------------------------------

def ccnet_buckets(spark, sf_dir, docs=None) -> DataFrame:
    """Per-language head/middle/tail LM-score terciles (CCNet, Wenzek et
    al. 2020 §4.3: documents are bucketed by KenLM perplexity terciles
    computed PER LANGUAGE; 'head' trains the highest-quality models).

    The LM score is the integer bigram surprise mean of lm_bigram_score:
    m_d = sum_r div max(n_bigrams, 1) — exact int64, so the tercile
    thresholds are integer order statistics. Thresholds come from the
    per-(lang, m) HISTOGRAM (distinct score values — a dimension), a
    cumulative window over that dimension, and a broadcast rejoin: no
    corpus-sized window, the quality_classifier_pr_curve discipline.

    t1 = smallest m with cum ≥ ceil(n_l/3); t2 = smallest m with
    cum ≥ ceil(2·n_l/3); bucket: m ≤ t1 → head, m ≤ t2 → middle, else
    tail. A doc with no bigrams scores m = 0 (maximally predictable →
    head; the emptiness gates live elsewhere)."""
    from pyspark.sql import Window
    from .textstats import lm_bigram_score

    d = _base_docs(spark, sf_dir, docs)
    lm = lm_bigram_score(spark, sf_dir, docs=d).select("doc_id", "sum_r", "n_bigrams")
    scored = (
        d.select("doc_id", "lang")
        .join(lm, "doc_id")
        .select(
            "doc_id",
            "lang",
            F.expr("sum_r div greatest(n_bigrams, 1)").cast("long").alias("m"),
        )
    )
    hist = scored.groupBy("lang", "m").agg(F.count(F.lit(1)).alias("c"))
    win = (
        Window.partitionBy("lang")
        .orderBy("m")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = hist.withColumn("cum", F.sum("c").over(win)).withColumn(
        "n_l", F.sum("c").over(Window.partitionBy("lang"))
    )
    thr = cum.groupBy("lang").agg(
        F.min(
            F.when(F.expr("cum * 3 >= n_l"), F.col("m"))
        ).alias("t1"),
        F.min(
            F.when(F.expr("cum * 3 >= 2 * n_l"), F.col("m"))
        ).alias("t2"),
    )
    return scored.join(F.broadcast(thr), "lang").select(
        "doc_id",
        "lang",
        "m",
        F.when(F.col("m") <= F.col("t1"), F.lit("head"))
        .when(F.col("m") <= F.col("t2"), F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("bucket"),
    )


# --------------------------------------------------------------------------
# temperature-scaled source mixing
# --------------------------------------------------------------------------

def mix_temperature(spark, sf_dir, docs=None) -> DataFrame:
    """Temperature-scaled multinomial source sampling with alpha = 1/2
    (Conneau et al. 2020 §3.1 / mT5: sample source s ∝ n_s^alpha, which
    per DOCUMENT is an inclusion rate ∝ n_s^(alpha−1) = 1/sqrt(n_s) —
    large sources are downweighted, small sources surface).

    isqrt(n_s) = floor(sqrt(n_s)) is cross-engine exact (correctly
    rounded IEEE sqrt on an exactly-cast int64); the per-doc coin is the
    corpus_sample md5 convention: keep iff md5(doc) % isqrt(n_s) == 0 —
    rate exactly 1/isqrt(n_s), expected kept per source ≈ n_s^alpha.
    The source dim (one row per source) broadcasts back; no windows."""
    d = _base_docs(spark, sf_dir, docs)
    per_src = (
        d.groupBy("source")
        .agg(F.count(F.lit(1)).cast("long").alias("n_src"))
        .withColumn(
            "w_src",
            F.greatest(
                F.floor(F.sqrt(F.col("n_src").cast("double"))).cast("long"),
                F.lit(1).cast("long"),
            ),
        )
    )
    coin = _md5long(F.concat(F.lit("mix|"), F.col("doc_id").cast("string")))
    return (
        d.select("doc_id", "source")
        .join(F.broadcast(per_src), "source")
        .select(
            "doc_id",
            "source",
            "n_src",
            "w_src",
            (coin % F.col("w_src") == 0).cast("int").alias("kept"),
        )
    )


# --------------------------------------------------------------------------
# Heaps-law vocabulary growth
# --------------------------------------------------------------------------

def vocab_growth(spark, sf_dir, docs=None) -> DataFrame:
    """Vocabulary growth curve (Heaps' law V(n) ≈ K·n^β): distinct
    vocabulary and token totals after the first 1, 2, 4, … 2^15 docs in
    doc_id order — the instrument that tells a tokenizer team whether a
    corpus slice is saturating its vocab budget.

    Shape: token first-occurrence is min(doc_id) per token (one
    aggregation to the vocabulary dim); the 16 checkpoints are a
    broadcast literal dim fanned against the vocab dim and aggregated
    immediately — no per-checkpoint rescans of the corpus."""
    d = _base_docs(spark, sf_dir, docs)
    tok = d.select("doc_id", F.explode(_tokens(F.col("text"))).alias("token"))
    first = tok.groupBy("token").agg(F.min("doc_id").alias("first_doc"))
    per_doc = d.select(
        "doc_id", F.size(_tokens(F.col("text"))).cast("long").alias("n_tok")
    )
    cps = spark.range(HEAPS_CHECKPOINTS).select(
        F.expr("shiftleft(cast(1 as bigint), cast(id as int))").alias("checkpoint")
    )
    vocab = (
        first.crossJoin(F.broadcast(cps))
        .where(F.col("first_doc") < F.col("checkpoint"))
        .groupBy("checkpoint")
        .agg(F.count(F.lit(1)).cast("long").alias("vocab_size"))
    )
    toks = (
        per_doc.crossJoin(F.broadcast(cps))
        .where(F.col("doc_id") < F.col("checkpoint"))
        .groupBy("checkpoint")
        .agg(
            F.sum("n_tok").cast("long").alias("n_tokens"),
            F.count(F.lit(1)).cast("long").alias("n_docs_used"),
        )
    )
    return (
        cps.join(vocab, "checkpoint", "left")
        .join(toks, "checkpoint", "left")
        .where(F.col("n_docs_used").isNotNull())
        .select(
            "checkpoint",
            "n_docs_used",
            F.coalesce("vocab_size", F.lit(0)).cast("long").alias("vocab_size"),
            F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
        )
    )


# --------------------------------------------------------------------------
# pairwise source divergence (mix diagnostics)
# --------------------------------------------------------------------------

def source_divergence(spark, sf_dir, docs=None) -> DataFrame:
    """Pairwise token-distribution divergence between sources — the mix
    diagnostic behind temperature/mix weighting: a source whose unigram
    distribution diverges hard from every other is an outlier (OCR junk,
    wrong-language feed); near-zero divergence flags redundant feeds
    (the lexical complement of source_overlap_matrix's syndication
    detector).

    The statistic is smoothed KL over the support of source a, in
    Mitchell fixed-point log2 units (exact int64 — the DSIR discipline):

        kl_num(a→b) = Σ_{t: c_at>0} c_at · [ ilog2(c_at · (N_b + V))
                                           − ilog2((c_bt + 1) · N_a) ]

    (add-one smoothing on the q side only, so every log argument is
    positive; the ONE display division kl_bits = kl_num / (N_a · S) is a
    two-flop IEEE expression on exact integers — deterministic in both
    engines.)

    Scale shape: per-(source, token) counts are one hash aggregation
    (vocabulary × sources rows); the pair expansion crossJoins each
    a-side row against the SOURCE DIM ONLY (broadcast, |S| rows) and
    left-joins b-counts back on (token, source) — ×|S| fan-out of a
    vocabulary-sized relation, aggregated immediately; no all-pairs on
    anything corpus-sized."""
    from .relational import persist_slot

    d = _base_docs(spark, sf_dir, docs)
    tok = d.select(
        "source", F.explode(_tokens(F.col("text"))).alias("token")
    )
    cnt = persist_slot(
        "srcdiv_counts",
        tok.groupBy("source", "token").agg(
            F.count(F.lit(1)).cast("long").alias("c")
        ),
    )
    ns = cnt.groupBy("source").agg(F.sum("c").cast("long").alias("n_tok"))
    vsize = cnt.select("token").distinct().agg(
        F.count(F.lit(1)).cast("long").alias("v")
    )
    a = (
        cnt.select(
            F.col("source").alias("source_a"),
            "token",
            F.col("c").alias("c_a"),
        )
        .crossJoin(F.broadcast(ns.select(F.col("source").alias("source_b"))))
        .where(F.col("source_a") != F.col("source_b"))
    )
    b = cnt.select(
        F.col("source").alias("source_b"),
        "token",
        F.col("c").alias("c_b"),
    )
    terms = (
        a.join(b, ["source_b", "token"], "left")
        .select(
            "source_a",
            "source_b",
            "token",
            "c_a",
            F.coalesce("c_b", F.lit(0)).cast("long").alias("c_b"),
        )
        .join(
            F.broadcast(
                ns.select(
                    F.col("source").alias("source_a"),
                    F.col("n_tok").alias("n_a"),
                )
            ),
            "source_a",
        )
        .join(
            F.broadcast(
                ns.select(
                    F.col("source").alias("source_b"),
                    F.col("n_tok").alias("n_b"),
                )
            ),
            "source_b",
        )
        .crossJoin(F.broadcast(vsize))
        .withColumn("x1", (F.col("c_a") * (F.col("n_b") + F.col("v"))).cast("long"))
        .withColumn("x2", ((F.col("c_b") + 1) * F.col("n_a")).cast("long"))
    )
    terms = with_ilog2(with_ilog2(terms, "x1", "l1"), "x2", "l2")
    out = (
        terms.groupBy("source_a", "source_b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_terms_a"),
            F.sum(F.when(F.col("c_b") > 0, 1).otherwise(0))
            .cast("long")
            .alias("n_shared"),
            F.sum(F.col("c_a") * (F.col("l1") - F.col("l2")))
            .cast("long")
            .alias("kl_num"),
            F.max("n_a").alias("n_a"),
        )
        .select(
            "source_a",
            "source_b",
            "n_terms_a",
            "n_shared",
            "kl_num",
            F.round(
                F.col("kl_num").cast("double")
                / (F.col("n_a") * DSIR_S).cast("double"),
                6,
            ).alias("kl_bits"),
        )
    )
    return out


def dsir_weights_incremental(spark, sf_dir, docs=None) -> DataFrame:
    """Incremental importance-model retrain — the dedup_incremental shape
    applied to DSIR: yesterday's model persists as its BUCKET COUNTS
    (the sufficient statistic — counts are additive, so merging is one
    union + sum, never a re-scan of history), today's delta batch adds
    its counts, and the weights recompute from the merged dimension.

    Split is deterministic (doc_id % 2 = history, else delta) and the
    merged counts are EXACTLY the full-corpus counts, so this query
    shares dsir_weights' oracle verbatim — the driver itself certifies
    that incremental retraining ≡ full retraining (the
    host_tiers_scaled / dedup_minhash_lsh_salted equivalence
    convention).

    Scale shape: at 100 TB the history side is a stored 1024-row
    parquet, not a recount; here it is recomputed from the history
    fold to keep the query self-contained — the merge path (union +
    one sum-aggregation over 2×DSIR_BUCKETS rows) is the part that
    matters and is identical either way."""
    d = _base_docs(spark, sf_dir, docs)
    hist_bg = _bigram_buckets(d.where(F.col("doc_id") % 2 == 0))
    delta_bg = _bigram_buckets(d.where(F.col("doc_id") % 2 != 0))

    merged = (
        _bucket_counts(hist_bg)
        .unionByName(_bucket_counts(delta_bg))
        .groupBy("bucket")
        .agg(F.sum("ct").alias("ct"), F.sum("cr").alias("cr"))
    )
    return _weights_from_counts(spark, merged)


CUR_SHARDS = 8          # shards per phase
CUR_DECILE = 10         # anneal = (at least) the top 1/CUR_DECILE by score
CUR_KEY_BITS = 20       # curriculum key: score-major, md5 minor


def curriculum_plan(spark, sf_dir, docs=None) -> DataFrame:
    """Two-phase training schedule — the decay/anneal phase of
    WSD-style training consumes the highest-quality slice (MiniCPM's
    annealing mix, OLMo 2's mid-training): assign each document a PHASE
    (anneal = at least the top decile by the model-based quality score,
    ties kept), a deterministic SHARD within the corpus (md5 coin), and
    an integer CURRICULUM KEY (score-major, md5 minor) the exporter
    sorts shards by at write time.

    No corpus-sized window anywhere: the decile threshold is an order
    statistic over the (score)-histogram dim (descending cumulative —
    the ccnet_buckets discipline), and the sort the curriculum implies
    is delegated to the exporter via the KEY instead of a row_number
    (a per-shard row_number would sort corpus/shards rows per task)."""
    from .textstats import quality_classifier

    qc = quality_classifier(spark, sf_dir, docs=docs).select(
        "doc_id", "clf_score"
    )
    hist = qc.groupBy("clf_score").agg(F.count(F.lit(1)).alias("c"))
    from pyspark.sql import Window

    wd = (
        Window.orderBy(F.desc("clf_score"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # histogram dim: distinct integer scores — the ONE tiny ordered window
    cum = hist.withColumn("cumd", F.sum("c").over(wd)).crossJoin(
        F.broadcast(qc.agg(F.count(F.lit(1)).alias("n")))
    )
    # t = the LARGEST score whose descending cumulative already covers a
    # decile — the minimal top slice of size ≥ n/10 (min() here would
    # always pick the lowest score, cumd(min) = n ≥ n/10 vacuously)
    thr = cum.agg(
        F.max(
            F.when(F.col("cumd") * CUR_DECILE >= F.col("n"), F.col("clf_score"))
        ).alias("t")
    )
    coin = _md5long(F.concat(F.lit("cur|"), F.col("doc_id").cast("string")))
    key_minor = _md5long(
        F.concat(F.lit("ck|"), F.col("doc_id").cast("string"))
    ) % (1 << CUR_KEY_BITS)
    return qc.crossJoin(F.broadcast(thr)).select(
        "doc_id",
        "clf_score",
        F.when(F.col("clf_score") >= F.col("t"), F.lit("anneal"))
        .otherwise(F.lit("pretrain"))
        .alias("phase"),
        (coin % CUR_SHARDS).cast("int").alias("shard"),
        (
            F.col("clf_score") * (1 << CUR_KEY_BITS) + key_minor
        )
        .cast("long")
        .alias("curriculum_key"),
    )
