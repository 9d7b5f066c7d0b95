"""Temporal operators over the events stream: as-of join.

As-of ("most recent prior") joins are the temporal primitive Spark lacks
as a built-in: for every probe event, attach the latest reference event at
or before it, per key. The naive formulation — a range join
(p.ts >= r.ts) + per-probe max — explodes to O(|P|·|R|) per key and plans
as a BroadcastNestedLoop; the scale-correct shape used here is
UNION + ORDERED WINDOW:

  1. tag both sides and union them — one relation, no join at all;
  2. one shuffle: partition by the key, order by (ts, side, event_id);
  3. `last(reference-side columns, ignorenulls=True)` over the unbounded
     preceding frame carries the latest reference event forward;
  4. keep only probe rows.

Cost is a single equality shuffle on the key plus a sort within
partitions — the same plan a sessionization runs — regardless of how many
reference rows precede each probe. Ties: a reference event at exactly the
probe's timestamp counts (the 'c' side tag sorts before 'p' at equal ts),
and equal-timestamp reference events break by event_id, so the result is
fully deterministic and the DuckDB oracle (same window, IGNORE NULLS)
hash-matches.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W, functions as F

from .relational import load, spread_scan

# asof_join: each probe event looks up the latest reference event
ASOF_PROBE_TYPE = "error"
ASOF_REF_TYPE = "click"


def asof_join(spark, sf_dir) -> DataFrame:
    """For each ASOF_PROBE_TYPE event: the latest ASOF_REF_TYPE event by
    the same user at or before it. Returns one row per probe event; reference
    columns are null when no prior reference event exists."""
    e = load(spark, sf_dir, "events")
    ref = e.filter(F.col("event_type") == ASOF_REF_TYPE).select(
        "user_id",
        "ts",
        F.lit("c").alias("side"),
        F.col("event_id"),
        F.col("event_id").alias("r_id"),
        F.col("ts").alias("r_ts"),
    )
    probe = e.filter(F.col("event_type") == ASOF_PROBE_TYPE).select(
        "user_id",
        "ts",
        F.lit("p").alias("side"),
        F.col("event_id"),
        F.lit(None).cast("long").alias("r_id"),
        # the parquet ts is TIMESTAMP_NTZ — the null literal must match or
        # the union coerces the whole column
        F.lit(None).cast(e.schema["ts"].dataType).alias("r_ts"),
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "side", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    carried = ref.unionByName(probe).select(
        "user_id",
        "ts",
        "side",
        "event_id",
        F.last("r_id", ignorenulls=True).over(w).alias("ref_id"),
        F.last("r_ts", ignorenulls=True).over(w).alias("ref_ts"),
    )
    return carried.filter(F.col("side") == "p").select(
        "event_id",
        "user_id",
        "ts",
        "ref_id",
        "ref_ts",
        # timestamp_diff works on TIMESTAMP_NTZ directly — no session-tz
        # cast, so the lag is wall-clock-exact even across DST transitions
        # for callers outside the UTC-pinned driver harness
        F.timestamp_diff("MICROSECOND", F.col("ref_ts"), F.col("ts")).alias(
            "lag_us"
        ),
    )


TREND_DAYS = 30     # synthetic ingest calendar length
TREND_WINDOW = 7    # trailing-window width (strictly prior days)
SPIKE_FACTOR = 2    # spike: day volume > factor × trailing average


def ingest_trend(spark, sf_dir) -> DataFrame:
    """Ingest-volume monitoring: per-day document/char counts with a
    trailing 7-day baseline and an integer-exact spike flag — the
    dashboard query a crawl operator watches for a broken feed (volume
    collapse) or a loop/spam burst (volume spike). The spike rule avoids
    floats entirely: day > SPIKE_FACTOR × (trail_sum / WINDOW) is
    evaluated as day · WINDOW > SPIKE_FACTOR · trail_sum — both sides
    int64, so the verdict hash-matches by construction (the lm_unigram
    discipline). Days with no prior history never flag.

    Scale shape: ONE corpus-sized rollup onto the day dimension
    (map-side combinable), then the trailing window is a day-dimension
    self-join (datediff ∈ [1, WINDOW], broadcast — the dimension is
    ~365·years rows, never corpus-sized) instead of a global ordered
    window; no SinglePartition over anything data-sized. The ingest day
    is synthesized as a 30-day calendar (doc_id % 30) — a real corpus
    has warc_ts partitioning instead."""
    d = load(spark, sf_dir, "documents")
    day = F.date_add(
        F.to_date(F.lit("2024-01-01")),
        (F.col("doc_id") % TREND_DAYS).cast("int"),
    )
    per = d.select(day.alias("dt"), "n_chars").groupBy("dt").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("long").alias("n_chars_day"),
    )
    a = per.alias("a")
    b = per.select(
        F.col("dt").alias("bdt"), F.col("n_chars_day").alias("bchars")
    )
    dd = F.datediff(F.col("a.dt"), F.col("bdt"))
    trail = (
        a.join(F.broadcast(b), (dd >= 1) & (dd <= TREND_WINDOW), "left")
        .groupBy("a.dt", "a.n_docs", "a.n_chars_day")
        .agg(
            F.coalesce(F.sum("bchars"), F.lit(0)).cast("long").alias("trail_chars"),
            F.count("bdt").cast("long").alias("n_prior_days"),
        )
    )
    spike = (
        (F.col("n_prior_days") > 0)
        & (
            F.col("n_chars_day") * TREND_WINDOW
            > SPIKE_FACTOR * F.col("trail_chars")
        )
    ).cast("int")
    return trail.select(
        F.col("dt"),
        F.col("n_docs"),
        F.col("n_chars_day"),
        "trail_chars",
        "n_prior_days",
        spike.alias("spike"),
    )


TA_TRAIL = 4     # trailing windows in the per-host baseline
TA_FACTOR = 2    # anomaly: window volume > factor × trailing average
TA_HOSTS = 13    # fixture host dimension
TA_EPOCHS = 24   # fixture epoch calendar
TA_SPIKE_EPOCH = 20  # fixture: every 5th doc lands here — a real burst


def host_trailing_anomaly(spark, sf_dir) -> DataFrame:
    """Per-HOST ingest anomaly with a SELF-ADAPTIVE trailing baseline:
    each (host, window) volume compared against that host's own previous
    TA_TRAIL windows — the per-feed refinement of ingest_trend (one
    global calendar can hide a single host going rogue inside normal
    total volume). Integer-only verdict, same discipline:
    n_docs · TRAIL > FACTOR · trail_sum, flagged only with FULL history
    (n_trail == TRAIL — a young feed never flags).

    Scale shape: ONE corpus-sized rollup onto (host, window); the lag
    window then runs over the host×windows DIMENSION (never
    corpus-sized), partitioned by host — no SinglePartition. Fixture:
    host = doc_id % TA_HOSTS, window = doc_id div TA_HOSTS mod
    TA_EPOCHS, except every 5th doc piles into TA_SPIKE_EPOCH — a
    volume burst every host must flag (the non-vacuity injection)."""
    from pyspark.sql import Window

    d = load(spark, sf_dir, "documents")
    host = F.concat(F.lit("h"), (F.col("doc_id") % TA_HOSTS).cast("string"))
    epoch = (
        F.when(F.col("doc_id") % 5 == 0, F.lit(TA_SPIKE_EPOCH))
        .otherwise(
            F.expr(f"doc_id div {TA_HOSTS}") % TA_EPOCHS
        )
        .cast("long")
    )
    per = (
        d.select(host.alias("host"), epoch.alias("epoch"))
        .groupBy("host", "epoch")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )
    w = (
        Window.partitionBy("host")
        .orderBy("epoch")
        .rowsBetween(-TA_TRAIL, -1)
    )
    tr = per.select(
        "host",
        "epoch",
        "n_docs",
        F.coalesce(F.sum("n_docs").over(w), F.lit(0))
        .cast("long")
        .alias("trail_sum"),
        F.count(F.lit(1)).over(w).cast("long").alias("n_trail"),
    )
    anomaly = (
        (F.col("n_trail") == TA_TRAIL)
        & (F.col("n_docs") * TA_TRAIL > TA_FACTOR * F.col("trail_sum"))
    ).cast("int")
    return tr.select(
        "host", "epoch", "n_docs", "trail_sum", "n_trail",
        anomaly.alias("anomaly"),
    )


FUNNEL_STEPS = ("view", "click", "purchase")


def funnel_analysis(spark, sf_dir) -> DataFrame:
    """Ordered-sequence funnel over the event stream: per user, the
    earliest 'view', the earliest 'click' strictly AFTER that view, and
    the earliest 'purchase' strictly after that click — the canonical
    product-analytics sequential-pattern query (and, in pipeline terms,
    the crawl analog discover → fetch → extract progression audit).

    Plan shape: one per-step min-aggregation on user_id chained by
    equi-joins — each stage is a two-phase combinable agg + a user-keyed
    join, NO per-user ordered window over the full stream (an ordered
    window would sort every user's whole history; the min-chain reads
    each step's events once). Depth/conversion are integer verdicts."""
    e = spread_scan(spark, sf_dir, "events")
    v, c, p = FUNNEL_STEPS
    # witness slices (the pii_redact convention): the dense synthetic
    # stream converts EVERY user, which would leave depth 0/1/2 verdicts
    # vacuous — suppress purchases for user % 7 == 0 and clicks for
    # user % 11 == 0 in-plan, identically in both engines, so every
    # funnel stage has real exits the oracle certifies
    ev = e.select("user_id", "event_type", "ts").where(
        ~(
            ((F.col("user_id") % 7 == 0) & (F.col("event_type") == p))
            | ((F.col("user_id") % 11 == 0) & (F.col("event_type") == c))
        )
    )
    s1 = (
        ev.where(F.col("event_type") == v)
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    s2 = (
        ev.where(F.col("event_type") == c)
        .join(s1, "user_id")
        .where(F.col("ts") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    s3 = (
        ev.where(F.col("event_type") == p)
        .join(s2, "user_id")
        .where(F.col("ts") > F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    users = ev.select("user_id").distinct()
    return (
        users.join(s1, "user_id", "left")
        .join(s2, "user_id", "left")
        .join(s3, "user_id", "left")
        .select(
            "user_id",
            "t_view",
            "t_click",
            "t_purchase",
            (
                F.col("t_view").isNotNull().cast("int")
                + F.col("t_click").isNotNull().cast("int")
                + F.col("t_purchase").isNotNull().cast("int")
            ).cast("int").alias("funnel_depth"),
            F.col("t_purchase").isNotNull().cast("int").alias("converted"),
        )
    )


RETENTION_DAYS = (1, 3, 7)


def cohort_retention(spark, sf_dir) -> DataFrame:
    """Cohort retention over the event stream: users grouped by their
    FIRST-activity day (the cohort), then counted again at day +1/+3/+7
    — the standard engagement rollup (and the re-crawl analog: hosts
    first seen on day D that are still yielding documents at D+k).

    Plan shape: first-activity is one min-aggregation per user; each
    retention offset is an equality join of the (user, day) activity
    dim against the cohort dim on the SHIFTED day — no windows, no
    per-user history scans. Percentages are round-6 integer ratios."""
    e = spread_scan(spark, sf_dir, "events")
    act = e.select(
        "user_id", F.to_date("ts").alias("day")
    ).distinct()
    first = act.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    cohorts = first.groupBy("cohort_day").agg(
        F.count(F.lit(1)).cast("long").alias("n_users")
    )
    out = cohorts
    for k in RETENTION_DAYS:
        ret = (
            first.join(act, "user_id")
            .where(F.col("day") == F.date_add(F.col("cohort_day"), k))
            .groupBy("cohort_day")
            .agg(F.count(F.lit(1)).cast("long").alias(f"d{k}_retained"))
        )
        out = out.join(ret, "cohort_day", "left")
    cols = [
        "cohort_day",
        "n_users",
    ]
    for k in RETENTION_DAYS:
        cols.append(
            F.coalesce(f"d{k}_retained", F.lit(0))
            .cast("long")
            .alias(f"d{k}_retained")
        )
        cols.append(
            F.round(
                F.coalesce(F.col(f"d{k}_retained"), F.lit(0))
                * 100.0
                / F.col("n_users"),
                6,
            ).alias(f"d{k}_pct")
        )
    return out.select(*cols)
