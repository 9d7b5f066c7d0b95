"""Web link-graph operators: outlink extraction, host-level edge rollup,
and integer-exact PageRank.

The reference has no link analysis (it is an OCR corpus pipeline); this
family is part of the beyond-reference web-crawl toolkit (SURVEY §2's
training-data-pipeline mandate): every large-scale crawl curation stack
ranks hosts by link authority before assigning crawl budget, and the
host-PageRank relation is the standard input to the `host_tiers` /
`crawl_schedule` operators this repo already has.

Engine-exactness (the bpe_train / ann_ivf pattern): PageRank is an
iterative float fixpoint in the textbooks, but float SUMS are
order-dependent and would break the value-hash oracle. Here ranks are
int64 fixed-point (SCALE = 10^12) and every update uses only integer
multiply / floor-divide / sum:

    contrib(u -> v) = (17 * R(u)) // (20 * outdeg(u))          # d = 0.85
    R'(v) = (3*SCALE) // (20*N) + (17 * dangling) // (20*N) + sum contribs

Integer sums are associative, so Spark's parallel aggregation and
DuckDB's serial one agree bit-for-bit, and the WHOLE K-iteration loop
replays in the oracle as chained MATERIALIZED CTEs. The floor divisions
leak rank mass (sum(R) drifts a few thousand units below SCALE per
round) — deterministic, documented, and irrelevant to ranking.

Scale shape (10^8 hosts, 10^10 edges): each iteration is one equality
shuffle of the edge relation on src (contribution join) plus one on dst
(the sum) — the standard Pregel-on-DataFrame layout. Hot dst hosts (the
wikipedias) are absorbed by map-side partial aggregation; hot src hosts
fan out but each carries one rank row (sort-merge + AQE skew split).
The dangling term is ONE scalar aggregate cross-joined back — no
driver collect inside the loop. Pre-bucketing the edge relation by host
would make every iteration exchange-free on the contribution side; at
toy scale the exchanges are asserted small instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .relational import load, persist_slot

N_HOSTS = 101          # host universe: host{doc_id % 101}.example.net
LINK_FANOUT = 3        # outlinks contributed per document
PR_SCALE = 10**12      # fixed-point unit for rank mass
PR_ITERS = 6           # replayed iterations (oracle generates the same K)


def _host_col(id_col):
    return F.concat(F.lit("host"), id_col.cast("string"), F.lit(".example.net"))


def synth_link_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic cross-host edge multiset derived from `documents`:
    doc i contributes host(i % H) -> host((i*31 + j) % H) for j = 1..3,
    self-loops dropped (j=1..3 give three consecutive residues, so at most
    one of a doc's edges is a self-loop and every doc keeps >= 2).

    Stands in for outlinks extracted at scale (the synthetic pages are
    single-host, see `page_outlinks`); pure integer arithmetic so any
    engine rebuilds the identical graph from the same table.
    """
    d = load(spark, sf_dir, "documents")
    return (
        d.select("doc_id")
        .select(
            "doc_id",
            F.explode(F.sequence(F.lit(1), F.lit(LINK_FANOUT))).alias("j"),
        )
        .select(
            (F.col("doc_id") % N_HOSTS).alias("src_id"),
            ((F.col("doc_id") * 31 + F.col("j")) % N_HOSTS).alias("dst_id"),
        )
        .where(F.col("src_id") != F.col("dst_id"))
    )


def link_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host-level edge rollup: (src_host, dst_host, n_links) over the full
    outlink multiset — the adjacency relation crawl analytics starts from.
    One hash aggregation; no joins."""
    e = synth_link_edges(spark, sf_dir)
    return e.groupBy("src_id", "dst_id").agg(
        F.count(F.lit(1)).alias("n_links")
    ).select(
        _host_col(F.col("src_id")).alias("src_host"),
        _host_col(F.col("dst_id")).alias("dst_host"),
        "n_links",
    )


def _rank_loop(
    spark: SparkSession, sf_dir: str, seed_mod: int | None
) -> DataFrame:
    """Shared integer fixed-point rank iteration.

    seed_mod=None → classic PageRank: uniform teleport + uniform dangling
    redistribution over all N nodes. seed_mod=m → TrustRank: teleport and
    dangling mass flow ONLY to the trusted seed set {id % m == 0}, so
    authority must propagate from seeds through real links.

    All arithmetic is int64 multiply / `div` / sum (see module docstring),
    so the K-iteration loop is bit-replayable in SQL. N and the seed count
    are host-dimension scalars and become plan literals; the dangling mass
    rides along as a one-row cross join, never a collect. Nothing
    data-sized reaches the driver.
    """
    edges = persist_slot(
        "pagerank_edges", synth_link_edges(spark, sf_dir).distinct()
    )
    nodes = persist_slot(
        "pagerank_nodes",
        edges.select(F.col("src_id").alias("id"))
        .union(edges.select(F.col("dst_id").alias("id")))
        .distinct(),
    )
    n = nodes.count()  # host-dimension scalar -> plan literal (bounded)
    if seed_mod is None:
        is_seed = F.lit(True)
        n_tele = n
    else:
        is_seed = F.col("id") % seed_mod == 0
        n_tele = nodes.where(is_seed).count()
    deg = edges.groupBy("src_id").agg(F.count(F.lit(1)).alias("deg"))
    # contribution join input: each distinct edge with its src out-degree
    edeg = persist_slot("pagerank_edeg", edges.join(deg, "src_id"))

    base = (3 * PR_SCALE) // (20 * n_tele)
    ranks = nodes.select(
        "id",
        F.when(is_seed, F.lit(PR_SCALE // n_tele))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("rank"),
    )
    for _ in range(PR_ITERS):
        contribs = (
            edeg.join(ranks, edeg.src_id == ranks.id)
            .select(
                F.col("dst_id"),
                F.expr("(17 * rank) div (20 * deg)").alias("c"),
            )
            .groupBy("dst_id")
            .agg(F.sum("c").alias("inflow"))
        )
        # dangling mass: rank parked on nodes with no outedges, spread
        # over the teleport set; a 1-row aggregate cross-joined keeps the
        # loop lazy
        dangling = (
            ranks.join(deg, ranks.id == deg.src_id, "left_anti")
            .agg(F.coalesce(F.sum("rank"), F.lit(0)).alias("dmass"))
        )
        ranks = (
            nodes.join(contribs, nodes.id == contribs.dst_id, "left")
            .crossJoin(F.broadcast(dangling))
            .select(
                "id",
                (
                    F.when(
                        is_seed,
                        F.lit(base)
                        + F.expr(f"(17 * dmass) div (20 * {n_tele})"),
                    ).otherwise(F.lit(0))
                    + F.coalesce(F.col("inflow"), F.lit(0))
                ).cast("long").alias("rank"),
            )
        )
        # lineage truncation, not just caching: persist keeps the DATA but
        # Catalyst still re-analyzes the whole chained plan every iteration
        # (measured: 1.2 s/iter -> 17 s by iter 6 with persist alone).
        # localCheckpoint materializes AND cuts the plan at the iterate —
        # constant per-iteration cost. On a real cluster swap in reliable
        # checkpoint() (localCheckpoint does not survive executor loss).
        ranks = ranks.localCheckpoint(eager=True)
    return ranks.select(
        _host_col(F.col("id")).alias("host"),
        F.col("rank").alias("rank_fp"),
        F.round(F.col("rank") / F.lit(PR_SCALE), 9).alias("rank_share"),
    )


HITS_ITERS = 3  # unnormalized int64 growth ≤ (maxdeg²)^K = 10^12 « 2^63


def host_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs & authorities (Kleinberg 1999) over the distinct host
    graph — the query-independent link-analysis companion to PageRank:
    a node is a good AUTHORITY if good hubs point at it and a good HUB
    if it points at good authorities (directories/aggregators vs.
    canonical sources — PageRank conflates the two roles).

    Engine-exactness: the classic algorithm L2-normalizes per iteration
    (floats); this implementation runs the UNNORMALIZED integer power
    iteration instead — scores differ from the normalized ones by a
    global constant per iteration, so the RANKING is identical while
    every value stays exact int64 (bounded: with max degree ≤ 101 hosts,
    one a→h round multiplies magnitude by ≤ maxdeg², so K=3 stays under
    10^12). Update order is the published one: authorities from current
    hubs, then hubs from the NEW authorities.

    Scale shape: per iteration two equality joins + two aggregations on
    the distinct edge relation, lineage cut by localCheckpoint (the
    _rank_loop discipline); nothing data-sized reaches the driver."""
    edges = persist_slot(
        "hits_edges", synth_link_edges(spark, sf_dir).distinct()
    )
    nodes = persist_slot(
        "hits_nodes",
        edges.select(F.col("src_id").alias("id"))
        .union(edges.select(F.col("dst_id").alias("id")))
        .distinct(),
    )
    scores = nodes.select(
        "id", F.lit(1).cast("long").alias("a"), F.lit(1).cast("long").alias("h")
    )
    for _ in range(HITS_ITERS):
        # authorities from hubs: a(i) = Σ_{j→i} h(j)
        a_new = (
            edges.join(scores, edges.src_id == scores.id)
            .groupBy("dst_id")
            .agg(F.sum("h").alias("a_in"))
        )
        with_a = nodes.join(
            a_new, nodes.id == a_new.dst_id, "left"
        ).select(
            "id", F.coalesce("a_in", F.lit(0)).cast("long").alias("a")
        )
        # hubs from the NEW authorities: h(i) = Σ_{i→j} a(j)
        h_new = (
            edges.join(with_a, edges.dst_id == with_a.id)
            .groupBy("src_id")
            .agg(F.sum("a").alias("h_out"))
        )
        scores = (
            with_a.join(h_new, with_a.id == h_new.src_id, "left")
            .select(
                "id",
                "a",
                F.coalesce("h_out", F.lit(0)).cast("long").alias("h"),
            )
            .localCheckpoint(eager=True)  # cut lineage per iterate
        )
    return scores.select(
        _host_col(F.col("id")).alias("host"),
        F.col("a").alias("authority"),
        F.col("h").alias("hub"),
    )


def host_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer fixed-point PageRank over the distinct host graph.

    Classic unweighted PageRank (distinct edges — multi-links collapse,
    the simple-graph convention) with uniform dangling redistribution.
    """
    return _rank_loop(spark, sf_dir, seed_mod=None)


TRUST_SEED_MOD = 10  # trusted seed set: host ids divisible by 10


def host_trustrank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TrustRank (Gyöngyi et al. 2004): personalized PageRank whose
    teleport vector is restricted to a trusted seed set, the standard
    link-spam demotion / crawl-prioritization companion to PageRank.
    Hosts reachable only through spam-farm links get near-zero trust
    because no teleport mass lands outside the seeds. Seed set here is
    the deterministic {id % 10 == 0}; a curated allowlist swaps in as a
    dimension relation without touching the loop."""
    return _rank_loop(spark, sf_dir, seed_mod=TRUST_SEED_MOD)


def page_outlinks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Outlink extraction over the synthesized pages: JVM
    `regexp_extract_all` on the html (no Python), exploded to one row per
    anchor, rolled up per target path.

    The synth template carries six constant hrefs; a data-dependent
    anchor (/doc/{doc_id}) is prepended so the oracle cannot pass on a
    constant answer — the regexp must parse per-row varying html. At
    scale this is a narrow scan-side projection: extraction happens in
    whole-stage codegen before any shuffle, and the single aggregation
    shuffles (path, count) pairs only.
    """
    from ..queries import synth_pages_from_documents

    pages = synth_pages_from_documents(spark, sf_dir)
    doc_id = F.regexp_extract(F.col("url"), r"/(\d+)$", 1)
    html = F.concat(
        F.lit("<a href='/doc/"), doc_id, F.lit("'>self</a>"),
        F.decode(F.col("html"), "utf-8"),
    )
    links = pages.withColumn("html2", html).select(
        F.explode(
            F.regexp_extract_all("html2", F.lit(r"href='([^']*)'"), F.lit(1))
        ).alias("path")
    )
    return links.groupBy("path").agg(F.count(F.lit(1)).alias("n_links"))


ANCHOR_LEN = 24  # chars of source text used as the anchor string


def anchor_text_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anchor-text aggregation per target host — the classic web-IR
    signal (anchor text describes the TARGET better than the target's own
    words; every production web index aggregates it, and crawl curation
    uses it as an off-page quality feature).

    Each document contributes its `synth_link_edges` outlinks carrying a
    data-dependent anchor string (the first ANCHOR_LEN chars of the
    source text, lowercased/trimmed — so the oracle cannot pass on
    constants). Per target host: total anchors, distinct linking hosts,
    and the top anchor text with a pinned total order (count desc,
    anchor asc).

    Scale shape: one narrow fanout (3 rows/doc), ONE (dst, anchor)
    aggregation — map-side partials absorb hot targets — then a window
    partitioned by dst_id (never global) for the argmax, plus the
    per-dst rollup. Anchor strings are bounded (ANCHOR_LEN), so shuffle
    rows are small; nothing reaches the driver.
    """
    d = load(spark, sf_dir, "documents")
    anchor = F.trim(
        F.substring(F.lower(F.coalesce(F.col("text"), F.lit(""))), 1, ANCHOR_LEN)
    )
    edges = (
        d.select("doc_id", anchor.alias("anchor"))
        .select(
            "doc_id",
            "anchor",
            F.explode(F.sequence(F.lit(1), F.lit(LINK_FANOUT))).alias("j"),
        )
        .select(
            (F.col("doc_id") % N_HOSTS).alias("src_id"),
            ((F.col("doc_id") * 31 + F.col("j")) % N_HOSTS).alias("dst_id"),
            "anchor",
        )
        .where(F.col("src_id") != F.col("dst_id"))
    )
    per_anchor = edges.groupBy("dst_id", "anchor").agg(
        F.count(F.lit(1)).alias("n")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("dst_id").orderBy(F.desc("n"), F.asc("anchor"))
    top = (
        per_anchor.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("dst_id", F.col("anchor").alias("top_anchor"), F.col("n").alias("top_anchor_n"))
    )
    roll = edges.groupBy("dst_id").agg(
        F.count(F.lit(1)).alias("n_anchors"),
        F.countDistinct("src_id").alias("n_src_hosts"),
    )
    return roll.join(top, "dst_id").select(
        _host_col(F.col("dst_id")).alias("dst_host"),
        "n_anchors",
        "n_src_hosts",
        "top_anchor",
        "top_anchor_n",
    )


SPAM_SCALE = 10**6        # fixed-point unit for spam-mass share
SPAM_THRESHOLD_FP = 900_000  # flag hosts whose rank is ≥ 90 % untrusted


def host_spam_mass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spam-mass estimation (Gyöngyi, Berkhin, Garcia-Molina, Pedersen,
    VLDB 2006): the fraction of a host's PageRank NOT backed by trust —
    spam_mass = (PR − TR) / PR with both ranks from the shared integer
    loop. Link farms accumulate PageRank from untrusted regions of the
    graph, so their rank collapses under seeded teleport; a host whose
    rank is ≥ 90 % untrusted is the classic demotion candidate. This is
    the decision surface the PageRank/TrustRank pair exists to feed.

    Integer-exact: both inputs are int64 fixed-point from `_rank_loop`;
    the share is greatest(PR − TR, 0)·SPAM_SCALE div PR. The clamp at 0
    (trust exceeding rank ⇒ not spam) also keeps the floor division on
    nonnegative operands — Spark's `div` truncates toward zero while
    DuckDB's `//` floors, so they agree ONLY on nonnegative numerators
    (the same reason the rank loop never subtracts).

    Scale shape: two rank loops over the shared edge relation plus ONE
    host-dimension equality join; PR > 0 for every node by construction
    (uniform teleport), so no division guard is needed."""
    pr = host_pagerank(spark, sf_dir).select(
        "host", F.col("rank_fp").alias("pagerank_fp")
    )
    tr = host_trustrank(spark, sf_dir).select(
        "host", F.col("rank_fp").alias("trustrank_fp")
    )
    sm = F.expr(
        f"(greatest(pagerank_fp - trustrank_fp, 0) * {SPAM_SCALE})"
        " div pagerank_fp"
    )
    return pr.join(tr, "host").select(
        "host",
        "pagerank_fp",
        "trustrank_fp",
        sm.alias("spam_mass_fp"),
        (sm >= SPAM_THRESHOLD_FP).cast("int").alias("spam_candidate"),
    )


def link_degree_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host degree profile over the distinct host graph: out-degree,
    in-degree, and reciprocal-edge count (u→v with v→u) — the structural
    features link-spam classifiers consume alongside rank (farms show
    high reciprocity and near-equal in/out; organic hosts don't), and
    the sanity view read before trusting any PageRank number.

    One distinct edge relation, two degree aggregations, and the
    reciprocity check as a self-join on the REVERSED key — an equality
    join, never all-pairs; all three join on the host dimension."""
    edges = synth_link_edges(spark, sf_dir).distinct()
    out_d = edges.groupBy("src_id").agg(F.count(F.lit(1)).alias("out_deg"))
    in_d = edges.groupBy("dst_id").agg(F.count(F.lit(1)).alias("in_deg"))
    rev = edges.select(
        F.col("dst_id").alias("src_id"), F.col("src_id").alias("dst_id")
    )
    recip = (
        edges.join(rev, ["src_id", "dst_id"])
        .groupBy("src_id")
        .agg(F.count(F.lit(1)).alias("n_reciprocal"))
    )
    nodes = (
        edges.select(F.col("src_id").alias("id"))
        .union(edges.select("dst_id"))
        .distinct()
    )
    return (
        nodes.join(out_d, nodes.id == out_d.src_id, "left")
        .join(in_d, nodes.id == in_d.dst_id, "left")
        .join(recip, nodes.id == recip.src_id, "left")
        .select(
            _host_col(F.col("id")).alias("host"),
            F.coalesce("out_deg", F.lit(0)).cast("long").alias("out_deg"),
            F.coalesce("in_deg", F.lit(0)).cast("long").alias("in_deg"),
            F.coalesce("n_reciprocal", F.lit(0)).cast("long").alias("n_reciprocal"),
        )
    )


LPA_ITERS = 4  # synchronous label-propagation rounds (oracle replays K)


def host_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection on the host graph: synchronous label
    propagation (Raghavan, Albert, Kumara 2007) — every node adopts the
    most frequent label among its undirected neighbors each round, ties
    broken by the SMALLEST label (the pinned deterministic variant of
    the usually-randomized algorithm). Communities are the crawl's
    topical clusters: partition keys for per-community curation,
    mirrors of link farms, and the granularity crawl budgets get
    rebalanced at.

    Engine-exact: labels are integer host ids, the per-node vote is one
    (node, label) count + argmax with (count desc, label asc) — plain
    integers and row_number in both engines — so the whole K-round loop
    replays as chained MATERIALIZED CTEs (the PageRank convention).

    Scale shape: per round ONE equality join of the adjacency on the
    label relation and ONE (node, label) count whose argmax is a
    combinable min(struct(-c, label)) aggregation — no windows over
    anything graph-sized; localCheckpoint truncates the iterated
    lineage exactly as the rank loop does."""
    edges = persist_slot(
        "lpa_edges", synth_link_edges(spark, sf_dir).distinct()
    )
    adj = persist_slot(
        "lpa_adj",
        edges.select(F.col("src_id").alias("v"), F.col("dst_id").alias("u"))
        .union(
            edges.select(F.col("dst_id").alias("v"), F.col("src_id").alias("u"))
        )
        .distinct(),
    )
    labels = adj.select("v").distinct().select(
        "v", F.col("v").cast("long").alias("lab")
    )
    for _ in range(LPA_ITERS):
        votes = (
            adj.join(
                labels.select(F.col("v").alias("u"), "lab"), "u"
            )
            .groupBy("v", "lab")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        labels = (
            votes.groupBy("v")
            .agg(
                F.min(F.struct((-F.col("c")).alias("nc"), F.col("lab"))).alias(
                    "m"
                )
            )
            .select("v", F.col("m.lab").alias("lab"))
        )
        labels = labels.localCheckpoint(eager=True)
    sizes = labels.groupBy("lab").agg(F.count(F.lit(1)).alias("community_size"))
    return labels.join(sizes, "lab").select(
        _host_col(F.col("v")).alias("host"),
        F.col("lab").alias("community_id"),
        "community_size",
    )


def community_profiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community-level curation rollup: join the LPA communities onto the
    spam-mass relation and aggregate — (community_id, n_hosts,
    pagerank_fp, trustrank_fp, spam_mass_fp, n_spam_hosts). The decision
    table crawl budgeting actually reads: a community whose AGGREGATE
    rank is mostly untrusted is a link farm to demote wholesale, not
    host by host (Gyöngyi's spam-mass argument applied at the cluster
    granularity LPA provides).

    All integer: summed fixed-point ranks, the same clamped spam-mass
    division, and a spam-candidate count. One host-equality join of two
    host-dimension relations + one community rollup."""
    comm = host_communities(spark, sf_dir)
    sm = host_spam_mass(spark, sf_dir)
    j = comm.join(sm, "host")
    agg = j.groupBy("community_id").agg(
        F.count(F.lit(1)).alias("n_hosts"),
        F.sum("pagerank_fp").cast("long").alias("pagerank_fp"),
        F.sum("trustrank_fp").cast("long").alias("trustrank_fp"),
        F.sum("spam_candidate").cast("long").alias("n_spam_hosts"),
    )
    csm = F.expr(
        f"(greatest(pagerank_fp - trustrank_fp, 0) * {SPAM_SCALE})"
        " div pagerank_fp"
    )
    return agg.select(
        "community_id",
        "n_hosts",
        "pagerank_fp",
        "trustrank_fp",
        csm.alias("spam_mass_fp"),
        "n_spam_hosts",
    )
