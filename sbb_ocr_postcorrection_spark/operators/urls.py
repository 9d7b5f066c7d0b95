"""URL canonicalization + URL-level deduplication.

The first dedup stage of every web-scale corpus build runs BEFORE content
hashing: collapse re-crawls of the same page whose URLs differ only in
scheme/case/www/query-tracking/fragment/trailing-slash noise. This is the
URL analog of the file-exclusion / page-ID remap steps the reference runs
before corpus assembly (preprocessing/cli_preproc.py page-id filtering,
SURVEY.md §2.2 P11), generalized to the Common-Crawl-style input of
BASELINE.json's north rule.

Scale design (100 TB): canonicalization is a pure column projection (zero
shuffle, whole-stage codegen); the dedup itself is ONE hash aggregation on
the canonical key with map-side partial aggregation. No joins, no windows.
Hot hosts do not skew this: the aggregation key is the full canonical URL,
whose cardinality is ~the corpus size.

The `documents` test table has no URL column, so the driver query
synthesizes one deterministically from doc_id (same arithmetic in the
DuckDB oracle) with scheme/case/www/query/fragment/trailing-slash variants
that collide post-canonicalization — the operator's input contract is just
a (doc_id, url) relation.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from .relational import docs_input, load


def synth_host_expr(doc_id) -> Column:
    """The ONE definition of the synthetic host (site{doc_id % 7}
    .example.com) — shared by synth_url_expr and host_reputation_gate's
    fallback so the two can never drift."""
    d = F.col(doc_id) if isinstance(doc_id, str) else doc_id
    return F.concat(
        F.lit("site"), (d % 7).cast("string"), F.lit(".example.com")
    )


def synth_url_expr(doc_id) -> Column:
    """Deterministic URL with canonicalization-relevant noise, derived from
    doc_id alone (mirrored verbatim in the DuckDB oracle):

    * scheme   http / https / HTTP          (doc_id % 3)
    * www.     present iff doc_id % 2 == 0
    * host     site{doc_id % 7}.example.com, uppercased iff doc_id % 5 == 0
    * path     /p/{doc_id % 13}, trailing '/' iff doc_id % 4 == 0
    * query    ?utm_source=feed&ref=rss iff doc_id % 6 == 0
    * fragment #sec iff doc_id % 9 == 0

    7 × 13 = 91 canonical targets, so any few hundred docs guarantee
    duplicate groups (non-vacuous dedup — the round-2 vacuous-test lesson).
    """
    d = F.col(doc_id) if isinstance(doc_id, str) else doc_id
    scheme = (
        F.when(d % 3 == 0, "http://")
        .when(d % 3 == 1, "https://")
        .otherwise("HTTP://")
    )
    host = synth_host_expr(d)
    return F.concat(
        scheme,
        F.when(d % 2 == 0, "www.").otherwise(""),
        F.when(d % 5 == 0, F.upper(host)).otherwise(host),
        F.lit("/p/"),
        (d % 13).cast("string"),
        F.when(d % 4 == 0, "/").otherwise(""),
        F.when(d % 6 == 0, "?utm_source=feed&ref=rss").otherwise(""),
        F.when(d % 9 == 0, "#sec").otherwise(""),
    )


def canonical_url_expr(url) -> Column:
    """url string → canonical form `host/path`:

    fragment and query stripped, scheme dropped (http≡https for identity),
    host lowercased with a leading 'www.' removed, trailing '/' removed.
    Pure string expressions, JVM-side.

    The scheme is whatever precedes the FIRST '://' (instr, not
    substring_index(…, -1) which takes the LAST — archive/proxy URLs like
    web.archive.org/web/2020/https://example.com embed a second scheme in
    the path and must NOT collapse onto the embedded target). The DuckDB
    oracle mirrors this via strpos-based substr (CANON_REST_SQL below —
    split_part(…, '://', 2) would TRUNCATE at the embedded scheme); the
    two engines' agreement on exactly the archive-URL case is pinned in
    tests/test_webdedup.py::test_canonical_url_oracle_parity. A URL with
    no scheme at all is treated as host/path from its first character.
    """
    u = F.col(url) if isinstance(url, str) else url
    no_q = F.substring_index(F.substring_index(u, "#", 1), "?", 1)
    p = F.instr(no_q, "://")
    rest = F.when(p > 0, no_q.substr(p + 3, F.length(no_q))).otherwise(no_q)
    host_raw = F.substring_index(rest, "/", 1)
    host = F.regexp_replace(F.lower(host_raw), r"^www\.", "")
    path = F.regexp_replace(
        rest.substr(F.length(host_raw) + 1, F.length(rest)), "/$", ""
    )
    return F.concat(host, path)


# The ONE DuckDB definition of canonical_url_expr, interpolated into the
# url_dedup oracle AND the parity test so the SQL form can never drift from
# the Spark form. {u} is the raw url expression. Everything-after-the-FIRST
# '://' via strpos+substr — NOT split_part(…, '://', 2), which returns only
# the segment BETWEEN the first and second '://' and truncates archive/proxy
# URLs with an embedded scheme.
CANON_REST_SQL = (
    "(CASE WHEN strpos(split_part(split_part({u}, '#', 1), '?', 1), '://') > 0"
    " THEN substr(split_part(split_part({u}, '#', 1), '?', 1),"
    " strpos(split_part(split_part({u}, '#', 1), '?', 1), '://') + 3)"
    " ELSE split_part(split_part({u}, '#', 1), '?', 1) END)"
)

CANON_URL_SQL = (
    "(regexp_replace(lower(split_part(" + CANON_REST_SQL + ", '/', 1)), '^www\\.', '')"
    " || regexp_replace(substr(" + CANON_REST_SQL + ","
    " length(split_part(" + CANON_REST_SQL + ", '/', 1)) + 1), '/$', ''))"
)


# host gate default — the DuckDB oracle interpolates THIS constant. 65
# splits the sf0.01 driver corpus into passing AND failing hosts (per-host
# lang-pass rates there span ~0.56-0.68), keeping the driver row
# non-vacuous; the threshold-splitting semantics themselves are pinned on
# a crafted corpus in tests/test_webdedup.py.
HOST_MIN_PASS_PCT = 65


def host_reputation_gate(spark, sf_dir, docs=None, per_doc=None) -> DataFrame:
    """Host-level reputation gating (the RefinedWeb-style second pass over
    a per-document verdict): aggregate the document language-pass bit per
    host, then gate EVERY document of a host whose pass rate falls below
    ``HOST_MIN_PASS_PCT`` percent — an off-language or junk host loses all its
    pages, not one at a time. The per-doc bit is the lang_pass verdict
    from the SAME lang_cols builder the oracle-checked lang_id stage uses
    (on the synthetic corpus the quality bit is constant-1, so language
    purity is the verdict that actually varies by host; the aggregation
    shape is identical for any per-doc bit).

    Scale design (100 TB): per-host stats are one two-phase aggregation
    (hot hosts are exactly what map-side partial aggregation absorbs); the
    host relation is tiny (hosts ≪ docs), so rejoining it onto documents
    is a broadcast join — no shuffle of the document table at all. The
    gate compares integers (pass_cnt·100 ≥ pct·n_docs), never a float
    threshold, so the verdict is engine-exact.

    Host comes from the caller's ``url`` column when present (canonical
    host = first label run of canonical_url_expr), else from the shared
    synth-host arithmetic. A caller that already computed the per-doc bit
    (the curation pipeline has the lang relation in hand) injects it as
    ``per_doc`` = (doc_id, host, lang_pass) — the sh=/docs= sharing
    convention — so the tokenize+stopword pass is not recomputed here.

    The host_stats side carries NO broadcast hint: with the synthetic
    hosts it is trivially tiny and the planner broadcasts it on its own
    stats, but a caller-supplied url column can have near-unique hosts
    (long-tail subdomains), where a forced corpus-sized broadcast would
    OOM the driver — AQE picks the right join at runtime instead.
    """
    if per_doc is None:
        from ..functions.exprs import lang_cols
        from .relational import persist_slot

        d = docs if docs is not None else load(spark, sf_dir, "documents")
        if "url" in d.columns:
            # null urls group under a sentinel pseudo-host: a null join key
            # would silently drop those docs from the output (the stats
            # join never matches null), violating the every-doc-surfaces
            # contract
            host = F.coalesce(
                F.substring_index(canonical_url_expr(F.col("url")), "/", 1),
                F.lit("<no-host>"),
            )
        else:
            host = synth_host_expr(F.col("doc_id"))
        c = lang_cols(F.col("text"))
        # persisted: per_doc feeds BOTH the stats aggregation and the
        # rejoin probe — without it the corpus-wide tokenize+stopword
        # pass (the dominant cost) executes twice
        per_doc = persist_slot(
            "host_gate_per_doc",
            d.select(
                "doc_id", host.alias("host"), c["lang_pass"].alias("lang_pass")
            ),
        )
    host_stats = per_doc.groupBy("host").agg(
        F.count(F.lit(1)).alias("host_docs"),
        F.sum("lang_pass").alias("host_pass_cnt"),
    )
    return per_doc.join(host_stats, "host").select(
        "doc_id",
        "host",
        "lang_pass",
        "host_docs",
        F.round(F.col("host_pass_cnt") / F.col("host_docs"), 6).alias(
            "host_pass_rate"
        ),
        (F.col("host_pass_cnt") * 100 >= F.lit(HOST_MIN_PASS_PCT) * F.col("host_docs"))
        .cast("int")
        .alias("host_pass"),
    )


# fixture blocklist + path rule (interpolated into the DuckDB oracle):
# one synth host and one whole registrable domain — the suffix match must
# catch www./uppercase spellings of both — plus a path-keyword regex.
# blocks paths /p/11 and /p/12 of the 13 synth paths (RE2/Java-portable)
BLOCKED_HOSTS = ("site1.example.com",)
BLOCKED_PATH_RE = "/p/1[12]($|[/?#])"


def _host_path_suffixes(url) -> tuple:
    """The ONE (host, path, suffixes) extraction the URL blocklist gate
    and the robots gates build on — a fix applied here reaches all of
    them by construction.

    The POLICY host normalizes the spellings an adversary controls that
    the canonical (dedup) host deliberately keeps: userinfo is stripped
    (everything up to the last '@' — 'trusted.com@bad.test' must not
    read as trusted.com), the port is stripped ('bad.test:8080' is still
    bad.test), and trailing dots go ('bad.test.' is the same FQDN). The
    dedup canonical form keeps those because they are genuinely distinct
    fetch targets; a blocklist must not be bypassable by them."""
    u = F.col(url) if isinstance(url, str) else url
    canon = canonical_url_expr(u)
    raw_host = F.substring_index(canon, "/", 1)
    path = F.coalesce(
        F.substr(canon, F.length(raw_host) + 1), F.lit("")
    )
    host = F.coalesce(
        F.regexp_replace(
            F.substring_index(F.substring_index(raw_host, "@", -1), ":", 1),
            r"\.+$",
            "",
        ),
        F.lit("<no-host>"),
    )
    parts = F.split(host, r"\.")
    suffixes = F.transform(
        F.sequence(F.lit(1), F.size(parts)),
        lambda i: F.array_join(F.slice(parts, i, F.size(parts)), "."),
    )
    return host, path, suffixes


def url_blocklist_gate(spark, sf_dir, docs=None) -> DataFrame:
    """URL-level policy gate: drop pages whose host falls under a blocked
    domain (suffix semantics — blocking example.com blocks every
    subdomain) or whose path matches a block pattern. In a web pipeline
    this runs with url_dedup BEFORE the extraction kernel: a blocked page
    must not cost a parse.

    Scale design (100 TB): suffix matching is NOT a LIKE scan per blocked
    domain (O(|blocklist|) regex work per row) — each host explodes into
    its dot-suffixes (bounded by label count, ~4-6) and the verdict is an
    EQUALITY join against the blocklist dimension, which is tiny (policy
    lists are 10^3-10^5 rows) and broadcasts. The path rule is one
    combined Java/RE2-portable regex, JVM-side. Null urls surface under
    the '<no-host>' sentinel with a definite verdict (blocked_host=0) —
    the every-doc-surfaces contract. Host/path/suffix extraction (incl.
    the userinfo/port/trailing-dot policy normalization) is the SHARED
    _host_path_suffixes builder, the same law as the robots gates."""
    d = docs if docs is not None else load(spark, sf_dir, "documents")
    if "url" not in d.columns:
        d = d.select("doc_id", synth_url_expr(F.col("doc_id")).alias("url"))
    host, path, suffixes = _host_path_suffixes(F.col("url"))
    base = d.select(
        "doc_id", "url", host.alias("host"), path.alias("path"),
        F.explode(suffixes).alias("suffix"),
    )
    block_dim = spark.createDataFrame(
        [(h,) for h in BLOCKED_HOSTS], "suffix string"
    ).withColumn("is_blocked", F.lit(1))
    verdict = (
        base.join(F.broadcast(block_dim), "suffix", "left")
        .groupBy("doc_id", "url", "host", "path")
        .agg(F.max(F.coalesce(F.col("is_blocked"), F.lit(0))).alias("blocked_host"))
    )
    blocked_path = F.col("path").rlike(BLOCKED_PATH_RE).cast("int")
    return verdict.select(
        "doc_id",
        "host",
        "blocked_host",
        blocked_path.alias("blocked_path"),
        (
            (F.col("blocked_host") == 0) & (blocked_path == 0)
        ).cast("int").alias("url_pass"),
    )


def url_dedup(spark, sf_dir, docs=None) -> DataFrame:
    """One row per canonical URL: how many raw rows collapsed onto it, how
    many distinct raw spellings, and the kept representative (min(doc_id)
    here; with a crawl-timestamp column, swap in max_by(doc_id, crawl_ts)
    to keep the latest capture instead).

    A caller-supplied ``docs`` relation that already carries a ``url``
    column is deduped on THAT column; the deterministic synth URL is only
    a stand-in for the url-less test table.
    """
    d = docs if docs is not None else load(spark, sf_dir, "documents")
    if "url" in d.columns:
        with_urls = d.select("doc_id", "url")
    else:
        with_urls = d.select(
            "doc_id", synth_url_expr(F.col("doc_id")).alias("url")
        )
    return (
        with_urls.withColumn("canon_url", canonical_url_expr(F.col("url")))
        .groupBy("canon_url")
        .agg(
            F.count(F.lit(1)).alias("n_dupes"),
            F.countDistinct("url").alias("n_variants"),
            F.min("doc_id").alias("keeper_id"),
        )
    )


def crawl_cube(spark, sf_dir, docs=None) -> DataFrame:
    """Crawl-ops reporting CUBE: one pass producing all four grouping
    levels of (host, crawl day) — per (host, dt), per host, per day, and
    the grand total — with `gid` (grouping_id) distinguishing them.

    Catalyst compiles CUBE into a single Expand + one aggregation (each
    input row fans into the 4 grouping combinations map-side, partial
    aggregation still applies), so the full operations dashboard costs
    ONE shuffle instead of four separate rollup jobs — the shape that
    matters when the input is a day of crawl manifests, not a fixture.
    Fixture dimensions are the repo's host convention
    (site{doc_id%7}.example.com, shared with host_reputation/robots) and
    a 5-day synthetic crawl calendar; a real caller feeds (host, dt)
    straight from its manifests. NULL dimension values in the output are
    the rolled-up rows (inputs are never NULL here, so there is no
    ambiguity; gid is authoritative regardless)."""
    d = docs_input(spark, sf_dir, docs)
    base = d.select(
        F.concat(
            F.lit("site"), (F.col("doc_id") % 7).cast("string"),
            F.lit(".example.com"),
        ).alias("host"),
        F.date_add(
            F.lit("2024-01-01").cast("date"), (F.col("doc_id") % 5).cast("int")
        ).alias("dt"),
        "n_chars",
    )
    return (
        base.cube("host", "dt")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            F.grouping_id().cast("int").alias("gid"),
        )
    )


HOST_TIERS = 4  # NTILE buckets of host_tiers


def host_tiers(spark, sf_dir, docs=None) -> DataFrame:
    """Host quality tiers: per-host rollup → NTILE(HOST_TIERS) ranking —
    the crawl-budget allocator's view (tier 1 hosts get recrawled first,
    bottom tier gets demoted). Pinned total order (total_chars desc,
    host asc) so tier assignment is deterministic and engine-exact.

    One global NTILE window, the literal SQL the oracle runs (it also
    serves the ``host_tiers_scaled`` name). Spark runs a window without
    partitionBy in one task, but its row buffer spills, so that task's
    memory stays bounded; only its time grows with the host dimension."""
    d = docs_input(spark, sf_dir, docs)
    per_host = d.select(
        F.concat(
            F.lit("site"), (F.col("doc_id") % 7).cast("string"),
            F.lit(".example.com"),
        ).alias("host"),
        "n_chars",
    ).groupBy("host").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
    )
    from pyspark.sql import Window

    w = Window.orderBy(F.desc("total_chars"), F.asc("host"))
    return per_host.select(
        "host", "n_docs", "total_chars",
        F.ntile(HOST_TIERS).over(w).cast("int").alias("tier"),
    )


def host_language_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(host, n_docs, top_lang, top_lang_docs, top_lang_pct): per-host
    language mix with the majority language — the crawl-steering rollup a
    language-targeted crawler budgets from (a host that is 95 % the
    target language gets frontier priority; mixed hosts get sampled).
    Shares `synth_host_expr` with host_reputation_gate so the host key is
    defined once.

    Scale shape: one (host, lang) count — map-side partials absorb hot
    hosts, and the langs-per-host fanout is bounded by the language
    dimension — then a host-partitioned window (never global) for the
    pinned argmax (n desc, lang asc) and one host rollup."""
    from pyspark.sql import Window

    d = load(spark, sf_dir, "documents")
    per = (
        d.select(synth_host_expr(F.col("doc_id")).alias("host"), "lang")
        .groupBy("host", "lang")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("host").orderBy(F.desc("n"), F.asc("lang"))
    top = (
        per.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("host", F.col("lang").alias("top_lang"), F.col("n").alias("top_lang_docs"))
    )
    roll = per.groupBy("host").agg(F.sum("n").alias("n_docs"))
    return roll.join(top, "host").select(
        "host",
        "n_docs",
        "top_lang",
        "top_lang_docs",
        F.round(F.col("top_lang_docs") * 100.0 / F.col("n_docs"), 6).alias(
            "top_lang_pct"
        ),
    )


HOST_CAP = 40  # max documents a single host may contribute


def host_cap_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host contribution cap (the C4 / RefinedWeb anti-domination
    rule): no host may contribute more than ``HOST_CAP`` documents to the
    corpus, and WHICH documents survive must be a deterministic uniform
    sample — not "first HOST_CAP by doc_id" (that biases toward a host's
    oldest pages). Rank within host by the md5 coin (rerun-stable, the
    corpus_sample discipline), keep rank ≤ HOST_CAP; every document gets a
    verdict row (kept=0 rows carry their rank so the cut is auditable).

    Scale shape: ONE host-partitioned window (never global). A mega-host
    partition sorts only that host's (coin, doc_id) pairs — tens of MB
    for a 10^6-page host, fine for one task; for pathological hosts the
    crawl_schedule two-phase layout applies, but a HOST_CAP-sized cut needs
    the full per-host order anyway."""
    d = load(spark, sf_dir, "documents")
    from pyspark.sql import Window

    coin = F.md5(F.concat(F.lit("cap|"), F.col("doc_id").cast("string")))
    ranked = d.select(
        "doc_id",
        synth_host_expr(F.col("doc_id")).alias("host"),
        coin.alias("coin"),
    ).withColumn(
        "rank_in_host",
        F.row_number().over(
            Window.partitionBy("host").orderBy(F.asc("coin"), F.asc("doc_id"))
        ),
    )
    return ranked.select(
        "doc_id",
        "host",
        "rank_in_host",
        (F.col("rank_in_host") <= HOST_CAP).cast("int").alias("kept"),
    )
