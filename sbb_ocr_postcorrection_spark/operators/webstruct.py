"""Page-structure operators: HTML template fingerprinting and cross-host
mirror detection.

Both are standard large-crawl curation passes the reference (an OCR
pipeline) has no analog for:

* **Template fingerprinting** — pages generated by the same CMS template
  share their tag skeleton even when the text differs. Hashing the tag
  sequence clusters the crawl into templates; mega-templates are where
  boilerplate removal and spam farms concentrate, and per-template
  sampling is how extraction quality gets audited at scale.
* **Mirror detection** — the same content served from multiple hosts
  (mirrors, CDNs, scraped re-posts). Exact-dedup collapses the docs;
  mirror detection is the HOST-level rollup: which content groups span
  hosts, and which host is canonical. Crawl schedulers demote mirrored
  hosts rather than re-fetching every copy.

Scale shape: template fingerprinting is a scan-side projection (regexp
over html in whole-stage codegen, no Python) plus ONE aggregation on the
bounded md5 sig; mirror detection is one hash aggregation on the content
digest — both map-side-combinable, no joins, no windows, nothing on the
driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .linkgraph import N_HOSTS, _host_col
from .relational import load

TAG_RE = r"<([a-z]+)[ >]"  # opening tags of the lowercase template
LI_MOD = 4                 # injected per-page structural variation
MIRROR_MOD = 7             # every 7th doc gets a mirrored copy
MIRROR_HOST_SHIFT = 13     # mirror host offset (13 ≠ 0 mod N_HOSTS)
MIRROR_ID_BASE = 10**9     # mirrored copies get doc_id + this
SYND_MOD = 17              # every 17th doc also appears syndicated


def template_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(template_sig, n_pages, n_tags, example_url): tag-skeleton hash of
    every synthesized page, rolled up per template.

    A data-dependent structural variation (`doc_id % LI_MOD` extra
    `<li>` items) is injected before hashing — the pii_redact convention:
    without it every page shares one constant skeleton and the oracle
    would pass on a constant. The tag sequence is extracted with ONE JVM
    `regexp_extract_all` (no Python, runs inside the scan stage), joined
    to a comma string and md5-hashed; the aggregation key is the 32-char
    sig, so shuffle rows are tiny regardless of page size.
    """
    from ..queries import synth_pages_from_documents

    pages = synth_pages_from_documents(spark, sf_dir)
    doc_id = F.regexp_extract(F.col("url"), r"/(\d+)$", 1).cast("long")
    html2 = F.concat(
        F.lit("<ul>"),
        F.repeat(F.lit("<li>i</li>"), (doc_id % LI_MOD).cast("int")),
        F.lit("</ul>"),
        F.decode(F.col("html"), "utf-8"),
    )
    tags = F.regexp_extract_all(html2, F.lit(TAG_RE), F.lit(1))
    sig = pages.select(
        "url",
        F.md5(F.concat_ws(",", tags)).alias("template_sig"),
        F.size(tags).alias("n_tags"),
    )
    return sig.groupBy("template_sig").agg(
        F.count(F.lit(1)).alias("n_pages"),
        F.min("n_tags").alias("n_tags"),
        F.min("url").alias("example_url"),
    )


def _mirrored_docs(d: DataFrame) -> DataFrame:
    """documents ∪ deterministic mirrored copies: every MIRROR_MOD-th doc
    reappears under a shifted host id with identical text — modeling a
    mirror site, identically in both engines (the augmentation
    convention)."""
    base = d.select(
        "doc_id",
        (F.col("doc_id") % N_HOSTS).alias("host_id"),
        F.md5(F.coalesce(F.col("text"), F.lit(""))).alias("digest"),
    )
    mirrors = (
        d.where(F.col("doc_id") % MIRROR_MOD == 0)
        .select(
            (F.col("doc_id") + MIRROR_ID_BASE).alias("doc_id"),
            ((F.col("doc_id") + MIRROR_HOST_SHIFT) % N_HOSTS).alias("host_id"),
            F.md5(F.coalesce(F.col("text"), F.lit(""))).alias("digest"),
        )
    )
    return base.unionByName(mirrors)


def mirror_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(digest, n_docs, n_hosts, canonical_host, first_doc): content
    groups that span ≥ 2 hosts, with the min-host-id canonical pick.

    One aggregation on the content digest (count, distinct-host count,
    two mins); map-side partials absorb hot digests. The n_hosts ≥ 2
    filter runs post-agg on the already-tiny group relation.
    """
    g = (
        _mirrored_docs(load(spark, sf_dir, "documents"))
        .groupBy("digest")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("host_id").alias("n_hosts"),
            F.min("host_id").alias("canonical_id"),
            F.min("doc_id").alias("first_doc"),
        )
        .where(F.col("n_hosts") >= 2)
    )
    return g.select(
        "digest",
        "n_docs",
        "n_hosts",
        _host_col(F.col("canonical_id")).alias("canonical_host"),
        "first_doc",
    )


def source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplication matrix: (source_a, source_b,
    n_shared_digests, n_a, n_b, pct_of_a) — how much of one source's
    DISTINCT content already exists in another. The provenance question
    every multi-source pretraining mix starts with (a 90 %-contained
    source adds little but its residual), answered from the same content
    digests exact-dedup uses.

    Non-vacuity: the synthetic corpus has no natural cross-source text
    dups (mirror_detection's groups are all injection-made), so every
    SYND_MOD-th document is re-injected verbatim under the 'syndicated'
    source — modeling wire-service/feed syndication, identically in both
    engines (the augmentation convention).

    Scale shape: distinct (source, digest) first (one aggregation), then
    the pair counts come from a digest-equality self-join — only digests
    appearing in ≥ 2 sources ever pair, and the per-digest fanout is
    bounded by the SOURCE dimension (≤ sources² pairs per digest), so
    the join is corpus-linear; per-source sizes are a tiny dimension
    joined back broadcast."""
    d = load(spark, sf_dir, "documents")
    synd = d.where(F.col("doc_id") % SYND_MOD == 0).select(
        F.lit("syndicated").alias("source"),
        F.md5(F.coalesce(F.col("text"), F.lit(""))).alias("digest"),
    )
    sd = (
        d.select(
            "source", F.md5(F.coalesce(F.col("text"), F.lit(""))).alias("digest")
        )
        .unionByName(synd)
        .distinct()
    )
    sizes = sd.groupBy("source").agg(F.count(F.lit(1)).alias("n_distinct"))
    a = sd.select(F.col("source").alias("source_a"), "digest")
    b = sd.select(F.col("source").alias("source_b"), "digest")
    pairs = (
        a.join(b, "digest")
        .where(F.col("source_a") != F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_shared_digests"))
    )
    sa = sizes.select(
        F.col("source").alias("source_a"), F.col("n_distinct").alias("n_a")
    )
    sb = sizes.select(
        F.col("source").alias("source_b"), F.col("n_distinct").alias("n_b")
    )
    return (
        pairs.join(F.broadcast(sa), "source_a")
        .join(F.broadcast(sb), "source_b")
        .select(
            "source_a",
            "source_b",
            "n_shared_digests",
            "n_a",
            "n_b",
            F.round(
                F.col("n_shared_digests") * 100.0 / F.col("n_a"), 6
            ).alias("pct_of_a"),
        )
    )


TEMPLATE_SAMPLE_K = 3  # audit pages drawn per template


def template_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-template audit sample: (template_sig, rank, url, n_pages) —
    up to ``TEMPLATE_SAMPLE_K`` deterministic uniformly-drawn pages from every template
    cluster. The workflow behind template_fingerprint: extraction quality
    is audited PER TEMPLATE (one bad CMS skeleton breaks extraction for
    every page that shares it), so the auditor needs a small stable
    sample of each cluster, not the whole crawl. The md5-coin rank makes
    the sample rerun-stable (the host_cap_sample discipline) and biased
    toward nothing.

    Scale shape: reuses the template_fingerprint sig projection (JVM
    regexp in the scan stage), ONE sig-partitioned window for the coin
    rank — template count ≪ pages so partitions are meaningful but never
    global — and a broadcast join of the tiny per-template size dim."""
    from pyspark.sql import Window

    from ..queries import synth_pages_from_documents

    pages = synth_pages_from_documents(spark, sf_dir)
    doc_id = F.regexp_extract(F.col("url"), r"/(\d+)$", 1).cast("long")
    html2 = F.concat(
        F.lit("<ul>"),
        F.repeat(F.lit("<li>i</li>"), (doc_id % LI_MOD).cast("int")),
        F.lit("</ul>"),
        F.decode(F.col("html"), "utf-8"),
    )
    tags = F.regexp_extract_all(html2, F.lit(TAG_RE), F.lit(1))
    sig = pages.select(
        "url", F.md5(F.concat_ws(",", tags)).alias("template_sig")
    )
    sizes = sig.groupBy("template_sig").agg(F.count(F.lit(1)).alias("n_pages"))
    coin = F.md5(F.concat(F.lit("tsample|"), F.col("url")))
    w = Window.partitionBy("template_sig").orderBy(F.asc("coin"), F.asc("url"))
    ranked = (
        sig.withColumn("coin", coin)
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TEMPLATE_SAMPLE_K)
    )
    return ranked.join(F.broadcast(sizes), "template_sig").select(
        "template_sig", "rank", "url", "n_pages"
    )


def template_extract_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-template extraction quality: run the REAL detect→correct
    kernel over the synthesized pages and roll its lineage metrics up by
    template skeleton — (template_sig, n_pages, sum_chars_in,
    sum_chars_out, extraction_ratio, spans_per_page). THE per-template
    audit number: a template whose extraction_ratio collapses is a
    skeleton the block classifier mis-reads, and it is found here before
    anyone eyeballs samples (template_sample is the follow-up drill-down).

    The sig is the same injected-variation skeleton hash the
    fingerprint/sample queries use (a LABEL join on url — the kernel
    itself sees the unmodified pages); metrics come from the kernel's
    own per-url output, so this composes the byte-identity-certified
    extraction with the template clustering. One url-equality join + one
    sig rollup on top of the extract pipeline's narrow kernel stage."""
    from ..kernels_spark import extract_pages
    from ..queries import synth_pages_from_documents

    pages = synth_pages_from_documents(spark, sf_dir)
    out = extract_pages(pages).select("url", "chars_in", "chars_out", "n_spans")
    doc_id = F.regexp_extract(F.col("url"), r"/(\d+)$", 1).cast("long")
    html2 = F.concat(
        F.lit("<ul>"),
        F.repeat(F.lit("<li>i</li>"), (doc_id % LI_MOD).cast("int")),
        F.lit("</ul>"),
        F.decode(F.col("html"), "utf-8"),
    )
    tags = F.regexp_extract_all(html2, F.lit(TAG_RE), F.lit(1))
    sig = pages.select(
        "url", F.md5(F.concat_ws(",", tags)).alias("template_sig")
    )
    agg = out.join(sig, "url").groupBy("template_sig").agg(
        F.count(F.lit(1)).alias("n_pages"),
        F.sum("chars_in").cast("long").alias("sum_chars_in"),
        F.sum("chars_out").cast("long").alias("sum_chars_out"),
        F.sum("n_spans").cast("long").alias("sum_spans"),
    )
    return agg.select(
        "template_sig",
        "n_pages",
        "sum_chars_in",
        "sum_chars_out",
        F.round(
            F.col("sum_chars_out") / F.greatest(F.col("sum_chars_in"), F.lit(1)),
            6,
        ).alias("extraction_ratio"),
        F.round(F.col("sum_spans") / F.col("n_pages"), 6).alias("spans_per_page"),
    )
