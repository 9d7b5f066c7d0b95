"""Sources/sinks: the partitioned extraction sink, WARC scan, robots and
sitemap parsing, crawl scheduling."""

import pyarrow.parquet as pq
import pytest

from sbb_ocr_postcorrection_spark.datagen import generate_pages, pages_to_arrow


@pytest.fixture(scope="module")
def pages_path(tmp_path_factory):
    p = str(tmp_path_factory.mktemp("io") / "pages.parquet")
    pq.write_table(pages_to_arrow(generate_pages(60, seed=3)), p)
    return p


@pytest.fixture(scope="module")
def extractions_path(spark, pages_path, tmp_path_factory):
    """The (dt, bkt)-partitioned extraction table the job writes."""
    from sbb_ocr_postcorrection_spark.pipeline import run_extraction_job

    out = str(tmp_path_factory.mktemp("job") / "out")
    run_extraction_job(spark, spark.read.parquet(pages_path), out)
    return f"{out}/extractions"


def test_partition_pruning_on_layout_key(spark, extractions_path):
    """A dt-filtered read of the partitioned output must prune partitions
    at planning time (PartitionFilters on the scan), not scan-and-filter —
    the property that makes day-scoped queries cheap at 10^12 docs."""
    from pyspark.sql import functions as F

    dest = extractions_path
    some_dt = spark.read.parquet(dest).select("dt").first()["dt"]
    q = spark.read.parquet(dest).filter(F.col("dt") == F.lit(some_dt))
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(dt" in plan
    assert q.count() > 0


def test_partitioned_sink_roundtrip(spark, extractions_path):
    back = spark.read.parquet(extractions_path)
    assert back.count() == 60
    assert {"dt", "bkt"} <= set(back.columns)


# ------------------------------------------------------------------ WARC


def test_warc_roundtrip_and_payload_opacity():
    """Content-Length-driven framing: payloads containing 'WARC/1.0' or
    CRLFCRLF must NOT confuse the cursor — only the declared length
    advances it."""
    from sbb_ocr_postcorrection_spark.sources.warc import (
        build_warc_record,
        parse_warc_records,
    )

    p1 = b"plain payload"
    p2 = b"tricky WARC/1.0\r\n\r\nWARC-Date: fake\r\n\r\n inside payload"
    p3 = b""  # empty payload record
    blob = (
        build_warc_record("http://a.test/1", "2024-01-01T00:00:00Z", p1)
        + build_warc_record("http://a.test/2", "2024-01-01T00:01:01Z", p2)
        + build_warc_record("http://a.test/3", "2024-01-01T00:02:02Z", p3)
    )
    recs = parse_warc_records(blob)
    assert [r["url"] for r in recs] == [f"http://a.test/{i}" for i in (1, 2, 3)]
    assert [r["payload"] for r in recs] == [p1, p2, p3]
    assert [r["content_length"] for r in recs] == [len(p1), len(p2), 0]


def test_warc_corruption_raises():
    """Truncated payloads, missing Content-Length, and mid-stream garbage
    raise instead of silently truncating the archive."""
    import pytest

    from sbb_ocr_postcorrection_spark.sources.warc import (
        build_warc_record,
        parse_warc_records,
    )

    good = build_warc_record("http://a.test/1", "2024-01-01T00:00:00Z", b"xyz")
    with pytest.raises(ValueError, match="truncated payload"):
        parse_warc_records(good[:-6])  # separator + 2 payload bytes gone
    no_len = good.replace(b"Content-Length: 3\r\n", b"")
    with pytest.raises(ValueError, match="bad Content-Length"):
        parse_warc_records(no_len)
    with pytest.raises(ValueError, match="not a WARC record"):
        parse_warc_records(good + b"GARBAGE-NOT-A-RECORD" + good)


def test_warc_scan_spark_surface(spark):
    """The Spark surface parses every synthesized record back out: one row
    per document, md5(payload) == md5 of the page html, multi-record
    files genuinely exercised (500 docs at 50/file = 10 blobs)."""
    from pyspark.sql import functions as F

    from sbb_ocr_postcorrection_spark.queries import synth_pages_from_documents
    from sbb_ocr_postcorrection_spark.sources.warc import warc_scan

    sf = "/root/testdata/sf0.001"
    got = {r["url"]: r for r in warc_scan(spark, sf).collect()}
    want = {
        r["url"]: r
        for r in synth_pages_from_documents(spark, sf)
        .select("url", F.md5("html").alias("m"), F.length("html").alias("n"))
        .collect()
    }
    assert set(got) == set(want) and len(got) == 500
    for u, r in got.items():
        assert r["payload_md5"] == want[u]["m"]
        assert r["content_length"] == want[u]["n"]


# ------------------------------------------------------------ robots.txt


def test_robots_rfc_matching_rules():
    """RFC 9309 semantics: longest pattern wins (pattern length, not match
    length), Allow wins ties, '*' wildcard, '$' anchor, empty Disallow =
    allow-all, default allowed on no match."""
    from sbb_ocr_postcorrection_spark.sources.robots import (
        parse_robots,
        robots_allowed,
    )

    txt = (
        "# policy\n"
        "User-agent: *\n"
        "Disallow: /private\n"
        "Allow: /private/ok\n"
        "Disallow: /*.pdf$\n"
        "Disallow: /tmp*core\n"
    )
    r = parse_robots(txt)
    assert robots_allowed(r, "/public") is True           # no match
    assert robots_allowed(r, "/private/x") is False       # prefix
    assert robots_allowed(r, "/private/ok/deep") is True  # longer Allow
    assert robots_allowed(r, "/doc/a.pdf") is False       # wildcard+anchor
    assert robots_allowed(r, "/doc/a.pdfx") is True       # anchor holds
    assert robots_allowed(r, "/tmp/junk/core") is False   # mid wildcard
    # tie → Allow wins
    tie = [(False, "/a/b"), (True, "/a/c")]
    assert robots_allowed(tie, "/a/b") is False
    assert robots_allowed([(False, "/a/b"), (True, "/a/b")], "/a/b") is True
    # empty Disallow line is allow-all (no rule at all)
    assert parse_robots("User-agent: *\nDisallow:\n") == []


def test_robots_group_selection():
    """The specific agent's group beats '*'; stacked User-agent headers
    share one rule block."""
    from sbb_ocr_postcorrection_spark.sources.robots import (
        parse_robots,
        robots_allowed,
    )

    txt = (
        "User-agent: megabot\n"
        "User-agent: minibot\n"
        "Disallow: /only-bots\n"
        "\n"
        "User-agent: *\n"
        "Disallow: /everyone\n"
    )
    for agent in ("megabot", "MiniBot"):
        r = parse_robots(txt, agent)
        assert robots_allowed(r, "/only-bots/x") is False
        assert robots_allowed(r, "/everyone") is True  # not their group
    r = parse_robots(txt, "otherbot")  # falls back to '*'
    assert robots_allowed(r, "/everyone") is False
    assert robots_allowed(r, "/only-bots/x") is True


def test_robots_gate_spark_surface(spark):
    """Injected relations: pages of a robots-less host default to allowed
    (RFC 404 rule); the kernel honors injected per-host policies."""
    from sbb_ocr_postcorrection_spark.sources.robots import robots_gate

    docs = spark.createDataFrame(
        [
            (0, "https://a.test/keep/x"),
            (1, "https://a.test/secret/x"),
            (2, "https://norobots.test/anything"),
        ],
        "doc_id long, url string",
    )
    robots = spark.createDataFrame(
        [("a.test", "User-agent: *\nDisallow: /secret\n")],
        "host string, robots_txt string",
    )
    out = {
        r["doc_id"]: r["robots_allowed"]
        for r in robots_gate(spark, "/root/testdata/sf0.001",
                             robots=robots, docs=docs).collect()
    }
    assert out == {0: 1, 1: 0, 2: 1}


def test_robots_matcher_linear_on_adversarial_patterns():
    """robots.txt is UNTRUSTED remote content: the '*a'×25+'$' pattern
    against a near-matching path hung the old regex matcher (catastrophic
    backtracking, >20s); the iterative glob matcher must answer in
    milliseconds (generous 2s bound for VM noise) and still be correct."""
    import time

    from sbb_ocr_postcorrection_spark.sources.robots import robots_allowed

    evil = [(False, "/" + "*a" * 25 + "$")]
    t0 = time.time()
    assert robots_allowed(evil, "/" + "a" * 60 + "b") is True  # no match
    assert robots_allowed(evil, "/" + "a" * 60) is False       # matches
    assert time.time() - t0 < 2.0
    # star semantics sanity at the boundary forms
    assert robots_allowed([(False, "/*")], "/anything") is False
    assert robots_allowed([(False, "/a*b$")], "/axxb") is False
    assert robots_allowed([(False, "/a*b$")], "/axxbc") is True


def test_robots_gate_normalizes_host_spellings(spark):
    """Port/userinfo/trailing-dot spellings must FIND the host's policy —
    the un-normalized join silently defaulted them to allowed (review
    finding; same class as the blocklist bypass)."""
    from sbb_ocr_postcorrection_spark.sources.robots import robots_gate

    docs = spark.createDataFrame(
        [
            (0, "https://a.test:8080/secret/x"),
            (1, "https://a.test./secret/y"),
            (2, "https://u@a.test/secret/z"),
            (3, "https://a.test/open"),
        ],
        "doc_id long, url string",
    )
    robots = spark.createDataFrame(
        [("a.test", "User-agent: *\nDisallow: /secret\n")],
        "host string, robots_txt string",
    )
    out = {
        r["doc_id"]: r["robots_allowed"]
        for r in robots_gate(spark, "/root/testdata/sf0.001",
                             robots=robots, docs=docs).collect()
    }
    assert out == {0: 0, 1: 0, 2: 0, 3: 1}


def test_warc_parse_is_linear_in_record_count():
    """The cursor walk must not re-slice the tail per record (the old
    blob[i:].strip was quadratic: 20k records took ~10s). 20k records now
    parse well under the generous 5s VM-noise bound."""
    import time

    from sbb_ocr_postcorrection_spark.sources.warc import (
        build_warc_record,
        parse_warc_records,
    )

    blob = b"".join(
        build_warc_record(f"http://h.test/{i}", "2024-01-01T00:00:00Z", b"pp")
        for i in range(20_000)
    )
    t0 = time.time()
    recs = parse_warc_records(blob)
    assert len(recs) == 20_000
    assert time.time() - t0 < 5.0


def test_warc_gz_member_roundtrip():
    """Per-record gzip members (the Common Crawl .warc.gz layout) inflate
    back to exactly the plain archive's records; a member holding several
    records and an empty member are both legal."""
    from sbb_ocr_postcorrection_spark.sources.warc import (
        build_warc_record,
        gzip_member,
        parse_warc_gz_records,
        parse_warc_records,
    )

    recs = [
        build_warc_record(f"http://a.test/{i}", "2024-01-01T00:00:00Z",
                          f"payload WARC/1.0 \r\n\r\n {i}".encode())
        for i in range(7)
    ]
    # one member per record ...
    gz = b"".join(gzip_member(r) for r in recs)
    got = parse_warc_gz_records(gz)
    assert got == parse_warc_records(b"".join(recs))
    # ... plus a multi-record member and an empty member interleaved
    mixed = (
        gzip_member(recs[0] + recs[1])
        + gzip_member(b"")
        + gzip_member(recs[2])
    )
    assert [r["url"] for r in parse_warc_gz_records(mixed)] == [
        "http://a.test/0", "http://a.test/1", "http://a.test/2",
    ]
    assert parse_warc_gz_records(b"") == []


def test_warc_gz_corruption_raises():
    """Manifest-corrupt convention: truncated member, flipped byte (CRC),
    and non-gzip garbage between members all raise instead of silently
    truncating the archive."""
    import pytest

    from sbb_ocr_postcorrection_spark.sources.warc import (
        build_warc_record,
        gzip_member,
        parse_warc_gz_records,
    )

    rec = build_warc_record("http://a.test/1", "2024-01-01T00:00:00Z", b"xyz")
    member = gzip_member(rec)
    with pytest.raises(ValueError, match="truncated"):
        parse_warc_gz_records(member[:-5])
    flipped = bytearray(member)
    flipped[len(flipped) // 2] ^= 0xFF  # inside the deflate stream
    with pytest.raises(ValueError):
        parse_warc_gz_records(bytes(flipped) + member)
    with pytest.raises(ValueError, match="not a gzip member"):
        parse_warc_gz_records(member + b"GARBAGE" + member)


def test_warc_gz_flood_linear():
    """The member walk must stay O(n): zlib's unused_data copies whatever
    tail it was fed, so an unchunked feed would be quadratic in member
    count (the same class of bug as the old blob[i:].strip() separator
    skip). 20k members parse well under the generous VM-noise bound."""
    import time

    from sbb_ocr_postcorrection_spark.sources.warc import (
        build_warc_record,
        gzip_member,
        parse_warc_gz_records,
    )

    gz = b"".join(
        gzip_member(
            build_warc_record(f"http://h.test/{i}", "2024-01-01T00:00:00Z", b"pp")
        )
        for i in range(20_000)
    )
    t0 = time.time()
    recs = parse_warc_gz_records(gz)
    assert len(recs) == 20_000
    assert time.time() - t0 < 5.0


def test_warc_gz_scan_spark_surface(spark):
    """The compressed scan reproduces the plain scan's relation exactly
    (same records, same hashes) over multi-member files."""
    from sbb_ocr_postcorrection_spark.sources.warc import warc_gz_scan, warc_scan

    sf = "/root/testdata/sf0.001"
    plain = {tuple(r) for r in warc_scan(spark, sf).collect()}
    gz = {tuple(r) for r in warc_gz_scan(spark, sf).collect()}
    assert gz == plain and len(gz) == 500


def test_crawl_schedule_per_host_politeness(spark):
    """Injected relations: within each host, slots are dense from 0 in
    doc_id order and offsets honor THAT host's Crawl-delay; hosts without
    a policy take the default delay; no two pages of one host share a
    fetch offset (the politeness invariant)."""
    from sbb_ocr_postcorrection_spark.sources.robots import (
        DEFAULT_CRAWL_DELAY_S,
        crawl_schedule,
    )

    docs = spark.createDataFrame(
        [(i, f"https://slow.test/p/{i}") for i in range(3)]
        + [(10 + i, f"https://nopolicy.test/q/{i}") for i in range(2)],
        "doc_id long, url string",
    )
    robots = spark.createDataFrame(
        [("slow.test", "User-agent: *\nDisallow:\nCrawl-delay: 7\n")],
        "host string, robots_txt string",
    )
    rows = crawl_schedule(
        spark, "/root/testdata/sf0.001", robots=robots, docs=docs
    ).collect()
    by_host = {}
    for r in rows:
        by_host.setdefault(r["host"], []).append(r)
    slow = sorted(by_host["slow.test"], key=lambda r: r["doc_id"])
    assert [r["slot"] for r in slow] == [0, 1, 2]
    assert [r["fetch_offset_s"] for r in slow] == [0, 7, 14]
    nop = sorted(by_host["nopolicy.test"], key=lambda r: r["doc_id"])
    assert [r["delay_s"] for r in nop] == [DEFAULT_CRAWL_DELAY_S] * 2
    assert [r["fetch_offset_s"] for r in nop] == [0, DEFAULT_CRAWL_DELAY_S]
    for rs in by_host.values():
        offs = [r["fetch_offset_s"] for r in rs]
        assert len(offs) == len(set(offs))


def test_crawl_delay_parsing_spellings_and_groups():
    """crawl_delay must use the real parser: case/space spellings, group
    awareness (another agent's delay must NOT leak into '*'), malformed
    values ignored, absent → default, 0 clamped to 1."""
    from sbb_ocr_postcorrection_spark.sources.robots import crawl_delay

    assert crawl_delay("User-agent: *\ncrawl-delay:10\n") == 10
    assert crawl_delay("User-agent: *\nCRAWL-DELAY:   4  \n") == 4
    assert crawl_delay(
        "User-agent: megabot\nCrawl-delay: 30\nUser-agent: *\nCrawl-delay: 2\n"
    ) == 2
    assert crawl_delay(
        "User-agent: megabot\nCrawl-delay: 30\nUser-agent: *\nCrawl-delay: 2\n",
        agent="megabot",
    ) == 30
    assert crawl_delay("User-agent: *\nDisallow: /x\n") == 1      # absent
    assert crawl_delay("User-agent: *\nCrawl-delay: soon\n") == 1  # junk
    assert crawl_delay("User-agent: *\nCrawl-delay: 0\n") == 1     # clamped


# ------------------------------------------------------------- sitemap.xml


def test_sitemap_parse_variants():
    """Namespaced and bare urlsets parse identically; lastmod optional;
    loc-less entries skipped; malformed XML raises (frontier must not
    silently freeze)."""
    import pytest

    from sbb_ocr_postcorrection_spark.sources.sitemap import parse_sitemap

    ns = (
        '<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">'
        "<url><loc>https://a.test/1</loc><lastmod>2024-02-03</lastmod></url>"
        "<url><loc> https://a.test/2 </loc></url>"
        "<url><lastmod>2024-01-01</lastmod></url>"
        "</urlset>"
    )
    got = parse_sitemap(ns)
    assert got == [
        {"loc": "https://a.test/1", "lastmod": "2024-02-03"},
        {"loc": "https://a.test/2", "lastmod": None},
    ]
    bare = "<urlset><url><loc>https://b.test/x</loc></url></urlset>"
    assert parse_sitemap(bare) == [{"loc": "https://b.test/x", "lastmod": None}]
    with pytest.raises(Exception):
        parse_sitemap("<urlset><url><loc>truncated")


def test_sitemap_scan_discovery_frontier(spark):
    """The fixture frontier is non-vacuous (both known and new URLs per
    SF) and the known flag matches an independent recompute of the
    even-doc_id-below-100 history snapshot."""
    from sbb_ocr_postcorrection_spark.sources.sitemap import sitemap_scan

    rows = sitemap_scan(spark, "/root/testdata/sf0.001").collect()
    assert len(rows) == 91
    known_pairs = {(d % 7, d % 13) for d in range(0, 100, 2)}
    for r in rows:
        k = int(r["host"].removeprefix("site").split(".")[0])
        p = int(r["loc"].rsplit("/", 1)[1])
        assert r["known"] == int((k, p) in known_pairs), (k, p)
    flags = {r["known"] for r in rows}
    assert flags == {0, 1}


def test_crawl_schedule_mega_host_skew(spark):
    """VERDICT r3 #6: a 10^5-URL single host (a mega-site in the crawl
    frontier). The per-host serialization is the politeness SEMANTIC for
    that host, but the plan must not collapse the rest of the frontier:
    the slot window hash-partitions by host (no SinglePartition), so the
    50 small hosts schedule in parallel with the skewed one, and the
    schedule stays exactly correct under the skew."""
    from pyspark.sql import functions as F

    from sbb_ocr_postcorrection_spark.sources.robots import (
        DEFAULT_CRAWL_DELAY_S,
        crawl_schedule,
    )

    mega = spark.range(100_000).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("https://mega.test/p/"), F.col("id")).alias("url"),
    )
    small = spark.range(100_000, 100_500).select(
        F.col("id").alias("doc_id"),
        F.format_string(
            "https://small%d.test/p/%d", (F.col("id") % 50).cast("int"),
            F.col("id").cast("int"),
        ).alias("url"),
    )
    robots = spark.createDataFrame(
        [("mega.test", "User-agent: *\nCrawl-delay: 7")],
        "host string, robots_txt string",
    )
    sched = crawl_schedule(
        spark, "/root/testdata/sf0.001", robots=robots,
        docs=mega.union(small),
    )
    plan = sched._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan
    assert "hashpartitioning(host" in plan

    rows = sched.collect()
    assert len(rows) == 100_500
    by_host: dict = {}
    for r in rows:
        by_host.setdefault(r["host"], []).append(r)
    assert len(by_host["mega.test"]) == 100_000
    for host, hr in by_host.items():
        hr.sort(key=lambda r: r["doc_id"])
        want_delay = 7 if host == "mega.test" else DEFAULT_CRAWL_DELAY_S
        # slots dense from 0 in doc_id order; offsets honor THIS host's
        # delay — one fetch per delay window (the politeness invariant)
        assert [r["slot"] for r in hr] == list(range(len(hr)))
        assert all(r["delay_s"] == want_delay for r in hr)
        assert all(r["fetch_offset_s"] == r["slot"] * want_delay for r in hr)


def test_warc_quarantine_scan(spark):
    """Error-resilient mode: corrupt archives yield exactly one
    'quarantined' row (whole-file policy — no partial parses that could
    silently truncate), clean archives reproduce the strict scan's
    records with status 'ok', all in one pass."""
    from sbb_ocr_postcorrection_spark.sources.warc import (
        warc_scan,
        warc_scan_quarantine,
    )

    sf = "/root/testdata/sf0.001"
    rows = warc_scan_quarantine(spark, sf).collect()
    quarantined = {r["file_id"] for r in rows if r["status"] == "quarantined"}
    ok = [r for r in rows if r["status"] == "ok"]
    # 10 files (500 docs / 50), file_ids 0..9 → corrupt = {3}
    assert quarantined == {3}
    assert len([r for r in rows if r["status"] == "quarantined"]) == 1
    assert len(ok) == 450  # 9 clean files × 50 records
    strict = {
        r["url"]: (r["warc_date"], r["content_length"], r["payload_md5"])
        for r in warc_scan(spark, sf).collect()
    }
    for r in ok:
        assert strict[r["url"]] == (
            r["warc_date"], r["content_length"], r["payload_md5"]
        )
