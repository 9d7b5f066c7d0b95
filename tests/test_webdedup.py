"""URL-level and line-level dedup operators: semantics on crafted corpora
(non-vacuous by construction) + the broadcast-anti-join plan contract."""

import pytest

from pyspark.sql import functions as F

from sbb_ocr_postcorrection_spark.operators import lines as L, urls as U

SF_DIR = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


# ---------------------------------------------------------------- url dedup

CANON_CASES = [
    # scheme case + www + query + fragment + trailing slash all collapse
    ("HTTP://WWW.Site3.Example.com/p/7/?utm_source=x#frag",
     "site3.example.com/p/7"),
    ("https://site3.example.com/p/7", "site3.example.com/p/7"),
    ("http://www.site3.example.com/p/7/", "site3.example.com/p/7"),
    # host-only URL: empty path, no trailing-slash to strip
    ("https://Example.ORG", "example.org"),
    ("https://example.org/", "example.org"),
    # www only stripped as a leading label, not inside the host
    ("http://wwwx.example.org/a", "wwwx.example.org/a"),
    ("http://sub.www.example.org/a", "sub.www.example.org/a"),
    # query/fragment stripped even without a path slash
    ("http://example.org?q=1", "example.org"),
    ("http://example.org#sec", "example.org"),
    # scheme = before the FIRST '://': an archive/proxy URL embedding a
    # second scheme must NOT collapse onto the embedded target
    ("https://web.archive.org/web/2020/https://example.com/x",
     "web.archive.org/web/2020/https://example.com/x"),
    # scheme-less input: host/path from the first character
    ("WWW.Example.org/a/", "example.org/a"),
]


def test_canonical_url_cases(spark):
    df = spark.createDataFrame(
        [(i, raw) for i, (raw, _) in enumerate(CANON_CASES)], "i long, url string"
    ).select("i", U.canonical_url_expr("url").alias("canon"))
    got = {r["i"]: r["canon"] for r in df.collect()}
    for i, (raw, want) in enumerate(CANON_CASES):
        assert got[i] == want, f"{raw!r} -> {got[i]!r}, want {want!r}"


def test_canonical_url_oracle_parity():
    """The DuckDB form (urls.CANON_URL_SQL, strpos-based) must agree with
    the Spark form on EVERY pinned case — including the archive URL with an
    embedded second scheme, where the old split_part(…, '://', 2) oracle
    truncated at the embedded 'https://' (ADVICE r2 #1). Pure-DuckDB test:
    the Spark side of the same cases is test_canonical_url_cases."""
    import duckdb

    con = duckdb.connect()
    expr = U.CANON_URL_SQL.format(u="url")
    for raw, want in CANON_CASES:
        got = con.execute(f"SELECT {expr} FROM (SELECT ? AS url)", [raw]).fetchone()[0]
        assert got == want, f"{raw!r} -> {got!r}, want {want!r}"


def test_url_dedup_groups(spark):
    rows = U.url_dedup(spark, SF_DIR).collect()
    # 7 hosts x 13 paths, all hit at 500 docs
    assert len(rows) == 91
    n_docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").count()
    assert sum(r["n_dupes"] for r in rows) == n_docs
    # non-vacuous: every group actually collapsed something, and raw
    # spellings genuinely differed inside groups
    assert all(r["n_dupes"] > 1 for r in rows)
    assert all(r["n_variants"] > 1 for r in rows)
    # keeper is the min doc_id of its group: recompute independently
    with_urls = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", U.synth_url_expr(F.col("doc_id")).alias("url")
    )
    canon = with_urls.select(
        "doc_id", U.canonical_url_expr("url").alias("canon_url")
    ).collect()
    mins = {}
    for r in canon:
        mins[r["canon_url"]] = min(mins.get(r["canon_url"], 1 << 62), r["doc_id"])
    assert {r["canon_url"]: r["keeper_id"] for r in rows} == mins


def test_url_dedup_uses_caller_url_column(spark):
    """A docs relation that already carries urls is deduped on THEM, not on
    re-synthesized stand-ins."""
    docs = spark.createDataFrame(
        [
            (10, "http://www.a.test/x"),
            (11, "https://A.test/x/"),
            (12, "https://b.test/y"),
        ],
        "doc_id long, url string",
    )
    rows = {r["canon_url"]: r for r in U.url_dedup(spark, SF_DIR, docs=docs).collect()}
    assert set(rows) == {"a.test/x", "b.test/y"}
    assert rows["a.test/x"]["n_dupes"] == 2
    assert rows["a.test/x"]["n_variants"] == 2
    assert rows["a.test/x"]["keeper_id"] == 10


GOOD_DE = "der die das und ist ein hier heute morgen abend"  # stopword-rich
JUNK = "zzz qqq xxx vvv kkk jjj www uuu ttt sss"  # no stopwords -> lang unk


def test_host_reputation_gate_splits_hosts(spark):
    """Crafted corpus: hosts 0-2 are junk farms (every doc fails lang),
    hosts 3-6 are clean — the gate must fail exactly the junk hosts, and
    every document of a host shares its host verdict."""
    rows = []
    for i in range(70):
        h = i % 7
        rows.append((i, JUNK if h < 3 else GOOD_DE))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = U.host_reputation_gate(spark, SF_DIR, docs=docs).collect()
    by_host = {}
    for r in out:
        by_host.setdefault(r["host"], []).append(r)
    assert len(by_host) == 7
    for h, rs in by_host.items():
        want = 0 if int(h.removeprefix("site")[0]) < 3 else 1
        assert {r["host_pass"] for r in rs} == {want}, h
        # the verdict is the integer-threshold fact, recomputed
        n, passed = len(rs), sum(r["lang_pass"] for r in rs)
        assert rs[0]["host_pass"] == int(passed * 100 >= U.HOST_MIN_PASS_PCT * n)


def test_host_reputation_gate_consistent_on_corpus(spark):
    """On the shipped table: one verdict per host, verdict == the integer
    threshold fact, rates in [0,1]."""
    rows = U.host_reputation_gate(spark, SF_DIR).collect()
    by_host = {}
    for r in rows:
        by_host.setdefault(r["host"], []).append(r)
    assert len(by_host) == 7
    for h, rs in by_host.items():
        assert len({r["host_pass"] for r in rs}) == 1
        n, passed = len(rs), sum(r["lang_pass"] for r in rs)
        assert rs[0]["host_pass"] == int(passed * 100 >= U.HOST_MIN_PASS_PCT * n)
        assert 0.0 <= rs[0]["host_pass_rate"] <= 1.0
        assert rs[0]["host_docs"] == n


def test_incremental_dedup_all_verdict_combos(spark):
    """The remapped corpus must exercise every verdict class: new-unique
    (keep), already-in-history, in-batch duplicate without history, and
    both-at-once."""
    from sbb_ocr_postcorrection_spark.operators import dedup as D

    rows = D.incremental_dedup(spark, SF_DIR).collect()
    # only odd doc_ids (the new batch), every new doc gets a verdict
    assert all(r["doc_id"] % 2 == 1 for r in rows)
    assert len(rows) == 250
    combos = {(r["in_history"], r["first_in_batch"]) for r in rows}
    assert combos == {(0, 1), (1, 1), (1, 0), (0, 0)}
    for r in rows:
        assert r["keep"] == int(r["in_history"] == 0 and r["first_in_batch"] == 1)
    # doc 7 leads its odd-only group: kept; doc 17 is its in-batch dup
    by_id = {r["doc_id"]: r for r in rows}
    assert by_id[7]["keep"] == 1 and by_id[7]["in_history"] == 0
    assert by_id[17]["first_in_batch"] == 0 and by_id[17]["keep"] == 0
    assert by_id[17]["content_hash"] == by_id[7]["content_hash"]
    # doc 5 shares doc 0's text → history hit
    assert by_id[5]["in_history"] == 1 and by_id[5]["keep"] == 0


def test_incremental_dedup_plan_shared_key(spark):
    """Two hash exchanges total (batch + history digests) — the
    first-occurrence window must run on the probe join's output
    partitioning, not add a third shuffle."""
    from sbb_ocr_postcorrection_spark.operators import dedup as D

    plan = plan_of(D.incremental_dedup(spark, SF_DIR))
    assert "Window" in plan
    assert plan.count("Exchange hashpartitioning(content_hash") == 2


def test_canonical_url_randomized_cross_check(spark):
    """300 seeded-random URLs through the Spark expression vs an
    independent pure-Python reference; plus structural invariants (no
    query/fragment survives, lowercase host, no www. prefix, no trailing
    slash, idempotence)."""
    import random
    import re as _re

    def canon_py(u: str) -> str:
        u = u.split("#", 1)[0].split("?", 1)[0]
        i = u.find("://")
        rest = u[i + 3:] if i >= 0 else u
        host_raw = rest.split("/", 1)[0]
        host = host_raw.lower()
        if host.startswith("www."):
            host = host[4:]
        path = _re.sub("/$", "", rest[len(host_raw):])
        return host + path

    rng = random.Random(99)
    schemes = ["http://", "https://", "HTTP://", "HtTpS://", ""]
    urls = []
    for _ in range(300):
        host = ".".join(
            rng.choice(["www", "WWW", "sub", "Site3", "archive", "a1"])
            for _ in range(rng.randint(1, 3))
        ) + ".example.org"
        path = "".join(
            "/" + rng.choice(["p", "x9", "https://e.com", "W W"])
            for _ in range(rng.randint(0, 3))
        )
        u = (
            rng.choice(schemes) + host + path
            + rng.choice(["", "/", "?q=1&r=2", "?u=http://f.org"])
            + rng.choice(["", "#frag", "#a?b"])
        )
        urls.append(u)
    df = spark.createDataFrame(
        [(i, u) for i, u in enumerate(urls)], "i long, url string"
    ).select("i", U.canonical_url_expr("url").alias("canon"))
    got = {r["i"]: r["canon"] for r in df.collect()}
    for i, u in enumerate(urls):
        c = got[i]
        assert c == canon_py(u), (u, c, canon_py(u))
        assert "#" not in c.split("/", 1)[0] and "?" not in c.split("/", 1)[0]
        # exactly ONE leading www. label is stripped (stripping repeatedly
        # would merge the genuinely distinct host www.www.x with x)
        if "www.www." not in u.lower():
            assert not c.startswith("www.")
        assert not c.endswith("/")
        h = c.split("/", 1)[0]
        assert h == h.lower()
        # idempotence: canonicalizing a canonical URL is a no-op (except
        # the stacked-www case above, where each pass strips one label)
        if "www.www." not in u.lower():
            assert canon_py("http://" + c) == c


def test_incremental_dedup_real_relations(spark):
    """The production path: caller-supplied history and batch relations —
    no synthetic remap, no parity split, every batch doc gets a verdict."""
    from sbb_ocr_postcorrection_spark.operators import dedup as D
    import pytest as _pytest

    history = spark.createDataFrame(
        [(1, "old page one"), (2, "old page two")], "doc_id long, text string"
    )
    batch = spark.createDataFrame(
        [
            (100, "brand new page"),      # keep
            (101, "old page two"),        # in history
            (102, "another new page"),    # keep (first of in-batch pair)
            (103, "another new page"),    # in-batch dup
            (104, "old page two"),        # in history (not first either)
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in
            D.incremental_dedup(spark, SF_DIR, history=history, batch=batch).collect()}
    assert set(rows) == {100, 101, 102, 103, 104}
    assert rows[100]["keep"] == 1
    assert rows[101]["in_history"] == 1 and rows[101]["keep"] == 0
    assert rows[102]["keep"] == 1 and rows[102]["first_in_batch"] == 1
    assert rows[103]["first_in_batch"] == 0 and rows[103]["keep"] == 0
    assert rows[104]["in_history"] == 1 and rows[104]["first_in_batch"] == 0
    with _pytest.raises(ValueError):
        D.incremental_dedup(spark, SF_DIR, history=history)


def test_source_mix_sample_budget_law(spark):
    """Mixing law: capped sources (weighted share ≥ their tokens) keep
    EVERYTHING; uncapped sources sample near rate = budget·w/(Σw·T_s)
    (md5-coin, so only statistically exact — allow ±40% relative on ~25-doc
    sources); both branches must be present at the fixture weights
    (non-vacuous)."""
    from sbb_ocr_postcorrection_spark.operators import textstats as T

    rows = {r["source"]: r for r in T.source_mix_sample(spark, SF_DIR).collect()}
    assert len(rows) == 20
    capped = [r for r in rows.values() if r["rate_capped"] == 1]
    uncapped = [r for r in rows.values() if r["rate_capped"] == 0]
    assert capped and uncapped, "fixture must exercise both rate branches"
    for r in capped:
        assert r["n_kept"] == r["n_docs"] and r["tokens_kept"] == r["tokens_total"]
    t_total = sum(r["tokens_total"] for r in rows.values())
    sum_w = sum(r["w"] for r in rows.values())
    # per-source counts are ~25 binomial coins — far too noisy to band
    # individually; the POOLED kept-token mass over the uncapped sources
    # must track the pooled target (≈375 coins → ±35% is >4σ slack)
    target = sum(3 * t_total * r["w"] / (5 * sum_w) for r in uncapped)
    kept = sum(r["tokens_kept"] for r in uncapped)
    assert 0.65 * target <= kept <= 1.35 * target, (kept, target)
    for r in uncapped:  # a sampled source never keeps everything here
        assert r["tokens_kept"] <= r["tokens_total"]


def test_bloom_gate_no_false_negatives_and_real_false_positives(spark, monkeypatch):
    """Bloom semantics: every batch doc whose digest IS in history must be
    flagged (a Bloom filter can never false-negative), and at a dense
    geometry (m=512, k=4 → fill ~0.8 on the ~200-digest synth history)
    some NOT-in-history docs must collide (false positives) while others
    stay definite-new — otherwise the maybe-seen semantics are untested.
    Exact truth comes from incremental_dedup on the same synth split. The
    default m=4096 run is checked for the no-false-negative invariant at
    its own geometry (false positives there appear only at sf0.1 history
    sizes — the 3-SF oracle check covers that band). Injected relations
    exercise the real-caller path + the null-text sentinel."""
    from sbb_ocr_postcorrection_spark.operators import dedup as D

    truth = {
        r["doc_id"]: r["in_history"]
        for r in D.incremental_dedup(spark, SF_DIR).collect()
    }
    for m_bits, need_fp in ((512, True), (D.BLOOM_M_BITS, False)):
        monkeypatch.setattr(D, "BLOOM_M_BITS", m_bits)
        bloom = {
            r["doc_id"]: r["bloom_hit"]
            for r in D.bloom_gate(spark, SF_DIR).collect()
        }
        assert set(bloom) == set(truth)
        misses = [d for d, h in truth.items() if h == 1 and bloom[d] == 0]
        assert not misses, f"false negatives impossible for a Bloom filter: {misses}"
        fps = [d for d, h in truth.items() if h == 0 and bloom[d] == 1]
        if need_fp:
            assert fps, "dense geometry produced zero false positives — vacuous"
        # definite-new docs exist (the gate actually lets things through)
        assert any(h == 0 for h in bloom.values())

    # injected relations + null text: null batch docs take the sentinel
    # digest and can never match real history content
    hist = spark.createDataFrame([(1, "x"), (2, None)], "doc_id long, text string")
    batch = spark.createDataFrame(
        [(11, "x"), (12, None), (13, None)], "doc_id long, text string"
    )
    rows = {
        r["doc_id"]: r
        for r in D.bloom_gate(spark, SF_DIR, history=hist, batch=batch).collect()
    }
    assert set(rows) == {11, 12, 13}
    assert rows[11]["bloom_hit"] == 1  # true member
    assert rows[12]["content_hash"] == "null:12"
    assert rows[13]["content_hash"] == "null:13"


def test_null_inputs_never_drop_rows(spark, monkeypatch):
    """Null url / null text must surface with a DEFINITE verdict, not
    vanish, cross-deduplicate, or emit NULL keep-bits that fall through
    when-chains (real crawl data has both)."""
    from sbb_ocr_postcorrection_spark.operators import (
        dedup as D, packing as P, relational as R, textstats as T,
    )

    # verdict operators: null text ≡ empty doc, keep-bits are 0/1 never
    # NULL (a NULL bit silently passes curation's when-chain)
    vdocs = spark.createDataFrame(
        [(1, None, "de", "s0", 0)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    assert T.lang_id(spark, SF_DIR, docs=vdocs).collect()[0]["lang_pass"] == 0
    q = T.quality_score(spark, SF_DIR, docs=vdocs).collect()[0]
    assert q["quality_keep"] == 0 and q["n_tokens"] == 0
    r = T.repetition_stats(spark, SF_DIR, docs=vdocs).collect()[0]
    assert r["repetition_keep"] == 0
    n = T.text_normalize(spark, SF_DIR, docs=vdocs).collect()[0]
    assert n["norm_text"] == "" and n["n_folded"] == 0
    # pii_redact / bpe_token_stats: ADVICE r2 #3 — null text must yield the
    # empty-doc verdict, not an all-NULL row (doc_id 1: no fixtures appended
    # at mods 7/11, so the redaction runs on the bare empty string)
    p = T.pii_redact(spark, SF_DIR, docs=vdocs).collect()[0]
    assert p["n_emails"] == 0 and p["n_phones"] == 0 and p["redacted"] == ""
    b = T.bpe_token_stats(spark, SF_DIR, docs=vdocs).collect()[0]
    assert b["n_ws_tokens"] == 0 and b["n_bpe_pieces"] == 0
    assert b["pieces_per_word"] == 0.0
    # fingerprints: NULL text takes the empty-doc value (rolling 7,
    # md5('') canon) — the review caught the JVM fold null-propagating
    # to NULL
    import hashlib as _hl
    import unittest.mock as _mock

    null_doc = spark.createDataFrame([(1, None)], "doc_id long, text string")
    with_null = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text"
    ).unionByName(null_doc)
    # fingerprints reads its documents through relational.docs_input
    with _mock.patch.object(R, "load", lambda *_a, **_k: with_null):
        row = {r["doc_id"]: r for r in T.fingerprints(spark, SF_DIR).collect()}[1]
    assert row["rolling_fp"] == 7
    assert row["fingerprint"] == _hl.md5(b"").hexdigest()
    assert row["n_distinct_tokens"] == 0

    # host gate: null url groups under the sentinel pseudo-host
    docs = spark.createDataFrame(
        [(0, "http://a.test/x", "der die das und ist"),
         (1, None, "der die das und ist"),
         (2, None, "zzz qqq xxx")],
        "doc_id long, url string, text string",
    )
    rows = {r["doc_id"]: r for r in U.host_reputation_gate(spark, SF_DIR, docs=docs).collect()}
    assert set(rows) == {0, 1, 2}
    assert rows[1]["host"] == "<no-host>" and rows[2]["host"] == "<no-host>"
    # seq_pack: null text occupies one EOS slot, still in the layout
    pdocs = spark.createDataFrame(
        [(0, "a b c"), (1, None), (2, "d e")], "doc_id long, text string"
    )
    monkeypatch.setattr(P, "SEQ_LEN", 8)
    monkeypatch.setattr(P, "BUCKET_DOCS", 2)
    out = P.sequence_pack(spark, SF_DIR, docs=pdocs).collect()
    assert sum(r["n_tokens"] for r in out) == 4 + 1 + 3  # null doc = 1 slot
    assert {r["first_doc"] for r in out} | {r["last_doc"] for r in out} >= {0, 2}
    # incremental dedup: two distinct null-text batch docs are NOT
    # duplicates of each other, and never match history
    hist = spark.createDataFrame([(1, None), (2, "x")], "doc_id long, text string")
    batch = spark.createDataFrame(
        [(101, None), (103, None), (105, "x")], "doc_id long, text string"
    )
    rows = {r["doc_id"]: r for r in
            D.incremental_dedup(spark, SF_DIR, history=hist, batch=batch).collect()}
    assert set(rows) == {101, 103, 105}
    assert rows[101]["keep"] == 1 and rows[103]["keep"] == 1  # own identity
    assert rows[101]["in_history"] == 0 and rows[103]["in_history"] == 0
    assert rows[105]["in_history"] == 1 and rows[105]["keep"] == 0


# --------------------------------------------------------------- line dedup

BOILER = "cookie notice applies here"  # 4 tokens -> 2 lines at n=2


def _crafted_docs(spark):
    rows = []
    # 6 docs sharing the boilerplate line prefix (>= hot_df=5), each with
    # unique tail content; line length 2 tokens
    for i in range(6):
        rows.append((i, f"{BOILER} unique{i}a unique{i}b unique{i}c unique{i}d"))
    # a doc that is ONLY boilerplate -> loses everything
    rows.append((100, BOILER))
    # an empty doc -> one '' line, must stay in the output
    rows.append((101, ""))
    # a doc with no hot lines at all
    rows.append((102, "plain content words only here today"))
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_line_dedup_crafted(spark, monkeypatch):
    docs = _crafted_docs(spark)
    monkeypatch.setattr(L, "LINE_TOKS", 2)
    monkeypatch.setattr(L, "HOT_LINE_DF", 5)
    out = {r["doc_id"]: r for r in L.line_dedup(spark, SF_DIR, docs=docs).collect()}
    assert set(out) == {0, 1, 2, 3, 4, 5, 100, 101, 102}
    # the shared docs lose exactly the two boilerplate lines, keep tails in
    # order
    for i in range(6):
        r = out[i]
        assert r["n_lines"] == 4 and r["n_kept"] == 2
        assert r["cleaned_text"] == f"unique{i}a unique{i}b unique{i}c unique{i}d"
    # all-boilerplate doc surfaces with empty cleaned text (not dropped)
    assert out[100]["n_lines"] == 2
    assert out[100]["n_kept"] == 0 and out[100]["cleaned_text"] == ""
    # empty doc: single '' line, not hot (df('')=1), kept as-is
    assert out[101]["n_lines"] == 1 and out[101]["n_kept"] == 1
    assert out[101]["cleaned_text"] == ""
    # untouched doc
    assert out[102]["n_kept"] == out[102]["n_lines"] == 3
    assert out[102]["cleaned_text"] == "plain content words only here today"


def test_line_dedup_plan_broadcast_single_pass(spark):
    """The hot-line removal must be a broadcast join (tiny hot set), never
    a sort-merge join shuffling the full line relation; the line explode is
    persisted so the corpus-wide tokenize runs once (the removal side reads
    the cache, not a second scan)."""
    plan = plan_of(L.line_dedup(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "InMemoryTableScan" in plan


def test_line_dedup_matches_duckdb_on_crafted_corpus(spark):
    """The oracle SQL and the Spark operator must agree on the corpus
    classes the shipped testdata lacks: empty docs (DuckDB's
    array_to_string over the empty slice is NULL without the coalesce) and
    all-lines-dropped docs."""
    import duckdb

    rows = [(i, "shared boiler line " + f"tail{i}a tail{i}b tail{i}c") for i in range(6)]
    rows += [(100, "shared boiler line"), (101, ""), (102, "   "),
             (103, "totally unique content here")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_lines"], r["n_kept"], r["cleaned_text"])
        for r in L.line_dedup(spark, SF_DIR, docs=docs).collect()
    }
    import __spark_entry__ as em

    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    want = {r[0]: (r[1], r[2], r[3]) for r in con.execute(em.oracle_sql()["line_dedup"]).fetchall()}
    assert got == want
    # and the crafted classes actually exercised what they claim
    assert got[101] == (1, 1, "")          # empty doc kept, not dropped
    assert got[102] == (1, 1, "")          # whitespace-only ≡ empty
    assert got[100][1] == 0                # all lines dropped, still present


# ------------------------------------------------------------ passage dedup


def test_passage_dedup_is_position_aware(spark):
    """The differentiator vs line_dedup: a line identical to one inside a
    hot span SURVIVES when it occurs outside any hot span. 6 docs share a
    2-line banner mid-document (dropped everywhere); doc 200 contains the
    banner's SECOND line alone in clean context — line_dedup at df≥5 would
    also drop it (its line-df is 7), passage_dedup keeps it because no hot
    2-line window covers it."""
    banner = "cookies are used by this site"  # 6 toks = 2 lines
    rows = [
        (i, f"u{i}a u{i}b u{i}c " + banner + f" t{i}a t{i}b t{i}c")
        for i in range(6)
    ]
    rows.append((200, "clean start words by this site clean end words"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r
        for r in L.passage_dedup(spark, SF_DIR, docs=docs).collect()
    }
    assert set(got) == set(range(6)) | {200}
    for i in range(6):
        assert got[i]["n_lines"] == 4 and got[i]["n_kept"] == 2
        assert banner not in got[i]["cleaned_text"]
        assert f"u{i}a" in got[i]["cleaned_text"]
    # doc 200: "by this site" (the banner's 2nd line) sits at line 2 of an
    # otherwise unique doc — no hot window covers it, everything survives
    assert got[200]["n_kept"] == got[200]["n_lines"] == 3
    assert "by this site" in got[200]["cleaned_text"]


def test_passage_dedup_fixture_strips_exactly_the_header(spark):
    """Driver-fixture non-vacuity: even docs lose exactly the prepended
    2-line boiler header (cleaned == their original chunked text), odd
    docs are untouched."""
    from pyspark.sql import functions as F
    from sbb_ocr_postcorrection_spark.functions.exprs import tokens_expr

    out = {r["doc_id"]: r for r in L.passage_dedup(spark, SF_DIR).collect()}
    d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    toks = tokens_expr(F.col("text"))
    n_lines = F.greatest(F.ceil(F.size(toks) / F.lit(3)).cast("int"), F.lit(1))
    chunked = d.select(
        "doc_id",
        F.concat_ws(
            " ",
            F.transform(
                F.sequence(F.lit(1), n_lines),
                lambda i: F.concat_ws(" ", F.slice(toks, (i - 1) * 3 + 1, 3)),
            ),
        ).alias("chunked"),
    )
    base = {r["doc_id"]: r["chunked"] for r in chunked.collect()}
    evens = [i for i in out if i % 2 == 0]
    odds = [i for i in out if i % 2 == 1]
    assert evens and odds
    for i in evens:
        assert out[i]["n_lines"] == out[i]["n_kept"] + 2  # header = 2 lines
        assert out[i]["cleaned_text"] == base[i]
    for i in odds:
        assert out[i]["n_kept"] == out[i]["n_lines"]
        assert out[i]["cleaned_text"] == base[i]


# ---------------------------------------------------------- blocklist gate


def test_url_blocklist_suffix_semantics(spark, monkeypatch):
    """Blocking a registrable domain blocks every subdomain and spelling
    variant (www., case, scheme noise) via the EQUALITY suffix join — and
    nothing else: a host merely containing the blocked string as a label
    substring (notexample.com) passes. Null url surfaces under the
    sentinel host with a definite verdict."""
    docs = spark.createDataFrame(
        [
            (0, "https://EXAMPLE.com/ok"),
            (1, "http://www.a.b.example.com/deep"),
            (2, "https://notexample.com/x"),
            (3, "https://example.org/casino/slots"),
            (4, None),
        ],
        "doc_id long, url string",
    )
    monkeypatch.setattr(U, "BLOCKED_HOSTS", ("example.com",))
    monkeypatch.setattr(U, "BLOCKED_PATH_RE", "/casino($|[/?#])")
    out = {
        r["doc_id"]: r
        for r in U.url_blocklist_gate(spark, SF_DIR, docs=docs).collect()
    }
    assert set(out) == {0, 1, 2, 3, 4}
    assert out[0]["blocked_host"] == 1          # apex, uppercased
    assert out[1]["blocked_host"] == 1          # deep subdomain
    assert out[2]["blocked_host"] == 0          # substring label ≠ suffix
    assert out[3]["blocked_host"] == 0 and out[3]["blocked_path"] == 1
    assert out[4]["host"] == "<no-host>" and out[4]["url_pass"] == 1
    assert [out[i]["url_pass"] for i in range(4)] == [0, 0, 1, 0]


def test_url_blocklist_fixture_nonvacuous(spark):
    """Driver fixture: site1 hosts blocked (1/7 of docs), paths /p/11 and
    /p/12 blocked (2/13), with overlap — all four verdict combinations
    present and consistent with the synth arithmetic."""
    out = {r["doc_id"]: r for r in U.url_blocklist_gate(spark, SF_DIR).collect()}
    assert len(out) == 500
    combos = {(r["blocked_host"], r["blocked_path"]) for r in out.values()}
    assert combos == {(0, 0), (1, 0), (0, 1), (1, 1)}
    for i, r in out.items():
        assert r["blocked_host"] == int(i % 7 == 1)
        assert r["blocked_path"] == int(i % 13 in (11, 12))
        assert r["url_pass"] == int(not (r["blocked_host"] or r["blocked_path"]))


def test_blocklist_normalizes_adversarial_host_spellings(spark, monkeypatch):
    """Review finding (policy bypass): port, userinfo, and trailing-dot
    spellings of a blocked host must still match — the policy host strips
    what an adversary controls (_host_path_suffixes)."""
    docs = spark.createDataFrame(
        [
            (0, "https://bad.test:8080/x"),
            (1, "https://bad.test./y"),
            (2, "https://trusted.com@bad.test/z"),
            (3, "https://sub.bad.test.:443/q"),
            (4, "https://actually-fine.test/ok"),
        ],
        "doc_id long, url string",
    )
    monkeypatch.setattr(U, "BLOCKED_HOSTS", ("bad.test",))
    got = {
        r["doc_id"]: r["blocked_host"]
        for r in U.url_blocklist_gate(spark, SF_DIR, docs=docs).collect()
    }
    assert got == {0: 1, 1: 1, 2: 1, 3: 1, 4: 0}


def test_passage_dedup_degenerate_docs_survive(spark):
    """Review finding: >= hot_df empty docs must each keep their ''
    sentinel line (the empty passage can never go hot), and >= hot_df
    IDENTICAL sub-p_lines docs must not blank each other (whole-doc
    duplication is exact-dedup's job — no truncated windows)."""
    rows = [(i, "") for i in range(5)]                  # 5 empty docs
    rows += [(10 + i, "same tiny doc") for i in range(5)]  # 5 one-liners
    rows += [(20 + i, f"u{i}x u{i}y u{i}z pad{i}a pad{i}b pad{i}c")
             for i in range(5)]                          # unique 2-liners
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in L.passage_dedup(spark, SF_DIR, docs=docs).collect()}
    assert len(out) == 15
    for i in range(5):
        assert out[i]["n_lines"] == 1 and out[i]["n_kept"] == 1
        assert out[i]["cleaned_text"] == ""
    for i in range(5):
        assert out[10 + i]["n_kept"] == 1
        assert out[10 + i]["cleaned_text"] == "same tiny doc"
    for i in range(5):
        assert out[20 + i]["n_kept"] == out[20 + i]["n_lines"] == 2


def test_quality_classifier_semantics(spark):
    """Hashed-linear scorer: integer scores, both verdicts present on the
    corpus (non-vacuous threshold), token-less docs surface with score 0,
    and the score is the plain sum of bucket weights (recomputed
    independently for one doc)."""
    import hashlib

    from sbb_ocr_postcorrection_spark.operators import textstats as T

    out = {r["doc_id"]: r for r in T.quality_classifier(spark, SF_DIR).collect()}
    keeps = {r["clf_keep"] for r in out.values()}
    assert keeps == {0, 1}
    # independent recompute for one doc
    doc = spark.read.parquet(f"{SF_DIR}/documents.parquet").first()

    def h60(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    toks = [t for t in doc["text"].lower().split(" ") if t]
    want = sum(h60(f"qw|{h60(t) % T.CLF_DIM}") % 5 - 2 for t in toks)
    got = out[doc["doc_id"]]
    assert got["clf_score"] == want and got["n_tokens"] == len(toks)
    assert got["clf_keep"] == int(want >= T.CLF_THRESHOLD)
    # null/empty docs surface with the zero score
    vdocs = spark.createDataFrame(
        [(1, None), (2, "")], "doc_id long, text string"
    )
    z = {r["doc_id"]: r for r in T.quality_classifier(spark, SF_DIR, docs=vdocs).collect()}
    assert set(z) == {1, 2}
    for r in z.values():
        assert r["n_tokens"] == 0 and r["clf_score"] == 0 and r["clf_keep"] == 1


def test_lang_id_trigram_detects_crafted_languages(spark):
    """Char-trigram detection on real-language sentences: German and
    English prose classify correctly with positive margins, a tech-token
    string (the synthetic corpus vocabulary, where few profile trigrams
    occur) stays low-signal, ties and null text give the definite 'unk'
    verdict. The corpus-wide exactness is the driver hash check; this
    pins the SEMANTICS."""
    from sbb_ocr_postcorrection_spark.operators import textstats as T

    docs = spark.createDataFrame(
        [
            (0, "Die Entscheidung wurde nach einer Untersuchung der "
                "Verwaltung durch den Ausschuss verabschiedet und "
                "veroeffentlicht."),
            (1, "The information was gathered during the meeting for "
                "the foundation and the organization of the nation."),
            (2, "xyz qqq zzz kkk"),
            (3, None),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in T.lang_id_trigram(spark, SF_DIR, docs=docs).collect()}
    assert out[0]["tri_lang_guess"] == "de" and out[0]["tri_margin"] > 0
    assert out[1]["tri_lang_guess"] == "en" and out[1]["tri_margin"] < 0
    assert out[1]["en_tri_hits"] > out[1]["de_tri_hits"]
    assert out[2]["tri_lang_guess"] == "unk"
    assert out[3]["tri_lang_guess"] == "unk" and out[3]["tri_margin"] == 0


def test_snapshot_diff_verdicts(spark):
    """All four verdict classes present on the fixture and consistent
    with the arithmetic; injected relations: a null content_hash means
    'present but content unknown', never absence (presence comes from
    explicit markers, not hash nullness)."""
    from sbb_ocr_postcorrection_spark.operators import dedup as D

    rows = D.snapshot_diff(spark, SF_DIR).collect()
    n_docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").count()
    assert len(rows) == n_docs  # every url of either snapshot, once
    by_status = {}
    for r in rows:
        did = int(r["url"].rsplit("/", 1)[1])
        by_status.setdefault(r["status"], []).append(did)
        if r["status"] == "added":
            assert did >= 400
        elif r["status"] == "removed":
            assert did < 100
        elif r["status"] == "changed":
            assert 100 <= did < 400 and did % 5 == 0
        else:
            assert 100 <= did < 400 and did % 5 != 0
    assert set(by_status) == {"added", "removed", "changed", "unchanged"}

    old = spark.createDataFrame(
        [("u1", None), ("u2", "h2"), ("u3", "h3")],
        "url string, content_hash string",
    )
    new = spark.createDataFrame(
        [("u1", None), ("u2", "h2x"), ("u4", "h4")],
        "url string, content_hash string",
    )
    got = {r["url"]: r["status"]
           for r in D.snapshot_diff(spark, SF_DIR, old=old, new=new).collect()}
    assert got == {
        "u1": "unchanged",  # null == null content, present both sides
        "u2": "changed",
        "u3": "removed",
        "u4": "added",
    }


def test_lsh_recall_eval_curve(spark):
    """The realized LSH recall curve is monotone-plausible: the top band
    (>= 0.9, the dedup targets) must be at 100 % recall, mid bands are
    populated by the partial-variant fixture and may fall below 100 —
    the S-curve readout this query exists to surface; counts are
    internally consistent."""
    from sbb_ocr_postcorrection_spark.operators.dedup import lsh_recall_eval

    rows = {
        r["band_lo"]: (r["n_true_pairs"], r["n_candidates_hit"], r["recall_pct"])
        for r in lsh_recall_eval(spark, "/root/testdata/sf0.001").collect()
    }
    assert rows, "bands populated"
    for n, hit, pct in rows.values():
        assert 0 <= hit <= n
        assert abs(pct - round(hit * 100.0 / n, 6)) < 1e-9
    if "0.9" in rows:
        assert rows["0.9"][2] == 100.0, "dedup-target band must be fully recalled"
    assert any(k < "0.9" for k in rows), "mid bands populated by the fixture"
