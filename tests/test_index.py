"""Inverted index + keyword search: hand-computed fixture, conjunctive
semantics, tie-breaks, and the broadcast-probe plan shape."""

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _docs(spark):
    rows = [
        (1, "alpha beta alpha gamma"),
        (2, "alpha beta beta"),
        (3, "alpha delta"),
        (4, "beta beta beta"),
        (5, None),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_inverted_index_stats(spark):
    from sbb_ocr_postcorrection_spark.operators.index import inverted_index

    idx = {r["token"]: r for r in
           inverted_index(spark, SF, docs=_docs(spark)).collect()}
    assert idx["alpha"]["df"] == 3 and idx["alpha"]["cf"] == 4
    assert idx["beta"]["df"] == 3 and idx["beta"]["cf"] == 6
    assert idx["gamma"]["df"] == 1 and idx["gamma"]["cf"] == 1
    assert idx["alpha"]["top_postings"] == [1, 2, 3]
    assert idx["beta"]["top_postings"] == [1, 2, 4]
    # null text contributes nothing
    assert all(5 not in r["top_postings"] for r in idx.values())


def test_keyword_search_conjunctive_topk(spark):
    """Probe terms self-derive as the 2 most frequent tokens (beta cf=6,
    alpha cf=4); only docs carrying BOTH match; score = total tf with
    doc_id tie-break."""
    from sbb_ocr_postcorrection_spark.operators.index import keyword_search

    rows = keyword_search(spark, SF, docs=_docs(spark)).collect()
    # d1: alpha·2 + beta·1 = 3; d2: alpha·1 + beta·2 = 3; d3/d4 lack one
    # term; the 3-3 tie breaks on doc_id
    assert [(r["rank"], r["doc_id"], r["score"]) for r in rows] == [
        (1, 1, 3),
        (2, 2, 3),
    ]


def test_keyword_search_plan_broadcasts_terms(spark):
    from sbb_ocr_postcorrection_spark.operators.index import keyword_search

    plan = (
        keyword_search(spark, SF)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_rare_terms_ranking(spark):
    """Distinctive-term ranking: rarity (df) first, then in-doc tf, then
    token; docs with fewer terms than k emit what they have; null text
    emits nothing."""
    from sbb_ocr_postcorrection_spark.operators.index import rare_terms

    rows = rare_terms(spark, SF, docs=_docs(spark)).collect()
    by_doc = {}
    for r in sorted(rows, key=lambda r: (r["doc_id"], r["rnk"])):
        by_doc.setdefault(r["doc_id"], []).append(r["token"])
    # d1: gamma (df=1) beats alpha (df=3, tf=2) beats beta (df=3, tf=1)
    assert by_doc[1] == ["gamma", "alpha", "beta"]
    assert by_doc[3] == ["delta", "alpha"]
    assert by_doc[4] == ["beta"]
    assert 5 not in by_doc


def test_phrase_search_exact_adjacency(spark):
    """Positional intersection: adjacency required (alpha...gamma with a
    word between must NOT match), overlapping occurrences each count,
    first_pos is the earliest anchor."""
    from sbb_ocr_postcorrection_spark.operators.index import phrase_search

    rows = [
        (1, "alpha beta alpha beta alpha beta"),  # 3 occurrences at 0,2,4
        (2, "alpha x beta"),                       # co-occur, not adjacent
        (3, "x alpha beta y"),                     # one at pos 1
        (4, "beta alpha"),                         # wrong order
        (5, None),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    # self-derived probe: the corpus' top bigram here is "alpha beta"
    got = {r["doc_id"]: (r["n_matches"], r["first_pos"])
           for r in phrase_search(spark, SF, docs=docs).collect()}
    assert got == {1: (3, 0), 3: (1, 1)}


def test_bm25_ranking_saturation_and_tiebreak(spark):
    """BM25 fixture (hand-checkable): probe terms are beta (cf=6, df=3)
    and alpha (cf=4, df=3). Docs 1 and 2 both carry both terms; doc 2's
    identical-twin doc 6 must score IDENTICALLY and rank after it purely
    by doc_id (the pinned tie-break). Saturation: doc 4's tf=3 beta hoard
    would out-score doc 1 under raw-tf ranking, but BM25's length
    normalization + the conjunctive gate keep it out entirely."""
    from sbb_ocr_postcorrection_spark.operators.index import keyword_search_bm25

    rows = [
        (1, "alpha beta alpha gamma"),
        (2, "alpha beta beta"),
        (3, "alpha delta"),
        (4, "beta beta beta"),
        (5, None),
        (6, "alpha beta beta"),   # exact twin of doc 2
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = keyword_search_bm25(spark, SF, docs=docs).collect()
    by_rank = {r["rank"]: r for r in out}
    # only the conjunctive matches (docs 1, 2, 6) rank at all
    assert sorted(r["doc_id"] for r in out) == [1, 2, 6]
    # twins tie exactly and break by doc_id
    twins = [r for r in out if r["doc_id"] in (2, 6)]
    assert twins[0]["score"] == twins[1]["score"]
    assert by_rank[max(r["rank"] for r in twins)]["doc_id"] == 6
    # every score is positive and ranks are dense from 1
    assert [r["rank"] for r in sorted(out, key=lambda r: r["rank"])] == [1, 2, 3]
    assert all(r["score"] > 0 for r in out)


def test_bm25_plan_broadcasts_terms_not_doclengths(spark):
    """The probe-term dimension broadcasts; the doc-length relation joins
    by equality shuffle (doc-dimension-sized — broadcasting it at corpus
    scale would ship every doc's length to every executor)."""
    from sbb_ocr_postcorrection_spark.operators.index import keyword_search_bm25

    plan = keyword_search_bm25(spark, SF)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan


def test_cms_estimates_match_reference_and_never_undercount(spark):
    """CMS == a pure-Python sketch replay; estimates are overestimates
    by construction (min over rows can only collide upward)."""
    import hashlib
    from collections import Counter

    import duckdb

    from sbb_ocr_postcorrection_spark.operators.index import (
        CMS_DEPTH,
        CMS_PROBES,
        CMS_WIDTH,
        cms_token_counts,
    )

    sf = "/root/testdata/sf0.001"
    toks = []
    for (text,) in duckdb.sql(
        f"SELECT text FROM '{sf}/documents.parquet'"
    ).fetchall():
        toks.extend(w for w in (text or "").lower().split(" ") if w)

    def cell(r, tok):
        h = int(hashlib.md5(f"{r}|{tok}".encode()).hexdigest()[:15], 16)
        return h % CMS_WIDTH

    counters = Counter()
    for tok in toks:
        for r in range(CMS_DEPTH):
            counters[(r, cell(r, tok))] += 1
    exact = Counter(toks)
    probes = sorted(exact.items(), key=lambda kv: (-kv[1], kv[0]))[:CMS_PROBES]
    want = {}
    for tok, tf in probes:
        est = min(counters[(r, cell(r, tok))] for r in range(CMS_DEPTH))
        want[tok] = (tf, est, est - tf)
    got = {
        r["token"]: (r["exact_tf"], r["cms_estimate"], r["overestimate"])
        for r in cms_token_counts(spark, sf).collect()
    }
    assert got == want
    assert all(o >= 0 for _, _, o in got.values())


def test_hll_matches_reference_sketch(spark):
    """HLL registers + estimate == a pure-Python replay of the published
    algorithm (integer harmonic numerator, linear-counting branch), and
    the estimate lands within the published ~1.04/sqrt(m) error band
    (generous 5x margin) of the exact count."""
    import hashlib
    import math

    import duckdb

    from sbb_ocr_postcorrection_spark.operators.index import (
        HLL_ALPHA_M2,
        HLL_BUCKETS,
        hll_distinct_tokens,
    )

    sf = "/root/testdata/sf0.001"
    per = {}
    for source, text in duckdb.sql(
        f"SELECT source, text FROM '{sf}/documents.parquet'"
    ).fetchall():
        per.setdefault(source, []).extend(
            w for w in (text or "").lower().split(" ") if w
        )
    want = {}
    for source, toks in per.items():
        regs = {}
        for tok in toks:
            h = int(hashlib.md5(tok.encode()).hexdigest()[:15], 16)
            b, v = h % HLL_BUCKETS, h // HLL_BUCKETS
            rho = 55 if v == 0 else 55 - v.bit_length() + 1
            regs[b] = max(regs.get(b, 0), rho)
        s_num = sum(1 << (55 - m) for m in regs.values()) + (
            HLL_BUCKETS - len(regs)
        ) * (1 << 55)
        raw = HLL_ALPHA_M2 * float(1 << 55) / float(s_num)
        n_zero = HLL_BUCKETS - len(regs)
        if n_zero > 0 and raw < 2.5 * HLL_BUCKETS:
            e = float(HLL_BUCKETS) * math.log(HLL_BUCKETS / n_zero)
        else:
            e = raw
        exact = len(set(toks))
        want[source] = (
            exact,
            n_zero,
            s_num,
            round(e, 4),
            round((round(e, 4) - exact) * 100.0 / exact, 4),
        )
    got = {
        r["source"]: (
            r["exact_distinct"],
            r["n_zero"],
            r["s_num"],
            r["hll_estimate"],
            r["err_pct"],
        )
        for r in hll_distinct_tokens(spark, sf).collect()
    }
    assert got == want
    for exact, _, _, est, _ in got.values():
        band = 5 * 1.04 / math.sqrt(HLL_BUCKETS) * exact
        assert abs(est - exact) <= band
