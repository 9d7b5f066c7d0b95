"""Independent pure-Python references for the selection operators
(operators/selection.py): DSIR weights/scores/resample, CCNet terciles,
temperature mixing, Heaps-law vocab growth.

Each test recomputes the expected result from scratch in plain Python
(hashlib/math only — no SQL reuse, no Spark expression reuse), so a bug
shared by the Spark plan and the DuckDB oracle cannot hide."""

import hashlib
import math

import pandas as pd

from sbb_ocr_postcorrection_spark.operators import selection as sel

SF = "/root/testdata/sf0.001"


def _md5long(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def _ilog2(x: int) -> int:
    f = x.bit_length() - 1
    p = 1 << f
    return f * sel.DSIR_S + ((x - p) * sel.DSIR_S) // p


def _toks(text):
    return [w for w in (text or "").lower().split(" ") if w]


def _bigram_buckets(text):
    t = _toks(text)
    return [
        _md5long(f"{t[i]} {t[i + 1]}") % sel.DSIR_BUCKETS
        for i in range(len(t) - 1)
    ]


def _docs_pdf():
    return pd.read_parquet(f"{SF}/documents.parquet")


# --------------------------------------------------------------------------
# Mitchell fixed-point log2
# --------------------------------------------------------------------------

def test_ilog2_exact_at_powers_and_bounded_between():
    S = sel.DSIR_S
    for f in range(0, 50):
        assert _ilog2(1 << f) == f * S
    # Mitchell's approximation: ilog2/S is within 0.0861 of true log2
    for x in [3, 5, 7, 100, 12345, 999_999, (1 << 40) + 12345]:
        assert abs(_ilog2(x) / S - math.log2(x)) < 0.0861


def test_with_ilog2_spark_matches_python(spark):
    vals = [1, 2, 3, 7, 8, 100, 1023, 1024, 1025, 999_999, (1 << 45) + 17]
    df = spark.createDataFrame([(v,) for v in vals], "x long")
    got = {
        r["x"]: r["il"] for r in sel.with_ilog2(df, "x", "il").collect()
    }
    assert got == {v: _ilog2(v) for v in vals}


# --------------------------------------------------------------------------
# DSIR
# --------------------------------------------------------------------------

def _fixture_docs(spark):
    """Two lexical domains: target-vocab docs (lang=en) + raw docs split
    between en-like text and an alien vocabulary."""
    rows = []
    vocab_a = "alpha beta gamma delta epsilon zeta eta theta"
    vocab_b = "qqq www eee rrr ttt yyy uuu iii"
    for i in range(20):  # target domain
        rows.append((i, f"{vocab_a} alpha beta {i % 3}", "en", "srcA"))
    for i in range(20, 35):  # raw, target-like
        rows.append((i, f"{vocab_a} gamma delta {i % 3}", "de", "srcA"))
    for i in range(35, 50):  # raw, alien
        rows.append((i, f"{vocab_b} qqq www {i % 3}", "zh", "srcB"))
    return (
        rows,
        spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string"
        ),
    )


def _py_dsir(rows):
    ct = [0] * sel.DSIR_BUCKETS
    cr = [0] * sel.DSIR_BUCKETS
    for doc_id, text, lang, _ in rows:
        tgt = lang == sel.DSIR_TARGET_LANG
        for b in _bigram_buckets(text):
            (ct if tgt else cr)[b] += 1
    nt1, nr1 = sum(ct) + sel.DSIR_BUCKETS, sum(cr) + sel.DSIR_BUCKETS
    shift = _ilog2(nr1) - _ilog2(nt1)
    w = [
        _ilog2(ct[b] + 1) - _ilog2(cr[b] + 1) + shift
        for b in range(sel.DSIR_BUCKETS)
    ]
    scores = {}
    for doc_id, text, lang, _ in rows:
        bs = _bigram_buckets(text)
        scores[doc_id] = (len(bs), sum(w[b] for b in bs))
    return ct, cr, w, scores


def test_dsir_weights_reference(spark):
    rows, d = _fixture_docs(spark)
    ct, cr, w, _ = _py_dsir(rows)
    got = sel.dsir_weights(spark, SF, docs=d).collect()
    assert len(got) == sel.DSIR_BUCKETS
    for r in got:
        b = r["bucket"]
        assert (r["ct"], r["cr"], r["w"]) == (ct[b], cr[b], w[b])


def test_dsir_score_reference_and_discrimination(spark):
    rows, d = _fixture_docs(spark)
    _, _, _, scores = _py_dsir(rows)
    got = {r["doc_id"]: r for r in sel.dsir_score(spark, SF, docs=d).collect()}
    assert len(got) == len(rows)
    for doc_id, (n, s) in scores.items():
        assert (got[doc_id]["n_grams"], got[doc_id]["score"]) == (n, s)
    # raw target-like docs must outscore raw alien docs
    like = [got[i]["score"] for i in range(20, 35)]
    alien = [got[i]["score"] for i in range(35, 50)]
    assert min(like) > max(alien)


def test_dsir_sample_reference(spark, monkeypatch):
    rows, d = _fixture_docs(spark)
    _, _, _, scores = _py_dsir(rows)
    k = 10
    keys = []
    for doc_id, text, lang, _ in rows:
        if lang == sel.DSIR_TARGET_LANG:
            continue
        u = _md5long(f"dsir|{doc_id}") % (1 << sel._U_BITS) + 1
        e1 = sel._U_BITS * sel.DSIR_S - _ilog2(u) + 1
        key = sel.DSIR_TAU * _ilog2(e1) - scores[doc_id][1]
        keys.append((key, doc_id))
    expect = [doc_id for _, doc_id in sorted(keys)[:k]]
    monkeypatch.setattr(sel, "DSIR_K", k)
    got = sel.dsir_sample(spark, SF, docs=d).collect()
    assert sorted(r["doc_id"] for r in got) == sorted(expect)
    assert [r["race_key"] for r in got] == sorted(r["race_key"] for r in got)
    # the race resamples TOWARD the target: mostly target-like raw docs
    assert sum(1 for r in got if r["doc_id"] < 35) >= k - 2


# --------------------------------------------------------------------------
# CCNet terciles
# --------------------------------------------------------------------------

def _py_ccnet(pdf):
    from collections import Counter

    c2, ctx = Counter(), Counter()
    bigrams = {}
    for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
        t = _toks(text)
        bg = [(t[i], t[i + 1]) for i in range(len(t) - 1)]
        bigrams[doc_id] = bg
        for p in bg:
            c2[p] += 1
            ctx[p[0]] += 1
    m = {}
    for doc_id, bg in bigrams.items():
        rs = [ctx[p[0]] // c2[p] for p in bg]
        m[doc_id] = sum(rs) // max(len(rs), 1)
    buckets = {}
    for lang in pdf["lang"].unique():
        ids = [i for i in pdf[pdf["lang"] == lang]["doc_id"]]
        ms = sorted(m[i] for i in ids)
        n = len(ms)
        t1 = ms[math.ceil(n / 3) - 1]
        t2 = ms[math.ceil(2 * n / 3) - 1]
        for i in ids:
            buckets[i] = (
                "head" if m[i] <= t1 else "middle" if m[i] <= t2 else "tail"
            )
    return m, buckets


def test_ccnet_buckets_reference(spark):
    pdf = _docs_pdf()
    m, buckets = _py_ccnet(pdf)
    got = {r["doc_id"]: r for r in sel.ccnet_buckets(spark, SF).collect()}
    assert len(got) == len(pdf)
    for doc_id in m:
        assert got[doc_id]["m"] == m[doc_id]
        assert got[doc_id]["bucket"] == buckets[doc_id]
    # every language must populate its head tercile with >= 1/3 of docs
    for lang in pdf["lang"].unique():
        ids = [i for i in pdf[pdf["lang"] == lang]["doc_id"]]
        heads = sum(1 for i in ids if got[i]["bucket"] == "head")
        assert heads * 3 >= len(ids)


# --------------------------------------------------------------------------
# temperature mixing
# --------------------------------------------------------------------------

def test_mix_temperature_reference(spark):
    pdf = _docs_pdf()
    n_src = pdf.groupby("source").size().to_dict()
    got = {r["doc_id"]: r for r in sel.mix_temperature(spark, SF).collect()}
    assert len(got) == len(pdf)
    for doc_id, source in zip(pdf["doc_id"], pdf["source"]):
        w = max(math.floor(math.sqrt(n_src[source])), 1)
        kept = 1 if _md5long(f"mix|{doc_id}") % w == 0 else 0
        r = got[doc_id]
        assert (r["source"], r["n_src"], r["w_src"], r["kept"]) == (
            source,
            n_src[source],
            w,
            kept,
        )


def test_mix_temperature_downweights_large_sources(spark):
    """On a skewed fixture the alpha=1/2 rule must keep a LARGER FRACTION
    of the small source than of the big one (expected kept ~ sqrt(n))."""
    rows = [(i, f"w{i}", "en", "big" if i < 900 else "small") for i in range(1000)]
    d = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    )
    got = sel.mix_temperature(spark, SF, docs=d).collect()
    frac = {}
    for src in ("big", "small"):
        rs = [r for r in got if r["source"] == src]
        frac[src] = sum(r["kept"] for r in rs) / len(rs)
    assert frac["small"] > frac["big"]


# --------------------------------------------------------------------------
# Heaps-law vocab growth
# --------------------------------------------------------------------------

def test_vocab_growth_reference(spark):
    pdf = _docs_pdf().sort_values("doc_id")
    got = {r["checkpoint"]: r for r in sel.vocab_growth(spark, SF).collect()}
    vocab_at, tokens_at = {}, {}
    docs = list(zip(pdf["doc_id"], pdf["text"]))
    cps = [1 << j for j in range(sel.HEAPS_CHECKPOINTS)]
    for cp in cps:
        # recompute from scratch per checkpoint (independent, O(n^2) fine)
        toks = [t for doc_id, text in docs if doc_id < cp for t in _toks(text)]
        vocab_at[cp] = len(set(toks))
        tokens_at[cp] = len(toks)
    n_docs = len(docs)
    for cp in cps:
        used = min(cp, n_docs)
        if used == 0:
            assert cp not in got
            continue
        r = got[cp]
        assert r["n_docs_used"] == used
        assert r["vocab_size"] == vocab_at[cp]
        assert r["n_tokens"] == tokens_at[cp]
    # monotone non-decreasing vocabulary (Heaps sanity)
    vs = [got[cp]["vocab_size"] for cp in cps if cp in got]
    assert vs == sorted(vs)


# --------------------------------------------------------------------------
# source divergence
# --------------------------------------------------------------------------

def test_source_divergence_reference(spark):
    from collections import Counter, defaultdict

    pdf = _docs_pdf()
    cnt = defaultdict(Counter)
    for src, text in zip(pdf["source"], pdf["text"]):
        cnt[src].update(_toks(text))
    ns = {s: sum(c.values()) for s, c in cnt.items()}
    v = len({t for c in cnt.values() for t in c})
    got = {
        (r["source_a"], r["source_b"]): r
        for r in sel.source_divergence(spark, SF).collect()
    }
    assert len(got) == len(cnt) * (len(cnt) - 1)
    for a in cnt:
        for b in cnt:
            if a == b:
                continue
            kl = sum(
                ca * (_ilog2(ca * (ns[b] + v)) - _ilog2((cnt[b][t] + 1) * ns[a]))
                for t, ca in cnt[a].items()
            )
            r = got[(a, b)]
            assert r["kl_num"] == kl
            assert r["n_terms_a"] == len(cnt[a])
            assert r["n_shared"] == sum(1 for t in cnt[a] if cnt[b][t] > 0)
            assert r["kl_bits"] == round(kl / (ns[a] * sel.DSIR_S), 6)


def test_source_divergence_detects_outlier(spark):
    """A source with an alien vocabulary must diverge harder FROM every
    normal source than the normal sources do from each other."""
    rows = []
    for i in range(30):
        rows.append((i, "alpha beta gamma delta epsilon zeta", "en",
                     f"src{i % 3}"))
    for i in range(30, 40):
        rows.append((i, "xxx yyy zzz qqq www eee", "en", "weird"))
    d = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    )
    got = sel.source_divergence(spark, SF, docs=d).collect()
    weird_out = [r["kl_bits"] for r in got if r["source_a"] == "weird"]
    normal = [
        r["kl_bits"]
        for r in got
        if r["source_a"] != "weird" and r["source_b"] != "weird"
    ]
    assert min(weird_out) > max(normal)


def test_dsir_weights_incremental_equals_full(spark):
    """History-counts + delta-counts merge must reproduce full-corpus
    training bucket-for-bucket (counts are additive sufficient stats)."""
    rows, d = _fixture_docs(spark)
    full = {
        r["bucket"]: (r["ct"], r["cr"], r["w"])
        for r in sel.dsir_weights(spark, SF, docs=d).collect()
    }
    inc = {
        r["bucket"]: (r["ct"], r["cr"], r["w"])
        for r in sel.dsir_weights_incremental(spark, SF, docs=d).collect()
    }
    assert inc == full


# --------------------------------------------------------------------------
# normalization dedup + mojibake (r6 curation additions)
# --------------------------------------------------------------------------

def test_dedup_normalized_collapses_styling_twins(spark):
    from sbb_ocr_postcorrection_spark.operators.dedup import (
        NORM_DUP_MOD,
        normalized_exact_groups,
    )

    pdf = _docs_pdf()
    n_twins = sum(1 for i in pdf["doc_id"] if i % NORM_DUP_MOD == 0)
    rows = normalized_exact_groups(spark, SF).collect()
    dups = [r for r in rows if r["n_copies"] > 1]
    # every NBSP twin collapses onto its base despite distinct raw hashes
    assert len(dups) == n_twins
    for r in dups:
        assert r["n_copies"] == 2 and r["n_raw_variants"] == 2
        assert r["keeper_id"] % NORM_DUP_MOD == 0  # base id wins min()
    # total rows = one group per base doc (twins merged in)
    assert len(rows) == len(pdf)


def test_mojibake_score_flags_witnesses_only(spark):
    from sbb_ocr_postcorrection_spark.operators.textstats import mojibake_score

    pdf = _docs_pdf()
    got = {r["doc_id"]: r for r in mojibake_score(spark, SF).collect()}
    for i in pdf["doc_id"]:
        r = got[i]
        if i % 11 == 0:
            assert r["n_bad_pairs"] == 2  # two mangled accents appended
        else:
            assert r["n_bad_pairs"] == 0
        if i % 13 == 0:
            assert r["n_replacement"] == 2
        else:
            assert r["n_replacement"] == 0
        assert r["mojibake_flag"] == int(i % 11 == 0 or i % 13 == 0)


def test_curriculum_plan_properties(spark):
    """Anneal phase is at least a decile (ties kept) and exactly the
    top-score slice; curriculum keys sort consistently with scores;
    shards are balanced-ish and deterministic."""
    from collections import Counter

    got = sel.curriculum_plan(spark, SF).collect()
    n = len(got)
    anneal = [r for r in got if r["phase"] == "anneal"]
    pre = [r for r in got if r["phase"] == "pretrain"]
    assert n == len(_docs_pdf())
    assert len(anneal) * sel.CUR_DECILE >= n
    assert min(r["clf_score"] for r in anneal) > max(
        r["clf_score"] for r in pre
    )
    # key is score-major: sorting by key never inverts score order
    srt = sorted(got, key=lambda r: r["curriculum_key"])
    scores = [r["clf_score"] for r in srt]
    assert scores == sorted(scores)
    # deterministic md5 shards, all occupied at this n
    assert set(Counter(r["shard"] for r in got)) == set(range(sel.CUR_SHARDS))


def test_token_entropy_reference_and_ordering(spark):
    from collections import Counter

    from sbb_ocr_postcorrection_spark.operators.textstats import token_entropy

    pdf = _docs_pdf()
    got = {r["doc_id"]: r for r in token_entropy(spark, SF).collect()}
    for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
        c = Counter(_toks(text))
        n = sum(c.values())
        h = n * _ilog2(n) - sum(v * _ilog2(v) for v in c.values())
        r = got[doc_id]
        assert (r["n_tokens"], r["n_distinct"], r["h_num"]) == (n, len(c), h)
        assert r["entropy_bits"] == round(h / (n * sel.DSIR_S), 6)
    # ordering property on injected extremes
    rows = [
        (0, "spam " * 50, "en", "s"),
        (1, " ".join(f"w{i}" for i in range(50)), "en", "s"),
    ]
    d = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    )
    ext = {r["doc_id"]: r for r in token_entropy(spark, SF, docs=d).collect()}
    assert ext[0]["entropy_bits"] == 0.0          # one token repeated
    assert ext[1]["entropy_bits"] > 5.0           # 50 uniques ~ log2(50)


def test_doc_keyterms_reference(spark):
    from collections import Counter

    from sbb_ocr_postcorrection_spark.operators.index import (
        KEYTERMS_K,
        doc_keyterms,
    )

    pdf = _docs_pdf()
    docs = {i: Counter(_toks(t)) for i, t in zip(pdf["doc_id"], pdf["text"])}
    df = Counter(t for c in docs.values() for t in c)
    n_docs = len(docs)
    lnd = _ilog2(n_docs)
    got = {}
    for r in doc_keyterms(spark, SF).collect():
        got.setdefault(r["doc_id"], []).append(r)
    for doc_id, c in docs.items():
        if not c:
            assert doc_id not in got
            continue
        scored = sorted(
            ((tf * (lnd - _ilog2(df[t])), t) for t, tf in c.items()),
            key=lambda x: (-x[0], x[1]),
        )[:KEYTERMS_K]
        rows = sorted(got[doc_id], key=lambda r: r["rank"])
        assert [(r["tfidf_num"], r["token"]) for r in rows] == scored
        # a corpus-ubiquitous token never carries positive weight
        for r in rows:
            if r["df"] == n_docs:
                assert r["tfidf_num"] == 0


# --------------------------------------------------------------------------
# ilog2 foundation properties (hypothesis)
# --------------------------------------------------------------------------

def test_ilog2_properties_hypothesis():
    """The Mitchell fixed-point log2 every log-space operator stands on:
    monotone nondecreasing (thresholds and argmaxes stay order-correct),
    exact at powers of two, within Mitchell's analytic 0.0861-bit bound
    PLUS the 1/S fixed-point quantization (hypothesis found x=2881
    exceeding the bare analytic bound by 4e-6 — the floor division),
    and shift-invariant by whole octaves (ilog2(2x) = ilog2(x) + S)."""
    import math

    from hypothesis import given, settings, strategies as st

    S = sel.DSIR_S

    @settings(max_examples=300, deadline=None)
    @given(st.integers(min_value=1, max_value=(1 << 60) - 1))
    def bound_and_octave(x):
        v = _ilog2(x)
        assert abs(v / S - math.log2(x)) < 0.0861 + 1.0 / S
        if x <= (1 << 59):
            assert _ilog2(2 * x) == v + S

    @settings(max_examples=300, deadline=None)
    @given(
        st.integers(min_value=1, max_value=(1 << 60) - 2),
        st.integers(min_value=1, max_value=1 << 20),
    )
    def monotone(x, d):
        assert _ilog2(min(x + d, (1 << 60) - 1)) >= _ilog2(x)

    bound_and_octave()
    monotone()


def test_corpus_card_reference(spark):
    """From-scratch replay of the one-row dataset card at sf0.001."""
    from sbb_ocr_postcorrection_spark.operators.textstats import corpus_card
    import hashlib as _h

    pdf = _docs_pdf()
    toks = [t for text in pdf["text"] for t in _toks(text)]
    n = len(pdf)
    distinct_texts = len({
        _h.md5((t or "").encode()).hexdigest() for t in pdf["text"]
    })
    r = corpus_card(spark, SF).collect()
    assert len(r) == 1
    r = r[0]
    assert r["n_docs"] == n
    assert r["n_tokens"] == len(toks)
    assert r["vocab_size"] == len(set(toks))
    assert r["n_langs"] == pdf["lang"].nunique()
    assert r["n_sources"] == pdf["source"].nunique()
    assert r["en_pct"] == round(
        (pdf["lang"] == "en").sum() * 100.0 / n, 6
    )
    assert r["n_exact_dup_docs"] == n - distinct_texts
    assert 0 <= r["n_mojibake"] <= n
    assert 0.0 <= r["quality_keep_pct"] <= 100.0
