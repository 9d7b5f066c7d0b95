"""Trained Cavnar-Trenkle language ID: exact parity with a pure-Python
reference implementation of the published algorithm, plus a real
generalization check on the synthetic corpus.

Round-4 lesson (BPE single-separator bug): oracle parity only certifies
that the two engines agree — a novel algorithm needs an independent
from-first-principles reference test. This is that test for langprofile.
"""

from collections import Counter

from sbb_ocr_postcorrection_spark.operators.langprofile import (
    LID_FOLD,
    LID_K,
    LID_PHRASES,
    LID_PREFIX,
    LID_REPEAT,
    lang_id_eval,
    lang_id_learned,
    lang_id_train,
)

SF = "/root/testdata/sf0.001"


def _aug(lang, text):
    rep = " ".join([LID_PHRASES[lang]] * LID_REPEAT)
    return (rep + " " + (text or "").lower())[:LID_PREFIX]


def _trigrams(t):
    return [t[i : i + 3] for i in range(max(len(t) - 2, 1))]


def _rank_profile(counter, k):
    """(count desc, gram asc) row_number ranks, top k — the pinned order."""
    items = sorted(counter.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
    return {g: r + 1 for r, (g, _) in enumerate(items)}


def _ref_verdicts(rows):
    """Reference Cavnar & Trenkle: train class profiles on the non-held
    fold, classify the held-out fifth by out-of-place distance."""
    class_counts = {}
    for doc_id, lang, text in rows:
        if doc_id % LID_FOLD != 0:
            class_counts.setdefault(lang, Counter()).update(
                _trigrams(_aug(lang, text))
            )
    cprof = {l: _rank_profile(c, LID_K) for l, c in class_counts.items()}
    out = {}
    for doc_id, lang, text in rows:
        if doc_id % LID_FOLD != 0:
            continue
        dprof = _rank_profile(Counter(_trigrams(_aug(lang, text))), LID_K)
        dists = []
        for cand in sorted(cprof):
            d = sum(
                abs(r - cprof[cand][g]) if g in cprof[cand] else LID_K
                for g, r in dprof.items()
            )
            dists.append((d, cand))
        best_dist, pred = min(dists)
        out[doc_id] = (lang, pred, best_dist, int(pred == lang))
    return out


def _corpus():
    """Three languages, varied filler so doc profiles differ, including a
    doc shorter than one trigram and an empty-text doc."""
    rows = []
    fillers = [
        "zebra quartz mixing vow jackdaws",
        "pack my box with five dozen jugs",
        "",
        "a",
        "numbers 123 and $ symbols !!",
    ]
    i = 0
    for lang in ("en", "de", "fr"):
        for k in range(10):
            rows.append((i, lang, fillers[k % len(fillers)] + f" fill{k}"))
            i += 1
    return rows


def test_lang_id_learned_matches_reference(spark):
    rows = _corpus()
    docs = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    got = {
        r["doc_id"]: (
            r["true_lang"],
            r["pred_lang"],
            r["best_dist"],
            r["correct"],
        )
        for r in lang_id_learned(spark, SF, docs=docs).collect()
    }
    assert got == _ref_verdicts(rows)


def test_lang_id_train_matches_reference_profiles(spark):
    rows = _corpus()
    docs = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    class_counts = {}
    for doc_id, lang, text in rows:
        if doc_id % LID_FOLD != 0:
            class_counts.setdefault(lang, Counter()).update(
                _trigrams(_aug(lang, text))
            )
    want = {
        (l, g): r
        for l, c in class_counts.items()
        for g, r in _rank_profile(c, LID_K).items()
    }
    got = {
        (r["lang"], r["g"]): r["rank"]
        for r in lang_id_train(spark, SF, docs=docs).collect()
    }
    assert got == want


def test_lang_id_generalizes_on_synthetic_corpus(spark):
    """The held-out fifth never feeds the profiles; the augmentation makes
    the label learnable, so a correct learner must score 100 % held-out."""
    rows = lang_id_eval(spark, SF).collect()
    assert rows, "held-out fold is non-empty"
    assert all(r["true_lang"] == r["pred_lang"] for r in rows)
    assert all(r["pct_of_true"] == 100.0 for r in rows)


def test_lang_id_posterior_reference(spark):
    """Pure-Python NB + Mitchell-log replay of lang_id_posterior at
    sf0.001 — every column, every doc."""
    from collections import Counter, defaultdict

    import pandas as pd

    from sbb_ocr_postcorrection_spark.operators import langprofile as LP

    S = 1024

    def ilog2(x):
        f = x.bit_length() - 1
        p = 1 << f
        return f * S + ((x - p) * S) // p

    pdf = pd.read_parquet("/root/testdata/sf0.001/documents.parquet")

    def aug(lang, text):
        rep = " ".join([LP.LID_PHRASES[lang]] * LP.LID_REPEAT)
        return (rep + " " + (text or "").lower())[: LP.LID_PREFIX]

    def tris(t):
        return [t[i : i + 3] for i in range(max(len(t) - 2, 1))]

    nlg = defaultdict(Counter)
    for i, lang, text in zip(pdf["doc_id"], pdf["lang"], pdf["text"]):
        if i % LP.LID_FOLD != 0:
            nlg[lang].update(tris(aug(lang, text)))
    vocab = {g for c in nlg.values() for g in c}
    v = len(vocab)
    langs = sorted(nlg)
    lden = {l: ilog2(sum(nlg[l].values()) + v) for l in langs}
    gate = ilog2(LP.LID_PROB_ODDS * (len(langs) - 1))

    got = {
        r["doc_id"]: r
        for r in LP.lang_id_posterior(spark, "/root/testdata/sf0.001").collect()
    }
    assert len(got) == len(pdf)
    for i, lang, text in zip(pdf["doc_id"], pdf["lang"], pdf["text"]):
        c = Counter(tris(aug(lang, text)))
        lls = {}
        for l in langs:
            lls[l] = sum(
                n * ((ilog2(nlg[l][g] + 1) - lden[l]) if g in nlg[l] else -lden[l])
                for g, n in c.items()
            )
        ordered = sorted(langs, key=lambda l: (-lls[l], l))
        best, runner = ordered[0], ordered[1]
        r = got[i]
        assert r["pred_lang"] == best
        assert r["ll_best"] == lls[best]
        assert r["gap"] == lls[best] - lls[runner]
        assert r["gate"] == gate
        assert r["prob_pass"] == int(lls[best] - lls[runner] > gate)
        assert r["correct"] == int(best == lang)


def test_lang_id_posterior_ambiguity_gate(spark):
    """The 0.999 gate must FAIL documents from a genuinely confusable
    language pair while clean-language docs pass — the calibration
    behavior the reference's langid prob filter exists for.

    Confusability is constructed the only way the augmentation
    convention allows: the en/de TRAINING bodies each carry the OTHER
    language's phrase, so both profiles contain both phrase families
    and per-trigram weights nearly cancel (measured gap 2,752 vs gate
    11,738); es/fr stay cleanly separated (gap 387,392)."""
    from sbb_ocr_postcorrection_spark.operators import langprofile as LP

    de = LP.LID_PHRASES["de"]
    en = LP.LID_PHRASES["en"]
    rows = []
    for i in range(1, 41):  # en/de cross-phrased: confusable pair
        if i % 2:
            rows.append((i, " ".join([de] * 3), "en", "src"))
        else:
            rows.append((i, " ".join([en] * 3), "de", "src"))
    for i in range(41, 61):  # es/fr: clean corner
        lang = "es" if i % 2 else "fr"
        rows.append((i, f"clean body {lang} number {i}", lang, "src"))
    rows.append((100, " ".join([de] * 3), "en", "src"))
    rows.append((110, "clean body es number x", "es", "src"))
    d = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    )
    got = {
        r["doc_id"]: r
        for r in LP.lang_id_posterior(
            spark, "/root/testdata/sf0.001", docs=d
        ).collect()
    }
    # confusable probe: best guess still lands, but WITHOUT confidence
    assert got[100]["pred_lang"] == "en" and got[100]["prob_pass"] == 0
    # clean probe: confident pass
    assert got[110]["pred_lang"] == "es" and got[110]["prob_pass"] == 1
    assert got[110]["gap"] > got[110]["gate"] > got[100]["gap"]


def test_posterior_scores_null_augmented_docs_like_oracle(spark, tmp_path):
    """A held-out document whose lang has no phrase ('xx') or is NULL
    augments to a NULL text. The oracle scores it as one unmatched
    trigram (ll = w0) with correct = 0; the kernel must emit that same
    row instead of dropping the document."""
    import duckdb

    import __spark_entry__ as entrymod
    from sbb_ocr_postcorrection_spark.operators.langprofile import (
        lang_id_posterior,
    )
    from tests.test_queries_oracle import canon

    assert 5 % LID_FOLD == 0 and 10 % LID_FOLD == 0  # both held out
    path = str(tmp_path / "documents.parquet")
    con = duckdb.connect()
    con.execute(
        f"""COPY (SELECT * REPLACE (CASE doc_id WHEN 5 THEN 'xx'
                    WHEN 10 THEN NULL ELSE lang END AS lang)
                  FROM '{SF}/documents.parquet') TO '{path}' (FORMAT parquet)"""
    )
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{path}'")
    res = con.execute(entrymod.oracle_sql()["lang_id_posterior"])
    ocols = [c[0] for c in res.description]
    orows = res.fetchall()

    df = lang_id_posterior(spark, SF, docs=spark.read.parquet(path))
    rows = [tuple(r) for r in df.collect()]
    assert sorted(df.columns) == sorted(ocols)
    assert len(rows) == len(orows)
    assert canon(rows, df.columns) == canon(orows, ocols)
    got = {r[0]: dict(zip(df.columns, r)) for r in rows}
    assert got[5]["true_lang"] == "xx" and got[5]["correct"] == 0
    assert got[10]["true_lang"] is None and got[10]["correct"] == 0


def test_posterior_null_lang_training_doc_like_oracle(spark, tmp_path):
    """A training-fold document with NULL lang augments to a NULL text.
    The oracle trains it as a class of its own (lang NULL, one NULL
    trigram) and orders that class after every named one (NULLS LAST)
    when it breaks LL ties; a NULL prediction is never `correct`. The
    kernel must score every document the same way instead of failing on
    the NULL class name."""
    import duckdb

    import __spark_entry__ as entrymod
    from sbb_ocr_postcorrection_spark.operators.langprofile import (
        lang_id_posterior,
    )
    from tests.test_queries_oracle import canon

    assert 6 % LID_FOLD != 0 and 7 % LID_FOLD != 0  # both train
    path = str(tmp_path / "documents.parquet")
    con = duckdb.connect()
    con.execute(
        f"""COPY (SELECT * REPLACE (CASE doc_id WHEN 6 THEN NULL
                    WHEN 7 THEN 'xx' ELSE lang END AS lang)
                  FROM '{SF}/documents.parquet') TO '{path}' (FORMAT parquet)"""
    )
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{path}'")
    res = con.execute(entrymod.oracle_sql()["lang_id_posterior"])
    ocols = [c[0] for c in res.description]
    orows = res.fetchall()
    assert len(orows) == 500

    df = lang_id_posterior(spark, SF, docs=spark.read.parquet(path))
    rows = [tuple(r) for r in df.collect()]
    assert sorted(df.columns) == sorted(ocols)
    assert len(rows) == len(orows)
    assert canon(rows, df.columns) == canon(orows, ocols)
