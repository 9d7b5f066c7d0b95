"""Cross-variant operator consistency + property tests."""

from hypothesis import given, settings, strategies as st

from sbb_ocr_postcorrection_spark.correct import best_correction, correct_token
from sbb_ocr_postcorrection_spark.detect import flag_spans_counted
from sbb_ocr_postcorrection_spark.wordlists import DICTIONARY, NOISE_SUBS

SF = "/root/testdata/sf0.01"


def test_ivf_recall_vs_brute_force(spark):
    """IVF with IVF_PROBE_LISTS=4 of 8 cells must recall most of the exact
    top-5 (random-ish embeddings: the true neighbors concentrate in the
    probe's nearest cells only weakly, so demand ≥50% overall recall and
    exact agreement on rank-1 for most probes)."""
    from sbb_ocr_postcorrection_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk,
    )

    exact = {}
    for r in brute_force_topk(spark, SF).collect():
        exact.setdefault(r["probe_id"], set()).add(r["cand_id"])
    approx = {}
    for r in ivf_topk(spark, SF).collect():
        approx.setdefault(r["probe_id"], set()).add(r["cand_id"])
    assert set(approx) == set(exact)
    hits = sum(len(exact[p] & approx.get(p, set())) for p in exact)
    total = sum(len(v) for v in exact.values())
    assert hits / total >= 0.5, (hits, total)


def test_ivf_pinned_is_subset_of_brute_force_and_equality_joined(spark, monkeypatch):
    """ivf_topk_pinned (fixed ±1 centroids, fully SQL-expressible): every
    returned (probe, cand, cosine) must agree with the exact brute-force
    scores (IVF only PRUNES candidates — it never invents or rescores), the
    probe side must genuinely prune (some probe misses at least one exact
    top-ANN_K neighbor at IVF_PROBE_LISTS=4 of 8, else the test is vacuous), and
    the scoring join must be an equality hash join on the cell key — never
    a cartesian/BNL join."""
    from sbb_ocr_postcorrection_spark.operators import similarity as S
    from sbb_ocr_postcorrection_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk_pinned,
    )

    with monkeypatch.context() as m:  # every exact score, not just the top
        m.setattr(S, "ANN_K", 1000)
        exact = {
            (r["probe_id"], r["cand_id"]): r["cosine"]
            for r in brute_force_topk(spark, SF).collect()
        }
    df = ivf_topk_pinned(spark, SF)
    rows = df.collect()
    assert rows, "pinned IVF returned nothing"
    for r in rows:
        assert exact[(r["probe_id"], r["cand_id"])] == r["cosine"]
    topk = {
        (r["probe_id"], r["cand_id"])
        for r in brute_force_topk(spark, SF).collect()
    }
    got = {(r["probe_id"], r["cand_id"]) for r in rows}
    assert got - topk or topk - got, "IVF_PROBE_LISTS=4/8 pruned nothing — vacuous"
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_minhash_candidates_superset_of_high_jaccard(spark):
    """LSH recall property: pairs with very high exact Jaccard should be
    found by the banded MinHash (4 bands × 4 rows → ~99% recall at J=0.9)."""
    from sbb_ocr_postcorrection_spark.operators.dedup import (
        jaccard_pairs,
        minhash_lsh_candidates,
    )

    exact = {
        (r["id1"], r["id2"])
        for r in jaccard_pairs(spark, SF).collect()
        if r["jaccard"] >= 0.9
    }
    cands = {
        (r["id1"], r["id2"]) for r in minhash_lsh_candidates(spark, SF).collect()
    }
    missed = exact - cands
    assert len(missed) <= max(1, len(exact) // 10), (len(exact), missed)


@given(st.sampled_from(sorted(DICTIONARY)), st.integers(0, len(NOISE_SUBS) - 1))
@settings(max_examples=200, deadline=None)
def test_corrector_inverts_single_noise(word, sub_idx):
    """Property: one applicable confusion substitution on a dictionary word
    is always detected and corrected back to SOME dictionary word at edit
    distance ≤ the injected distance (usually the original)."""
    clean, noisy = NOISE_SUBS[sub_idx]
    if clean not in word:
        return
    i = word.find(clean)
    corrupted = word[:i] + noisy + word[i + len(clean):]
    if corrupted in DICTIONARY:  # corruption happens to be another word
        return
    fixed = best_correction(corrupted)
    assert fixed is not None, corrupted
    assert fixed in DICTIONARY


@given(st.text(alphabet="abcdefghij klmnop.,\t\n", max_size=60))
@settings(max_examples=200, deadline=None)
def test_flag_spans_cover_all_tokens(text):
    spans = flag_spans_counted(text)[0]
    # spans are disjoint, ordered, and cover exactly the non-space runs
    rebuilt = [text[s[0]:s[1]] for s in spans]
    assert rebuilt == text.split()
    # the find-based offsets must match the regex tokenization exactly
    # (split+find can in principle land on an earlier identical substring;
    # the advancing pos makes that impossible — pin it)
    import re

    assert [(s[0], s[1]) for s in spans] == [
        m.span() for m in re.finditer(r"\S+", text)
    ]


@given(st.sampled_from(sorted(DICTIONARY)))
@settings(max_examples=50, deadline=None)
def test_correct_token_idempotent_on_clean(word):
    assert correct_token(word) == word
    assert correct_token(word.capitalize() + ",") == word.capitalize() + ","


def test_ivf_deterministic_across_runs(spark):
    """Two IVF runs must agree exactly: centroid means are rounded to 9
    decimals before renormalizing, so partial-agg merge-order jitter in the
    distributed Lloyd pass cannot flip a cell assignment between runs."""
    from sbb_ocr_postcorrection_spark.operators.similarity import ivf_topk

    a = sorted(tuple(r) for r in ivf_topk(spark, SF).collect())
    b = sorted(tuple(r) for r in ivf_topk(spark, SF).collect())
    assert a == b


# ----- decontamination & PII redaction -----


def test_decontaminate_flags_benchmark_sharers(spark):
    from sbb_ocr_postcorrection_spark.operators.dedup import decontaminate

    sf = "/root/testdata/sf0.001"
    rows = {r["doc_id"]: r for r in decontaminate(spark, sf).collect()}
    d = spark.read.parquet(f"{sf}/documents.parquet")
    texts = {r["doc_id"]: r["text"] for r in d.collect()}
    assert set(rows) == set(texts)
    for doc_id, r in rows.items():
        assert r["role"] == ("benchmark" if doc_id % 41 == 0 else "train")
        if r["role"] == "benchmark":
            assert r["contaminated"] == 0  # the bench slice is never flagged
        else:
            assert r["contaminated"] == (1 if r["n_overlap"] >= 1 else 0)
    # a train doc that is an exact copy of a benchmark doc MUST be flagged
    # (exact dupes share every shingle)
    bench_texts = {t for i, t in texts.items() if i % 41 == 0}
    copies = [i for i, t in texts.items() if i % 41 != 0 and t in bench_texts]
    for i in copies:
        assert rows[i]["contaminated"] == 1, i
    # and the fixture must be non-vacuous: some contamination exists
    assert any(r["contaminated"] == 1 for r in rows.values())


def test_decontaminate_broadcasts_benchmark_side(spark):
    from sbb_ocr_postcorrection_spark.operators.dedup import decontaminate

    plan = decontaminate(spark, "/root/testdata/sf0.001")._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_pii_redact_counts_and_rewrites(spark):
    from sbb_ocr_postcorrection_spark.operators.textstats import pii_redact

    rows = {r["doc_id"]: r for r in pii_redact(spark, "/root/testdata/sf0.001").collect()}
    for doc_id, r in rows.items():
        assert r["n_emails"] == (1 if doc_id % 7 == 0 else 0), doc_id
        assert r["n_phones"] == (1 if doc_id % 11 == 0 else 0), doc_id
        assert "@" not in r["redacted"]
        assert "+1 555" not in r["redacted"]
        if doc_id % 7 == 0:
            assert "<EMAIL>" in r["redacted"]
        if doc_id % 11 == 0:
            assert "<PHONE>" in r["redacted"]
    # doc 0 carries both fixture kinds (0 % 7 == 0 % 11 == 0)
    assert rows[0]["n_emails"] == 1 and rows[0]["n_phones"] == 1


def test_lm_unigram_score_semantics(spark, tmp_path):
    import pandas as pd
    from sbb_ocr_postcorrection_spark.operators.textstats import lm_unigram_score

    texts = [
        "common words common words common",   # every token repeats across docs
        "common words plus zzzunique",        # two corpus-unique tokens
        "common words common words",
        "",                                   # empty doc: NO rare tokens
    ]
    pdf = pd.DataFrame(
        {
            "doc_id": range(len(texts)),
            "text": texts,
            "lang": ["en"] * len(texts),
            "source": ["s"] * len(texts),
            "n_chars": [len(t) for t in texts],
        }
    )
    d = str(tmp_path)
    spark.createDataFrame(pdf).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    rows = {r["doc_id"]: r for r in lm_unigram_score(spark, d).collect()}
    assert rows[1]["min_tf"] == 1 and rows[1]["lm_keep"] == 0  # rare-token doc
    assert rows[0]["lm_keep"] == 1 and rows[2]["lm_keep"] == 1
    # the rarity filter passes an empty doc (emptiness is quality's job)
    assert rows[3]["n_tokens"] == 0 and rows[3]["lm_keep"] == 1
    # corpus tf: common=6, words=5; doc 0 = 3×common + 2×words
    assert rows[0]["n_tokens"] == 5
    assert rows[0]["sum_tf"] == 6 * 3 + 5 * 2
    assert abs(rows[0]["mean_tf"] - (6 * 3 + 5 * 2) / 5) < 1e-9


def test_quality_weighted_sample_deterministic(spark):
    from sbb_ocr_postcorrection_spark.operators.textstats import (
        quality_weighted_sample,
    )

    sf = "/root/testdata/sf0.001"
    a = sorted(tuple(r) for r in quality_weighted_sample(spark, sf).collect())
    b = sorted(tuple(r) for r in quality_weighted_sample(spark, sf).collect())
    assert a == b  # the md5 coin is run-stable
    rows = [r for r in quality_weighted_sample(spark, sf).collect()]
    hi = [r for r in rows if r["quality_keep"] == 1]
    lo = [r for r in rows if r["quality_keep"] == 0]
    assert all(r["sampled"] == 1 for r in hi)  # hi_rate=100 keeps all
    if lo:  # lo slice downsamples to ~10%
        frac = sum(r["sampled"] for r in lo) / len(lo)
        assert frac < 0.5, frac
    assert all(r["sampled"] == (1 if r["slot"] < r["rate_pct"] else 0) for r in rows)


def test_asof_join_semantics(spark, tmp_path):
    import datetime as dt
    import pandas as pd
    from sbb_ocr_postcorrection_spark.operators.temporal import asof_join

    t0 = dt.datetime(2024, 1, 1)
    s = lambda sec: t0 + dt.timedelta(seconds=sec)
    rows = [
        # user 1: clicks at 10, 20; errors at 15 (→click@10), 20 (tie →click@20), 5 (→none)
        (0, s(10), 1, "click", 0.0, "{}"),
        (1, s(20), 1, "click", 0.0, "{}"),
        (2, s(15), 1, "error", 0.0, "{}"),
        (3, s(20), 1, "error", 0.0, "{}"),
        (4, s(5), 1, "error", 0.0, "{}"),
        # user 2: no clicks at all
        (5, s(30), 2, "error", 0.0, "{}"),
        # unrelated event types must not interfere
        (6, s(12), 1, "view", 0.0, "{}"),
    ]
    pdf = pd.DataFrame(rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"])
    d = str(tmp_path)
    spark.createDataFrame(pdf).write.mode("overwrite").parquet(f"{d}/events.parquet")
    got = {r["event_id"]: r for r in asof_join(spark, d).collect()}
    assert set(got) == {2, 3, 4, 5}
    assert got[2]["ref_id"] == 0 and got[2]["lag_us"] == 5_000_000
    assert got[3]["ref_id"] == 1 and got[3]["lag_us"] == 0  # same-instant click counts
    assert got[4]["ref_id"] is None and got[4]["lag_us"] is None
    assert got[5]["ref_id"] is None


def test_asof_join_plan_is_single_shuffle(spark):
    from sbb_ocr_postcorrection_spark.operators.temporal import asof_join

    plan = asof_join(spark, "/root/testdata/sf0.001")._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoop" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("Exchange hashpartitioning") == 1  # the user_id window shuffle


def test_text_normalize_ws_class_cross_engine(spark):
    """Java \\s includes vertical tab, RE2's does not — the explicit
    NORM_WS_RE class must make both engines agree on \\x0B/tab/double-space
    inputs (and the fixture chars all fold)."""
    import duckdb

    import __spark_entry__ as em
    from sbb_ocr_postcorrection_spark.operators import textstats as T

    rows = [(0, "a\x0bb  c"), (3, "plain text"), (5, "x\ty")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["norm_text"], r["n_chars_delta"], r["n_folded"])
        for r in T.text_normalize(spark, None, docs=docs).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?,?)", rows)
    want = {
        r[0]: (r[1], r[2], r[3])
        for r in con.execute(em.oracle_sql()["text_normalize"]).fetchall()
    }
    assert got == want
    assert got[0][0].startswith("a b c ")  # \x0B collapsed on both sides


def test_length_histogram_bucket_edges(spark):
    """Integer-grid bucketing: underflow impossible on real data but the
    guard exists; 0 and 99 share bucket 1; 100 starts bucket 2; 1999 is
    the last in-range bucket; 2000+ overflows to 21."""
    from pyspark.sql import functions as F

    from sbb_ocr_postcorrection_spark.operators.textstats import (
        length_histogram,
    )

    docs = spark.createDataFrame(
        [(1, "a", 0), (2, "a", 99), (3, "a", 100), (4, "a", 1999),
         (5, "a", 2000), (6, "a", 123456), (7, "b", 150)],
        "doc_id long, source string, n_chars int",
    )
    rows = {(r["source"], r["bucket"]): r
            for r in length_histogram(spark, "/root/testdata/sf0.001",
                                      docs=docs).collect()}
    assert rows[("a", 1)]["n_docs"] == 2
    assert rows[("a", 1)]["min_chars"] == 0 and rows[("a", 1)]["max_chars"] == 99
    assert rows[("a", 2)]["n_docs"] == 1
    assert rows[("a", 20)]["max_chars"] == 1999
    assert rows[("a", 21)]["n_docs"] == 2  # 2000 and 123456 both overflow
    assert rows[("b", 2)]["n_docs"] == 1


def test_host_tiers_deterministic_ranking(spark):
    """NTILE tiers: pinned (total_chars desc, host asc) order; ceil
    division puts the extra hosts in the top tiers (7 hosts → tiers of
    2,2,2,1 — wait: ntile(4) over 7 rows = 2,2,2,1)."""
    from sbb_ocr_postcorrection_spark.operators.urls import host_tiers

    rows = host_tiers(spark, "/root/testdata/sf0.001").collect()
    assert len(rows) == 7
    ordered = sorted(rows, key=lambda r: (-r["total_chars"], r["host"]))
    assert [r["tier"] for r in ordered] == [1, 1, 2, 2, 3, 3, 4]
    # tier assignment is a function of the pinned order alone
    assert [r["host"] for r in ordered if r["tier"] == 1] == \
        [ordered[0]["host"], ordered[1]["host"]]


def test_lm_bigram_score_matches_reference(spark):
    """Bigram surprise == a pure-Python replay: integer inverse
    conditional probability, max/mean rules, 0/1-token docs pass."""
    from collections import Counter

    import duckdb

    from sbb_ocr_postcorrection_spark.operators.textstats import (
        LM2_MAX_MEAN,
        LM2_MAX_R,
        lm_bigram_score,
    )

    SF = "/root/testdata/sf0.001"
    docs = dict(
        duckdb.sql(
            f"SELECT doc_id, text FROM '{SF}/documents.parquet'"
        ).fetchall()
    )
    toks = {
        d: [w for w in (t or "").lower().split(" ") if w]
        for d, t in docs.items()
    }
    # c2 = bigram count; ctx = bigram-context count (bigrams starting w1)
    c2, ctx = Counter(), Counter()
    for ws in toks.values():
        for i in range(len(ws) - 1):
            c2[(ws[i], ws[i + 1])] += 1
            ctx[ws[i]] += 1
    want = {}
    for d, ws in toks.items():
        rs = [
            ctx[ws[i]] // c2[(ws[i], ws[i + 1])] for i in range(len(ws) - 1)
        ]
        if rs:
            keep = int(
                max(rs) <= LM2_MAX_R and sum(rs) <= LM2_MAX_MEAN * len(rs)
            )
            want[d] = (
                len(rs), sum(rs), max(rs),
                round(sum(rs) / len(rs), 4), keep,
            )
        else:
            want[d] = (0, 0, 0, 0.0, 1)
    got = {
        r["doc_id"]: (
            r["n_bigrams"], r["sum_r"], r["max_r"],
            r["mean_surprise"], r["lm2_keep"],
        )
        for r in lm_bigram_score(spark, SF).collect()
    }
    assert got == want


def test_triplet_mining_reference(spark):
    """Pure-Python replay of triplet mining at sf0.001: exact positive /
    hard-negative picks, margins, and violation flags."""
    import math

    import pandas as pd

    from sbb_ocr_postcorrection_spark.operators.similarity import triplet_mining

    pdf = pd.read_parquet("/root/testdata/sf0.001/embeddings.parquet")
    vecs = {r.vec_id: (list(map(float, r.embedding)), r.label)
            for r in pdf.itertuples()}

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return round(d / (na * nb), 4)

    want = {}
    for pid, (pv, pl) in vecs.items():
        if pid >= 16:
            continue
        pos = [(-cos(pv, cv), cid) for cid, (cv, cl) in vecs.items()
               if cid >= 16 and cl == pl]
        neg = [(-cos(pv, cv), cid) for cid, (cv, cl) in vecs.items()
               if cid >= 16 and cl != pl]
        if not pos or not neg:
            continue
        (pc, pi), (nc, ni) = min(pos), min(neg)
        want[pid] = (pi, -pc, ni, -nc)
    got = {r["probe_id"]: r for r in triplet_mining(spark, "/root/testdata/sf0.001").collect()}
    assert set(got) == set(want)
    for pid, (pi, pc, ni, nc) in want.items():
        r = got[pid]
        assert (r["pos_id"], r["pos_cos"], r["neg_id"], r["neg_cos"]) == (
            pi, pc, ni, nc)
        assert r["margin"] == pc - nc
        assert r["violated"] == int(pc - nc <= 0)
        assert vecs[r["pos_id"]][1] == vecs[pid][1]
        assert vecs[r["neg_id"]][1] != vecs[pid][1]


def test_funnel_analysis_reference(spark):
    """Pure-Python replay of the ordered funnel at sf0.001: first view,
    first click strictly after it, first purchase strictly after that."""
    import pandas as pd

    from sbb_ocr_postcorrection_spark.operators.temporal import funnel_analysis

    pdf = pd.read_parquet("/root/testdata/sf0.001/events.parquet")
    byuser = {}
    for r in pdf.itertuples():
        # mirror the operator's in-plan witness suppression
        if r.user_id % 7 == 0 and r.event_type == "purchase":
            continue
        if r.user_id % 11 == 0 and r.event_type == "click":
            continue
        byuser.setdefault(r.user_id, []).append((r.ts, r.event_type))
    want = {}
    for u, evs in byuser.items():
        evs.sort()
        tv = min((t for t, k in evs if k == "view"), default=None)
        tc = (
            min((t for t, k in evs if k == "click" and t > tv), default=None)
            if tv is not None
            else None
        )
        tp = (
            min((t for t, k in evs if k == "purchase" and t > tc), default=None)
            if tc is not None
            else None
        )
        depth = sum(x is not None for x in (tv, tc, tp))
        want[u] = (tv, tc, tp, depth, int(tp is not None))
    got = {
        r["user_id"]: (
            r["t_view"],
            r["t_click"],
            r["t_purchase"],
            r["funnel_depth"],
            r["converted"],
        )
        for r in funnel_analysis(spark, "/root/testdata/sf0.001").collect()
    }
    assert got == want
    # witness slices make every funnel exit real: converters, click-stall
    # (user % 7), and view-stall (user % 11)
    depths = {d for (_, _, _, d, _) in got.values()}
    assert {1, 2, 3} <= depths


def test_cohort_retention_reference(spark):
    """Pure-Python replay of cohort retention at sf0.001."""
    import pandas as pd

    from sbb_ocr_postcorrection_spark.operators.temporal import cohort_retention

    pdf = pd.read_parquet("/root/testdata/sf0.001/events.parquet")
    act = {}
    for r in pdf.itertuples():
        act.setdefault(r.user_id, set()).add(r.ts.date())
    first = {u: min(days) for u, days in act.items()}
    import datetime as dt

    want = {}
    for u, c in first.items():
        row = want.setdefault(c, [0, 0, 0, 0])
        row[0] += 1
        for i, k in enumerate((1, 3, 7)):
            if c + dt.timedelta(days=k) in act[u]:
                row[1 + i] += 1
    got = {r["cohort_day"]: r for r in cohort_retention(spark, "/root/testdata/sf0.001").collect()}
    assert set(got) == set(want)
    for c, (n, d1, d3, d7) in want.items():
        r = got[c]
        assert (r["n_users"], r["d1_retained"], r["d3_retained"], r["d7_retained"]) == (n, d1, d3, d7)
        assert r["d1_pct"] == round(d1 * 100.0 / n, 6)
    # retention is a real fraction, not vacuously total
    assert any(r["d1_retained"] < r["n_users"] for r in got.values())
