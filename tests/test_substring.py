"""Token-level exact-substring dedup (operators/substring.py): hand-built
span fixtures, island merging, and the passage_dedup overlap differential
(VERDICT r4 next-step #5)."""

from pyspark.sql import functions as F

from sbb_ocr_postcorrection_spark.operators.substring import substring_dedup

SF = "/root/testdata/sf0.001"


def _df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _tok(i):
    return f"s{i:03d}"


def test_spans_detected_at_different_offsets(spark):
    """A 55-token run shared by two docs at DIFFERENT positions is found in
    both, covers exactly the shared tokens, and leaves a unique doc and a
    short doc untouched."""
    shared = " ".join(_tok(i) for i in range(55))
    a_tail = " ".join(f"ua{i}" for i in range(20))
    b_head = " ".join(f"ub{i}" for i in range(10))
    b_tail = " ".join(f"vb{i}" for i in range(5))
    rows = [
        (1, shared + " " + a_tail),                  # span at [1, 55]
        (2, b_head + " " + shared + " " + b_tail),   # span at [11, 65]
        (3, " ".join(f"uc{i}" for i in range(80))),  # unique: untouched
        (4, "tiny doc under fifty tokens"),          # short: untouched
    ]
    out = {r["doc_id"]: r for r in substring_dedup(spark, SF, docs=_df(spark, rows)).collect()}
    assert out[1]["n_spans"] == 1 and out[1]["n_dropped"] == 55
    assert out[1]["text_deduped"] == a_tail
    assert out[2]["n_spans"] == 1 and out[2]["n_dropped"] == 55
    assert out[2]["text_deduped"] == b_head + " " + b_tail
    assert out[3]["n_spans"] == 0 and out[3]["n_dropped"] == 0
    assert out[4]["n_spans"] == 0 and out[4]["text_deduped"] == rows[3][1]


def test_long_run_merges_to_one_span(spark):
    """A 120-token shared run yields ONE merged island (71 overlapping
    anchors), never a chain of 50-token fragments."""
    shared = " ".join(_tok(i) for i in range(120))
    rows = [
        (1, shared + " xa ya za"),
        (2, "qb rb " + shared),
    ]
    out = {r["doc_id"]: r for r in substring_dedup(spark, SF, docs=_df(spark, rows)).collect()}
    assert out[1]["n_spans"] == 1 and out[1]["n_dropped"] == 120
    assert out[2]["n_spans"] == 1 and out[2]["n_dropped"] == 120
    assert out[1]["text_deduped"] == "xa ya za"


def test_separated_runs_stay_two_spans(spark):
    """Two shared 50-token runs split by 60 unique tokens per doc stay TWO
    spans; the unique middle survives."""
    run1 = " ".join(_tok(i) for i in range(50))
    run2 = " ".join(f"t{i:03d}" for i in range(50))
    rows = [
        (1, run1 + " " + " ".join(f"ma{i}" for i in range(60)) + " " + run2),
        (2, run1 + " " + " ".join(f"mb{i}" for i in range(60)) + " " + run2),
    ]
    out = {r["doc_id"]: r for r in substring_dedup(spark, SF, docs=_df(spark, rows)).collect()}
    for d in (1, 2):
        assert out[d]["n_spans"] == 2
        assert out[d]["n_dropped"] == 100
        assert out[d]["n_tokens"] == 160
    assert out[1]["text_deduped"] == " ".join(f"ma{i}" for i in range(60))


def test_differential_vs_passage_dedup(spark, monkeypatch):
    """Overlap differential: on a fixture where the duplicated block aligns
    exactly with passage_dedup's line chunking (2 lines x 3 tokens), the
    token-level dedup at SUBSTR_L=6 removes EXACTLY the text the
    line-level passage dedup removes — and never less (token granularity
    subsumes aligned line granularity)."""
    from sbb_ocr_postcorrection_spark.operators import lines as L, substring as SUB

    boiler = "cookie banner text accept all terms"  # 6 toks = 2 lines of 3
    rows = [
        (i, boiler + " " + " ".join(f"u{i}w{j}" for j in range(9)))
        for i in range(1, 7)
    ]
    docs = _df(spark, rows)
    monkeypatch.setattr(SUB, "SUBSTR_L", 6)
    monkeypatch.setattr(SUB, "SUBSTR_DUP_DF", 5)
    sub = {r["doc_id"]: r for r in substring_dedup(spark, SF, docs=docs).collect()}
    monkeypatch.setattr(L, "PASSAGE_LINES", 2)
    monkeypatch.setattr(L, "HOT_PASSAGE_DF", 5)
    monkeypatch.setattr(L, "LINE_TOKS", 3)
    pas = {r["doc_id"]: r for r in L.passage_dedup(spark, SF, docs=docs).collect()}
    for d in sub:
        assert sub[d]["text_deduped"] == pas[d]["cleaned_text"]
        assert sub[d]["n_dropped"] >= (pas[d]["n_lines"] - pas[d]["n_kept"]) * 3
