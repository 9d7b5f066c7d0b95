"""Edit distance, CER and grapheme clusters: unit and property tests
(FIXTURES.md §5)."""

from hypothesis import given, strategies as st

from sbb_ocr_postcorrection_spark import textkit as tk


def test_levenshtein_basic():
    assert tk.levenshtein("", "") == 0
    assert tk.levenshtein("abc", "abc") == 0
    assert tk.levenshtein("kitten", "sitting") == 3
    assert tk.levenshtein("abc", "") == 3


@given(st.text(max_size=20), st.text(max_size=20))
def test_levenshtein_symmetric_triangle(a, b):
    d = tk.levenshtein(a, b)
    assert d == tk.levenshtein(b, a)
    assert d <= max(len(a), len(b))
    assert (d == 0) == (a == b)


def test_cer():
    assert tk.cer("abcd", "abcf") == 0.25
    assert tk.cer("", "") == 0.0


def test_nfc_idempotent():
    s = "äbc"  # a + combining diaeresis
    once = tk.nfc(s)
    assert tk.nfc(once) == once
    assert once == "äbc"


# ---------------------------------------------- grapheme-cluster CER parity --

def test_grapheme_clusters_basic():
    assert tk.grapheme_clusters("abc") == ["a", "b", "c"]
    assert tk.grapheme_clusters("") == []
    # combining tilde attaches to its base (no precomposed x-tilde exists)
    assert tk.grapheme_clusters("x̃y") == ["x̃", "y"]
    # a multi-mark stack is still one cluster
    assert tk.grapheme_clusters("x̃̄") == ["x̃̄"]
    # CRLF is one cluster; marks never attach to controls
    assert tk.grapheme_clusters("a\r\nb") == ["a", "\r\n", "b"]
    assert tk.grapheme_clusters("\ńa") == ["\n", "́", "a"] or \
        tk.grapheme_clusters("\ńa")[0] == "\n"


def test_grapheme_clusters_zwj_and_flags():
    family = "\U0001F469‍\U0001F467"  # woman ZWJ girl
    assert tk.grapheme_clusters(family) == [family]
    flag = "\U0001F1E9\U0001F1EA"  # DE flag (two regional indicators)
    assert tk.grapheme_clusters(flag + flag) == [flag, flag]


def test_cluster_distance_matches_dinglehopper_definition():
    """The reference's CER counts clusters (dinglehopper): one visible glyph
    = one unit, regardless of how many code points compose it."""
    # decomposed vs precomposed: NFC unifies, distance 0 in BOTH definitions
    assert tk.levenshtein_clusters("café", "café") == 0
    assert tk.levenshtein("café", "café") != 0  # raw code points differ
    # multi-mark stack: code-point distance 2, cluster distance 1
    assert tk.levenshtein("x̃̄", "x") == 2
    assert tk.levenshtein_clusters("x̃̄", "x") == 1
    # ZWJ emoji sequence: 3 code points, ONE cluster
    family = "\U0001F469‍\U0001F467"
    assert tk.levenshtein(family, "\U0001F469") == 2
    assert tk.levenshtein_clusters(family, "\U0001F469") == 1


def test_cer_clusters_convention():
    family = "\U0001F469‍\U0001F467"
    # denominator = clusters of GT: one cluster, one substitution → 1.0
    assert tk.cer_clusters("\U0001F469", family) == 1.0
    assert tk.cer_clusters(family, family) == 0.0
    assert tk.cer_clusters("", "") == 0.0
    assert tk.cer_clusters("a", "") == float("inf")  # dinglehopper d/0 = inf
    # plain ASCII: both definitions agree
    assert tk.cer_clusters("abd", "abc") == tk.cer("abd", "abc")


def test_grapheme_clusters_lossless():
    from hypothesis import given, settings, strategies as st

    @given(st.text(alphabet="abé́̃ \r\n\U0001F469‍xyz", max_size=40))
    @settings(max_examples=150, deadline=None)
    def check(s):
        # segmentation is lossless: clusters concatenate back to the input
        assert "".join(tk.grapheme_clusters(s)) == s
        # and every cluster is non-empty
        assert all(tk.grapheme_clusters(s))

    check()


def test_cer_clusters_kernel_query(spark):
    """The driver-query form of grapheme-cluster CER: injected combining
    marks make cluster CER diverge from codepoint CER (smaller
    denominator), and the kernel's per-doc numbers match a from-first-
    principles recomputation."""
    from sbb_ocr_postcorrection_spark.operators.textstats import (
        cer_clusters_kernel,
    )

    rows = [
        (0, "peach area"),   # both e's and a's -> real substitutions
        (1, "zzz"),          # no e/a: gt == ocr, zero distance
        (2, ""),             # empty: 0/0 -> 0.0 by convention
        (3, "eee"),          # gt all accented, ocr plain
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r
        for r in cer_clusters_kernel(spark, "", docs=docs).collect()
    }
    assert len(out) == 4
    for doc_id, text in rows:
        gt = text.replace("e", "é")
        ocr = text.replace("a", "á")
        r = out[doc_id]
        assert r["lev_c"] == tk.levenshtein_clusters(ocr, gt)
        assert r["cer_c"] == round(tk.cer_clusters(ocr, gt), 6)
        assert r["n_clusters"] == len(tk.grapheme_clusters(tk.nfc(gt)))
        # cluster count == visible glyphs == len(text), NOT codepoints
        assert r["n_clusters"] == len(text)
    # divergence from codepoint CER: "peach area" has 9 glyphs + space,
    # codepoint gt has 12 codepoints -> denominators differ
    r = out[0]
    assert r["n_clusters"] == 10
    assert r["lev_c"] == 5  # substitutions at every e (2) and a (3)
    assert r["cer_c"] == round(5 / 10, 6)
    assert out[1]["lev_c"] == 0 and out[1]["cer_c"] == 0.0
    assert out[2] ["cer_c"] == 0.0 and out[2]["n_clusters"] == 0
    assert out[3]["lev_c"] == 3 and out[3]["cer_c"] == 1.0


def test_uax29_full_rule_set():
    """Round-6 hardening: the classes beyond marks/ZWJ/RI — prepend,
    Hangul jamo composition, strict GB11, controls."""
    # GB9b prepend: Arabic number sign glues to the FOLLOWING base
    assert tk.grapheme_clusters("؀١x") == ["؀١", "x"]
    # two prepends chain onto one base
    assert tk.grapheme_clusters("؀؀١") == ["؀؀١"]
    # prepend before a control cannot glue (GB5 wins)
    assert tk.grapheme_clusters("؀\n") == ["؀", "\n"]
    # GB6-8 Hangul: decomposed L+V+T is one cluster; LV syllable + T too
    assert tk.grapheme_clusters("각") == ["각"]
    assert tk.grapheme_clusters("각가") == ["각", "가"]
    assert tk.grapheme_clusters("각") == ["각"]  # LV+T
    assert tk.grapheme_clusters("ᄀ가") == [
        "ᄀ가"
    ]  # L chains (GB6)
    # GB11 strict: ZWJ joins only after a pictographic base
    woman, girl = "\U0001F469", "\U0001F467"
    assert tk.grapheme_clusters(woman + "‍" + girl) == [
        woman + "‍" + girl
    ]
    # ... including with a variation selector (Extend*) in between
    heart = "❤️‍\U0001F525"  # heart + VS16 + ZWJ + fire
    assert tk.grapheme_clusters(heart) == [heart]
    # but a ZWJ between plain letters ENDS its cluster (spec GB999)
    assert tk.grapheme_clusters("a‍b") == ["a‍", "b"]
    # GB12/13: flags pair up; odd RI leaves a singleton
    ri = "\U0001F1E6\U0001F1E7\U0001F1E8"
    assert tk.grapheme_clusters(ri) == [ri[:2], ri[2]]
    # controls break everything, even pending marks
    assert tk.grapheme_clusters("a\x00́") == ["a", "\x00", "́"]


def test_uax29_property_lossless_and_stable():
    from hypothesis import given, settings, strategies as st

    alphabet = (
        "ab x́̃\r\n‍‌"      # marks, joiners, CRLF
        "\U0001F469\U0001F467❤️"      # emoji + VS16
        "\U0001F1E6\U0001F1E7"                  # regional indicators
        "؀١"                          # prepend + digit
        "각가각"        # Hangul jamo + syllables
    )

    @given(st.text(alphabet=alphabet, max_size=60))
    @settings(max_examples=300, deadline=None)
    def check(s):
        cs = tk.grapheme_clusters(s)
        assert "".join(cs) == s          # lossless
        assert all(cs)                   # non-empty clusters
        for c in cs:                     # stable: a cluster re-segments
            assert tk.grapheme_clusters(c) == [c]

    check()


def test_levenshtein_clusters_new_classes():
    """Cluster distance counts VISIBLE units across the new classes."""
    fam = "\U0001F469‍\U0001F467"
    # swapping one emoji family for another is ONE edit
    fam2 = "\U0001F469‍\U0001F466"
    assert tk.levenshtein_clusters(fam, fam2) == 1
    # flag pair vs different flag pair: one edit, not two or four
    de, fr = "\U0001F1E9\U0001F1EA", "\U0001F1EB\U0001F1F7"
    assert tk.levenshtein_clusters("x" + de, "x" + fr) == 1
    # decomposed vs precomposed Hangul syllable: NFC makes them EQUAL
    assert tk.levenshtein_clusters("각", "각") == 0
    # prepend sequence is one unit
    assert tk.levenshtein_clusters("؀١", "؀٢") == 1
    assert tk.cer_clusters("؀١", "؀١") == 0.0


def test_grapheme_skin_tone_and_double_zwj():
    """ADVICE r6 regressions: a skin-tone modifier (GCB=Extend) joins its
    base into ONE cluster, and GB11 joins across exactly one trailing
    ZWJ — a second consecutive ZWJ (or Extend after the joiner) breaks."""
    from sbb_ocr_postcorrection_spark.textkit import grapheme_clusters as gc

    wave = "\U0001F44B\U0001F3FD"          # base + medium skin tone
    assert gc(wave) == [wave]
    zwj = "‍"
    fam = f"\U0001F468{zwj}\U0001F469{zwj}\U0001F467"
    assert gc(fam) == [fam]                 # normal ZWJ sequence joins
    assert len(gc(f"\U0001F468{zwj}{zwj}\U0001F469")) == 2
    assert len(gc(f"\U0001F468{zwj}́{zwj}\U0001F469")) == 2
    assert len(gc(f"a{zwj}b")) == 2         # ZWJ between letters breaks
