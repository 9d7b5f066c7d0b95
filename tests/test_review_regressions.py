"""Regression tests for the round-1 code-review findings (all were latent:
the shipped test tables have no short/empty/pathological rows)."""

import pandas as pd
import pytest

from pyspark.sql import functions as F

from sbb_ocr_postcorrection_spark import extract
from sbb_ocr_postcorrection_spark.operators import dedup
from sbb_ocr_postcorrection_spark.operators.lines import _lenient_split

from oracles import parse_blocks_std


@pytest.fixture()
def tiny_docs(spark, tmp_path):
    """documents.parquet with the pathological rows the review flagged."""
    pdf = pd.DataFrame(
        {
            "doc_id": [0, 1, 2, 3, 4],
            "text": [
                "hello world",                     # 2 tokens (< shingle n)
                "one",                             # 1 token
                "",                                # empty text
                "x" * 55 + " tail token here ok",  # oversized token
                "normal words flow here nicely together ok fine",
            ],
            "lang": ["en"] * 5,
            "source": ["s"] * 5,
            "n_chars": [11, 3, 0, 60, 46],
        }
    )
    d = str(tmp_path)
    spark.createDataFrame(pdf).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    return d


def test_shingles_survive_short_docs_ansi(spark, tiny_docs):
    # element_at under ANSI mode crashed on <3-token docs (review #1)
    rows = dedup.shingle_table(spark, tiny_docs).collect()
    shingles = {r["doc_id"]: set() for r in rows}
    for r in rows:
        shingles[r["doc_id"]].add(r["shingle"])
    assert shingles[0] == {"hello world"}
    assert shingles[1] == {"one"}
    # jaccard/minhash run end-to-end on the same data
    assert dedup.jaccard_pairs(spark, tiny_docs).count() >= 0
    assert dedup.minhash_lsh_candidates(spark, tiny_docs).count() >= 0


def test_lenient_split_oversized_token():
    # strict split raised ValueError and would crash the task (review #2)
    parts = _lenient_split("x" * 55 + " tail token")
    assert "x" * 55 in parts
    assert " ".join(parts) == "x" * 55 + " tail token"
    assert all(len(p) <= 55 for p in parts)


def test_split_roundtrip_on_pathological_rows(spark, tiny_docs):
    from sbb_ocr_postcorrection_spark.operators.lines import split_roundtrip

    rows = split_roundtrip(spark, tiny_docs).collect()
    by_id = {r["parent_id"]: r for r in rows}
    # oversized-token doc and whitespace-weird docs still roundtrip exactly
    assert all(r["roundtrip_ok"] == 1 for r in rows if r["n_parts"] > 0), by_id


def test_self_closing_boiler_tags_do_not_poison(spark):
    # a void <nav/> used to mark the whole document as boilerplate (review #5)
    html = (b"<body><nav/><main><p>Ein langer Absatz mit vielen Worten und "
            b"Zeichen der als Inhalt erkannt werden muss.</p></main></body>")
    blocks = extract.extract_blocks(html)
    assert any(b.is_content for b in blocks)
    text = extract.content_text(blocks)
    assert "langer Absatz" in text
    # fast and std parser agree on the void-tag document
    std = extract.classify_blocks(parse_blocks_std(html))
    assert [(b.text, b.in_boiler) for b in blocks] == [
        (b.text, b.in_boiler) for b in std
    ]


def test_rolling_fp_empty_text_matches_oracle(spark, tiny_docs):
    import duckdb

    from sbb_ocr_postcorrection_spark.operators.textstats import fingerprints

    got = {r["doc_id"]: r["rolling_fp"] for r in fingerprints(spark, tiny_docs).collect()}
    con = duckdb.connect()
    want = dict(
        con.execute(
            f"""
            SELECT doc_id, list_reduce(
                     list_prepend(7::BIGINT,
                       list_transform(generate_series(1, length(text)),
                                      i -> unicode(substr(text, i, 1))::BIGINT)),
                     (a, b) -> (a * 31 + b) % 2147483647)
            FROM '{tiny_docs}/documents.parquet/*.parquet'
            """
        ).fetchall()
    )
    # DuckDB's fold over an empty list yields the seed; NULL-safe compare
    want = {k: (v if v is not None else 7) for k, v in want.items()}
    assert got == want


def test_manifest_not_duplicated_on_forced_rerun(spark, tmp_path):
    import pyarrow.parquet as pq

    from sbb_ocr_postcorrection_spark.datagen import generate_pages, pages_to_arrow
    from sbb_ocr_postcorrection_spark.pipeline import job_metrics, run_extraction_job

    path = str(tmp_path / "pages.parquet")
    pq.write_table(pages_to_arrow(generate_pages(60, seed=5)), path)
    out = str(tmp_path / "out")
    pages = spark.read.parquet(path)
    run_extraction_job(spark, pages, out, resume=False)
    run_extraction_job(spark, pages, out, resume=False)  # forced full rerun
    m = job_metrics(spark, out).collect()[0]
    assert m["docs"] == 60  # was 120 with the append-duplicate manifest


def test_salted_agg_salt_col_validation(spark, tmp_path):
    import pyarrow.parquet as pq

    from sbb_ocr_postcorrection_spark.datagen import generate_pages, pages_to_arrow
    from sbb_ocr_postcorrection_spark.kernels_spark import extract_pages
    from sbb_ocr_postcorrection_spark.pipeline import salted_host_agg

    path = str(tmp_path / "p.parquet")
    pq.write_table(pages_to_arrow(generate_pages(30, seed=6)), path)
    df = extract_pages(spark.read.parquet(path))
    with pytest.raises(ValueError, match="salt_col"):
        salted_host_agg(df.drop("url"), ("chars_out", "sum"))
    # two counts no longer alias-collide
    out = salted_host_agg(df, ("url", "count"), ("lang", "count"))
    assert {"n_docs", "n_lang"} <= set(out.columns)

def test_quoted_gt_in_attribute_matches_std_parser():
    # '>' inside quoted attribute values must not terminate the tag early
    # (round-1 documented divergence, now closed): link text and link_chars
    # must match the stdlib parser exactly
    html = (
        '<html><body><p>before</p>'
        '<a href="/x?a>b" title=\'q>r\'>link text</a>'
        '<p>after words here</p></body></html>'
    )
    fast = [(b.text, b.link_chars) for b in extract.parse_blocks(html)]
    std = [(b.text, b.link_chars) for b in parse_blocks_std(html)]
    assert fast == std
    assert ("link text", 9) in fast


def test_stray_quote_in_unquoted_attribute_matches_std_parser():
    # a quote must only OPEN a quoted run after '=': a stray quote inside
    # an unquoted value (href=x'y) or quotes in TEXT must not swallow
    # document content (review finding on the quoted-'>' fix)
    cases = [
        "<p>start</p><a href=x'y>anchor</a><p>it's more text</p>",
        '<p>say "hi" and don\'t stop</p><a href=/x>go</a>',
        '<a href = "z>w">spaced eq</a><p>rest</p>',
    ]
    for html in cases:
        fast = [(b.text, b.link_chars) for b in extract.parse_blocks(html)]
        std = [(b.text, b.link_chars) for b in parse_blocks_std(html)]
        assert fast == std, html


def test_parser_equivalence_property():
    """Randomized cross-parser check: on well-formed-ish markup (nested
    block tags, anchors with quoted/unquoted/stray-quote attributes, void
    tags), the fast regex tokenizer must produce exactly the stdlib
    parser's blocks — text, link chars, tag counts and boiler flags."""
    from hypothesis import given, settings, strategies as st

    text = st.text(
        alphabet="abc d'e\"f.,!", min_size=1, max_size=12
    ).map(lambda s: s.strip() or "x")
    attr = st.sampled_from(
        ['"q>x"', "'a b'", "x'y", "/plain", '"it\'s"', "= \"z>w\""]
    )

    def unit(inner):
        return st.one_of(
            text,
            st.tuples(text).map(lambda t: f"<p>{t[0]}</p>"),
            st.tuples(attr, text).map(lambda t: f"<a href={t[0]}>{t[1]}</a>"),
            st.tuples(inner).map(lambda t: f"<div>{t[0]}</div>"),
            st.tuples(inner).map(lambda t: f"<nav>{t[0]}</nav>"),
            st.just("<br/>"),
            # stripped constructs, including '>' inside the bodies
            st.tuples(text).map(lambda t: f"<![CDATA[{t[0]} > xx]]>"),
            st.tuples(text).map(lambda t: f"<!-- {t[0]} > yy -->"),
            st.tuples(text).map(lambda t: f"<script>var a = 1 > 0; {t[0]}</script>"),
        )

    docs = st.recursive(text, unit, max_leaves=8).map(
        lambda body: f"<html><body>{body}</body></html>"
    )

    @given(docs)
    @settings(max_examples=120, deadline=None)
    def check(html):
        fast = [
            (b.text, b.link_chars, b.tag_count, b.in_boiler)
            for b in extract.parse_blocks(html)
        ]
        std = [
            (b.text, b.link_chars, b.tag_count, b.in_boiler)
            for b in parse_blocks_std(html)
        ]
        assert fast == std, html

    check()


def test_cdata_sections_match_std_parser():
    """A CDATA body containing '>' must be dropped whole, exactly as the
    stdlib parser does — the generic <!...> strip arm used to stop at the
    first '>' and leak the remainder as document text."""
    cases = [
        "<p>before <![CDATA[x > y]]> after</p>",
        "<p>a</p><![CDATA[<div>ignored > maybe</div>]]><p>b</p>",
        "<p>a <![CDATA[x]]> b <![CDATA[y > z]]> c</p>",
    ]
    for html in cases:
        std = [b.text for b in parse_blocks_std(html)]
        fast = [b.text for b in extract.parse_blocks(html)]
        assert fast == std, html


def test_parser_is_linear_on_adversarial_markup():
    """The tag tokenizer must be backtracking-free: unterminated tags with
    '="x' floods made the previous lazy regex exponential (one broken page
    could hang an executor task). Every adversarial input must parse in
    well under a second."""
    import time

    nasty = [
        "<a " + '="x' * 10000,
        "<a " + '="x" ' * 10000,
        "<a " + "=" * 50000,
        "<a href=" + "'" * 30000,
        "<p" + " " * 50000,
        "<" * 30000,
        "<a " + "='y" * 10000,
    ]
    for s in nasty:
        t0 = time.perf_counter()
        extract.parse_blocks(s)
        assert time.perf_counter() - t0 < 1.0, s[:40]


def test_possessive_tag_regex_keeps_quoted_gt_semantics():
    # committed quoted-value arms: same results as before on sane markup
    html = '<p>a <a href="q>x">t</a> b</p>'
    assert [b.text for b in extract.parse_blocks(html)] == ["a t b"]
    assert [b.text for b in parse_blocks_std(html)] == ["a t b"]
    # stray quote in an unquoted value still does not swallow text
    html2 = "<p>a <a href=x'y>t</a> b</p>"
    assert [b.text for b in extract.parse_blocks(html2)] == ["a t b"]
    # self-closing still detected through the '/' handling arms
    html3 = "<p>a<nav/>b</p>"
    fast = extract.parse_blocks(html3)
    std = parse_blocks_std(html3)
    assert [(b.text, b.in_boiler) for b in fast] == [(b.text, b.in_boiler) for b in std]


def test_unclosed_notext_subtrees_match_std_parser():
    """html.parser never leaves CDATA mode on an unclosed <script>/<style>,
    so the trailing text is dropped — the linear strip scanner now agrees
    (the old regex left the opener as a tag and LEAKED the body as text)."""
    cases = [
        "<p>a</p><script>abc def leak",
        "<p>a</p><style>x { color: red }",
        "<p>a</p><script>x</script><p>b</p>",  # closed: unaffected
    ]
    for html in cases:
        std = [b.text for b in parse_blocks_std(html)]
        fast = [b.text for b in extract.parse_blocks(html)]
        assert fast == std, html


def test_strip_scanner_linear_on_flood_inputs():
    import time

    floods = [
        "<script>" * 30000,
        "<!--" * 60000,
        "<![CDATA[" * 40000,
        "<script><!--<![CDATA[" * 20000,
    ]
    for s in floods:
        t0 = time.perf_counter()
        extract.parse_blocks(s)
        assert time.perf_counter() - t0 < 1.0, s[:30]


def test_self_closed_notext_openers_do_not_swallow(spark):
    """<svg/> and XHTML-style <script src=x/> open no subtree: only the
    tag itself is stripped (the first scanner version searched for a
    closer and swallowed the rest of the document)."""
    cases = [
        "<p>a</p><svg/><p>hello world</p>",
        '<p>a</p><script src="x"/><p>hello world</p>',
        "<p>a</p><title/><p>hello world</p>",
        "<p>a</p><svg/>x</svg><p>b</p>",  # stray closer stays inert
    ]
    for html in cases:
        std = [b.text for b in parse_blocks_std(html)]
        fast = [b.text for b in extract.parse_blocks(html)]
        assert fast == std, (html, std, fast)
        assert "hello world" in " ".join(fast) or "b" in " ".join(fast)


def test_unclosed_comment_comments_out_remainder():
    """HTML5 semantics (documented divergence from html.parser's replay
    quirk): an unclosed <!-- or <![CDATA[ swallows the rest."""
    assert [b.text for b in extract.parse_blocks(
        "<p>a</p><!-- x <script>drop()</script> tail")] == ["a"]
    assert [b.text for b in extract.parse_blocks(
        "<p>a</p><![CDATA[ tail words here")] == ["a"]


def _docs_dir(spark, tmp_path, texts):
    pdf = pd.DataFrame(
        {
            "doc_id": list(range(len(texts))),
            "text": texts,
            "lang": ["en"] * len(texts),
            "source": ["s"] * len(texts),
            "n_chars": [len(t or "") for t in texts],
        }
    )
    d = str(tmp_path)
    spark.createDataFrame(pdf).write.mode("overwrite").parquet(
        f"{d}/documents.parquet"
    )
    return d


def test_bpe_survives_u001f_in_corpus(spark, tmp_path, monkeypatch):
    # round-5 advice (medium): a document containing the internal wrap
    # separator U+001F crashed the whole BPE family — the '\x1f' piece
    # wrapped to '\x1f\x1f\x1f', the symbol array came back empty, and
    # F.slice(syms, 1, -1) raised INVALID_PARAMETER_VALUE.LENGTH. The
    # separator is now stripped at piece extraction (both engines).
    from sbb_ocr_postcorrection_spark.operators import bpe

    d = _docs_dir(
        spark,
        tmp_path,
        [
            "low lower lowest \x1f low low",   # sep mid-text
            "\x1f\x1f",                          # sep-only doc
            "newer newest low lower new new",
            "wider widest low lower new new",
        ],
    )
    monkeypatch.setattr(bpe, "DEFAULT_MERGES", 3)
    merges = bpe.train_merges(spark, d)
    assert len(merges) == 3
    assert all("\x1f" not in a + b for a, b in merges)
    tok = {r["doc_id"]: r for r in bpe.bpe_tokenize(spark, d).collect()}
    # the sep-only doc tokenizes as empty, not as a crash
    assert tok[1]["n_pieces"] == 0 and tok[1]["n_bpe_tokens"] == 0
    enc = {r["doc_id"]: r for r in bpe.bpe_encode(spark, d).collect()}
    assert enc[1]["n_tokens"] == 0 and list(enc[1]["token_ids"]) == []
    assert enc[0]["n_tokens"] == tok[0]["n_bpe_tokens"]


def test_phrase_search_empty_corpus_raises(spark, tmp_path):
    # round-5 advice (low): a corpus with no >=2-token document made the
    # self-derived probe collect come back empty → opaque IndexError
    from sbb_ocr_postcorrection_spark.operators.index import phrase_search

    d = _docs_dir(spark, tmp_path, ["one", "two", ""])
    with pytest.raises(ValueError, match="no bigrams"):
        phrase_search(spark, d)
