"""Kernel invariants that hold for any input, not just the golden pages.

* Span offsets: every output span slices ``extracted_text`` to its input
  token, corrected if flagged and unchanged if not, and the spans run in
  order without overlap.
* The fast block parser agrees with ``parse_blocks_std`` on blocks made
  only of Unicode whitespace: both drop exactly the blocks whose text
  collapses to nothing, so block counts and indexes agree.
"""

from hypothesis import given, settings, strategies as st

from sbb_ocr_postcorrection_spark import extract
from sbb_ocr_postcorrection_spark.correct import correct_token
from sbb_ocr_postcorrection_spark.datagen import make_page, make_rich_page
from sbb_ocr_postcorrection_spark.kernel import detect_document, run_document
from sbb_ocr_postcorrection_spark.wordlists import DICTIONARY, NOISE_SUBS

from oracles import parse_blocks_std

_WORDS = sorted(DICTIONARY)
# whitespace for str.split (which collapses block text), not just ASCII;
# "&nbsp;" unescapes to U+00A0
_WHITESPACE = [
    " ", "  ", "\t", "\n", "\u3000", "\x1c", "\x1d", "\x1e", "\x1f",
    "\x85", "\u2028", "&nbsp;",
]


def _noised(word: str, k: int) -> str:
    """``word`` with its k-th applicable clean→noisy substitution, if any."""
    subs = [(c, n) for c, n in NOISE_SUBS if c in word]
    if not k or not subs:
        return word
    clean, noisy = subs[(k - 1) % len(subs)]
    i = word.find(clean)
    return word[:i] + noisy + word[i + len(clean):]


_token = st.one_of(
    st.builds(
        lambda w, k, cap, lead, tail: lead + (
            _noised(w, k).capitalize() if cap else _noised(w, k)
        ) + tail,
        st.sampled_from(_WORDS),
        st.integers(0, 3),
        st.booleans(),
        st.sampled_from(["", "(", '"']),
        st.sampled_from(["", ".", ",", "!", ")"]),
    ),
    st.sampled_from(["1st", "a1b", "w0rd", "12,5", "--", "x", "Ümlaut"]),
)
_block = st.tuples(
    st.lists(_token, min_size=1, max_size=14),
    st.lists(st.sampled_from(_WHITESPACE), min_size=1, max_size=3),
).map(lambda t: "".join(
    tok + t[1][i % len(t[1])] for i, tok in enumerate(t[0])
))
_body = st.lists(_block, min_size=1, max_size=6).map(
    lambda blocks: "<html><body>" + "".join(f"<p>{b}</p>" for b in blocks)
    + "</body></html>"
)
_page = st.builds(
    lambda maker, i, noise: maker(7, i, noise).html,
    st.sampled_from([make_page, make_rich_page]),
    st.integers(0, 10**6),
    st.sampled_from([0.0, 0.12, 0.5]),
)


def _check_spans(html) -> None:
    detections, _, _ = detect_document(html)
    r = run_document(html)
    tokens = [(d.text[s:e], f) for d in detections for s, e, f in d.spans]
    assert len(r.spans) == len(tokens) == r.n_spans
    prev_end = 0
    for (start, end, flagged), (token, flagged_in) in zip(r.spans, tokens):
        assert flagged == flagged_in
        assert prev_end <= start <= end
        want = correct_token(token) if flagged else token
        assert r.extracted_text[start:end] == want
        prev_end = end
    # undoing every correction restores the content blocks: the text
    # between spans is copied unchanged
    text = r.extracted_text
    for (start, end, flagged), (token, _) in reversed(list(zip(r.spans, tokens))):
        if flagged:
            text = text[:start] + token + text[end:]
    assert text == "\n".join(d.text for d in detections)


@given(_body)
@settings(max_examples=150, deadline=None)
def test_spans_slice_their_tokens(html):
    _check_spans(html)


@given(_page)
@settings(max_examples=40, deadline=None)
def test_spans_slice_their_tokens_on_generated_pages(html):
    _check_spans(html)


def _blocks(parse, html):
    blocks = parse(html)
    return len(blocks), [(b.index, b.text, b.in_boiler) for b in blocks]


_CONTENT = "real content words long enough to be a block"
_WS_ONLY = [
    "\u3000", "\x1c", "\x1d", "\x1e", "\x1f", "\x85", "\u2028", "&nbsp;",
    "\u3000\x1c\x1d\x1e\x1f\x85\u2028&nbsp;", " &nbsp; \u3000 ",
]


def test_whitespace_only_blocks_match_std_parser():
    for ws in _WS_ONLY:
        cases = [
            f"<p>{ws}</p>",
            f"<nav>{ws}</nav><p>{_CONTENT}</p>",
            f"<p>{_CONTENT}</p><p>{ws}</p><p>{_CONTENT}</p>",
            f"<footer><div>{ws}</div><div>menu</div></footer>",
            # several parts in one block: <a> and <span> do not end it
            f"<p><a href=x>{ws}</a>{ws}<span>{ws}</span></p><p>{_CONTENT}</p>",
            f"<header><a>{ws}</a><b>{ws}</b></header><p>{ws}x{ws}</p>",
            f"{ws}<p>{_CONTENT}</p>{ws}",
        ]
        for html in cases:
            fast = _blocks(extract.parse_blocks, html)
            assert fast == _blocks(parse_blocks_std, html), repr(html)


@given(st.lists(
    st.tuples(
        st.sampled_from(["p", "div", "nav", "footer", "li"]),
        st.lists(st.sampled_from(_WS_ONLY + ["word", "<a>link</a>", _CONTENT]),
                 min_size=1, max_size=4),
    ),
    min_size=1, max_size=8,
))
@settings(max_examples=150, deadline=None)
def test_whitespace_mixed_blocks_match_std_parser(units):
    html = "<html><body>" + "".join(
        f"<{tag}>{''.join(parts)}</{tag}>" for tag, parts in units
    ) + "</body></html>"
    fast = _blocks(extract.parse_blocks, html)
    assert fast == _blocks(parse_blocks_std, html), repr(html)
