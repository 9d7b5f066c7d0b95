"""HTML → scored text blocks: the Detector-stage boilerplate strip.

Pure Python (one regex tokenizer, ``parse_blocks``), fully deterministic —
runs identically in the single-node oracle and inside Arrow-batched Spark
kernels. Its semantic yardstick, a stdlib ``html.parser`` implementation
(``parse_blocks_std``), lives in tests/oracles.py.

Semantics (graft analog of the reference's page-region dataflow, SURVEY.md
§2.1 S1/S2 and §2.5 W2):

* an incremental SAX-style parse walks the document, the analog of the
  reference's streaming TEI handler (preprocessing/xml_parser.py:15-52);
* text is accumulated into *blocks* at block-level element boundaries, each
  block tracking total chars, chars inside <a> (link chars), and tag count;
* blocks are scored with boilerpipe-style heuristics: link density and text
  length decide content vs boilerplate;
* a gaps-and-islands pass (helpers.py:137-223 analog) merges adjacent
  content blocks into islands and rescues short blocks sandwiched between
  content neighbors — the reference's adjacent-run segmentation re-expressed
  over DOM block indexes.
"""

from __future__ import annotations

import html as _htmllib
import re as _re
from dataclasses import dataclass, field

from .textkit import nfc

# Elements that terminate a text block.
_BLOCK_TAGS = frozenset(
    ("p", "div", "section", "article", "main", "header", "footer", "nav",
     "aside", "ul", "ol", "li", "table", "tr", "td", "th", "h1", "h2", "h3",
     "h4", "h5", "h6", "blockquote", "pre", "br", "hr", "figure",
     "figcaption", "form")
)
# Ancestors that mark a block as structural boilerplate.
_BOILER_ANCESTORS = frozenset(("nav", "header", "footer", "aside", "form"))

MIN_CONTENT_CHARS = 25
MAX_LINK_DENSITY = 0.33


@dataclass(slots=True)
class Block:
    """One contiguous text block with its boilerplate features.

    slots=True: ~60 Blocks per document are allocated in the kernel hot
    loop; slotted instances construct faster and halve per-object memory."""

    index: int
    text: str = ""
    link_chars: int = 0
    tag_count: int = 0
    in_boiler: bool = False
    is_content: bool = field(default=False)

    @property
    def link_density(self) -> float:
        return self.link_chars / len(self.text) if self.text else 0.0


# strip comments and no-text subtrees before tokenizing — as a LINEAR
# manual scan, not one big `.*?`-alternation sub: the sub form re-scanned
# to EOF at every unclosed opener (quadratic — a 24 KB flood of bare
# '<script>'s cost ~300 ms, a megabyte page minutes). The scanner finds
# each opener once, locates its closer with a C-level search, and
# remembers closers known to be absent so an unclosed-opener flood costs
# at most one failed scan per closer kind.
#
# Unclosed-construct semantics: every unclosed construct swallows the rest
# of the document. For script/style subtrees that mirrors html.parser
# (which never leaves CDATA mode); for comments/CDATA it follows the HTML5
# spec and real browsers (an unclosed '<!--' comments out the remainder) —
# a DOCUMENTED divergence from html.parser's quirk of replaying the tail
# as text. A SELF-CLOSED opener (<svg/>, XHTML <script .../>)
# opens no subtree: only the tag itself is stripped. CDATA is matched to
# its ']]>' terminator BEFORE the generic <!...> arm — a CDATA body
# containing '>' must not leak text the stdlib parser drops.
_NOTEXT_TAGS = ("script", "style", "noscript", "template", "svg", "head", "title")
_STRIP_OPEN_RE = _re.compile(
    r"<!--|<!\[CDATA\[|<(" + "|".join(_NOTEXT_TAGS) + r")\b[^>]*+>"
    r"|<![^>]*+>|<\?[^>]*+>",
    _re.IGNORECASE,
)
_CLOSE_RES = {
    t: _re.compile(rf"</{t}\s*+>", _re.IGNORECASE) for t in _NOTEXT_TAGS
}


def _strip_notext(doc: str) -> str:
    """Remove comments, CDATA sections, declarations/PIs, and the no-text
    element subtrees, replacing each with one space. Linear in len(doc):
    each opener is found once and its closer located by one C-level search;
    an unclosed construct ends the scan (it swallows the remainder), so no
    position is ever re-scanned."""
    out: list[str] = []
    pos = 0
    search = _STRIP_OPEN_RE.search
    while True:
        m = search(doc, pos)
        if m is None:
            out.append(doc[pos:])
            break
        out.append(doc[pos : m.start()])
        out.append(" ")
        tok = m.group(0)
        tag = m.group(1)
        if tag is not None:  # <script ...> et al.
            if tok.endswith("/>"):  # self-closed: no subtree to strip
                pos = m.end()
                continue
            cm = _CLOSE_RES[tag.lower()].search(doc, m.end())
            if cm is None:
                break  # unclosed subtree swallows the rest
            pos = cm.end()
        elif tok == "<!--":
            end = doc.find("-->", m.end())
            if end == -1:
                break  # HTML5: an unclosed comment runs to EOF
            pos = end + 3
        elif tok == "<![CDATA[":
            end = doc.find("]]>", m.end())
            if end == -1:
                break
            pos = end + 3
        else:
            # <!...> declaration or <?...> PI — self-delimited by the match
            pos = m.end()
    return "".join(out)
# attribute values may contain '>' — skip quoted runs instead of stopping
# at the first '>' (the r1 divergence vs parse_blocks_std on real-web
# markup). A quote only OPENS a quoted run straight after '=': a stray
# quote inside an unquoted value (href=x'y) must not swallow document text.
#
# All quantifiers are POSSESSIVE (Python 3.11 re): each arm commits, so the
# scan is LINEAR in input length. The previous lazy/backtracking form was
# exponential on unterminated tags containing '="x' runs (a 750-byte
# adversarial fragment hung the kernel for minutes — a real hazard on
# broken web HTML). The committed-arm semantics equal the old first-found
# DFS path on every input where the old form matched a tag; the one
# divergence class is an UNTERMINATED tag whose only '>' sits inside a
# quoted value — now conservatively left as text instead of ending the tag
# mid-quote. '/' is consumed only when not followed by '>', leaving the
# final '/' for the self-closing group.
_TAG_RE = _re.compile(
    r"""<(/?)([a-zA-Z][a-zA-Z0-9]*)"""
    r"""((?:=\s*+"[^"]*+"|=\s*+'[^']*+'|/(?!>)|[^>/])*+)(/?)>"""
)

# tag-name → action bitmask, cached on the RAW (pre-lowercase) token so
# the hot loop does ONE dict hit instead of lower() + up to three set
# probes per tag. BITS, not an enum: the boiler ancestors (nav/header/
# footer/aside/form) are ALSO block tags, so a tag can be both. The cache
# is module-level (shared across documents in a worker) and SIZE-CAPPED:
# tag names are attacker-controlled on web HTML, so an unbounded memo
# would be a memory leak under a flood of distinct fake tags — past the
# cap, unknown names are classified without caching.
_CLS_BLOCK, _CLS_ANCHOR, _CLS_BOILER = 1, 2, 4
_TAG_CLASS_CAP = 4096
_TAG_CLASS: dict[str, int] = {}


def parse_blocks(html: bytes | str) -> list[Block]:
    """Fast regex-tokenizer parse: identical Block semantics to the
    stdlib-parser oracle (tests/oracles.parse_blocks_std) on sane markup
    INCLUDING quoted '>' inside attribute values (tests pin equality); both
    the per-document oracle and the Spark kernel share THIS code, so
    byte-identity holds by construction.

    Tokenizes with ONE ``_TAG_RE.split`` over the document — the result
    alternates [text, closing, tag, attrs, self_closing, text, ...] — so the
    hot loop touches plain list slots instead of allocating a Match object
    per tag (span/groups calls were ~25% of parse time). The `if parts`
    guard stays inline because most block boundaries carry no accumulated
    text and only need the two counter resets; the non-empty emit is one
    shared closure so loop and tail cannot diverge."""
    if isinstance(html, (bytes, bytearray)):
        html = html.decode("utf-8", errors="replace")
    doc = _strip_notext(nfc(html))

    toks = _TAG_RE.split(doc)
    blocks: list[Block] = []
    parts: list[str] = []
    link_chars = 0
    tag_count = 0
    anchor_depth = 0
    boiler_depth = 0
    unescape = _htmllib.unescape
    block_tags = _BLOCK_TAGS
    boiler_tags = _BOILER_ANCESTORS
    klass = _TAG_CLASS

    def emit() -> None:
        # only called with non-empty parts (~13×/doc, not per boundary);
        # single-part blocks (most of them) skip the first join
        nonlocal parts, link_chars, tag_count
        joined = parts[0] if len(parts) == 1 else " ".join(parts)
        text = " ".join(joined.split())
        if text:
            blocks.append(
                Block(
                    index=len(blocks),
                    text=text,
                    link_chars=link_chars,
                    tag_count=tag_count,
                    in_boiler=boiler_depth > 0,
                )
            )
        parts = []
        link_chars = 0
        tag_count = 0

    n = len(toks)
    i = 0
    while True:
        data = toks[i]
        if data:
            # inline guard: unescape's own '&' check costs a call per slot
            if "&" in data:
                data = unescape(data)
            if data:
                parts.append(data)
                if anchor_depth:
                    link_chars += len(" ".join(data.split()))
        i += 1
        if i >= n:
            break
        closing = toks[i]
        raw_tag = toks[i + 1]
        self_closing = toks[i + 3]
        i += 4
        cls = klass.get(raw_tag)
        if cls is None:
            t = raw_tag.lower()
            cls = 0
            if t in block_tags:
                cls = _CLS_BLOCK
            if t == "a":
                cls |= _CLS_ANCHOR
            elif t in boiler_tags:
                cls |= _CLS_BOILER
            if len(klass) < _TAG_CLASS_CAP:
                klass[raw_tag] = cls
        if not closing:
            tag_count += 1
        if cls:
            if cls & _CLS_BLOCK:
                if parts:
                    emit()
                else:
                    link_chars = 0
                    tag_count = 0
            # a self-closed <nav/> / <a/> must not leave a dangling depth:
            # it would mark the whole rest of the document as boiler/link
            # text (parse_blocks_std balances these via handle_startendtag)
            if cls > _CLS_BLOCK and not self_closing:
                if cls & _CLS_ANCHOR:
                    anchor_depth = max(0, anchor_depth + (-1 if closing else 1))
                else:
                    boiler_depth = max(0, boiler_depth + (-1 if closing else 1))
    if parts:
        emit()
    return blocks


def classify_blocks(blocks: list[Block]) -> list[Block]:
    """Score blocks content/boilerplate, then run the gaps-and-islands merge.

    Base rule: content iff not inside nav/header/footer/aside/form, at least
    MIN_CONTENT_CHARS chars, and link density ≤ MAX_LINK_DENSITY.
    Island rescue: a non-content block (that is not structurally boiler and
    not link-dominated) with content blocks on both sides becomes content —
    the adjacent-run merge of the reference's segmentation.
    """
    for b in blocks:
        b.is_content = (
            not b.in_boiler
            and len(b.text) >= MIN_CONTENT_CHARS
            and b.link_density <= MAX_LINK_DENSITY
        )
    flags = [b.is_content for b in blocks]
    for i in range(1, len(blocks) - 1):
        if (
            not flags[i]
            and flags[i - 1]
            and flags[i + 1]
            and not blocks[i].in_boiler
            and blocks[i].link_density <= MAX_LINK_DENSITY
        ):
            blocks[i].is_content = True
    return blocks


def extract_blocks(html: bytes | str) -> list[Block]:
    """parse + classify; returns all blocks with is_content set."""
    return classify_blocks(parse_blocks(html))


def content_text(blocks: list[Block]) -> str:
    """Join content blocks with a single newline, document order."""
    return "\n".join(b.text for b in blocks if b.is_content)
