"""Character-ngram noisy-span detector — the DetectorLSTM analog.

The reference's Detector (mt/models/error_detector.py:5-67) labels each
character of a line as ok/error and flags the line if any char is an error
(mt/cli_correct.py:1149-1155). Our deterministic graft analog scores each
*token* of a text block with character-level evidence and emits the same
shape of output: per-span flags plus a document-level hit rate. No torch, no
floats-near-threshold nondeterminism — pure integer/str logic, so retried
Spark tasks are byte-identical (SURVEY.md §7.3).

Signals per token (lowercased):
* dictionary membership (broadcast-set lookup, heuristics.py:201-223 analog)
* contains a known noisy confusion pattern whose clean substitution IS in
  the dictionary (the ocr_errors.txt pattern table)
* digit/letter mix or non-word chars inside the token

A token is flagged iff it is NOT in the dictionary AND (a confusion repair
exists OR it mixes digits into letters). Numeric and pure-punctuation tokens
are never flagged (heuristics.py:201-219 predicates).
"""

from __future__ import annotations

import re
from functools import lru_cache

from .correct import best_correction
from .wordlists import DICTIONARY

_NUMERIC_RE = re.compile(r"^[\d.,:/%-]+$")
_HAS_DIGIT_RE = re.compile(r"\d")
_HAS_ALPHA_RE = re.compile(r"[^\W\d_]", re.UNICODE)
_STRIP_PUNCT_RE = re.compile(r"^\W+|\W+$", re.UNICODE)

# One token span inside a block's text is a PLAIN tuple
# ``(start, end, flagged)`` — [start, end) char offsets. It was a NamedTuple
# (SpanFlag); profiling showed the namedtuple constructor (an eval'd lambda
# wrapping tuple.__new__) cost ~4× a literal tuple at ~116 spans/document,
# ~10% of the whole kernel. Consumers index s[0]/s[1]/s[2]. The SpanFlag
# name is gone on purpose: an alias would let old constructor/attribute
# call sites import fine and then fail (or worse, half-work) at runtime —
# an ImportError at the call site is the honest failure.


def core_token(token: str) -> str:
    """Strip leading/trailing punctuation; lowercase."""
    return _STRIP_PUNCT_RE.sub("", token).lower()


@lru_cache(maxsize=65536)
def is_noisy_token(token: str) -> bool:
    """Deterministic noisiness predicate for one token."""
    core = core_token(token)
    if not core or core in DICTIONARY:
        return False
    if _NUMERIC_RE.match(core):
        return False
    mixed = bool(_HAS_DIGIT_RE.search(core)) and bool(_HAS_ALPHA_RE.search(core))
    if mixed:
        return True
    # flag only if a confusion-pattern repair lands in the dictionary —
    # otherwise it is just an out-of-vocabulary word, not OCR-style noise
    return best_correction(core) is not None


def flag_spans_counted(text: str) -> tuple[list[tuple[int, int, bool]], int]:
    """Tokenize by whitespace, flag noisy tokens; offsets into `text`.
    Returns ``(spans, n_flagged)`` — the flagged count is accumulated here
    where the flag is already a local, so callers (run_document's
    counters, the host-metrics rollup) never re-scan the span list just
    to count.

    str.split + an advancing C-level find recovers each token's offset
    without allocating a Match per token (~18% faster than the regex scan
    it replaces; equality on arbitrary whitespace is pytest-pinned). The
    per-token predicate is lru_cached — token distributions are Zipfian, so
    the hit rate is high on real corpora too."""
    noisy = is_noisy_token
    res: list[tuple[int, int, bool]] = []
    append = res.append
    pos = 0
    nf = 0
    find = text.find
    for tok in text.split():
        start = find(tok, pos)
        pos = start + len(tok)
        f = noisy(tok)
        nf += f
        append((start, pos, f))
    return res, nf
