"""Pure string functions — the F1..F18 scalar-function surface of SURVEY.md §2.8.

Everything here is deterministic, side-effect free and NumPy/stdlib only, so
the same code runs inside the single-node oracle and inside Arrow-batched
Spark kernels (byte-identity by construction).

Reference parity notes (behavior re-derived, no code copied):
* NFC normalization — reference normalizes before any comparison
  (helpers.py:321-343); Spark has no NFC builtin, so it lives here.
* Levenshtein is our own DP implementation — NOT Spark's builtin — because
  the reference uses dinglehopper's edit distance and we need one definition
  on both the oracle and Spark sides.
"""

from __future__ import annotations

import unicodedata


def nfc(s: str) -> str:
    """Unicode NFC normalization (F1)."""
    return unicodedata.normalize("NFC", s)


def _levenshtein_np(a: str, b: str) -> int:
    """Row-vectorized DP for long strings: the substitution/deletion mins
    vectorize per row; the insertion term is a running minimum (cumulative),
    computed via np.minimum.accumulate on (prev_min - index)."""
    import numpy as np

    ca = np.frombuffer(a.encode("utf-32-le"), dtype=np.uint32)
    cb = np.frombuffer(b.encode("utf-32-le"), dtype=np.uint32)
    prev = np.arange(len(ca) + 1, dtype=np.int64)
    idx = np.arange(1, len(ca) + 1, dtype=np.int64)
    cur = np.empty(len(ca) + 1, dtype=np.int64)
    for j in range(1, len(cb) + 1):
        best = np.minimum(prev[:-1] + (ca != cb[j - 1]), prev[1:] + 1)
        # cur[i] = min(best[i], cur[i-1] + 1); with f[i] = cur[i] - i this is
        # f[i] = min(best[i] - i, f[i-1]), a prefix-min seeded by f[0] = j
        f = np.minimum.accumulate(np.concatenate(([j], best - idx)))
        cur[0] = j
        cur[1:] = f[1:] + idx
        prev, cur = cur, prev
    return int(prev[-1])


def levenshtein(a: str, b: str) -> int:
    """Edit distance, classic two-row DP (F12). Deterministic; switches to
    a row-vectorized NumPy DP for long inputs (same values, ~10× faster on
    the alignment kernel's 150+-char lines)."""
    if a == b:
        return 0
    if not a:
        return len(b)
    if not b:
        return len(a)
    if len(a) > len(b):
        a, b = b, a
    if len(b) >= 48:
        return _levenshtein_np(a, b)
    prev = list(range(len(a) + 1))
    for j, cb in enumerate(b, start=1):
        cur = [j]
        for i, ca in enumerate(a, start=1):
            cur.append(min(prev[i] + 1, cur[i - 1] + 1, prev[i - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def cer(ocr: str, gt: str) -> float:
    """Character error rate = distance / len(gt) (F13 semantics).

    CODE-POINT definition — matches the DuckDB levenshtein oracle exactly.
    The reference's CER (dinglehopper, via preprocessing/
    sequence_similarity.py:1-2) counts GRAPHEME CLUSTERS; use
    cer_clusters/levenshtein_clusters for that parity (SURVEY §7.3). After
    NFC the two agree except on clusters with no precomposed form
    (multi-mark stacks, ZWJ sequences, regional-indicator flags)."""
    if not gt:
        return 0.0 if not ocr else float(len(ocr))
    return levenshtein(ocr, gt) / len(gt)


# ------------------------------------------------ grapheme-cluster parity --
# Full UAX #29 extended grapheme clusters (rules GB1-GB13), implemented
# from the published spec with Grapheme_Cluster_Break classes derived
# from unicodedata categories plus the spec's explicit code-point lists
# (Prepend, Hangul L/V/T blocks, regional indicators). The one documented
# approximation: Extended_Pictographic is the emoji BLOCKS rather than
# the full emoji-data.txt enumeration. Known divergence (narrowed per
# ADVICE r6): symbols in those blocks that emoji-data.txt excludes are
# still treated as pictographic — visible only to GB11 joining of
# non-emoji symbols, never to ordinary text; skin-tone modifiers are
# correctly Extend (carved out of the block check) and GB11 arms on
# exactly one trailing ZWJ, so all real emoji sequences are per-spec.

_CR, _LF, _CONTROL = 1, 2, 3
_EXTEND, _ZWJ_CLS, _RI, _PREPEND, _SPACING = 4, 5, 6, 7, 8
_HANG_L, _HANG_V, _HANG_T, _HANG_LV, _HANG_LVT = 9, 10, 11, 12, 13
_XPICTO, _OTHER = 14, 0

# Grapheme_Cluster_Break=Prepend (GraphemeBreakProperty.txt): Arabic/
# Syriac/Kaithi number signs, Malayalam/Masaram/Dogra/Zanabazar prefixed
# consonants -- the complete class as published
_PREPEND_CPS = frozenset(
    list(range(0x0600, 0x0606))
    + [0x06DD, 0x070F, 0x0890, 0x0891, 0x08E2, 0x0D4E, 0x110BD, 0x110CD]
    + list(range(0x111C2, 0x111C4))
    + [0x1193F, 0x11941, 0x11A3A]
    + list(range(0x11A84, 0x11A8A))
    + [0x11D46, 0x11F02]
)


def _gcb(ch: str) -> int:
    """Grapheme_Cluster_Break class of one code point."""
    cp = ord(ch)
    if cp == 0x0D:
        return _CR
    if cp == 0x0A:
        return _LF
    if cp == 0x200D:
        return _ZWJ_CLS
    if 0x1F1E6 <= cp <= 0x1F1FF:
        return _RI
    if cp in _PREPEND_CPS:
        return _PREPEND
    # Hangul syllable classes
    if 0x1100 <= cp <= 0x115F or 0xA960 <= cp <= 0xA97C:
        return _HANG_L
    if 0x1160 <= cp <= 0x11A7 or 0xD7B0 <= cp <= 0xD7C6:
        return _HANG_V
    if 0x11A8 <= cp <= 0x11FF or 0xD7CB <= cp <= 0xD7FB:
        return _HANG_T
    if 0xAC00 <= cp <= 0xD7A3:
        return _HANG_LV if (cp - 0xAC00) % 28 == 0 else _HANG_LVT
    cat = unicodedata.category(ch)
    if cat in ("Mn", "Me"):
        return _EXTEND
    if cp in (0x200C, 0xFF9E, 0xFF9F) or 0xFE00 <= cp <= 0xFE0F:
        return _EXTEND  # ZWNJ, halfwidth voiced marks, variation selectors
    if 0x1F3FB <= cp <= 0x1F3FF:
        # emoji skin-tone modifiers have Grapheme_Cluster_Break=Extend
        # (ADVICE r6): classifying them Extended_Pictographic via the
        # block check below would break base+modifier into two clusters
        return _EXTEND
    if cat == "Mc":
        return _SPACING
    if cat in ("Cc", "Zl", "Zp") or (cat == "Cf" and cp != 0x200D):
        return _CONTROL
    # Extended_Pictographic: the emoji blocks (see module note)
    if (
        0x1F000 <= cp <= 0x1FAFF
        or 0x2600 <= cp <= 0x27BF
        or 0x2B00 <= cp <= 0x2BFF
        or cp in (0x00A9, 0x00AE, 0x203C, 0x2049, 0x2122, 0x2139, 0x24C2,
                  0x3030, 0x303D, 0x3297, 0x3299)
    ):
        return _XPICTO
    return _OTHER


def grapheme_clusters(s: str) -> list[str]:
    """Extended grapheme clusters per UAX #29 GB1-GB13 -- dinglehopper's
    unit of edit distance. CRLF is one cluster (GB3); controls always
    break (GB4/5); Hangul L/V/T/LV/LVT compose syllables (GB6-8);
    Extend/ZWJ/SpacingMark attach to the preceding base (GB9/9a);
    Prepend attaches to the FOLLOWING base (GB9b); emoji ZWJ sequences
    join only when the joiner follows a pictographic base (GB11 -- a ZWJ
    between plain letters ends its cluster, per spec); regional
    indicators pair up (GB12/13)."""
    clusters: list[str] = []
    cur: list[str] = []
    prev_cls = None
    ri_run = 0          # consecutive RI immediately before the next char
    gb11_armed = False  # saw ExtPict Extend* and then ZWJ
    gb11_state = 0      # 0: idle, 1: in ExtPict Extend*
    for ch in s:
        cls = _gcb(ch)
        if prev_cls is None:
            brk = True  # GB1
        elif prev_cls == _CR and cls == _LF:
            brk = False  # GB3
        elif prev_cls in (_CONTROL, _CR, _LF):
            brk = True  # GB4
        elif cls in (_CONTROL, _CR, _LF):
            brk = True  # GB5
        elif prev_cls == _HANG_L and cls in (
            _HANG_L, _HANG_V, _HANG_LV, _HANG_LVT
        ):
            brk = False  # GB6
        elif prev_cls in (_HANG_LV, _HANG_V) and cls in (_HANG_V, _HANG_T):
            brk = False  # GB7
        elif prev_cls in (_HANG_LVT, _HANG_T) and cls == _HANG_T:
            brk = False  # GB8
        elif cls in (_EXTEND, _ZWJ_CLS):
            brk = False  # GB9
        elif cls == _SPACING:
            brk = False  # GB9a
        elif prev_cls == _PREPEND:
            brk = False  # GB9b
        elif prev_cls == _ZWJ_CLS and cls == _XPICTO and gb11_armed:
            brk = False  # GB11
        elif prev_cls == _RI and cls == _RI and ri_run % 2 == 1:
            brk = False  # GB12/13
        else:
            brk = True  # GB999
        if brk:
            if cur:
                clusters.append("".join(cur))
            cur = [ch]
        else:
            cur.append(ch)
        # GB11 sequence state: ExtPict Extend* ZWJ x ExtPict. Only
        # Extend* and then exactly ONE final ZWJ may precede the joined
        # pictographic (ADVICE r6): a second ZWJ, or Extend AFTER the
        # joiner, leaves the regex unmatchable until a fresh ExtPict.
        if cls == _XPICTO:
            gb11_state, gb11_armed = 1, False
        elif gb11_state == 1 and not gb11_armed and cls == _EXTEND:
            pass  # absorbing Extend* before the joiner
        elif gb11_state == 1 and not gb11_armed and cls == _ZWJ_CLS:
            gb11_armed = True
        else:
            gb11_state, gb11_armed = 0, False
        ri_run = ri_run + 1 if cls == _RI else 0
        prev_cls = cls
    if cur:
        clusters.append("".join(cur))
    return clusters


def levenshtein_clusters(a: str, b: str) -> int:
    """Edit distance over grapheme clusters of the NFC forms — the
    reference's distance definition (dinglehopper edit_distance.distance).
    Sequence-generic two-row DP; cluster lists are short (one element per
    visible glyph), so the NumPy path isn't needed here."""
    ca = grapheme_clusters(nfc(a))
    cb = grapheme_clusters(nfc(b))
    if ca == cb:
        return 0
    if not ca:
        return len(cb)
    if not cb:
        return len(ca)
    if len(ca) > len(cb):
        ca, cb = cb, ca
    prev = list(range(len(ca) + 1))
    for j, gb in enumerate(cb, start=1):
        cur = [j]
        for i, ga in enumerate(ca, start=1):
            cur.append(min(prev[i] + 1, cur[i - 1] + 1, prev[i - 1] + (ga != gb)))
        prev = cur
    return prev[-1]


def cer_clusters(ocr: str, gt: str) -> float:
    """Grapheme-cluster CER with dinglehopper's exact convention
    (character_error_rate_n): distance over NFC cluster sequences divided
    by the number of clusters in the REFERENCE (gt); 0/0 → 0.0, d/0 → inf."""
    d = levenshtein_clusters(ocr, gt)
    n = len(grapheme_clusters(nfc(gt)))
    if d == 0:
        return 0.0
    if n == 0:
        return float("inf")
    return d / n

