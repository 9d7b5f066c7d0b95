"""Learned-BPE operator tests: merge selection against a from-first-
principles reference trainer, the anchored-replace ≡ greedy-merge law,
token-count conservation, and the exhaustion guard."""

import pytest

from sbb_ocr_postcorrection_spark.operators import bpe
from sbb_ocr_postcorrection_spark.operators.bpe import (
    SEP,
    bpe_tokenize,
    train_merges,
)

SF = "/root/testdata/sf0.001"


# -------------------------------------------------------- pure reference


def _ref_merge_word(syms, a, b):
    """Greedy left-to-right adjacent merge of (a, b) on a symbol list —
    the textbook definition the string-replace form must equal."""
    out = []
    i = 0
    while i < len(syms):
        if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
            out.append(a + b)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


def _ref_train(word_freqs, num_merges):
    """Classic BPE training over a word-frequency dict with the pinned
    tie-break (max count, then lexicographic pair)."""
    vocab = {tuple(w): f for w, f in word_freqs.items()}
    merges = []
    for _ in range(num_merges):
        pairs = {}
        for syms, f in vocab.items():
            for i in range(len(syms) - 1):
                pairs[syms[i], syms[i + 1]] = pairs.get((syms[i], syms[i + 1]), 0) + f
        if not pairs:
            break
        a, b = min(pairs, key=lambda p: (-pairs[p], p))
        merges.append((a, b))
        vocab = {
            tuple(_ref_merge_word(list(s), a, b)): f for s, f in vocab.items()
        }
    return merges


def _wrap(syms):
    return "".join(SEP + s + SEP for s in syms)


def test_anchored_replace_equals_greedy_merge():
    """␟a␟b␟ → ␟ab␟ string replace == greedy adjacent merge, including
    the traps: overlapping runs (aaa), shared boundaries (abab), and a
    symbol that is a prefix/suffix of another (xa + b must NOT match
    merge (a, b))."""
    cases = [
        (["a", "a", "a"], ("a", "a"), ["aa", "a"]),
        (["a", "a", "a", "a"], ("a", "a"), ["aa", "aa"]),
        (["a", "b", "a", "b"], ("a", "b"), ["ab", "ab"]),
        (["a", "b", "b"], ("a", "b"), ["ab", "b"]),
        (["xa", "b"], ("a", "b"), ["xa", "b"]),
        (["a", "bx"], ("a", "b"), ["a", "bx"]),
        (["lo", "w", "e", "r"], ("lo", "w"), ["low", "e", "r"]),
    ]
    for syms, (a, b), want in cases:
        got = _wrap(syms).replace(
            SEP + a + SEP + SEP + b + SEP, SEP + a + b + SEP
        )
        assert got == _wrap(want), (syms, (a, b))
        assert _ref_merge_word(syms, a, b) == want, (syms, (a, b))


# ------------------------------------------------------------ spark side


def test_train_merges_matches_reference_trainer(spark, monkeypatch):
    """Distributed training == the classic single-machine trainer on an
    injected corpus with real tie-breaks (low/lower/lowest plus digit
    runs and punctuation pieces)."""
    rows = [
        (1, "low lower lowest low"),
        (2, "new newer low!"),
        (3, "newest 2024 2024 lowly"),
        (4, None),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    monkeypatch.setattr(bpe, "DEFAULT_MERGES", 6)
    got = train_merges(spark, SF, docs=docs)

    import re

    from sbb_ocr_postcorrection_spark.operators.textstats import _BPE_PATTERN

    freqs = {}
    for _, text in rows:
        for piece in re.findall(_BPE_PATTERN, text or ""):
            freqs[piece] = freqs.get(piece, 0) + 1
    want = _ref_train(freqs, 6)
    assert got == want


def test_bpe_tokenize_conservation(spark):
    """Under the learned merges every document's BPE token count sits
    between its piece count (each piece ≥ 1 token) and its piece char
    total (zero merges applied), and strictly fewer total tokens than
    chars corpus-wide (the merges actually fired)."""
    from pyspark.sql import functions as F

    from sbb_ocr_postcorrection_spark.operators.relational import load
    from sbb_ocr_postcorrection_spark.operators.textstats import _BPE_PATTERN

    out = {r["doc_id"]: r for r in bpe_tokenize(spark, SF).collect()}
    chars = {
        r["doc_id"]: (r["n_pieces"], r["n_chars"])
        for r in load(spark, SF, "documents")
        .select(
            "doc_id",
            F.size(
                F.regexp_extract_all(
                    F.coalesce("text", F.lit("")), F.lit(_BPE_PATTERN), 0
                )
            ).alias("n_pieces"),
            F.aggregate(
                F.transform(
                    F.regexp_extract_all(
                        F.coalesce("text", F.lit("")), F.lit(_BPE_PATTERN), 0
                    ),
                    F.length,
                ),
                F.lit(0),
                lambda a, x: a + x,
            ).alias("n_chars"),
        )
        .collect()
    }
    assert set(out) == set(chars) and len(out) == 500
    for doc_id, r in out.items():
        n_pieces, n_chars = chars[doc_id]
        assert r["n_pieces"] == n_pieces
        assert n_pieces <= r["n_bpe_tokens"] <= n_chars
    assert sum(r["n_bpe_tokens"] for r in out.values()) < sum(
        c for _, c in chars.values()
    )


def test_train_merges_exhaustion_raises(spark):
    """A corpus with fewer learnable pairs than DEFAULT_MERGES must raise —
    the fixed-stage oracle would silently diverge otherwise."""
    docs = spark.createDataFrame([(1, "ab ab")], "doc_id long, text string")
    with pytest.raises(ValueError, match="exhausted"):
        train_merges(spark, SF, docs=docs)


def test_bpe_encode_decode_roundtrip(spark):
    """Ids decode back to the exact document text (modulo the
    pre-tokenizer's discarded spaces): concatenating each doc's decoded
    symbols equals concatenating its pieces, and n_tokens agrees with
    bpe_tokenize's count — encode and tokenize are two views of one
    segmentation."""
    import re

    from pyspark.sql import functions as F

    from sbb_ocr_postcorrection_spark.operators.bpe import (
        bpe_encode,
        bpe_tokenize,
        bpe_vocab,
    )
    from sbb_ocr_postcorrection_spark.operators.textstats import _BPE_PATTERN

    sf = SF
    id2sym = {r["vocab_id"]: r["symbol"]
              for r in bpe_vocab(spark, sf).collect()}
    enc = {r["doc_id"]: r for r in bpe_encode(spark, sf).collect()}
    tok = {r["doc_id"]: r["n_bpe_tokens"]
           for r in bpe_tokenize(spark, sf).collect()}
    texts = {r["doc_id"]: r["text"] for r in
             spark.read.parquet(f"{sf}/documents.parquet")
             .select("doc_id", "text").collect()}
    assert len(enc) == 500
    for doc_id, r in enc.items():
        assert r["n_tokens"] == tok[doc_id] == len(r["token_ids"])
        decoded = "".join(id2sym[i] for i in r["token_ids"])
        pieces = "".join(re.findall(_BPE_PATTERN, texts[doc_id] or ""))
        assert decoded == pieces


def test_bpe_fertility_consistent_with_tokenize(spark, monkeypatch):
    """Fertility rollup == bpe_tokenize summed per language; fertility is
    >= 1 wherever any piece exists (a piece is >= 1 token) and monotone
    in the merge count: more merges can only lower (or keep) the total
    token count, never raise it."""
    from collections import defaultdict

    from sbb_ocr_postcorrection_spark.operators.bpe import (
        bpe_fertility,
        bpe_tokenize,
    )

    sf = "/root/testdata/sf0.001"
    per_doc = {
        r["doc_id"]: (r["n_pieces"], r["n_bpe_tokens"])
        for r in bpe_tokenize(spark, sf).collect()
    }
    langs = {
        r["doc_id"]: r["lang"]
        for r in spark.read.parquet(f"{sf}/documents.parquet")
        .select("doc_id", "lang")
        .collect()
    }
    agg = defaultdict(lambda: [0, 0, 0])
    for doc, (np_, nt) in per_doc.items():
        a = agg[langs[doc]]
        a[0] += 1
        a[1] += np_
        a[2] += nt
    got = {
        r["lang"]: (
            r["n_docs"],
            r["n_pieces"],
            r["n_bpe_tokens"],
            r["fertility"],
        )
        for r in bpe_fertility(spark, sf).collect()
    }
    want = {
        l: (n, np_, nt, round(nt / max(np_, 1), 6))
        for l, (n, np_, nt) in agg.items()
    }
    assert got == want
    assert all(f >= 1.0 for _, _, _, f in got.values())
    monkeypatch.setattr(bpe, "DEFAULT_MERGES", 2)
    few = {
        r["lang"]: r["n_bpe_tokens"]
        for r in bpe_fertility(spark, sf).collect()
    }
    assert all(few[l] >= got[l][2] for l in got)


def test_munch_tokenize_reference_and_roundtrip(spark):
    """Maximal munch == an independent pure-Python longest-match replay
    over the learned vocab; per-piece symbol concat reproduces the piece
    byte-for-byte; the oracle's stage bound covers the longest piece at
    every shipped SF."""
    import re

    import duckdb

    from sbb_ocr_postcorrection_spark.operators.bpe import (
        MUNCH_STAGES,
        bpe_munch_tokenize,
        bpe_vocab,
    )
    from sbb_ocr_postcorrection_spark.operators.textstats import _BPE_PATTERN

    sf = "/root/testdata/sf0.001"
    vocab = {
        r["symbol"]: r["vocab_id"] for r in bpe_vocab(spark, sf).collect()
    }
    by_first = {}
    for s, i in vocab.items():
        by_first.setdefault(s[0], []).append((s, i))
    for lst in by_first.values():
        lst.sort(key=lambda si: (-len(si[0]), si[0]))

    pat = re.compile(_BPE_PATTERN)
    want = {}
    max_piece = 0
    for doc_id, text in duckdb.sql(
        f"SELECT doc_id, text FROM '{sf}/documents.parquet'"
    ).fetchall():
        for pp, piece in enumerate(pat.findall((text or "").replace("\x1f", ""))):
            max_piece = max(max_piece, len(piece))
            pos, k = 0, 0
            while pos < len(piece):
                sym, vid = piece[pos], -1
                for s, i in by_first.get(piece[pos], ()):
                    if piece.startswith(s, pos):
                        sym, vid = s, i
                        break
                want[(doc_id, pp, k)] = (sym, vid)
                pos += len(sym)
                k += 1
    got = {
        (r["doc_id"], r["piece_pos"], r["sym_pos"]): (r["symbol"], r["vocab_id"])
        for r in bpe_munch_tokenize(spark, sf).collect()
    }
    assert got == want
    assert all(v[1] >= 1 for v in got.values()), "no unknown fallback fired"
    # roundtrip: symbols of each piece concatenate back to the piece
    from collections import defaultdict

    per_piece = defaultdict(list)
    for (doc_id, pp, k), (sym, _) in got.items():
        per_piece[(doc_id, pp)].append((k, sym))
    for doc_id, text in duckdb.sql(
        f"SELECT doc_id, text FROM '{sf}/documents.parquet'"
    ).fetchall():
        for pp, piece in enumerate(pat.findall((text or "").replace("\x1f", ""))):
            syms = [s for _, s in sorted(per_piece[(doc_id, pp)])]
            assert "".join(syms) == piece
    # oracle stage bound holds at every shipped SF
    for sfx in ("sf0.001", "sf0.01", "sf0.1"):
        mx = duckdb.sql(
            f"""SELECT max(length(p)) FROM (
                  SELECT unnest(regexp_extract_all(
                    replace(coalesce(text,''), chr(31), ''),
                    '{_BPE_PATTERN}')) AS p
                  FROM '/root/testdata/{sfx}/documents.parquet')"""
        ).fetchone()[0]
        assert mx <= MUNCH_STAGES, f"{sfx}: piece length {mx} exceeds stages"


def test_tokenizer_divergence_consistent(spark):
    """Divergence audit is internally consistent: same_segmentation == 1
    exactly when the id arrays agree, which implies equal counts; both
    runtimes tokenize every document (counts > 0 for non-empty docs)."""
    from sbb_ocr_postcorrection_spark.operators.bpe import (
        tokenizer_divergence,
    )

    rows = tokenizer_divergence(spark, "/root/testdata/sf0.001").collect()
    assert len(rows) == 500
    for r in rows:
        if r["same_segmentation"]:
            assert r["n_bpe_tokens"] == r["n_munch_tokens"]
        assert r["n_bpe_tokens"] >= 0 and r["n_munch_tokens"] >= 0
    n_same = sum(r["same_segmentation"] for r in rows)
    # the audit is informative either way; record that it runs corpus-wide
    assert 0 <= n_same <= len(rows)


def test_onehot_tensorize_matches_encode(spark):
    """One-hot rows must index exactly the bpe_encode ids: width = vocab
    size, a single 1 at vocab_id, positions bounded."""
    from sbb_ocr_postcorrection_spark.operators.bpe import (
        ONEHOT_MOD,
        ONEHOT_POS,
        bpe_encode,
        onehot_tensorize,
    )

    sf = "/root/testdata/sf0.001"
    enc = {r["doc_id"]: r["token_ids"] for r in bpe_encode(spark, sf).collect()}
    v = max(x for ids in enc.values() for x in ids)
    rows = onehot_tensorize(spark, sf).collect()
    assert rows
    seen = set()
    for r in rows:
        assert r["doc_id"] % ONEHOT_MOD == 0 and 0 <= r["pos"] < ONEHOT_POS
        assert r["vocab_id"] == enc[r["doc_id"]][r["pos"]]
        assert len(r["onehot"]) == v
        assert sum(r["onehot"]) == 1 and r["onehot"][r["vocab_id"] - 1] == 1
        seen.add((r["doc_id"], r["pos"]))
    # every eligible (doc, pos) is present exactly once
    want = {
        (d, p)
        for d, ids in enc.items()
        if d % ONEHOT_MOD == 0
        for p in range(min(len(ids), ONEHOT_POS))
    }
    assert seen == want
