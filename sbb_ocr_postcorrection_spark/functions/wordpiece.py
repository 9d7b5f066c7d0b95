"""Wordpiece vocabulary + greedy tokenization + integer encoding.

Re-derivation of the reference's feature-extraction surface
(feature_extraction/wordpiece.py:23-51, tokenization.py:35-106,
encoding.py:4-154):

* vocabulary = top-k of all 1..3-gram character pieces of corpus tokens —
  built DISTRIBUTED as a Spark two-phase count + TakeOrdered (the
  reference's driver-side Counter cannot hold a 100-TB vocab);
* special codes pinned to the reference's convention: 0 pad, 1 <SOS>,
  2 <EOS>, 3 <WSC> (whitespace), 4 <UNK>;
* greedy window-3→1 tokenization and encode/decode/pad are pure Python
  (kernel-side; vectorized over Arrow batches when used in Spark).

Determinism: vocab ties broken (count desc, piece asc); encoding is a pure
function of (vocab dict, line).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

PAD, SOS, EOS, WSC, UNK = 0, 1, 2, 3, 4
N_SPECIAL = 5
SEQ_LEN = 40  # the reference's padded sequence length


def build_vocab_df(df: DataFrame, text_col: str, k: int = 1000) -> DataFrame:
    """Distributed vocab: explode tokens → explode 1..3-gram pieces →
    two-phase count → top-k (count desc, piece asc). All JVM-side."""
    toks = F.explode(
        F.filter(F.split(F.lower(F.col(text_col)), " "), lambda x: x != "")
    ).alias("token")
    # NB: Spark's sequence(1, 0) yields a DESCENDING [1, 0], not an empty
    # array (unlike DuckDB's generate_series) — the inner filter keeps only
    # full-length n-gram pieces, which also drops the stray short pieces a
    # token shorter than n would otherwise contribute.
    pieces_expr = F.explode(
        F.expr(
            "flatten(transform(sequence(1, 3), n -> "
            "filter(transform(sequence(1, greatest(length(token) - n + 1, 1)), "
            "i -> substr(token, i, n)), p -> length(p) = n)))"
        )
    ).alias("piece")
    return (
        df.select(toks)
        .select(pieces_expr)
        .filter(F.col("piece") != "")
        .groupBy("piece")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("piece"))
        .limit(k)
    )


def vocab_dict(vocab_rows) -> dict[str, int]:
    """Piece→code mapping; codes start after the special tokens. Input rows
    must be (piece, cnt) sorted (cnt desc, piece asc)."""
    return {r["piece"]: N_SPECIAL + i for i, r in enumerate(vocab_rows)}


def greedy_tokenize(line: str, vocab: dict[str, int]) -> list[str]:
    """Window 3→1 greedy wordpiece split per token, <UNK> on miss, <WSC>
    between tokens (tokenization.py:35-106 semantics). Tokenization is
    single-space split with empties dropped — the SAME convention as
    build_vocab_df and the SQL oracles; a broader \\s+ split here would
    look up pieces the vocab never counted."""
    out: list[str] = []
    first = True
    for token in (t for t in line.lower().split(" ") if t):
        if not first:
            out.append("<WSC>")
        first = False
        i = 0
        while i < len(token):
            for w in (3, 2, 1):
                piece = token[i : i + w]
                if len(piece) == w and piece in vocab:
                    out.append(piece)
                    i += w
                    break
            else:
                out.append("<UNK>")
                i += 1
    return out


def encode_line(line: str, vocab: dict[str, int], seq_len: int = SEQ_LEN) -> list[int]:
    """<SOS> pieces <EOS>, zero-padded/truncated to seq_len
    (encoding.py:4-40,84-104 semantics; NO silent tail-row dropping)."""
    codes = [SOS]
    for piece in greedy_tokenize(line, vocab):
        if piece == "<WSC>":
            codes.append(WSC)
        elif piece == "<UNK>":
            codes.append(UNK)
        else:
            codes.append(vocab[piece])
    codes.append(EOS)
    codes = codes[:seq_len]
    return codes + [PAD] * (seq_len - len(codes))


def decode_codes(codes: list[int], rev_vocab: dict[int, str]) -> str:
    """Codes → string: strip SOS/EOS/PAD, <WSC>→' ', <UNK>→'?'
    (encoding.py:43-58 semantics)."""
    out: list[str] = []
    for c in codes:
        if c in (PAD, SOS, EOS):
            continue
        if c == WSC:
            out.append(" ")
        elif c == UNK:
            out.append("?")
        else:
            out.append(rev_vocab.get(c, "?"))
    return "".join(out)


def encode_corpus(df: DataFrame, text_col: str, vocab: dict[str, int]) -> DataFrame:
    """Batched Arrow encoding of a text column → ArrayType(IntegerType)
    `codes` column. The vocab travels as a closure (broadcast-equivalent:
    pickled once per task, cached per worker)."""
    import pandas as pd

    schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
    ) + ", codes array<int>"

    def kernel(batches):
        for pdf in batches:
            pdf = pdf.copy()
            pdf["codes"] = [encode_line(t or "", vocab) for t in pdf[text_col]]
            yield pdf

    return df.mapInPandas(kernel, schema=schema)
