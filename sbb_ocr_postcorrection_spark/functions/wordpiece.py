"""Wordpiece vocabulary.

Re-derivation of the reference's vocabulary build
(feature_extraction/wordpiece.py:23-51): the top-k of all 1..3-gram
character pieces of corpus tokens, built DISTRIBUTED as a Spark two-phase
count + TakeOrdered (the reference's driver-side Counter cannot hold a
100-TB vocab). Ties break (count desc, piece asc).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

WORDPIECE_K = 200  # vocabulary size (the DuckDB oracle interpolates it)


def build_vocab_df(df: DataFrame, text_col: str) -> DataFrame:
    """Distributed vocab: explode tokens → explode 1..3-gram pieces →
    two-phase count → top-WORDPIECE_K (count desc, piece asc). All JVM-side."""
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
        .limit(WORDPIECE_K)
    )

