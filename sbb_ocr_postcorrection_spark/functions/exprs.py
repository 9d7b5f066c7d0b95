"""Shared column expressions — single definitions for the idioms that the
reference copy-pasted (the CER band ladder appears 5× in cli_preproc.py
:761-783,:946-968,:1317-1338,:1521-1542,:1576-1597; here it exists once).
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

#: the reference's 7 CER bands, in order
CER_BANDS = ("0.00", "<0.02", "<0.04", "<0.06", "<0.08", "<0.10", ">=0.10")


def tokens_expr(col) -> Column:
    """Whitespace tokens, lowercased, empties dropped (F2 semantics;
    identical to the oracle-side list_filter(string_split(lower(...)))).
    NULL text tokenizes as the empty document — a NULL token array would
    propagate NULL into every derived count/ratio/verdict downstream, and
    a NULL verdict silently falls through when-chains (a null-text doc
    would pass gates it should fail)."""
    c = F.coalesce(col if isinstance(col, Column) else F.col(col), F.lit(""))
    return F.filter(F.split(F.lower(c), " "), lambda x: x != "")


def cer_band_expr(col) -> Column:
    """The 7-band CER bucketing when-ladder (P8)."""
    c = F.col(col) if isinstance(col, str) else col
    return (
        F.when(c == 0.0, CER_BANDS[0])
        .when(c < 0.02, CER_BANDS[1])
        .when(c < 0.04, CER_BANDS[2])
        .when(c < 0.06, CER_BANDS[3])
        .when(c < 0.08, CER_BANDS[4])
        .when(c < 0.10, CER_BANDS[5])
        .otherwise(CER_BANDS[6])
    )


def lang_cols(
    text_col, stops_de, stops_en, conf_threshold: float = 0.05, toks=None
) -> dict[str, Column]:
    """Stopword-hit language-ID columns (P5 analog) — ONE definition shared
    by the batch operator (operators/textstats.lang_id, DuckDB
    oracle-checked) and the streaming curation gate, so the two can never
    drift — INCLUDING the lang_pass verdict and its threshold. Pass a
    precomputed ``toks`` column to share one tokenization across several
    builders (higher-order-function exprs are excluded from codegen
    subexpression elimination, so unshared builders re-split the text per
    derived column)."""
    if toks is None:
        toks = tokens_expr(text_col)
    de_arr = F.array(*[F.lit(w) for w in stops_de])
    en_arr = F.array(*[F.lit(w) for w in stops_en])
    de_hits = F.size(F.filter(toks, lambda t: F.array_contains(de_arr, t)))
    en_hits = F.size(F.filter(toks, lambda t: F.array_contains(en_arr, t)))
    guess = (
        F.when(de_hits > en_hits, "de")
        .when(en_hits > de_hits, "en")
        .otherwise("unk")
    )
    conf = F.round(
        F.greatest(de_hits, en_hits) / F.greatest(F.size(toks), F.lit(1)), 6
    )
    return {
        "de_hits": de_hits,
        "en_hits": en_hits,
        "lang_guess": guess,
        "lang_conf": conf,
        "lang_pass": ((guess != "unk") & (conf >= conf_threshold)).cast("int"),
    }


def quality_cols(text_col, toks=None) -> dict[str, Column]:
    """Quality-heuristic columns — shared between operators/textstats
    .quality_score and the streaming curation gate (same sharing rationale
    and ``toks`` parameter as lang_cols)."""
    if toks is None:
        toks = tokens_expr(text_col)
    # null ≡ empty here too: length(NULL) would make alpha_ratio — and
    # with it quality_keep — NULL instead of a definite fail verdict
    text_col = F.coalesce(text_col, F.lit(""))
    n_toks = F.size(toks)
    alpha_chars = F.length(F.regexp_replace(F.lower(text_col), "[^a-z]", ""))
    alpha_ratio = F.round(
        alpha_chars / F.greatest(F.length(text_col), F.lit(1)), 4
    )
    mean_tok_len = F.round(
        F.aggregate(toks, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t))
        / F.greatest(n_toks, F.lit(1)),
        4,
    )
    return {
        "n_tokens": n_toks,
        "alpha_ratio": alpha_ratio,
        "mean_token_len": mean_tok_len,
        "quality_keep": ((n_toks >= 10) & (alpha_ratio > 0.6)).cast("int"),
    }
