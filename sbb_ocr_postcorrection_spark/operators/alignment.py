"""The reference's corpus-build chain (SURVEY.md §3.1) as ONE lazy DAG.

parse-xml → align-sequences → apply-sliding-window → filter-language →
split-dataset (cli_preproc.py:612-711, :157-260, :263-333, :523-609,
:714-888) re-expressed over the pages table:

  pages → mapInPandas(align kernel: html→blocks, blocks↔text-lines NW
  alignment, band scoring)  →  the canonical `alignments` relation
  (database.py:17-28 schema, named columns instead of a[3]/a[4] positional
  indexing)  →  relational: language filter, 4-token sliding-window
  restructure, per-doc rollup stats, CER-stratified split.

The reference materialized JSON/SQLite between every step on one core;
here Catalyst fuses the filters into the scan side and the only wide
dependencies are the intentional aggregations.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, functions as F

from ..align import align_page
from ..extract import extract_blocks
from ..functions.exprs import md5_60

CORPUS_LANG = "en"  # the corpus chain's language filter
WINDOW_CONTEXT = 4  # tokens per sliding window
# stratified split over md5 buckets 0-9: SPLIT_TRAIN train, SPLIT_TEST test,
# the rest val
SPLIT_TRAIN = 8
SPLIT_TEST = 1

# the reference's canonical alignments schema (preprocessing/database.py:
# 17-28), plus lang carried for the P5 filter
ALIGNMENTS_SCHEMA = (
    "doc_id string, page_id string, line_id string, ocr string, gt string, "
    "cer double, levenshtein int, min_dist int, allowed_dist int, "
    "similarity int, lang string"
)


def _align_kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Per-page kernel: noisy content blocks (pre-correction OCR side) vs
    the `text` column's lines (GT side) → aligned scored rows."""
    for pdf in batches:
        rows = []
        for url, html, text, lang in zip(
            pdf["url"], pdf["html"], pdf["text"], pdf["lang"]
        ):
            blocks = extract_blocks(bytes(html) if html is not None else b"")
            ocr_lines = [b.text for b in blocks if b.is_content]
            gt_lines = (text or "").split("\n")
            for r in align_page(ocr_lines, gt_lines):
                rows.append(
                    {
                        "doc_id": url,
                        "page_id": "p0",  # one page per url in the web graft
                        "line_id": str(r["line_id"]),
                        "ocr": r["ocr"],
                        "gt": r["gt"],
                        "cer": r["cer"],
                        "levenshtein": r["levenshtein"],
                        "min_dist": r["min_dist"],
                        "allowed_dist": r["allowed_dist"],
                        "similarity": r["similarity"],
                        "lang": lang,
                    }
                )
        yield pd.DataFrame(
            rows,
            columns=[
                "doc_id", "page_id", "line_id", "ocr", "gt", "cer",
                "levenshtein", "min_dist", "allowed_dist", "similarity",
                "lang",
            ],
        )


def build_alignments(pages: DataFrame) -> DataFrame:
    """align-sequences: pages → alignments relation."""
    return pages.select("url", "html", "text", "lang").mapInPandas(
        _align_kernel, schema=ALIGNMENTS_SCHEMA
    )


def sliding_window_restructure(alignments: DataFrame) -> DataFrame:
    """apply-sliding-window (helpers.py:63-134): per similar line, emit the
    4-token windows of ocr/gt token streams as pseudo-lines, stride 1;
    shorter lines emit once — all JVM-side (transform over sequence)."""
    toks_ocr = F.filter(F.split(F.col("ocr"), " "), lambda x: x != "")
    toks_gt = F.filter(F.split(F.col("gt"), " "), lambda x: x != "")
    a = alignments.filter(F.col("similarity") == 1).select(
        "doc_id", "page_id", "line_id",
        toks_ocr.alias("to"), toks_gt.alias("tg"),
    )
    # window count from the LONGER stream (helpers.py align_context uses
    # max(len(ocr), len(gt))) — counting GT only would silently drop OCR
    # tail tokens from the training pseudo-lines
    n_windows = F.greatest(
        F.greatest(F.size("to"), F.size("tg")) - (WINDOW_CONTEXT - 1), F.lit(1)
    )
    windows = F.transform(
        F.sequence(F.lit(1), n_windows),
        lambda i: F.struct(
            (i - 1).alias("pos"),
            F.concat_ws(" ", F.slice("to", i, WINDOW_CONTEXT)).alias("ocr_win"),
            F.concat_ws(" ", F.slice("tg", i, WINDOW_CONTEXT)).alias("gt_win"),
        ),
    )
    return (
        a.select("doc_id", "page_id", "line_id", F.explode(windows).alias("w"))
        .select(
            "doc_id", "page_id", "line_id",
            F.col("w.pos").alias("pos"),
            F.col("w.ocr_win").alias("ocr_win"),
            F.col("w.gt_win").alias("gt_win"),
        )
    )


def alignment_stats(alignments: DataFrame) -> DataFrame:
    """Per-doc/corpus rollup (sequence_similarity.py:98-115 three print
    scopes → ONE grouping-sets pass)."""
    return alignments.rollup("doc_id").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum("similarity").alias("n_similar"),
        F.round(F.avg("cer"), 6).alias("avg_cer"),
        F.round(F.sum("similarity") / F.count(F.lit(1)), 6).alias("similar_ratio"),
    )


def stratified_split(alignments: DataFrame) -> DataFrame:
    """split-dataset (cli_preproc.py:714-888): CER-bucket-stratified
    deterministic split via arithmetic hash of (doc_id, line_id) — seeded
    and shuffle-free instead of the reference's seed-49 list shuffling.
    Returns per (bucket, split) counts for verification.

    The split coin is the repo's md5-60 hash (functions/exprs.md5_60) of
    'doc_id|line_id', NOT xxhash64: DuckDB reproduces md5 bit-for-bit, so
    the whole split table is a hash-checked driver row instead of a
    rows-only one (the r2-verdict invariant-projection ask, taken all the
    way to full-relation parity)."""
    from ..functions.exprs import cer_band_expr
    bucket = cer_band_expr("cer").alias("cer_bucket")
    h = F.pmod(
        md5_60(F.concat_ws("|", F.col("doc_id"), F.col("line_id"))), F.lit(10)
    )
    split = (
        F.when(h < SPLIT_TRAIN, "train")
        .when(h < SPLIT_TRAIN + SPLIT_TEST, "test")
        .otherwise("val")
        .alias("split")
    )
    return (
        alignments.select(bucket, split)
        .groupBy("cer_bucket", "split")
        .agg(F.count(F.lit(1)).alias("n_lines"))
    )


def corpus_pipeline(pages: DataFrame) -> dict[str, DataFrame]:
    """The full §3.1 chain, lazily composed; returns each stage's frame.

    The language filter (P5) runs BEFORE the alignment kernel — Catalyst
    cannot push a filter below mapInPandas, and lang passes through the
    kernel unchanged, so pre-filtering is row-equivalent and skips the
    O(lines²·len²) NW cost for every other language."""
    alignments = build_alignments(pages.filter(F.col("lang") == CORPUS_LANG))
    return {
        "alignments": alignments,
        "windows": sliding_window_restructure(alignments),
        "stats": alignment_stats(alignments),
        "split": stratified_split(alignments),
    }
