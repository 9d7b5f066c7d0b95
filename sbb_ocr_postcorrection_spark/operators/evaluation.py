"""Evaluation aggregates — the A9 surface (mt/cli_correct.py:368-393,
1537-1550): precision/recall/F1/accuracy computed from the 4 confusion
cells of a groupBy, never via sklearn on collected arrays.

The demo instance classifies events: prediction = value above a threshold,
truth = event_type == 'purchase'. The operator shape (two boolean columns →
confusion cells → derived metrics in one pass) is what transfers to the
detector-vs-goldstandard evaluation at scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .relational import load


def _prf_exprs(prec_name: str = "prec", rec_name: str = "rec", f1_name: str = "f1"):
    """P/R/F1 column expressions over tp/fp/fn columns — THE single
    definition of the zero-denominator convention (prec/rec fall to 0 when
    their denominator is 0; F1 guarded by epsilon)."""
    prec = F.col("tp") / F.greatest(F.col("tp") + F.col("fp"), F.lit(1))
    rec = F.col("tp") / F.greatest(F.col("tp") + F.col("fn"), F.lit(1))
    return [
        F.round(prec, 6).alias(prec_name),
        F.round(rec, 6).alias(rec_name),
        F.round(2 * prec * rec / F.greatest(prec + rec, F.lit(1e-12)), 6).alias(f1_name),
    ]


def confusion_metrics(df: DataFrame, pred_col, truth_col) -> DataFrame:
    """Confusion cells + P/R/F1/accuracy per group in a single two-phase
    aggregation. pred/truth are boolean columns (or expressions)."""
    p = pred_col.cast("int")
    t = truth_col.cast("int")
    base = df.groupBy().agg(
        F.sum(p * t).alias("tp"),
        F.sum(p * (1 - t)).alias("fp"),
        F.sum((1 - p) * t).alias("fn"),
        F.sum((1 - p) * (1 - t)).alias("tn"),
    )
    return base.select(
        "tp",
        "fp",
        "fn",
        "tn",
        *_prf_exprs(),
        F.round(
            (F.col("tp") + F.col("tn"))
            / (F.col("tp") + F.col("fp") + F.col("fn") + F.col("tn")),
            6,
        ).alias("accuracy"),
    )


def detector_eval(spark, sf_dir) -> DataFrame:
    """A9 demo over events: predict 'purchase' from value > 15."""
    e = load(spark, sf_dir, "events")
    return confusion_metrics(
        e,
        pred_col=(F.col("value") > 15),
        truth_col=(F.col("event_type") == "purchase"),
    )


# --------------------------------------------------------------------------
# evaluate-detector / evaluate-translator analogs against real ground truth
# (mt/cli_correct.py:208-498 detector P/R/F1; :533-625 CER before/after +
# false-corrections ratio) — per-doc kernel metrics + relational rollup.
# --------------------------------------------------------------------------

TWO_STEP_SCHEMA = (
    "url string, cer_before double, cer_after double, n_tokens int, "
    "tp int, fp int, fn int, tn int, n_corrections int, n_false_corrections int"
)


def _two_step_kernel(batches):
    import pandas as pd

    from ..kernel import correct_document, detect_document
    from ..textkit import cer

    for pdf in batches:
        rows = []
        for url, html, clean in zip(pdf["url"], pdf["html"], pdf["text"]):
            if not clean:  # None OR empty GT: cer(x, "") = |x|, not a rate
                continue
            detections, _nb, _ci = detect_document(
                bytes(html) if html is not None else b""
            )
            raw_text = "\n".join(d.text for d in detections)
            corrected, _spans = correct_document(detections)
            row = {
                "url": url,
                "cer_before": round(cer(raw_text, clean), 6),
                "cer_after": round(cer(corrected, clean), 6),
            }
            clean_toks = clean.split()
            raw_toks = raw_text.split()
            corr_toks = corrected.split()
            flags = [s[2] for d in detections for s in d.spans]
            if len(raw_toks) == len(clean_toks) == len(flags) == len(corr_toks):
                wrong = [r != c for r, c in zip(raw_toks, clean_toks)]
                row.update(
                    n_tokens=len(raw_toks),
                    tp=sum(1 for f, w in zip(flags, wrong) if f and w),
                    fp=sum(1 for f, w in zip(flags, wrong) if f and not w),
                    fn=sum(1 for f, w in zip(flags, wrong) if not f and w),
                    tn=sum(1 for f, w in zip(flags, wrong) if not f and not w),
                    n_corrections=sum(
                        1 for r, c in zip(raw_toks, corr_toks) if r != c
                    ),
                    n_false_corrections=sum(
                        1
                        for r, c, w in zip(raw_toks, corr_toks, wrong)
                        if r != c and not w
                    ),
                )
            else:  # token streams disagree structurally — CER-only row
                row.update(n_tokens=0, tp=0, fp=0, fn=0, tn=0,
                           n_corrections=0, n_false_corrections=0)
            rows.append(row)
        yield pd.DataFrame(
            rows,
            columns=["url", "cer_before", "cer_after", "n_tokens", "tp",
                     "fp", "fn", "tn", "n_corrections", "n_false_corrections"],
        )


def two_step_eval(pages: DataFrame) -> DataFrame:
    """Per-document two-step quality metrics vs the ground-truth text
    column; aggregate with `two_step_summary`."""
    return pages.select("url", "html", "text").mapInPandas(
        _two_step_kernel, schema=TWO_STEP_SCHEMA
    )


def two_step_summary(per_doc: DataFrame) -> DataFrame:
    """Corpus-level rollup: mean CER before/after, detector P/R/F1 from the
    summed confusion cells, false-correction ratio."""
    agg = per_doc.agg(
        F.count(F.lit(1)).alias("docs"),
        F.round(F.avg("cer_before"), 6).alias("avg_cer_before"),
        F.round(F.avg("cer_after"), 6).alias("avg_cer_after"),
        F.sum("tp").alias("tp"),
        F.sum("fp").alias("fp"),
        F.sum("fn").alias("fn"),
        F.sum("tn").alias("tn"),
        F.sum("n_corrections").alias("n_corrections"),
        F.sum("n_false_corrections").alias("n_false_corrections"),
    )
    return agg.select(
        "docs", "avg_cer_before", "avg_cer_after",
        *_prf_exprs("detector_precision", "detector_recall", "detector_f1"),
        F.round(
            F.col("n_false_corrections") / F.greatest(F.col("n_corrections"), F.lit(1)), 6
        ).alias("false_correction_ratio"),
    )
