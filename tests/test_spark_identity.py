"""Spark-vs-oracle byte-identity: the north-rule per-row invariant.

The Spark pipeline's extracted_text must equal the single-node oracle's
output byte-for-byte per url (BASELINE.json input_hint), independent of
partitioning, batch size, or row order.
"""

import pandas as pd
import pytest

from sbb_ocr_postcorrection_spark.datagen import generate_pages, pages_to_arrow
from sbb_ocr_postcorrection_spark.kernel import run_document
from sbb_ocr_postcorrection_spark.kernels_spark import extract_pages

N_PAGES = 120


@pytest.fixture(scope="module")
def pages_df(spark):
    tbl = pages_to_arrow(generate_pages(N_PAGES, seed=42))
    return spark.createDataFrame(tbl.to_pandas())


def test_byte_identity_per_url(spark, pages_df):
    got = {
        r["url"]: r["extracted_text"]
        for r in extract_pages(pages_df).collect()
    }
    assert len(got) == N_PAGES
    for p in generate_pages(N_PAGES, seed=42):
        expected = run_document(p.html).extracted_text
        assert got[p.url] == expected, p.url
        assert got[p.url].encode("utf-8") == expected.encode("utf-8")


def test_identity_invariant_to_partitioning(spark, pages_df):
    a = extract_pages(pages_df.repartition(1)).select("url", "extracted_text")
    b = extract_pages(pages_df.repartition(7, "url")).select("url", "extracted_text")
    pa = {r["url"]: r["extracted_text"] for r in a.collect()}
    pb = {r["url"]: r["extracted_text"] for r in b.collect()}
    assert pa == pb


def test_metrics_match_oracle(spark, pages_df):
    rows = extract_pages(pages_df).select(
        "url", "n_blocks", "n_content_blocks", "n_spans", "n_flagged",
        "chars_in", "chars_out").collect()
    by_url = {r["url"]: r for r in rows}
    for p in generate_pages(N_PAGES, seed=42):
        r = run_document(p.html)
        g = by_url[p.url]
        assert (g["n_blocks"], g["n_content_blocks"], g["n_spans"],
                g["n_flagged"], g["chars_in"], g["chars_out"]) == (
            r.n_blocks, r.n_content_blocks, r.n_spans, r.n_flagged,
            r.chars_in, r.chars_out)


def test_no_shuffle_in_extract_plan(spark, pages_df):
    """The two-stage extract must be a single narrow pipeline — any Exchange
    in the plan means we broke the per-document locality contract."""
    plan = extract_pages(pages_df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
