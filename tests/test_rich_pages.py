"""Adversarial layouts: the extractor must isolate exactly titles+paragraphs
against TOC navs, link-wrapped related rails and comment asides."""

from sbb_ocr_postcorrection_spark.datagen import generate_pages, make_rich_page
from sbb_ocr_postcorrection_spark.kernel import run_document


def test_rich_clean_pages_extract_exact():
    for i in range(30):
        p = make_rich_page(9, i, noise_rate=0.0)
        got = run_document(p.html).extracted_text
        assert got == p.text, (p.url, got[:120], p.text[:120])


def test_rich_noise_fully_corrected():
    for i in range(20):
        clean = make_rich_page(21, i, noise_rate=0.0)
        noisy = make_rich_page(21, i, noise_rate=0.12)
        assert run_document(noisy.html).extracted_text == clean.text


def test_rich_boilerplate_excluded():
    p = make_rich_page(5, 3, noise_rate=0.0)
    text = run_document(p.html).extracted_text
    assert "copyright" not in text
    # related-rail sentences are long but 100% link chars → excluded
    html = p.html.decode()
    rail = html.split('<aside class="related">')[1].split("</aside>")[0]
    first_rail_sentence = rail.split(">")[3].split("<")[0]
    assert first_rail_sentence not in text


def test_rich_spark_identity(spark):
    from sbb_ocr_postcorrection_spark.datagen import pages_to_arrow
    from sbb_ocr_postcorrection_spark.kernels_spark import extract_pages

    pages = generate_pages(40, seed=17, rich=True)
    df = spark.createDataFrame(pages_to_arrow(pages).to_pandas())
    got = {r["url"]: r["extracted_text"] for r in extract_pages(df).collect()}
    for p in pages:
        assert got[p.url] == run_document(p.html).extracted_text
