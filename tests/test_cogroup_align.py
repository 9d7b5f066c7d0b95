"""Cogroup OCR↔GT alignment equals the single-row kernel's output."""

from pyspark.sql import functions as F

from sbb_ocr_postcorrection_spark.datagen import generate_pages, pages_to_arrow
from sbb_ocr_postcorrection_spark.operators.alignment import build_alignments
from sbb_ocr_postcorrection_spark.operators.cogroup_align import cogroup_alignments


def _split_sides(spark, pages_df):
    """Decompose pages into the two line relations the reference consumed:
    OCR = extracted content blocks, GT = text-column lines."""

    def ocr_lines(batches):
        # test-local kernel: one row per content block, in block order,
        # straight from the stage-1 oracle
        import pandas as pd

        from sbb_ocr_postcorrection_spark.kernel import detect_document

        for pdf in batches:
            rows = []
            for url, lang, html in zip(pdf["url"], pdf["lang"], pdf["html"]):
                detections, _, _ = detect_document(bytes(html) if html is not None else b"")
                for pos, d in enumerate(detections):
                    rows.append({"doc_id": url, "pos": pos, "line": d.text, "lang": lang})
            yield pd.DataFrame(rows, columns=["doc_id", "pos", "line", "lang"])

    ocr = pages_df.select("url", "html", "lang").mapInPandas(
        ocr_lines, schema="doc_id string, pos int, line string, lang string"
    )
    gt = (
        pages_df.select(
            F.col("url").alias("doc_id"),
            F.posexplode(F.split("text", "\n")).alias("pos", "line"),
            F.col("lang"),
        )
    )
    return ocr, gt


def test_cogroup_matches_single_row_kernel(spark):
    pages = spark.createDataFrame(
        pages_to_arrow(generate_pages(40, seed=31)).to_pandas()
    )
    ocr, gt = _split_sides(spark, pages)
    via_cogroup = {
        (r["doc_id"], r["line_id"]): (r["ocr"], r["gt"], r["levenshtein"], r["similarity"])
        for r in cogroup_alignments(ocr, gt).collect()
    }
    via_single = {
        (r["doc_id"], r["line_id"]): (r["ocr"], r["gt"], r["levenshtein"], r["similarity"])
        for r in build_alignments(pages).collect()
    }
    assert via_cogroup == via_single


def test_cogroup_handles_one_sided_docs(spark):
    ocr = spark.createDataFrame(
        [("d1", 0, "aaa bbb ccc ddd eee", "de"), ("d2", 0, "zzz yyy", "de")],
        "doc_id string, pos int, line string, lang string",
    )
    gt = spark.createDataFrame(
        [("d1", 0, "aaa bbb ccc ddd eee", "de"), ("d3", 0, "qqq www", "de")],
        "doc_id string, pos int, line string, lang string",
    )
    rows = {r["doc_id"]: r for r in cogroup_alignments(ocr, gt).collect()}
    assert rows["d1"]["similarity"] == 1
    assert rows["d2"]["gt"] == ""  # ocr-only doc → gap on the gt side
    assert rows["d3"]["ocr"] == ""  # gt-only doc → gap on the ocr side
