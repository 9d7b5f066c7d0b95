"""Edge batches through the Arrow extraction stage: every output field,
``spans`` included, equals the per-document oracle ``run_document``."""

import datetime

import pyarrow as pa
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

from sbb_ocr_postcorrection_spark.datagen import generate_pages
from sbb_ocr_postcorrection_spark.kernel import run_document
from sbb_ocr_postcorrection_spark.kernels_spark import (
    EXTRACT_SCHEMA,
    extract_pages,
    extract_stage,
)

_NO_CONTENT = (
    b"<html><body><nav><a href='/a'>Home</a> <a href='/b'>About</a></nav>"
    b"</body></html>"
)
_NON_ASCII = (
    "<html><body><p>Grüße aus Köln, die Straße ist schön und der Käse "
    "schmeckt wunderbar gut heute. Ça va très bien, merci beaucoup — 東京 "
    "ist weit weg von hier und daher schwer zu erreichen.</p></body></html>"
).encode("utf-8")

_INPUT_SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()),
        ("lang", pa.string()),
    ]
)


def _edge_batch() -> pa.RecordBatch:
    page = generate_pages(1, seed=5)[0]
    rows = [
        ("http://null.example/a", None, None, "de"),
        ("https://empty.example/", datetime.datetime(2024, 3, 1, tzinfo=datetime.timezone.utc), b"", None),
        ("http://nav.example/x/y", datetime.datetime(2024, 3, 2, tzinfo=datetime.timezone.utc), _NO_CONTENT, "en"),
        ("http://köln.example/straße", datetime.datetime(2024, 3, 3, tzinfo=datetime.timezone.utc), _NON_ASCII, "de"),
        (page.url, page.warc_ts, page.html, page.lang),
    ]
    return pa.RecordBatch.from_arrays(
        [pa.array(c, f.type) for c, f in zip(zip(*rows), _INPUT_SCHEMA)],
        schema=_INPUT_SCHEMA,
    )


def _expected(html, url):
    r = run_document(html if html is not None else b"")
    return {
        "host": url.split("://", 1)[-1].split("/", 1)[0],
        "extracted_text": r.extracted_text,
        "spans": [{"start": s, "end": e, "flagged": f} for s, e, f in r.spans],
        "n_blocks": r.n_blocks,
        "n_content_blocks": r.n_content_blocks,
        "n_spans": r.n_spans,
        "n_flagged": r.n_flagged,
        "chars_in": r.chars_in,
        "chars_out": r.chars_out,
    }


def _arrow_extract_schema(spark) -> pa.Schema:
    # DDL parsing goes through the session's JVM, hence the fixture
    return to_arrow_schema(StructType.fromDDL(EXTRACT_SCHEMA))


def test_edge_rows_equal_oracle_in_process(spark):
    batch = _edge_batch()
    (out,) = list(extract_stage(iter([batch])))
    assert out.schema.equals(_arrow_extract_schema(spark))
    assert out.num_rows == batch.num_rows
    got = out.to_pylist()
    for i, src in enumerate(batch.to_pylist()):
        row = got[i]
        # pass-through columns come back unconverted
        for col in ("url", "warc_ts", "lang"):
            assert row[col] == src[col]
        exp = _expected(src["html"], src["url"])
        assert {k: row[k] for k in exp} == exp, src["url"]
    # the no-content page really has no spans
    assert got[2]["spans"] == [] and got[2]["n_content_blocks"] == 0
    assert got[0]["extracted_text"] == "" and got[0]["chars_in"] == 0


def test_zero_row_batch(spark):
    empty = pa.RecordBatch.from_pylist([], schema=_INPUT_SCHEMA)
    (out,) = list(extract_stage(iter([empty])))
    assert out.num_rows == 0
    assert out.schema.equals(_arrow_extract_schema(spark))


def test_edge_rows_equal_oracle_through_spark(spark):
    batch = _edge_batch()
    df = spark.createDataFrame(pa.Table.from_batches([batch]))
    got = {r["url"]: r.asDict(recursive=True) for r in extract_pages(df).collect()}
    assert len(got) == batch.num_rows
    for src in batch.to_pylist():
        row = got[src["url"]]
        assert row["lang"] == src["lang"]
        assert (row["warc_ts"] is None) == (src["warc_ts"] is None)
        exp = _expected(src["html"], src["url"])
        assert {k: row[k] for k in exp} == exp, src["url"]


def test_zero_row_input_through_spark(spark):
    df = spark.createDataFrame(_INPUT_SCHEMA.empty_table())
    assert extract_pages(df).collect() == []


def test_datagen_spans_equal_oracle_through_spark(spark):
    """Typed spans of ordinary and rich pages, per url, across more than
    one batch of the session's Arrow batch size."""
    pages = generate_pages(300, seed=3) + generate_pages(40, seed=3, rich=True)
    table = pa.Table.from_pylist(
        [
            {"url": p.url, "warc_ts": p.warc_ts, "html": p.html, "lang": p.lang}
            for p in pages
        ],
        schema=_INPUT_SCHEMA,
    )
    got = {
        r["url"]: [(s["start"], s["end"], s["flagged"]) for s in r["spans"]]
        for r in extract_pages(spark.createDataFrame(table)).select("url", "spans").collect()
    }
    assert len(got) == len(pages)
    for p in pages:
        assert got[p.url] == list(run_document(p.html).spans), p.url
