"""PDF layout parse: writer/parser round-trip + the Spark operator."""

from hypothesis import given, settings, strategies as st

from sbb_ocr_postcorrection_spark.pdftext import (
    extract_runs,
    make_pdf,
    reading_order,
)


def _pdf_text(data: bytes) -> str:
    """Reading-ordered plain text, one line per run."""
    return "\n".join(r.text for r in reading_order(extract_runs(data)))


def test_roundtrip_compressed_and_raw():
    pages = [["Hello (world) \\ test", "zeile zwei"], ["page two"]]
    want = "Hello (world) \\ test\nzeile zwei\npage two"
    assert _pdf_text(make_pdf(pages, compress=True)) == want
    assert _pdf_text(make_pdf(pages, compress=False)) == want


def test_reading_order_sort():
    runs = reading_order(extract_runs(make_pdf([["a", "b", "c"], ["d"]])))
    assert [r.text for r in runs] == ["a", "b", "c", "d"]
    assert runs[0].y > runs[1].y > runs[2].y  # top-down on page 0
    assert runs[3].page == 1


def test_garbage_input_yields_nothing():
    assert extract_runs(b"")            == []
    assert extract_runs(b"\xff\xfe not a pdf at all") == []
    # valid marker but broken stream: no crash
    assert extract_runs(b"%PDF-1.4\n<< /Filter /FlateDecode >>\nstream\nxx\nendstream") == []


def _raw_stream_pdf(stream_dict: bytes, extra_objs: bytes = b"") -> bytes:
    body = b"BT /F1 12 Tf 1 0 0 1 72 720 Tm (hi there) Tj ET"
    return (
        b"%PDF-1.4\n1 0 obj\n" + stream_dict
        + b"\nstream\n" + body + b"\nendstream\nendobj\n" + extra_objs + b"%%EOF"
    )


def test_indirect_length_reference():
    """Real writers emit /Length as an indirect ref (ADVICE r1 #4)."""
    body_len = len(b"BT /F1 12 Tf 1 0 0 1 72 720 Tm (hi there) Tj ET")
    pdf = _raw_stream_pdf(
        b"<< /Length 7 0 R >>",
        extra_objs=b"7 0 obj\n" + str(body_len).encode() + b"\nendobj\n",
    )
    assert [r.text for r in extract_runs(pdf)] == ["hi there"]


def test_length_not_last_key():
    pdf = _raw_stream_pdf(b"<< /Length 47 /Type /XObject >>")
    assert [r.text for r in extract_runs(pdf)] == ["hi there"]


def test_missing_length_falls_back_to_endstream_scan():
    pdf = _raw_stream_pdf(b"<< /Type /XObject >>")
    assert [r.text for r in extract_runs(pdf)] == ["hi there"]


def test_unresolvable_indirect_length_falls_back():
    pdf = _raw_stream_pdf(b"<< /Length 99 0 R >>")  # object 99 absent
    assert [r.text for r in extract_runs(pdf)] == ["hi there"]


@given(st.lists(st.text(alphabet="abcdef ()\\xyz", min_size=1, max_size=30)
                .map(lambda s: " ".join(s.split()) or "x"), min_size=1, max_size=8))
@settings(max_examples=60, deadline=None)
def test_roundtrip_property(lines):
    assert _pdf_text(make_pdf([lines])) == "\n".join(lines)


def test_spark_pdf_layout_query(spark):
    from sbb_ocr_postcorrection_spark.operators.pdf_layout import pdf_layout_query

    rows = pdf_layout_query(spark, "/root/testdata/sf0.001").collect()
    assert rows
    bad = [r for r in rows if r["roundtrip_ok"] != 1]
    assert not bad, bad[:3]
    assert all(r["n_pages"] in (1, 2) for r in rows)
