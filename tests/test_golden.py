"""Golden-file regression gate (FIXTURES.md §1 pages_expected contract).

The byte-identity tests prove Spark == oracle, but both share code — a
semantic change to the kernel would slide through them silently. This
COMMITTED golden parquet pins the exact bytes of 100 extractions (plain +
rich layouts, noise on/off) produced in round 1; any later round that
changes extraction/detection/correction semantics must consciously
regenerate it (rerun the generator block in git history) and explain why.
"""

import hashlib

import pyarrow.parquet as pq

from sbb_ocr_postcorrection_spark.datagen import make_page, make_rich_page
from sbb_ocr_postcorrection_spark.kernel import run_document

GOLDEN = "tests/golden/pages_expected.parquet"
MAKERS = {"plain": make_page, "plain0": make_page, "rich": make_rich_page, "rich0": make_rich_page}
# sha256 over every golden page's ``run_document(...).spans``, one
# ``start,end,flagged;`` record per span and a newline per page, in the
# parquet's row order: the parquet pins text and counters but no span
# offsets (17,356 spans, 1,612 of them flagged)
SPANS_SHA256 = "8503d1cc65a254bd92efb482922c3828b51d2fb1f80b63ec2d2dba23d149de72"


def test_kernel_matches_golden():
    rows = pq.read_table(GOLDEN).to_pylist()
    assert len(rows) == 100
    for g in rows:
        p = MAKERS[g["tag"]](g["seed"], g["i"], g["noise_rate"])
        assert p.url == g["url"]
        assert hashlib.sha256(p.html).hexdigest() == g["html_sha256"], (
            "datagen drifted", g["tag"], g["i"])
        r = run_document(p.html)
        assert r.extracted_text == g["extracted_text"], ("kernel drifted", g["tag"], g["i"])
        assert hashlib.sha256(r.extracted_text.encode()).hexdigest() == g["extracted_sha256"]
        assert (r.n_blocks, r.n_content_blocks, r.n_spans, r.n_flagged,
                r.chars_in, r.chars_out) == (
            g["n_blocks"], g["n_content_blocks"], g["n_spans"], g["n_flagged"],
            g["chars_in"], g["chars_out"])


def test_kernel_spans_match_golden():
    h = hashlib.sha256()
    for g in pq.read_table(GOLDEN).to_pylist():
        p = MAKERS[g["tag"]](g["seed"], g["i"], g["noise_rate"])
        for start, end, flagged in run_document(p.html).spans:
            h.update(f"{start},{end},{int(flagged)};".encode())
        h.update(b"\n")
    assert h.hexdigest() == SPANS_SHA256, "kernel span offsets drifted"
