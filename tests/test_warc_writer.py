"""Distributed WARC sink: roundtrip through the repo's own scanner,
byte-determinism across runs, atomic naming, and the null-timestamp
sentinel (the verify-skill regression probe)."""

import glob
import hashlib
import os

from sbb_ocr_postcorrection_spark.sources.warc import (
    parse_warc_gz_records,
    write_warc_archive_indexed,
)

SF = "/root/testdata/sf0.001"


def _pages(spark, n=120):
    from sbb_ocr_postcorrection_spark.queries import synth_pages_from_documents

    return synth_pages_from_documents(spark, SF).limit(n)


def _read_all(out_dir):
    recs = []
    for p in sorted(glob.glob(os.path.join(out_dir, "*.warc.gz"))):
        with open(p, "rb") as f:
            recs.extend(parse_warc_gz_records(f.read()))
    return recs


def test_warc_write_roundtrips_through_scanner(spark, tmp_path):
    pages = _pages(spark)
    want = {
        r["url"]: (bytes(r["html"]), r["warc_ts"])
        for r in pages.collect()
    }
    out = str(tmp_path / "warc_out")
    index = write_warc_archive_indexed(pages, out).collect()
    assert len(index) == len(want)
    recs = _read_all(out)
    got = {r["url"]: r["payload"] for r in recs}
    assert {u: p for u, p in got.items()} == {
        u: p for u, (p, _) in want.items()
    }
    # dates formatted, never null
    assert all(r["warc_date"].endswith("Z") for r in recs)
    # no leftover temp files from the atomic rename
    assert not glob.glob(os.path.join(out, "*.tmp-*"))


def test_warc_write_is_byte_deterministic(spark, tmp_path):
    pages = _pages(spark, n=60)
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    write_warc_archive_indexed(pages, a).collect()
    write_warc_archive_indexed(pages, b).collect()
    fa = {os.path.basename(p): p for p in glob.glob(os.path.join(a, "*"))}
    fb = {os.path.basename(p): p for p in glob.glob(os.path.join(b, "*"))}
    assert fa.keys() == fb.keys() and fa
    for name in fa:
        ha = hashlib.md5(open(fa[name], "rb").read()).hexdigest()
        hb = hashlib.md5(open(fb[name], "rb").read()).hexdigest()
        assert ha == hb, f"{name} differs between runs"


def test_warc_write_null_ts_gets_sentinel(spark, tmp_path):
    from pyspark.sql import functions as F

    pages = _pages(spark, n=10).withColumn(
        "warc_ts", F.lit(None).cast("timestamp")
    )
    out = str(tmp_path / "nullts")
    n = len(write_warc_archive_indexed(pages, out).collect())
    recs = _read_all(out)
    assert n == len(recs) == 10, "null-ts rows must not be dropped"
    assert {r["warc_date"] for r in recs} == {"1970-01-01T00:00:00Z"}


def test_cdx_index_point_reads_match_full_scan(spark, tmp_path):
    from sbb_ocr_postcorrection_spark.sources.warc import (
        warc_point_read,
        write_warc_cdx,
    )

    pages = _pages(spark, n=80)
    out = str(tmp_path / "idx")
    cdx = write_warc_cdx(pages, out).collect()
    assert len(cdx) == 80
    # every record reachable by ranged read; equals the full-scan view
    scanned = {r["url"]: r for r in _read_all(out)}
    for row in cdx:
        rec = warc_point_read(out, row["file"], row["offset"], row["length"])
        assert rec["url"] == row["url"]
        assert rec["payload"] == scanned[row["url"]]["payload"]
        assert rec["warc_date"] == row["warc_date"]
    # index brackets are exact members: offsets per file are contiguous
    from collections import defaultdict

    by_file = defaultdict(list)
    for row in cdx:
        by_file[row["file"]].append((row["offset"], row["length"]))
    for spans in by_file.values():
        spans.sort()
        pos = 0
        for off, ln in spans:
            assert off == pos
            pos += ln


def test_cdx_point_read_never_scans(spark, tmp_path):
    """Corrupt every byte OUTSIDE one record's (offset, length) bracket:
    the point read must still succeed — proof the reader touches only
    the ranged bytes."""
    import os

    from sbb_ocr_postcorrection_spark.sources.warc import (
        warc_point_read,
        write_warc_cdx,
    )

    pages = _pages(spark, n=40)
    out = str(tmp_path / "corrupt")
    cdx = write_warc_cdx(pages, out).collect()
    victim = sorted(cdx, key=lambda r: (r["file"], r["offset"]))[
        len(cdx) // 2
    ]
    rec_before = warc_point_read(
        out, victim["file"], victim["offset"], victim["length"]
    )
    path = os.path.join(out, victim["file"])
    blob = bytearray(open(path, "rb").read())
    for i in range(len(blob)):
        if not (victim["offset"] <= i < victim["offset"] + victim["length"]):
            blob[i] = 0xFF
    open(path, "wb").write(bytes(blob))
    rec_after = warc_point_read(
        out, victim["file"], victim["offset"], victim["length"]
    )
    assert rec_after["payload"] == rec_before["payload"]
    assert rec_after["url"] == rec_before["url"]


