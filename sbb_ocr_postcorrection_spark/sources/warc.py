"""WARC record framing: serialize + parse, from scratch (ISO 28500).

Common-Crawl corpora arrive as WARC files — concatenated records, each a
CRLF-framed header block (WARC/1.0, WARC-Type, WARC-Target-URI,
WARC-Date, Content-Length) followed by exactly Content-Length payload
bytes and a blank-line separator. The reference ingests page archives
one XML file at a time (SURVEY.md §2.1 S1/S4); the web-scale analog is
one task per WARC file streaming through its records, which is what the
Spark surface here does: a binary `warc` column (one multi-record blob
per file/bucket) → an Arrow kernel that walks the framing → one row per
record.

Parsing is Content-Length-driven, never payload-sniffing: the payload
may contain anything, including the bytes "WARC/1.0" — only the declared
length advances the cursor (the property the roundtrip test pins). A
record with a corrupt/missing Content-Length raises (manifest-corrupt
convention: crash over silent truncation).

The single-node functions are Spark-free so the oracle path stays
importable anywhere (the kernel.py convention).
"""

from __future__ import annotations

import zlib

_CRLF = b"\r\n"
_HDR_END = b"\r\n\r\n"

# feed size for the gzip member walk: bounds the per-step copy (zlib's
# unused_data materializes whatever tail it was fed) so a 100k-member
# archive stays O(n) instead of O(n²) — same lesson as the byte-walk
# separator skip in parse_warc_records below
_GZ_CHUNK = 1 << 16


def build_warc_record(url: str, warc_date: str, payload: bytes) -> bytes:
    """One WARC/1.0 response record, strict CRLF framing."""
    head = (
        f"WARC/1.0\r\n"
        f"WARC-Type: response\r\n"
        f"WARC-Target-URI: {url}\r\n"
        f"WARC-Date: {warc_date}\r\n"
        f"Content-Length: {len(payload)}\r\n"
        f"\r\n"
    ).encode("ascii")
    return head + payload + _HDR_END


def parse_warc_records(blob: bytes) -> list[dict]:
    """Concatenated records → [{url, warc_date, content_length, payload}].

    Cursor math only: header block up to the first CRLFCRLF, then exactly
    Content-Length payload bytes, then the record separator. Trailing
    garbage shorter than a header block raises (truncated archive)."""
    out: list[dict] = []
    i, n = 0, len(blob)
    while i < n:
        # skip separator bytes at a record boundary WITHOUT slicing the
        # remainder (blob[i:].strip() re-copied the whole tail per record
        # — measured quadratic: 20k records 9.9 s, 40k 37.3 s; this walk
        # is O(n) total)
        while i < n and blob[i] in (0x0D, 0x0A):
            i += 1
        if i >= n:
            break
        if not blob.startswith(b"WARC/", i):
            raise ValueError(f"not a WARC record at offset {i}")
        hdr_end = blob.find(_HDR_END, i)
        if hdr_end < 0:
            raise ValueError(f"unterminated WARC header at offset {i}")
        headers: dict[str, str] = {}
        for line in blob[i:hdr_end].split(_CRLF)[1:]:
            k, _, v = line.decode("ascii", "replace").partition(":")
            headers[k.strip().lower()] = v.strip()
        try:
            clen = int(headers["content-length"])
        except (KeyError, ValueError):
            raise ValueError(f"bad Content-Length at offset {i}") from None
        body_start = hdr_end + len(_HDR_END)
        if body_start + clen > n:
            raise ValueError(f"truncated payload at offset {body_start}")
        out.append(
            {
                "url": headers.get("warc-target-uri", ""),
                "warc_date": headers.get("warc-date", ""),
                "content_length": clen,
                "payload": blob[body_start : body_start + clen],
            }
        )
        i = body_start + clen
        # consume the record separator (one blank line)
        if blob.startswith(_HDR_END, i):
            i += len(_HDR_END)
    return out


GZIP_LEVEL = 6  # the fixed compression level that keeps archives byte-identical


def gzip_member(data: bytes) -> bytes:
    """One standalone gzip member (RFC 1952 container via zlib wbits
    16+15). Common Crawl `.warc.gz` files are a CONCATENATION of these —
    one member per WARC record — so a reader can seek to any record
    offset from the index and inflate just that member."""
    co = zlib.compressobj(GZIP_LEVEL, zlib.DEFLATED, 31)
    return co.compress(data) + co.flush()


def parse_warc_gz_records(blob: bytes) -> list[dict]:
    """Gzip-member walk over a `.warc.gz` archive → the same record dicts
    as parse_warc_records.

    Each member is inflated with its own zlib.decompressobj; the member
    boundary is wherever the DEFLATE stream itself ends (d.eof) — never
    guessed by scanning for magic bytes, which can legally appear inside
    compressed data. The walk feeds bounded chunks so the per-member tail
    copy zlib makes (`unused_data`) is capped at _GZ_CHUNK, keeping the
    whole walk O(n) (the flood test pins this). A member that ends
    mid-stream (truncated archive) or fails the CRC raises — the
    manifest-corrupt convention: crash over silent truncation. A member
    holding several records, or zero bytes, is handled by delegating its
    inflated bytes to parse_warc_records."""
    out: list[dict] = []
    mv = memoryview(blob)
    i, n = 0, len(mv)
    while i < n:
        if not (n - i >= 2 and blob[i] == 0x1F and blob[i + 1] == 0x8B):
            raise ValueError(f"not a gzip member at offset {i}")
        d = zlib.decompressobj(31)
        parts: list[bytes] = []
        while not d.eof:
            if i >= n:
                raise ValueError("truncated gzip member at end of archive")
            chunk = mv[i : i + _GZ_CHUNK]
            try:
                parts.append(d.decompress(chunk))
            except zlib.error as e:
                raise ValueError(
                    f"corrupt gzip member near offset {i}: {e}"
                ) from None
            i += len(chunk) - len(d.unused_data)
        out.extend(parse_warc_records(b"".join(parts)))
    return out


RECORDS_PER_FILE = 50  # fixture archives: one per 50-doc_id range


def _synth_record_table(spark, sf_dir):
    """(file_id, doc_id, rec) — one serialized WARC record per fixture
    page, bucketed RECORDS_PER_FILE per file. JVM-side template
    concat; shared by the plain and gzip scan fixtures."""
    from pyspark.sql import functions as F

    from ..queries import synth_pages_from_documents

    pages = synth_pages_from_documents(spark, sf_dir)
    iso = F.date_format("warc_ts", "yyyy-MM-dd'T'HH:mm:ss'Z'")
    rec = F.concat(
        F.encode(
            F.concat_ws(
                "",
                F.lit("WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: "),
                F.col("url"),
                F.lit("\r\nWARC-Date: "),
                iso,
                F.lit("\r\nContent-Length: "),
                F.length("html").cast("string"),
                F.lit("\r\n\r\n"),
            ),
            "us-ascii",
        ),
        F.col("html"),
        F.encode(F.lit("\r\n\r\n"), "us-ascii"),
    )
    return pages.select(
        F.expr("cast(split(url, '/')[4] as long)").alias("doc_id"),
        rec.alias("rec"),
    ).select(
        F.expr(f"doc_id DIV {RECORDS_PER_FILE}").alias("file_id"),
        "doc_id",
        "rec",
    )


_SCAN_SCHEMA = (
    "url string, warc_date string, content_length long, payload_md5 string"
)


def _records_to_rows(records: list[dict]) -> list[dict]:
    import hashlib

    return [
        {
            "url": r["url"],
            "warc_date": r["warc_date"],
            "content_length": r["content_length"],
            "payload_md5": hashlib.md5(r["payload"]).hexdigest(),
        }
        for r in records
    ]


def warc_scan(spark, sf_dir):
    """S-row surface: synthesize WARC files from the pages fixture (one
    multi-record blob per ``RECORDS_PER_FILE`` doc_id range, records in
    doc_id order — deterministic, like every fixture), then parse them
    back with the Arrow kernel. Returns one row per record:
    (url, warc_date, content_length, payload_md5).

    Scale shape: file assembly is one groupBy on the bucket key (in
    production the blobs simply ARE the input files — binaryFile source
    or a (path, content) table); the parse kernel is a narrow mapInPandas
    over whole blobs, one cursor walk per file, no shuffle. The oracle
    re-derives every field from the documents table (the payload is the
    synthesized page html), so the whole framing roundtrip is
    hash-checked — a parser that mis-advances the cursor breaks the
    value hash of every subsequent record in the file."""
    from collections.abc import Iterator

    import pandas as pd

    from pyspark.sql import functions as F

    per_rec = _synth_record_table(spark, sf_dir)
    blobs = per_rec.groupBy("file_id").agg(
        F.aggregate(
            F.transform(
                F.array_sort(F.collect_list(F.struct("doc_id", "rec"))),
                lambda s: s["rec"],
            ),
            F.lit(b""),
            lambda acc, x: F.concat(acc, x),
        ).alias("warc")
    )

    def kern(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for blob in pdf["warc"]:
                rows.extend(_records_to_rows(parse_warc_records(bytes(blob))))
            yield pd.DataFrame(
                rows,
                columns=["url", "warc_date", "content_length", "payload_md5"],
            )

    return blobs.mapInPandas(kern, schema=_SCAN_SCHEMA)


def warc_gz_scan(spark, sf_dir):
    """`.warc.gz` form of warc_scan: the actual Common Crawl layout — each
    record individually gzip-compressed, members concatenated per file.

    The fixture synthesizes the SAME records as warc_scan (JVM template
    concat, doc_id order), then one Arrow kernel per file blob wraps each
    record in its own gzip member, concatenates, and hands the compressed
    archive to parse_warc_gz_records — so the bytes crossing the parser
    are a faithful .warc.gz. In production the blobs simply ARE the input
    files (binaryFile source); only the member walk + framing parse runs,
    one narrow task per file, no shuffle. Compress-then-parse lives in
    ONE kernel (never two chained mapInPandas stages — the fused-stage
    rule); the parser itself is additionally pinned by pure-Python
    corruption/boundary tests.

    The oracle is byte-for-byte the warc_scan oracle: decompression must
    reproduce every record of the plain archive or the value hash breaks.
    Reference analog: the one-XML-at-a-time archive ingest
    (preprocessing/xml_parser.py:84-164), lifted to compressed web
    archives."""
    from collections.abc import Iterator

    import pandas as pd

    from pyspark.sql import functions as F

    per_rec = _synth_record_table(spark, sf_dir)
    blobs = per_rec.groupBy("file_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("doc_id", "rec"))),
            lambda s: s["rec"],
        ).alias("recs")
    )

    def kern(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for rec_list in pdf["recs"]:
                gz = b"".join(gzip_member(bytes(r)) for r in rec_list)
                rows.extend(_records_to_rows(parse_warc_gz_records(gz)))
            yield pd.DataFrame(
                rows,
                columns=["url", "warc_date", "content_length", "payload_md5"],
            )

    return blobs.mapInPandas(kern, schema=_SCAN_SCHEMA)


QUARANTINE_EVERY = 7  # fixture: file_id % 7 == 3 archives arrive corrupt


def warc_scan_quarantine(spark, sf_dir):
    """Error-RESILIENT archive scan: the production posture for a 100-TB
    crawl where some archives WILL be corrupt. The strict scans raise
    (right for a single manifest you control); a fleet-wide ingest must
    neither crash the job on one bad file nor silently keep a partial
    parse — a mis-advanced cursor poisons every later record in the
    file, so salvaging the prefix risks exactly the silent truncation
    the raise exists to prevent. Policy pinned here: quarantine the
    WHOLE file (one 'quarantined' row carrying the file_id for the
    re-fetch queue; zero record rows from it) and parse everything else
    normally, in the same single pass — per-file try/except around the
    SAME strict parser, so tolerant and strict modes cannot drift.

    The fixture deterministically corrupts file_id % QUARANTINE_EVERY == 3
    archives (first byte flipped — framing breaks at offset 0), giving
    the oracle a closed form over BOTH branches: quarantined files
    contribute exactly one status row, clean files replay the warc_scan
    relation. status is a column, not an exception — downstream filters
    route records vs re-fetch work relationally."""
    from collections.abc import Iterator

    import pandas as pd

    from pyspark.sql import functions as F

    per_rec = _synth_record_table(spark, sf_dir)
    blobs = per_rec.groupBy("file_id").agg(
        F.aggregate(
            F.transform(
                F.array_sort(F.collect_list(F.struct("doc_id", "rec"))),
                lambda s: s["rec"],
            ),
            F.lit(b""),
            lambda acc, x: F.concat(acc, x),
        ).alias("warc")
    ).select(
        "file_id",
        "warc",
        (F.col("file_id") % QUARANTINE_EVERY == 3).alias("corrupt"),
    )

    cols = ["file_id", "url", "warc_date", "content_length", "payload_md5",
            "status"]

    def kern(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for file_id, blob, corrupt in zip(
                pdf["file_id"], pdf["warc"], pdf["corrupt"]
            ):
                blob = bytes(blob)
                if corrupt:  # fixture-injected transport corruption
                    blob = bytes([blob[0] ^ 0xFF]) + blob[1:]
                try:
                    recs = _records_to_rows(parse_warc_records(blob))
                except ValueError:
                    rows.append(
                        {
                            "file_id": file_id,
                            "url": None,
                            "warc_date": None,
                            "content_length": None,
                            "payload_md5": None,
                            "status": "quarantined",
                        }
                    )
                    continue
                for r in recs:
                    rows.append({"file_id": file_id, **r, "status": "ok"})
            yield pd.DataFrame(rows, columns=cols)

    return blobs.mapInPandas(
        kern,
        schema="file_id long, url string, warc_date string, "
        "content_length long, payload_md5 string, status string",
    )


CDX_FILES = 8  # archive files the indexed sink writes


def write_warc_archive_indexed(pages, out_dir: str):
    """Distributed WARC sink with a CDX-style per-record index:
    (url, warc_ts, html) → ``CDX_FILES`` `.warc.gz` member archives under
    ``out_dir``, returning one row per record — (url, warc_date, file,
    offset, length). The scan half (warc_gz_scan) reads these bytes back
    record-for-record, which the roundtrip test pins. Each record is its
    own gzip member, so (offset, length) brackets exactly one member and a
    reader can inflate it without touching the rest of the file (the
    takedown/re-audit access path robots_compliance implies).

    Determinism and idempotence (the extraction-sink discipline):
    * records within a file are sorted by url and each member is written
      at a FIXED compression level with zeroed mtime (gzip_member), so the
      same input produces byte-identical archives, and offsets, on every
      run — safe to re-run over a partial failure;
    * each task writes to a temp path and os.replace()s it into place
      (atomic on POSIX), so a killed task never leaves a half-written
      archive with the final name;
    * a null warc_ts lands in the 1970-01-01T00:00:00Z sentinel, never
      dropped (the null-partition regression probe).

    Scale shape: one hash shuffle on the file bucket (md5 of url — no
    hot-host skew since the key is the full url), then each archive is
    built and written inside its own task via applyInPandas; the index
    rides back as the task output relation — write it as a parquet
    sidecar (write_warc_cdx) and point lookups become an index equality
    probe + one ranged read. On object storage the os.replace seam is
    where the multipart-upload commit goes."""
    import os

    import pandas as pd
    from pyspark.sql import functions as F

    from ..functions.exprs import md5_60

    os.makedirs(out_dir, exist_ok=True)
    iso = F.coalesce(
        F.date_format("warc_ts", "yyyy-MM-dd'T'HH:mm:ss'Z'"),
        F.lit("1970-01-01T00:00:00Z"),
    )
    src = pages.select(
        "url",
        iso.alias("warc_date"),
        F.col("html"),
        F.pmod(md5_60(F.col("url")), F.lit(CDX_FILES)).cast("int").alias("bkt"),
    )

    def _write(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("url", kind="mergesort")
        members, offsets, lengths = [], [], []
        off = 0
        for u, d, p in zip(pdf["url"], pdf["warc_date"], pdf["html"]):
            m = gzip_member(build_warc_record(u, d, bytes(p)))
            members.append(m)
            offsets.append(off)
            lengths.append(len(m))
            off += len(m)
        bkt = int(pdf["bkt"].iloc[0])
        final = os.path.join(out_dir, f"part-{bkt:05d}.warc.gz")
        tmp = final + f".tmp-{os.getpid()}"
        with open(tmp, "wb") as f:
            f.write(b"".join(members))
        os.replace(tmp, final)
        return pd.DataFrame(
            {
                "url": pdf["url"].to_numpy(),
                "warc_date": pdf["warc_date"].to_numpy(),
                "file": [os.path.basename(final)] * len(pdf),
                "offset": offsets,
                "length": lengths,
            }
        )

    return src.groupBy("bkt").applyInPandas(
        _write,
        "url string, warc_date string, file string, offset long, length long",
    )


def write_warc_cdx(pages, out_dir: str):
    """Write archives + persist the CDX index as a parquet sidecar
    (``out_dir``/_cdx), then return the index DataFrame read back from
    it. One job writes both: the sidecar write IS the action that runs
    the archive-writing tasks."""
    import os

    idx = write_warc_archive_indexed(pages, out_dir)
    cdx_path = os.path.join(out_dir, "_cdx")
    idx.write.mode("overwrite").parquet(cdx_path)
    return pages.sparkSession.read.parquet(cdx_path)


def warc_point_read(out_dir: str, file: str, offset: int, length: int) -> dict:
    """Random-access read of ONE record: seek to ``offset``, read exactly
    ``length`` bytes (one gzip member), inflate, parse — the archive is
    never scanned. The I/O contract a takedown or re-audit needs on a
    multi-TB archive set."""
    import os

    with open(os.path.join(out_dir, file), "rb") as f:
        f.seek(offset)
        blob = f.read(length)
    recs = parse_warc_gz_records(blob)
    if len(recs) != 1:
        raise ValueError(
            f"index entry did not bracket exactly one member "
            f"({len(recs)} records at {file}:{offset}+{length})"
        )
    return recs[0]


CDX_PROBE_MOD = 17  # warc_cdx_lookup probes every 17th document


def warc_cdx_lookup(spark, sf_dir):
    """Driver query certifying the index + point-read path end-to-end:
    write the synthesized pages as indexed archives, probe every
    ``CDX_PROBE_MOD``-th document THROUGH the index with ranged point reads,
    and return what the reads actually decoded — (url, warc_date,
    payload_md5) come from the inflated record bytes, not echoed input,
    so the oracle match proves offset/length/compression are all right.

    The fixture writes under the local tmp dir (local-mode sandbox; on a
    cluster the archive root is shared storage and the kernel's ranged
    read becomes a ranged GET)."""
    import hashlib
    import os
    import tempfile

    import pandas as pd
    from pyspark.sql import functions as F

    from ..queries import synth_pages_from_documents

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    out_dir = os.path.join(tempfile.gettempdir(), f"warc_cdx_{tag}")
    pages = synth_pages_from_documents(spark, sf_dir)
    cdx = write_warc_cdx(pages, out_dir)
    probes = cdx.where(
        F.expr("cast(split(url, '/')[4] as long)") % CDX_PROBE_MOD == 0
    )

    def kern(batches):
        for pdf in batches:
            urls, dates, md5s = [], [], []
            for fl, off, ln in zip(pdf["file"], pdf["offset"], pdf["length"]):
                rec = warc_point_read(out_dir, fl, int(off), int(ln))
                urls.append(rec["url"])
                dates.append(rec["warc_date"])
                md5s.append(hashlib.md5(rec["payload"]).hexdigest())
            yield pd.DataFrame(
                {"url": urls, "warc_date": dates, "payload_md5": md5s}
            )

    return probes.mapInPandas(
        kern, "url string, warc_date string, payload_md5 string"
    )
