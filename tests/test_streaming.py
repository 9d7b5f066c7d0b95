"""Stateful cross-batch dedup (applyInPandasWithState), alone and
downstream of the batch extraction kernel in one streaming query."""

import datetime
import hashlib
import os

import pandas as pd
import pyarrow.parquet as pq


def _text_batch(path, rows):
    pdf = pd.DataFrame(rows, columns=["url", "warc_ts", "text"])
    # micros, not pandas-default nanos: Spark reads TIMESTAMP_MICROS
    pdf["warc_ts"] = pd.to_datetime(pdf["warc_ts"]).astype("datetime64[us]")
    pdf.to_parquet(path)


def test_stateful_dedup_across_microbatches(spark, tmp_path):
    """Cross-batch duplicate detection: state (the per-digest seen-count)
    must survive the micro-batch boundary — a duplicate arriving in a LATER
    file is flagged, proving real applyInPandasWithState state, not
    batch-local dedup."""
    from sbb_ocr_postcorrection_spark.streaming.dedup_stream import dedup_stream

    d = tmp_path / "in"
    os.makedirs(d)
    t0 = datetime.datetime(2024, 1, 1, 0, 0, 0)
    # batch 1: two distinct texts + an in-batch duplicate of text A
    _text_batch(
        d / "b1.parquet",
        [
            ("u1", t0, "alpha beta gamma"),
            ("u2", t0 + datetime.timedelta(seconds=1), "delta epsilon"),
            ("u3", t0 + datetime.timedelta(seconds=2), "alpha beta gamma"),
        ],
    )

    stream = (
        spark.readStream.schema("url string, warc_ts timestamp, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    verdicts = dedup_stream(stream)
    seen = []

    def sink(batch_df, _epoch):
        seen.extend(batch_df.collect())

    q = verdicts.writeStream.outputMode("update").foreachBatch(sink).start()
    q.processAllAvailable()

    # batch 2 arrives later: a cross-batch duplicate of A and a new text
    _text_batch(
        d / "b2.parquet",
        [
            ("u4", t0 + datetime.timedelta(seconds=3), "alpha beta gamma"),
            ("u5", t0 + datetime.timedelta(seconds=4), "zeta eta theta"),
        ],
    )
    q.processAllAvailable()
    q.stop()

    by_url = {r["url"]: r for r in seen}
    assert set(by_url) == {"u1", "u2", "u3", "u4", "u5"}
    assert by_url["u1"]["is_first"] and by_url["u1"]["n_seen_before"] == 0
    assert by_url["u2"]["is_first"]
    # in-batch duplicate: ordered after u1 by (warc_ts, url)
    assert not by_url["u3"]["is_first"] and by_url["u3"]["n_seen_before"] == 1
    # CROSS-BATCH duplicate: state survived the micro-batch boundary
    assert not by_url["u4"]["is_first"] and by_url["u4"]["n_seen_before"] == 2
    assert by_url["u5"]["is_first"]
    # keepers = exactly the distinct contents
    assert sum(1 for r in seen if r["is_first"]) == 3


def test_stateful_dedup_survives_query_restart(spark, tmp_path):
    """The production resume story for streams (the batch job has
    SIGKILL-resume; this is the streaming analog): STOP the query after
    batch 1, start a NEW query from the same checkpointLocation, and the
    per-digest state store must come back — a later duplicate of a
    batch-1 document is flagged by the restarted query, and already-read
    input files are not re-emitted."""
    from sbb_ocr_postcorrection_spark.streaming.dedup_stream import dedup_stream

    d = tmp_path / "in"
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(d)
    t0 = datetime.datetime(2024, 1, 1, 0, 0, 0)
    _text_batch(d / "b1.parquet", [("u1", t0, "alpha beta gamma")])

    def start(sink):
        stream = (
            spark.readStream.schema("url string, warc_ts timestamp, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(d))
        )
        return (
            dedup_stream(stream)
            .writeStream.outputMode("update")
            .option("checkpointLocation", ckpt)
            .foreachBatch(sink)
            .start()
        )

    first = []
    q1 = start(lambda df, _e: first.extend(df.collect()))
    q1.processAllAvailable()
    q1.stop()
    assert [r["url"] for r in first] == ["u1"] and first[0]["is_first"]

    # the query is GONE; new files arrive while nothing is running
    _text_batch(
        d / "b2.parquet",
        [
            ("u2", t0 + datetime.timedelta(seconds=1), "alpha beta gamma"),
            ("u3", t0 + datetime.timedelta(seconds=2), "delta epsilon"),
        ],
    )
    second = []
    q2 = start(lambda df, _e: second.extend(df.collect()))
    q2.processAllAvailable()
    q2.stop()
    by_url = {r["url"]: r for r in second}
    # u1 was consumed before the restart — not re-emitted
    assert set(by_url) == {"u2", "u3"}
    # state recovered: u2 duplicates u1 ACROSS the restart
    assert not by_url["u2"]["is_first"] and by_url["u2"]["n_seen_before"] == 1
    assert by_url["u3"]["is_first"]


def test_extract_then_dedup_single_streaming_query(spark, tmp_path):
    """Kernel + stateful dedup composed in ONE streaming query, with
    CRAFTED duplicates: re-crawls of page 0 (same html bytes → same
    extracted text, later warc_ts) appear both in the first file and in a
    LATER micro-batch, and must be flagged as duplicates of the original;
    distinct pages stay keepers."""
    import dataclasses

    from sbb_ocr_postcorrection_spark.datagen import generate_pages, pages_to_arrow
    from sbb_ocr_postcorrection_spark.kernel import run_document
    from sbb_ocr_postcorrection_spark.streaming.dedup_stream import (
        extract_dedup_stream,
    )

    d = tmp_path / "in"
    os.makedirs(d)
    base = generate_pages(8, seed=21)
    later = max(p.warc_ts for p in base) + datetime.timedelta(hours=1)
    recrawl_1 = dataclasses.replace(
        base[0], url=base[0].url + "?recrawl=1", warc_ts=later
    )
    recrawl_2 = dataclasses.replace(
        base[0], url=base[0].url + "?recrawl=2",
        warc_ts=later + datetime.timedelta(hours=1),
    )
    pq.write_table(pages_to_arrow(list(base[:4]) + [recrawl_1]), str(d / "a.parquet"))
    pq.write_table(pages_to_arrow(list(base[4:]) + [recrawl_2]), str(d / "b.parquet"))
    # Spark's file stream orders files by MODIFICATION TIME, not name;
    # under suite load both writes can land in the same mtime tick and
    # b.parquet processes first, making recrawl_2 the keeper (the round-4
    # order-dependent flake). Pin strictly increasing mtimes so the
    # first-seen-wins assertions below are deterministic.
    t = os.stat(d / "a.parquet").st_mtime
    os.utime(d / "a.parquet", (t, t))
    os.utime(d / "b.parquet", (t + 10, t + 10))

    stream = (
        spark.readStream.schema(
            "url string, warc_ts timestamp, html binary, text string, lang string"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    seen = []

    def sink(batch_df, _epoch):
        seen.extend(batch_df.collect())

    q = (
        extract_dedup_stream(stream)
        .writeStream.outputMode("update")
        .foreachBatch(sink)
        .start()
    )
    q.processAllAvailable()
    q.stop()

    assert len(seen) == 10
    by_url = {r["url"]: r for r in seen}
    # the original page 0 is the keeper; its same-batch re-crawl (later
    # warc_ts) and its NEXT-micro-batch re-crawl are both duplicates
    assert by_url[base[0].url]["is_first"]
    assert not by_url[recrawl_1.url]["is_first"]
    assert by_url[recrawl_1.url]["n_seen_before"] == 1
    assert not by_url[recrawl_2.url]["is_first"]  # cross-batch state
    assert by_url[recrawl_2.url]["n_seen_before"] == 2
    # sanity: the dedup really keyed on the KERNEL-extracted text
    assert (
        run_document(recrawl_1.html).extracted_text
        == run_document(base[0].html).extracted_text
    )
    # all genuinely distinct pages are keepers
    n_distinct = len({run_document(p.html).extracted_text for p in base})
    assert sum(1 for r in seen if r["is_first"]) == n_distinct
    # the stream's kernel is the batch kernel: every row's digest is the
    # md5 of the oracle's extracted text for that url, byte for byte
    html_by_url = {p.url: p.html for p in [*base, recrawl_1, recrawl_2]}
    for r in seen:
        text = run_document(html_by_url[r["url"]]).extracted_text
        assert r["content_hash"] == hashlib.md5(text.encode("utf-8")).hexdigest()
