"""Cross-batch streaming dedup: a custom stateful operator.

The batch dedup family (operators/dedup.py) answers "which of these N
documents are duplicates of each other"; a continuous crawl needs the
ONLINE form — "have I ever seen this content before" — across micro-batch
boundaries. That is per-key mutable state, which Structured Streaming
exposes as ``applyInPandasWithState`` (the Arrow-batched
flatMapGroupsWithState): the stream is hash-partitioned by content digest,
and each digest key carries a tiny (n_seen,) state row in the state store.

Scale shape: state is one long per DISTINCT digest — the same cardinality a
batch exact-dedup shuffle would move — partitioned by the digest hash, so
it scales horizontally with executors and no task ever sees another key's
state. State lives for the lifetime of the query (and across restarts from
its checkpoint): nothing is evicted, so a digest is first-seen exactly once
per query.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    BooleanType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from ..kernels_spark import extract_pages

OUT_SCHEMA = StructType(
    [
        StructField("content_hash", StringType()),
        StructField("url", StringType()),
        StructField("warc_ts", TimestampType()),
        StructField("is_first", BooleanType()),
        StructField("n_seen_before", LongType()),
    ]
)
STATE_SCHEMA = StructType([StructField("n_seen", LongType())])


def _dedup_fn(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Per-digest state transition: emit every row with its duplicate
    verdict; the first arrival of a digest (ever) is the keeper. Rows
    inside a batch are ordered by (warc_ts, url) so the keeper is
    deterministic under batch-internal reordering."""
    (content_hash,) = key
    n_seen = state.get[0] if state.exists else 0
    # materialize ALL Arrow chunks of this group before sorting: a group
    # spanning multiple chunks sorted per-chunk would hand is_first to
    # whichever chunk arrives first, not the (warc_ts, url) minimum
    chunks = [pdf for pdf in pdfs if len(pdf)]
    if not chunks:
        state.update((n_seen,))
        return
    batch = pd.concat(chunks, ignore_index=True).sort_values(
        ["warc_ts", "url"], kind="mergesort"
    )
    rows: list[dict[str, Any]] = []
    for url, ts in zip(batch["url"], batch["warc_ts"]):
        rows.append(
            {
                "content_hash": content_hash,
                "url": url,
                "warc_ts": ts,
                "is_first": n_seen == 0,
                "n_seen_before": n_seen,
            }
        )
        n_seen += 1
    state.update((n_seen,))
    yield pd.DataFrame(rows, columns=[f.name for f in OUT_SCHEMA.fields])


def dedup_stream(pages_stream: DataFrame) -> DataFrame:
    """Streaming exact-dedup verdicts per page.

    Input: a streaming (url, warc_ts, text, ...) DataFrame. Output: one row
    per input row with is_first / n_seen_before, keyed on md5(text). State
    per distinct digest, kept for the lifetime of the query.

    State keys must never be NULL: md5(NULL text) would collapse EVERY
    null-text row across batches into one state group, flagging all but
    the first as duplicates. As the batch incremental_dedup does
    ('null:<doc_id>', operators/dedup.py), a null-text page keys on its own
    url; a fully anonymous row (url NULL too) gets the bare sentinel and is
    at least never conflated with real content."""
    key = F.coalesce(
        F.md5(F.col("text")),
        F.concat(F.lit("null:"), F.coalesce(F.col("url").cast("string"), F.lit(""))),
    )
    return (
        pages_stream.select(key.alias("content_hash"), "url", "warc_ts")
        .groupBy("content_hash")
        .applyInPandasWithState(
            _dedup_fn, OUT_SCHEMA, STATE_SCHEMA, "update", GroupStateTimeout.NoTimeout
        )
    )


def extract_dedup_stream(pages_stream: DataFrame) -> DataFrame:
    """The full streaming ingest pipeline in ONE query: the batch job's
    fused extraction kernel (``kernels_spark.extract_pages``, a
    ``mapInArrow`` stage that is partition-local and stateless, so it runs
    on a stream unchanged: same schema, same bytes per url) → stateful
    online dedup keyed on the EXTRACTED text digest. This is the shape a
    continuous crawl actually wants — boilerplate variations of the same
    article hash identically only after extraction, so dedup must run
    downstream of the kernel. Chaining a stateless Arrow kernel into a
    stateful operator is plain Structured Streaming composition: one
    micro-batch runs both."""
    extracted = extract_pages(pages_stream).select(
        "url", "warc_ts", F.col("extracted_text").alias("text")
    )
    return dedup_stream(extracted)
