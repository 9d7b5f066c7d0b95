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
state. For unbounded crawls the state store is bounded by a processing-time
timeout (``ttl_minutes``): a digest idle longer than the TTL is evicted and
a later re-crawl counts as first-seen again — the documented trade of the
online form (an exact forever-dedup needs the batch job over the full
corpus; run both, as real pipelines do).
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

def _null_safe_key(key_col, url) -> "F.Column":
    """State keys must never be NULL: md5(NULL text) / canonical(NULL url)
    would collapse EVERY null-keyed row across batches into one state group,
    flagging all but the first as duplicates — exactly the failure the batch
    incremental_dedup sentinels as 'null:<doc_id>' (operators/dedup.py:139).
    Mirror that convention with the row's own identity: a null-content page
    keeps its per-url identity; a fully anonymous row (url NULL too) gets
    the bare sentinel and is at least never conflated with real content."""
    return F.coalesce(
        key_col,
        F.concat(F.lit("null:"), F.coalesce(url.cast("string"), F.lit(""))),
    )


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


def _make_dedup_fn(ttl_minutes: int | None):
    def dedup_fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        """Per-digest state transition: emit every row with its duplicate
        verdict; the first arrival of a digest (ever, within the state TTL)
        is the keeper. Rows inside a batch are ordered by (warc_ts, url) so
        the keeper is deterministic under batch-internal reordering."""
        (content_hash,) = key
        if state.hasTimedOut:
            state.remove()
            return
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
        if ttl_minutes is not None:
            state.setTimeoutDuration(ttl_minutes * 60 * 1000)
        yield pd.DataFrame(rows, columns=[f.name for f in OUT_SCHEMA.fields])

    return dedup_fn


def _stateful_first_seen(
    stream: DataFrame, key_expr, ttl_minutes: int | None
) -> DataFrame:
    """Shared stateful tail: key the stream on ``key_expr`` (aliased to
    content_hash — the state key column), run the per-key seen-count
    transition. Both dedup keys (content digest, canonical URL) share ONE
    state-transition function so their first-seen semantics cannot drift."""
    keyed = stream.select(
        key_expr.alias("content_hash"), "url", "warc_ts"
    ).groupBy("content_hash")
    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if ttl_minutes is not None
        else GroupStateTimeout.NoTimeout
    )
    return keyed.applyInPandasWithState(
        _make_dedup_fn(ttl_minutes), OUT_SCHEMA, STATE_SCHEMA, "update", timeout
    )


def dedup_stream(pages_stream: DataFrame, ttl_minutes: int | None = None) -> DataFrame:
    """Streaming exact-dedup verdicts per page.

    Input: a streaming (url, warc_ts, text, ...) DataFrame. Output: one row
    per input row with is_first / n_seen_before. State per distinct digest;
    ``ttl_minutes`` bounds the store for unbounded runs (None = keep state
    for the lifetime of the query — fine for tests and bounded backfills)."""
    return _stateful_first_seen(
        pages_stream,
        _null_safe_key(F.md5(F.col("text")), F.col("url")),
        ttl_minutes,
    )


def url_dedup_stream(
    pages_stream: DataFrame, ttl_minutes: int | None = None
) -> DataFrame:
    """First-seen-wins CANONICAL-URL dedup across micro-batches: the
    streaming form of operators/urls.url_dedup. Re-crawls and spelling
    variants (scheme/case/www/query/fragment/slash noise) of a page
    already ingested are flagged BEFORE the extraction kernel pays for
    them — in a continuous crawl this gate sits upstream of the kernel,
    whereas content dedup must sit downstream (extract_dedup_stream).
    State is one long per distinct canonical URL, same TTL bound."""
    from ..operators.urls import canonical_url_expr

    # a NULL url has no address identity — fall back to the row's content
    # digest (itself null-guarded) so address-less rows are never
    # cross-deduplicated against each other by the shared null key
    key = _null_safe_key(
        canonical_url_expr(F.col("url")), F.md5(F.col("text"))
    )
    return _stateful_first_seen(pages_stream, key, ttl_minutes).withColumnRenamed(
        "content_hash", "canon_url"
    )


def bloom_gate_stream(
    stream: DataFrame, history: DataFrame,
    m_bits: int | None = None, k_hashes: int | None = None,
    key: str = "text", id_col: str = "doc_id", drop: bool = False,
) -> DataFrame:
    """Bounded-memory history screen on the stream: the streaming form of
    operators/dedup.bloom_gate (VERDICT r3 #7).

    The stateful dedup above keeps one state row per distinct digest —
    exact, but state grows with the corpus. The steady-state crawl wants
    the CONSTANT-memory screen in front: an m-bit Bloom bitmap of the
    full crawl HISTORY (built once from the static relation at query
    definition — bounded by m, not |history|), broadcast, probed locally
    by every micro-batch. Stateless by construction: no state store, no
    watermark, no shuffle — the k bit positions are JVM plan columns
    (bloom_probe_cols) and the verdict is one scalar pandas UDF doing
    the SAME vectorized bitmap gather as the batch kernel
    (bloom_hits_np — shared code, so stream and batch cannot drift).
    Only the k int columns cross Arrow; the page payload stays JVM-side
    (the robots-gate lesson). bloom_hit=1 means MAYBE seen (known FP
    rate), 0 is definite-new; ``drop=True`` keeps definite-new rows only
    and restores the caller's schema. Survivors still meet the exact
    stateful dedup downstream — the screen only spares the kernel."""
    import pandas as pd

    from pyspark.sql.functions import pandas_udf

    clash = {"content_hash", "bloom_hit"} & set(stream.columns)
    if clash:
        # withColumn would silently OVERWRITE these; with drop=True the
        # clobbered original would even survive under the claim of a
        # restored input schema. Refuse loudly instead.
        raise ValueError(
            f"bloom_gate_stream reserves column(s) {sorted(clash)}; "
            "rename them on the input stream first"
        )

    from ..operators.dedup import (
        BLOOM_K_HASHES,
        BLOOM_M_BITS,
        bloom_hits_np,
        bloom_probe_cols,
        build_bloom_bitmap,
        content_digest,
    )

    m = m_bits if m_bits is not None else BLOOM_M_BITS
    k = k_hashes if k_hashes is not None else BLOOM_K_HASHES
    bc = stream.sparkSession.sparkContext.broadcast(
        build_bloom_bitmap(history, m, k)
    )
    # non-decorator scalar form (stringified annotations break hint
    # inference under `from __future__ import annotations`)
    probe = pandas_udf(
        lambda *ps: pd.Series(
            bloom_hits_np(bc.value, list(ps)).astype("int32"), index=ps[0].index
        ),
        "int",
    )

    pos = bloom_probe_cols(F.col("content_hash"), m, k)
    out = (
        stream.withColumn(
            "content_hash", content_digest(F.col(key), F.col(id_col))
        )
        .withColumn("bloom_hit", probe(*pos))
    )
    if drop:
        # both names are reserved (guard above), so dropping them always
        # restores exactly the caller's schema
        return out.filter(F.col("bloom_hit") == 0).drop(
            "content_hash", "bloom_hit"
        )
    return out


def extract_dedup_stream(pages_stream: DataFrame, ttl_minutes: int | None = None) -> DataFrame:
    """The full streaming ingest pipeline in ONE query: fused extraction
    kernel (``kernels_spark.extract_stage`` via ``mapInArrow`` on the
    stream) → stateful online dedup keyed on the EXTRACTED text digest.
    This is the shape a continuous crawl actually
    wants — boilerplate variations of the same article hash identically
    only after extraction, so dedup must run downstream of the kernel.
    Chaining a stateless Arrow kernel into a stateful operator is plain
    Structured Streaming composition: one micro-batch runs both."""
    from .ingest import extract_stream

    extracted = extract_stream(pages_stream).select(
        "url", "warc_ts", F.col("extracted_text").alias("text")
    )
    return dedup_stream(extracted, ttl_minutes=ttl_minutes)


POLITE_SCHEMA = StructType(
    [
        StructField("host", StringType()),
        StructField("url", StringType()),
        StructField("warc_ts", TimestampType()),
        StructField("window_epoch", LongType()),
        StructField("n_allowed_before", LongType()),
        StructField("allowed", BooleanType()),
    ]
)

POLITE_STATE = StructType(
    [StructField("epoch", LongType()), StructField("used", LongType())]
)


def politeness_limit_stream(
    pages_stream: DataFrame, cap: int, window_sec: int = 60
) -> DataFrame:
    """Stateful per-host fetch-rate limiter: at most ``cap`` allowed
    fetches per host per ``window_sec`` event-time window, excess rows
    emitted with allowed=false (the frontier re-queues them) — the
    ONLINE form of crawl_schedule's politeness budgeting, carried across
    micro-batch boundaries by per-host state exactly like the stateful
    dedup carries seen-counts.

    State is two longs per host (current window epoch + budget used):
    bounded by the host dimension, partitioned by the host hash. Rows
    inside a batch process in (warc_ts, url) order so the verdict is
    deterministic under batch-internal reordering; the transition
    assumes per-host event times arrive non-decreasing ACROSS batches
    (the file-stream/watermark ordering the ingest layer provides) —
    a late row simply draws from the current window's budget, which is
    the conservative direction for politeness."""
    host = F.regexp_extract(F.col("url"), r"^(?:[a-z]+://)?(?:www\.)?([^/]+)", 1)

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (h,) = key
        epoch, used = (state.get if state.exists else (None, 0))
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if not chunks:
            if state.exists:
                state.update((epoch, used))
            return
        batch = pd.concat(chunks, ignore_index=True).sort_values(
            ["warc_ts", "url"], kind="mergesort"
        )
        rows: list[dict[str, Any]] = []
        for url, ts in zip(batch["url"], batch["warc_ts"]):
            e = int(ts.timestamp()) // window_sec
            if e != epoch:
                epoch, used = e, 0
            ok = used < cap
            rows.append(
                {
                    "host": h,
                    "url": url,
                    "warc_ts": ts,
                    "window_epoch": e,
                    "n_allowed_before": used,
                    "allowed": ok,
                }
            )
            if ok:
                used += 1
        state.update((epoch, used))
        yield pd.DataFrame(rows, columns=[f.name for f in POLITE_SCHEMA.fields])

    keyed = pages_stream.select(
        host.alias("host"), "url", "warc_ts"
    ).groupBy("host")
    return keyed.applyInPandasWithState(
        fn, POLITE_SCHEMA, POLITE_STATE, "update", GroupStateTimeout.NoTimeout
    )
