"""Streaming ingest: pages arriving as parquet files → extraction →
per-crawl-day metric windows.

Design notes for the 100-TB continuous-crawl extension:
* the fused kernel is partition-local and stateless, so it lifts to a
  stream unchanged: ``extract_stream`` runs the batch job's own
  ``mapInArrow`` stage (``kernels_spark.extract_stage``) on the streaming
  DataFrame;
* metrics aggregate over event-time windows of ``warc_ts`` with a
  watermark — late WARC records (re-crawls, delayed uploads) fold into
  their window until the watermark passes;
* the real sink would be ``foreachBatch`` doing the same idempotent
  overwrite-by-partition as the batch job (exactly-once per partition);
  the memory sink here is for tests/demos.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..kernels_spark import extract_pages
from ..operators.urls import blocklist_cols
from ..sources.pages_io import PAGES_SCHEMA


def read_pages_stream(spark: SparkSession, path: str, max_files: int = 4) -> DataFrame:
    """File-source stream over a directory of pages parquet files."""
    return (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", max_files)
        .parquet(path)
    )


def extract_stream(pages_stream: DataFrame) -> DataFrame:
    """The batch kernel, lifted: same stage, same schema, same bytes per
    url."""
    return extract_pages(pages_stream)


def robots_gate_stream(
    pages_stream: DataFrame, robots: DataFrame, agent: str = "*",
    drop: bool = False,
) -> DataFrame:
    """Pre-kernel robots verdict on the stream: a STREAM-STATIC equality
    join against the (host, robots_txt) policy dimension — supported
    natively by Structured Streaming with no state store or watermark —
    followed by the same Arrow rule-evaluation kernel the batch gate uses
    (sources/robots.robots_gate), so stream and batch verdicts share one
    matcher by construction. The policy snapshot is the one the query
    planned with; a crawl that refreshes robots.txt restarts the query or
    runs the batch re-check over landed pages (both are standard)."""
    import pandas as pd

    from pyspark.sql.functions import pandas_udf

    from ..operators.urls import _host_path_suffixes
    from ..sources.robots import robots_verdicts

    # the verdict UDF is SCALAR over (robots_txt, path) only — the page
    # row (html payload included) stays JVM-side instead of round-tripping
    # through Arrow for a 1-bit answer; the loop inside is the SAME
    # robots_verdicts the batch gate's kernel runs, so stream and batch
    # cannot drift
    # non-decorator scalar form (stringified annotations break hint
    # inference under `from __future__ import annotations`)
    verdict = pandas_udf(
        lambda txt, p: pd.Series(
            robots_verdicts(txt, p, agent), index=txt.index, dtype="int32"
        ),
        "int",
    )

    pre_cols = set(pages_stream.columns)
    host, path, _ = _host_path_suffixes(F.col("url"))
    out = (
        pages_stream.withColumns({"host": host, "path": path})
        .join(robots, "host", "left")
        .withColumn("robots_allowed", verdict(F.col("robots_txt"), F.col("path")))
        .drop("robots_txt")
    )
    if drop:
        # remove only what THIS gate added: a caller's pre-existing
        # host/path audit columns survive drop mode
        added = [c for c in ("host", "path") if c not in pre_cols]
        return out.filter(F.col("robots_allowed") == 1).drop(
            *added, "robots_allowed"
        )
    return out


def blocklist_gate_stream(
    pages_stream: DataFrame, blocked_hosts=None, blocked_path_re=None,
    drop: bool = False,
) -> DataFrame:
    """Pre-kernel URL policy gate on the stream: the first gate of a
    continuous crawl — a page under a blocked domain or path must not
    cost a parse, so this sits UPSTREAM of extract_stream, like
    url_dedup_stream. Stateless by construction (the verdict is pure
    column expressions, operators/urls.blocklist_cols): no watermark, no
    state store, no extra shuffle — each micro-batch leaves already
    labeled. ``drop=True`` filters instead of labeling (the production
    composition ``blocklist_gate_stream(s, drop=True) |> extract_stream``);
    the labeled default keeps the audit trail the batch gate emits."""
    c = blocklist_cols(F.col("url"), blocked_hosts, blocked_path_re)
    out = pages_stream.select(
        "*",
        c["host"].alias("host"),
        c["blocked_host"].alias("blocked_host"),
        c["blocked_path"].alias("blocked_path"),
        c["url_pass"].alias("url_pass"),
    )
    # drop mode restores the EXACT input schema (host included): callers
    # append to pages tables and validate against PAGES_SCHEMA
    return out.filter(F.col("url_pass") == 1).drop(
        "host", "blocked_host", "blocked_path", "url_pass"
    ) if drop else out


def windowed_metrics(extracted: DataFrame, window: str = "1 day",
                     watermark: str = "2 days") -> DataFrame:
    """Event-time metric rollup with late-data handling (A10 over time):
    docs, chars in/out and detector hit rate per warc_ts window."""
    return (
        extracted.withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", window).alias("w"), "lang")
        .agg(
            F.count(F.lit(1)).alias("docs"),
            F.sum("chars_in").alias("chars_in"),
            F.sum("chars_out").alias("chars_out"),
            (F.sum("n_flagged") / F.greatest(F.sum("n_spans"), F.lit(1))).alias(
                "detector_hit_rate"
            ),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "lang", "docs", "chars_in", "chars_out", "detector_hit_rate",
        )
    )


def run_stream_once(spark: SparkSession, input_dir: str, query_name: str = "extract_metrics"):
    """Drive the stream to completion over the files currently present
    (memory sink; tests use this).

    NOTE: complete output mode is demo-only — in complete mode the
    watermark does NOT evict window state (that happens in append/update
    modes), so this form must not run unbounded. The production sink is
    foreachBatch in update mode doing the batch job's idempotent
    overwrite-by-partition, where the watermark bounds state as documented
    in windowed_metrics."""
    stream = read_pages_stream(spark, input_dir)
    metrics = windowed_metrics(extract_stream(stream))
    q = (
        metrics.writeStream.outputMode("complete")
        .format("memory")
        .queryName(query_name)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return spark.sql(f"SELECT * FROM {query_name}")


VOLUME_SPIKE_FACTOR = 2  # window volume > factor × baseline ⇒ anomaly


def volume_anomaly_stream(
    pages_stream: DataFrame,
    baseline: DataFrame,
    window: str = "1 day",
    watermark: str = "1 day",
) -> DataFrame:
    """Streaming ingest-volume anomaly screen: tumbling event-time
    windows over the page stream, each window's document count compared
    against a STATIC per-window baseline (yesterday's ingest_trend
    history, a capacity plan, or a contract rate) — the live counterpart
    of temporal.ingest_trend's batch spike rule, with the same
    integer-only verdict: n_docs > factor × expected (no float
    thresholds). Windows with no baseline row never flag (unknown
    expectation is not an anomaly — the ingest_trend n_prior_days rule).

    Spark disallows joins after a streaming aggregation, so the baseline
    rides in as a plan-literal map keyed by the window-start epoch (the
    decontaminate_stream collect-the-dimension rationale — baselines are
    windows-sized while the stream is unbounded); state is just the
    watermark-bounded window counts."""
    rows = baseline.select("window_start", "expected_docs").collect()
    kv = [
        x
        for r in rows
        for x in (
            F.lit(int(r["window_start"].timestamp())),
            F.lit(int(r["expected_docs"])),
        )
    ]
    bmap = F.create_map(*kv) if kv else F.create_map().cast("map<bigint,bigint>")
    counts = (
        pages_stream.withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", window).alias("w"))
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .select(F.col("w").start.alias("window_start"), "n_docs")
    )
    expected = F.element_at(
        bmap, F.unix_timestamp(F.col("window_start")).cast("bigint")
    )
    spike = (
        expected.isNotNull()
        & (F.col("n_docs") > VOLUME_SPIKE_FACTOR * expected)
    ).cast("int")
    return counts.select(
        "window_start",
        "n_docs",
        expected.alias("expected_docs"),
        spike.alias("volume_anomaly"),
    )


def trailing_anomaly_stream(
    pages_stream: DataFrame,
    window_sec: int = 60,
    trail: int = 4,
    factor: int = 2,
) -> DataFrame:
    """Stateful per-host ingest anomaly with a SELF-ADAPTIVE trailing
    baseline — the ONLINE twin of temporal.host_trailing_anomaly (same
    integer rule: n_docs · trail > factor · trail_sum, flagged only with
    full history). volume_anomaly_stream compares against a STATIC
    baseline map; this operator learns each host's own baseline from its
    previous ``trail`` windows, carried across micro-batches as state —
    the screen that catches one feed going rogue inside normal totals.

    A window's verdict emits when a LATER window for that host arrives
    (the politeness limiter's per-host non-decreasing event-time
    assumption): only then is its count final. State per host is the
    ring buffer of the last ``trail`` closed window counts plus the open
    window — bounded by the host dimension times a constant, the
    stateful-dedup discipline."""
    from collections.abc import Iterator
    from typing import Any

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        ArrayType,
        IntegerType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    out_schema = StructType(
        [
            StructField("host", StringType()),
            StructField("epoch", LongType()),
            StructField("n_docs", LongType()),
            StructField("trail_sum", LongType()),
            StructField("n_trail", LongType()),
            StructField("anomaly", IntegerType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("ring", ArrayType(LongType())),
            StructField("cur_epoch", LongType()),
            StructField("cur_count", LongType()),
        ]
    )
    host = F.regexp_extract(
        F.col("url"), r"^(?:[a-z]+://)?(?:www\.)?([^/]+)", 1
    )

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (h,) = key
        ring, cur_epoch, cur_count = (
            state.get if state.exists else ([], None, 0)
        )
        ring = list(ring or [])
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if not chunks:
            if state.exists:
                state.update((ring, cur_epoch, cur_count))
            return
        batch = pd.concat(chunks, ignore_index=True).sort_values(
            ["warc_ts", "url"], kind="mergesort"
        )
        rows: list[dict[str, Any]] = []
        for ts in batch["warc_ts"]:
            e = int(ts.timestamp()) // window_sec
            if cur_epoch is None:
                cur_epoch, cur_count = e, 0
            elif e != cur_epoch:
                # close the finished window: score it, then it becomes
                # part of the trailing baseline
                trail_sum = sum(ring)
                n_trail = len(ring)
                rows.append(
                    {
                        "host": h,
                        "epoch": cur_epoch,
                        "n_docs": cur_count,
                        "trail_sum": trail_sum,
                        "n_trail": n_trail,
                        "anomaly": int(
                            n_trail == trail
                            and cur_count * trail > factor * trail_sum
                        ),
                    }
                )
                ring = (ring + [cur_count])[-trail:]
                cur_epoch, cur_count = e, 0
            cur_count += 1
        state.update((ring, cur_epoch, cur_count))
        if rows:
            yield pd.DataFrame(
                rows, columns=[f.name for f in out_schema.fields]
            )

    keyed = pages_stream.select(host.alias("host"), "url", "warc_ts").groupBy(
        "host"
    )
    return keyed.applyInPandasWithState(
        fn, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def hll_cardinality_stream(docs_stream: DataFrame) -> DataFrame:
    """Streaming distinct-token cardinality per source: the online twin
    of operators/index.hll_distinct_tokens. HLL is the textbook
    streaming sketch — its merge is an elementwise register MAX, which
    is associative, commutative and idempotent, so cross-batch state is
    exactly the batch aggregation's state no matter how the stream is
    chopped (the stream == batch test asserts the integer register
    digest s_num is IDENTICAL to the batch operator's).

    State per source: the 64 register maxima + a token counter — fixed
    bytes per key however unbounded the stream (the whole point of
    carrying a sketch instead of a distinct-set). Each micro-batch emits
    the UPDATED cumulative estimate row for every source it touched.

    Hashing matches operators.index exactly (md5 → first 15 hex → 60-bit
    int; bucket = h % m, rho = 55 − bitlen(h div m) + 1), so register
    states are bit-identical across the batch and streaming paths."""
    import hashlib
    from collections.abc import Iterator as _Iter
    from math import log

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        IntegerType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from ..operators.index import HLL_ALPHA_M2, HLL_BUCKETS, _HLL_POW55

    out_schema = StructType(
        [
            StructField("source", StringType()),
            StructField("n_tokens_seen", LongType()),
            StructField("n_zero", IntegerType()),
            StructField("s_num", LongType()),
            StructField("hll_estimate", DoubleType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("regs", ArrayType(IntegerType())),
            StructField("n_tokens", LongType()),
        ]
    )

    def fn(
        key: tuple, pdfs: _Iter[pd.DataFrame], state: GroupState
    ) -> _Iter[pd.DataFrame]:
        (src,) = key
        if state.exists:
            regs, n_tokens = state.get
            regs = list(regs)
        else:
            regs, n_tokens = [0] * HLL_BUCKETS, 0
        for pdf in pdfs:
            for text in pdf["text"]:
                for tok in (text or "").lower().split(" "):
                    if not tok:
                        continue
                    n_tokens += 1
                    h = int(hashlib.md5(tok.encode()).hexdigest()[:15], 16)
                    bucket = h % HLL_BUCKETS
                    v = h // HLL_BUCKETS
                    rho = 55 if v == 0 else 55 - v.bit_length() + 1
                    if rho > regs[bucket]:
                        regs[bucket] = rho
        state.update((regs, n_tokens))
        n_present = sum(1 for m in regs if m > 0)
        n_zero = HLL_BUCKETS - n_present
        s_num = sum(1 << (55 - m) for m in regs if m > 0) + n_zero * (1 << 55)
        raw = HLL_ALPHA_M2 * _HLL_POW55 / float(s_num)
        if n_present < HLL_BUCKETS and raw < 2.5 * HLL_BUCKETS:
            est = float(HLL_BUCKETS) * log(float(HLL_BUCKETS) / n_zero)
        else:
            est = raw
        yield pd.DataFrame(
            [
                {
                    "source": src,
                    "n_tokens_seen": n_tokens,
                    "n_zero": n_zero,
                    "s_num": s_num,
                    "hll_estimate": round(est, 4),
                }
            ],
            columns=[f.name for f in out_schema.fields],
        )

    return docs_stream.select("source", "text").groupBy("source").applyInPandasWithState(
        fn, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )
