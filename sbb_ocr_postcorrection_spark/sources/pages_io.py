"""Pages-table sources and sinks (SURVEY.md §2.1).

The reference moved data through five ad-hoc file formats (JSON corpus
dumps, SQLite, .npy, pickle, plain text — S5-S10); here one canonical
schema flows through partitioned parquet. The (dt, bkt)-partitioned
extraction table has one writer, the extraction job's own
(``pipeline.run_extraction_job``). JSON remains as a debug-dump sink only,
mirroring the reference's S5 use.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

PAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
    ]
)


def read_pages(spark: SparkSession, path: str) -> DataFrame:
    """S1-analog scan with the schema pinned (no inference — the reference's
    only declared schema was its SQLite DDL; ours is explicit everywhere)."""
    return spark.read.schema(PAGES_SCHEMA).parquet(path)


def read_pages_pruned(
    spark: SparkSession,
    path: str,
    *,
    need_html: bool = True,
    lang: str | None = None,
) -> DataFrame:
    """Scan with aggressive column pruning: metric-only consumers must
    never read the html binary column (SURVEY.md §7.3 binary-heavy rows).
    The lang predicate is pushed into the parquet scan."""
    cols = ["url", "warc_ts", "lang"] + (["html"] if need_html else ["text"])
    df = spark.read.schema(PAGES_SCHEMA).parquet(path).select(*cols)
    if lang is not None:
        df = df.filter(F.col("lang") == lang)
    return df


def dump_debug_json(df: DataFrame, path: str, limit: int = 1000) -> None:
    """S5-analog: tiny JSON debug dumps only (never a pipeline boundary)."""
    df.limit(limit).coalesce(1).write.mode("overwrite").json(path)


def write_bucketed(df: DataFrame, table: str, n_buckets: int = 16) -> None:
    """Bucketed managed table on the join key: later url-equi-joins between
    tables bucketed the same way are co-located — no exchange on either
    side (the 100-TB join strategy for extraction↔enrichment joins).
    Plain parquet paths cannot carry bucket metadata; this is the
    `saveAsTable` flavor (Iceberg's bucket(url) transform is the cluster
    equivalent)."""
    (
        df.write.mode("overwrite")
        .bucketBy(n_buckets, "url")
        .sortBy("url")
        .format("parquet")
        .saveAsTable(table)
    )
