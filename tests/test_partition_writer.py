"""The job's writer: ``kernels_spark.write_stage`` writes each task's
(dt, bkt) groups as zstd parquet into a per-attempt staging directory and
the driver commits them (``pipeline._run_claimed``). Its files must hold
exactly the kernel's rows, stay invisible to every reader while staged,
and read back with the extraction table's schema."""

import datetime
import os
import shutil

import pyarrow as pa
import pyarrow.dataset as pads
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from sbb_ocr_postcorrection_spark import kernels_spark
from sbb_ocr_postcorrection_spark.datagen import generate_pages, pages_to_arrow
from sbb_ocr_postcorrection_spark.kernels_spark import (
    EXTRACT_SCHEMA,
    WRITTEN_SCHEMA,
    extract_stage,
    write_stage,
)
from sbb_ocr_postcorrection_spark.pipeline import run_extraction_job
from sbb_ocr_postcorrection_spark.snapshots import read_extractions

N_PAGES = 60


@pytest.fixture(scope="module")
def pages_path(tmp_path_factory):
    p = str(tmp_path_factory.mktemp("writer") / "pages.parquet")
    pq.write_table(pages_to_arrow(generate_pages(N_PAGES, seed=11)), p)
    return p


@pytest.fixture(scope="module")
def job_out(spark, pages_path, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("writer_job") / "out")
    run_extraction_job(spark, spark.read.parquet(pages_path), out)
    return out


def _data_files(root):
    return sorted(
        os.path.join(d, n)
        for d, _, names in os.walk(root)
        for n in names
        if n.endswith(".parquet")
    )


def test_flush_threshold_splits_row_groups(spark, pages_path, tmp_path, monkeypatch):
    """A tiny flush threshold flushes every batch: the task's one file
    holds several row groups, and its rows are extract_stage's rows."""
    monkeypatch.setattr(kernels_spark, "_FLUSH_BYTES", 1)
    staging = str(tmp_path / "_staging-t")
    df = (
        spark.read.parquet(pages_path)
        .select("url", "warc_ts", "html", "lang")
        .withColumn("dt", F.lit(datetime.date(2024, 1, 2)))
        .withColumn("bkt", F.lit(5))
        .repartition(1)
    )
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key)
    spark.conf.set(key, "8")
    try:
        (written,) = df.mapInArrow(write_stage(staging), WRITTEN_SCHEMA).collect()
    finally:
        spark.conf.set(key, prev)

    assert (written["dt"], written["bkt"]) == (datetime.date(2024, 1, 2), 5)
    assert os.path.dirname(written["path"]).endswith(os.path.join("dt=2024-01-02", "bkt=5"))
    assert _data_files(staging) == [written["path"]]
    f = pq.ParquetFile(written["path"])
    assert f.metadata.num_row_groups >= N_PAGES // 8
    got = f.read().sort_by("url")

    pages = pq.read_table(pages_path, columns=["url", "warc_ts", "html", "lang"])
    want = pa.Table.from_batches(
        extract_stage(iter(pages.to_batches(max_chunksize=8)))
    ).sort_by("url")
    assert got.column_names == want.column_names
    assert got.to_pylist() == want.to_pylist()
    assert written["n_docs"] == got.num_rows == N_PAGES
    for c in ("chars_in", "chars_out", "n_flagged", "n_spans"):
        assert written[c] == sum(got.column(c).to_pylist())


def test_staging_is_invisible_and_removed(spark, pages_path, tmp_path):
    """Files under a dead writer's ``_staging-*`` root (orphan attempts
    included) are never read, and the next writing run removes them."""
    out = str(tmp_path / "out")
    pages = spark.read.parquet(pages_path)
    run_extraction_job(spark, pages, out)
    table = os.path.join(out, "extractions")
    assert not [n for n in os.listdir(table) if n.startswith("_staging-")]

    # plant a killed run's staging root holding copies of real files
    src = _data_files(table)[0]
    part = os.path.relpath(os.path.dirname(src), table)
    for attempt in ("attempt-7", "attempt-8"):
        d = os.path.join(table, "_staging-dead", attempt, part)
        os.makedirs(d)
        shutil.copy(src, os.path.join(d, "part-00000.parquet"))

    assert spark.read.parquet(table).count() == N_PAGES
    assert read_extractions(spark, out).count() == N_PAGES
    ds = pads.dataset(table, format="parquet", partitioning="hive")
    assert ds.count_rows() == N_PAGES

    run_extraction_job(spark, pages, out, resume=False)
    assert not [n for n in os.listdir(table) if n.startswith("_staging-")]
    assert spark.read.parquet(table).count() == N_PAGES


def test_read_back_schema(spark, job_out):
    got = spark.read.parquet(os.path.join(job_out, "extractions")).schema
    assert got == StructType.fromDDL(f"{EXTRACT_SCHEMA}, dt date, bkt int")


def test_file_footers(job_out):
    """zstd everywhere; no statistics on extracted_text, whose multi-KB
    min/max values would bloat every footer; statistics elsewhere."""
    files = _data_files(os.path.join(job_out, "extractions"))
    assert files
    for path in files:
        meta = pq.ParquetFile(path).metadata
        for g in range(meta.num_row_groups):
            rg = meta.row_group(g)
            for i in range(rg.num_columns):
                col = rg.column(i)
                assert col.compression == "ZSTD", (path, col.path_in_schema)
                assert col.is_stats_set == (col.path_in_schema != "extracted_text")
