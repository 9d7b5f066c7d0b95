"""End-to-end job tests: partition layout, resume-from-snapshot, salted agg."""

import pyarrow.parquet as pq
import pytest

from pyspark.sql import functions as F

from sbb_ocr_postcorrection_spark import snapshots
from sbb_ocr_postcorrection_spark.datagen import generate_pages, pages_to_arrow
from sbb_ocr_postcorrection_spark.kernels_spark import extract_pages
from sbb_ocr_postcorrection_spark.pipeline import (
    job_metrics,
    load_manifest,
    run_extraction_job,
    salted_host_agg,
    with_partition_cols,
)


@pytest.fixture()
def pages_parquet(tmp_path):
    path = str(tmp_path / "pages.parquet")
    pq.write_table(pages_to_arrow(generate_pages(150, seed=42)), path)
    return path


def test_job_runs_and_resumes(spark, tmp_path, pages_parquet):
    out = str(tmp_path / "out")
    pages = spark.read.parquet(pages_parquet)

    r1 = run_extraction_job(spark, pages, out)
    assert r1["docs"] > 0
    assert r1["partitions_done"] > 0
    assert r1["partitions_skipped"] == 0

    # second run: everything already in the manifest → nothing to do
    r2 = run_extraction_job(spark, pages, out)
    assert r2["docs"] == 0
    assert r2["partitions_done"] == 0
    assert r2["partitions_skipped"] == r1["partitions_done"]

    # output is complete and byte-stable
    extracted = spark.read.parquet(f"{out}/extractions")
    assert extracted.count() == r1["docs"]
    assert extracted.select("url").distinct().count() == r1["docs"]


def test_partial_resume(spark, tmp_path, pages_parquet):
    """Simulate a killed job: pre-mark half the partitions done with a
    committed snapshot, verify only the rest get processed."""
    out = str(tmp_path / "out2")
    pages = spark.read.parquet(pages_parquet)
    parts = (
        with_partition_cols(pages).select("dt", "bkt").distinct().collect()
    )
    half = parts[: len(parts) // 2]
    pre = spark.createDataFrame(
        [(p["dt"], p["bkt"]) for p in half], "dt date, bkt int"
    )
    snapshots.commit_snapshot(
        out,
        snapshots.begin_commit(out),
        [(p["dt"].isoformat(), p["bkt"]) for p in half],
        op="append",
    )

    r = run_extraction_job(spark, pages, out)
    assert r["partitions_skipped"] == len(half)
    assert r["partitions_done"] == len(parts) - len(half)
    # processed docs = docs outside the pre-marked partitions
    n_pending_docs = (
        with_partition_cols(pages)
        .join(pre.select("dt", "bkt"), ["dt", "bkt"], "left_anti")
        .count()
    )
    assert r["docs"] == n_pending_docs


def test_lang_filter(spark, pages_parquet):
    pages = spark.read.parquet(pages_parquet)
    n_de = pages.filter(F.col("lang") == "de").count()
    extracted = extract_pages(pages.filter(F.col("lang") == "de"))
    assert extracted.count() == n_de


def test_job_metrics(spark, tmp_path, pages_parquet):
    out = str(tmp_path / "out3")
    pages = spark.read.parquet(pages_parquet)
    run_extraction_job(spark, pages, out)
    m = job_metrics(spark, out).collect()[0]
    assert m["docs"] > 0
    assert m["chars_in"] > m["chars_out"] > 0  # boilerplate was stripped
    assert 0.0 < m["detector_hit_rate"] < 0.5


def test_salted_host_agg_matches_plain(spark, pages_parquet):
    pages = spark.read.parquet(pages_parquet)
    df = extract_pages(pages)
    salted = salted_host_agg(df, ("chars_out", "sum"), ("url", "count")).collect()
    plain = (
        df.groupBy("host")
        .agg(F.sum("chars_out").alias("sum_chars_out"),
             F.count(F.lit(1)).alias("n_docs"))
        .collect()
    )
    assert {(r["host"], r["sum_chars_out"], r["n_docs"]) for r in salted} == {
        (r["host"], r["sum_chars_out"], r["n_docs"]) for r in plain
    }


def test_manifest_empty_when_absent(spark, tmp_path):
    assert load_manifest(spark, str(tmp_path / "nope")).count() == 0


def test_export_training_corpus(spark, tmp_path):
    """End-product export: kept docs land in sharded JSONL, the manifest
    accounts for every input doc, and no dropped doc leaks through."""
    import glob
    import json

    from sbb_ocr_postcorrection_spark.pipeline import export_training_corpus

    sf = "/root/testdata/sf0.001"
    m = export_training_corpus(spark, sf, str(tmp_path))
    n_input = spark.read.parquet(f"{sf}/documents.parquet").count()
    assert m["n_input"] == n_input
    assert m["n_exported"] == m["reasons"]["kept"] > 0
    assert sum(m["reasons"].values()) == n_input
    back = spark.read.json(m["output"])
    assert back.count() == m["n_exported"]
    assert {"doc_id", "source", "lang", "text", "n_tokens"} <= set(back.columns)
    # every exported doc is verdict-kept (no leak of dropped docs)
    from sbb_ocr_postcorrection_spark.operators.curation import curate_corpus

    kept_ids = {r["doc_id"] for r in curate_corpus(spark, sf).filter("keep = 1").collect()}
    assert {r["doc_id"] for r in back.select("doc_id").collect()} == kept_ids
    # the on-disk manifest matches the returned one
    disk = json.loads((tmp_path / "export_manifest.json").read_text())
    assert disk == m
    assert glob.glob(str(tmp_path / "corpus" / "part-*.json"))


def test_null_url_does_not_kill_the_job(spark, tmp_path):
    """A null url extracts with a null host instead of failing its task
    (every retry of which would fail the same way)."""
    import pyarrow as pa

    table = pages_to_arrow(generate_pages(20, seed=4))
    urls = table.column("url").to_pylist()
    urls[3] = None
    table = table.set_column(0, "url", pa.array(urls, pa.string()))
    src = str(tmp_path / "pages.parquet")
    pq.write_table(table, src)

    out = str(tmp_path / "out")
    r = run_extraction_job(spark, spark.read.parquet(src), out)
    assert r["docs"] == 20
    rows = spark.read.parquet(f"{out}/extractions").where(F.col("url").isNull()).collect()
    assert len(rows) == 1 and rows[0]["host"] is None


def test_resume_after_kill_inside_first_manifest_append(spark, tmp_path, pages_parquet):
    """A run killed while Spark committed the table's first manifest append
    leaves ``_manifest`` holding only ``_temporary``: that records no
    completed partition, so the next run extracts everything instead of
    failing on schema inference."""
    import os

    out = str(tmp_path / "out")
    os.makedirs(f"{out}/_manifest/_temporary/0/_temporary")
    assert load_manifest(spark, out).count() == 0
    r = run_extraction_job(spark, spark.read.parquet(pages_parquet), out)
    assert r["docs"] == 150 and r["partitions_skipped"] == 0


def test_resume_after_kill_before_first_snapshot_commit(
    spark, tmp_path, pages_parquet, monkeypatch
):
    """A run that dies after its manifest append but before snapshot 1
    commits leaves a manifest naming every partition. The done-set comes
    from the snapshot log alone, so the rerun extracts every page, commits
    snapshot 1, and job_metrics counts each doc once."""
    out = str(tmp_path / "out")
    pages = spark.read.parquet(pages_parquet)

    def die(*_a, **_k):
        raise RuntimeError("killed before the snapshot commit")

    with monkeypatch.context() as m:
        m.setattr(snapshots, "commit_snapshot", die)
        with pytest.raises(RuntimeError, match="killed"):
            run_extraction_job(spark, pages, out)
    assert load_manifest(spark, out).count() > 0
    assert snapshots.list_snapshots(out) == []

    r = run_extraction_job(spark, pages, out)
    assert r["docs"] == 150 and r["partitions_skipped"] == 0
    assert len(snapshots.list_snapshots(out)) == 1
    assert job_metrics(spark, out).collect()[0]["docs"] == 150
