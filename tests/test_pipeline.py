"""End-to-end job tests: partition layout, resume-from-snapshot, salted agg."""

import pyarrow.parquet as pq
import pytest

from pyspark.sql import functions as F

from sbb_ocr_postcorrection_spark import snapshots
from sbb_ocr_postcorrection_spark.datagen import generate_pages, pages_to_arrow
from sbb_ocr_postcorrection_spark.kernels_spark import extract_pages
from sbb_ocr_postcorrection_spark.pipeline import (
    job_metrics,
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


def test_resume_after_kill_before_first_snapshot_commit(
    spark, tmp_path, pages_parquet, monkeypatch
):
    """A run that dies after moving its files in but before snapshot 1
    commits leaves every partition's files on disk, yet none of them is
    visible. The done-set comes from the snapshot log alone, so the rerun
    extracts every page, commits snapshot 1, and job_metrics counts each
    doc once."""
    out = str(tmp_path / "out")
    pages = spark.read.parquet(pages_parquet)

    def die(*_a, **_k):
        raise RuntimeError("killed before the snapshot commit")

    with monkeypatch.context() as m:
        m.setattr(snapshots, "commit_snapshot", die)
        with pytest.raises(RuntimeError, match="killed"):
            run_extraction_job(spark, pages, out)
    assert spark.read.parquet(f"{out}/extractions").count() == 150
    assert snapshots.list_snapshots(out) == []
    assert snapshots.read_extractions(spark, out).count() == 0

    r = run_extraction_job(spark, pages, out)
    assert r["docs"] == 150 and r["partitions_skipped"] == 0
    assert len(snapshots.list_snapshots(out)) == 1
    assert job_metrics(spark, out).collect()[0]["docs"] == 150


def test_job_metrics_describe_the_visible_table(
    spark, tmp_path, pages_parquet, monkeypatch
):
    """job_metrics comes from the current snapshot's entries, so after a
    fresh run, a resume, a resume=False rerun, a rollback and a run killed
    before its first commit it equals the aggregate of exactly the rows
    read_extractions shows."""
    pages = spark.read.parquet(pages_parquet)

    def check(out):
        got = tuple(job_metrics(spark, out).first())
        visible = snapshots.read_extractions(spark, out).agg(
            F.sum(F.lit(1)),
            F.sum("chars_in"),
            F.sum("chars_out"),
            F.try_divide(F.sum("n_flagged"), F.sum("n_spans")),
        )
        assert got == tuple(visible.first())
        return got[0]

    def die(*_a, **_k):
        raise RuntimeError("killed before the snapshot commit")

    killed = str(tmp_path / "killed")
    with monkeypatch.context() as m:
        m.setattr(snapshots, "commit_snapshot", die)
        with pytest.raises(RuntimeError, match="killed"):
            run_extraction_job(spark, pages, killed)
    assert check(killed) is None  # no visible rows

    out = str(tmp_path / "out")
    half = with_partition_cols(pages).where("bkt < 8").drop("dt", "bkt")
    n_half = half.count()
    assert 0 < n_half < 150
    run_extraction_job(spark, half, out)
    assert check(out) == n_half
    run_extraction_job(spark, pages, out)  # resume: carries snapshot 1's entries
    assert check(out) == 150
    run_extraction_job(spark, half, out, resume=False)  # replaces the visible set
    assert check(out) == n_half
    snapshots.rollback_to_snapshot(out, 2)  # copies snapshot 2's entries
    assert check(out) == 150


def test_job_metrics_without_spans_has_null_hit_rate(spark, tmp_path):
    """All-NULL html extracts to docs without spans: the detector hit rate
    is NULL, not a division by zero."""
    import pyarrow as pa

    table = pages_to_arrow(generate_pages(10, seed=3))
    i = table.schema.get_field_index("html")
    table = table.set_column(i, "html", pa.nulls(10, table.schema.field(i).type))
    src = str(tmp_path / "pages.parquet")
    pq.write_table(table, src)

    out = str(tmp_path / "out")
    run_extraction_job(spark, spark.read.parquet(src), out)
    m = job_metrics(spark, out).first()
    assert m["docs"] == 10 and m["chars_out"] == 0
    assert m["detector_hit_rate"] is None


def test_job_metrics_unknown_when_an_entry_has_no_sums(
    spark, tmp_path, pages_parquet
):
    """A visible snapshot entry without sums (a bare (dt, bkt) pair, which
    a resume carries forward) makes the table's sums unknown: every
    metric is NULL, as when nothing is visible, and nothing raises."""
    out = str(tmp_path / "out")
    snapshots.commit_snapshot(
        out, snapshots.begin_commit(out), [("2024-01-01", 0)], op="append"
    )
    assert tuple(job_metrics(spark, out).first()) == (None,) * 4

    run_extraction_job(spark, spark.read.parquet(pages_parquet), out)
    entries = snapshots.current_snapshot(out)["partitions"]
    assert ["2024-01-01", 0] in entries and len(entries) > 1
    assert tuple(job_metrics(spark, out).first()) == (None,) * 4
