"""The job's control-path frames (pending partitions, the snapshot's
visible partitions, job_metrics' partition sums) are driver rows built
through a ``pyarrow.Table``: each plans as a LocalTableScan and never as a
Python RDD scan, whose every evaluation starts Python worker tasks."""

import datetime

import pyarrow.parquet as pq
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from sbb_ocr_postcorrection_spark import pipeline, snapshots
from sbb_ocr_postcorrection_spark.datagen import generate_pages, pages_to_arrow
from sbb_ocr_postcorrection_spark.pipeline import job_metrics, run_extraction_job

PENDING_SCHEMA = "dt date, bkt int"
SUMS_SCHEMA = "n_docs long, chars_in long, chars_out long, n_flagged long, n_spans long"


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def assert_local(df):
    plan = plan_of(df)
    assert "LocalTableScan" in plan, plan
    assert "ExistingRDD" not in plan, plan


def test_helper_frames_are_local_table_scans(spark):
    d = datetime.date(2024, 5, 1)
    pending = pipeline._arrow_frame(spark, [(d, 3), (d, 7)], PENDING_SCHEMA)
    assert_local(pending)
    assert [tuple(r) for r in pending.collect()] == [(d, 3), (d, 7)]

    sums_row = (10, 2000, 900, 4, 80)
    sums = pipeline._arrow_frame(spark, [sums_row], SUMS_SCHEMA)
    assert_local(sums)
    assert sums.schema == StructType.fromDDL(SUMS_SCHEMA)
    assert [tuple(r) for r in sums.collect()] == [sums_row]

    empty = pipeline._arrow_frame(spark, [], SUMS_SCHEMA)
    assert_local(empty)
    assert empty.count() == 0


def test_job_control_frames_are_local(spark, tmp_path, monkeypatch):
    src = str(tmp_path / "pages.parquet")
    pq.write_table(pages_to_arrow(generate_pages(120, seed=8)), src)
    out = str(tmp_path / "out")

    built = []
    helper = pipeline._arrow_frame

    def recording(spark_, rows, ddl):
        df = helper(spark_, rows, ddl)
        built.append((ddl, len(rows), df))
        return df

    monkeypatch.setattr(pipeline, "_arrow_frame", recording)
    r = run_extraction_job(spark, spark.read.parquet(src), out)

    # fresh table, no done-set: no listing and so no pending frame (the
    # sums go into the snapshot commit, which builds no frame)
    assert built == []

    # the snapshot-consistent read goes through the helper too
    built.clear()
    visible = snapshots.read_extractions(spark, out)
    assert [ddl for ddl, _, _ in built] == ["dt string, bkt int"]
    assert_local(built[0][2])
    assert "ExistingRDD" not in plan_of(visible)
    assert visible.count() == r["docs"]

    # job_metrics aggregates the snapshot's sums through the helper too
    built.clear()
    job_metrics(spark, out).collect()
    assert [(ddl, n) for ddl, n, _ in built] == [(SUMS_SCHEMA, r["partitions_done"])]
    assert_local(built[0][2])

    # the snapshot entries still equal a re-read groupBy(dt, bkt) of the output
    cols = ["dt", "bkt", "n_docs", "chars_in", "chars_out", "n_flagged", "n_spans"]
    entries = {
        (datetime.date.fromisoformat(p[0]), *p[1:])
        for p in snapshots.current_snapshot(out)["partitions"]
    }
    reread = {
        tuple(row)
        for row in spark.read.parquet(f"{out}/extractions")
        .groupBy("dt", "bkt")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("chars_in").alias("chars_in"),
            F.sum("chars_out").alias("chars_out"),
            F.sum("n_flagged").alias("n_flagged"),
            F.sum("n_spans").alias("n_spans"),
        )
        .select(*cols)
        .collect()
    }
    assert entries == reread
    assert len(entries) == r["partitions_done"]
    assert sum(row[2] for row in entries) == r["docs"] == 120

    # a resume over a partly committed table lists its partitions and
    # builds exactly one pending frame: the partitions it then writes
    kept = snapshots.current_snapshot(out)["partitions"][: len(entries) // 2]
    snapshots.commit_snapshot(out, snapshots.begin_commit(out), kept, op="rollback")
    built.clear()
    r2 = run_extraction_job(spark, spark.read.parquet(src), out)
    assert r2["partitions_skipped"] == len(kept)
    assert r2["partitions_done"] == len(entries) - len(kept) > 0
    assert [(ddl, n) for ddl, n, _ in built] == [(PENDING_SCHEMA, r2["partitions_done"])]
    assert_local(built[0][2])
