"""The job's control-path frames (pending partitions, the empty and the
written manifest, the snapshot's visible partitions) are driver rows built
through a ``pyarrow.Table``: each plans as a LocalTableScan and never as a
Python RDD scan, whose every evaluation starts Python worker tasks."""

import datetime

import pyarrow.parquet as pq
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from sbb_ocr_postcorrection_spark import pipeline, snapshots
from sbb_ocr_postcorrection_spark.datagen import generate_pages, pages_to_arrow
from sbb_ocr_postcorrection_spark.pipeline import MANIFEST_SCHEMA, run_extraction_job

PENDING_SCHEMA = "dt date, bkt int"


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

    manifest_row = (d, 3, 10, 2000, 900, 4, 80, 1_700_000_000, 1)
    manifest = pipeline._arrow_frame(spark, [manifest_row], MANIFEST_SCHEMA)
    assert_local(manifest)
    assert manifest.schema == StructType.fromDDL(MANIFEST_SCHEMA)
    assert [tuple(r) for r in manifest.collect()] == [manifest_row]

    empty = pipeline._arrow_frame(spark, [], MANIFEST_SCHEMA)
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

    # fresh table, no snapshot log: the pending list and the manifest
    # rows (the done-set comes from the snapshot log, so no manifest read)
    assert [(ddl, n) for ddl, n, _ in built] == [
        (PENDING_SCHEMA, r["partitions_done"]),
        (MANIFEST_SCHEMA, r["partitions_done"]),
    ]
    for _, _, df in built:
        assert_local(df)

    # the snapshot-consistent read goes through the helper too
    built.clear()
    visible = snapshots.read_extractions(spark, out)
    assert [ddl for ddl, _, _ in built] == ["dt string, bkt int"]
    assert_local(built[0][2])
    assert "ExistingRDD" not in plan_of(visible)
    assert visible.count() == r["docs"]

    # the manifest rows still equal a re-read groupBy(dt, bkt) of the output
    cols = ["dt", "bkt", "n_docs", "chars_in", "chars_out", "n_flagged", "n_spans"]
    manifest = {
        tuple(row) for row in spark.read.parquet(f"{out}/_manifest").select(*cols).collect()
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
    assert manifest == reread
    assert len(manifest) == r["partitions_done"]
    assert sum(row[2] for row in manifest) == r["docs"] == 120
