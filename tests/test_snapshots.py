"""Snapshot-log table semantics over the extraction sink: append-only
history, rollback-as-forward-commit, snapshot-consistent reads, the
concurrent-writer fence, and stale-intent reclaim after a dead writer.
"""

import errno
import json
import os

import pyarrow.parquet as pq
import pytest

from sbb_ocr_postcorrection_spark import snapshots
from sbb_ocr_postcorrection_spark.datagen import generate_pages, pages_to_arrow
from sbb_ocr_postcorrection_spark.pipeline import (
    run_extraction_job,
    with_partition_cols,
)
from sbb_ocr_postcorrection_spark.snapshots import (
    ConcurrentWriteError,
    begin_commit,
    commit_snapshot,
    current_snapshot,
    list_snapshots,
    read_extractions,
    rollback_to_snapshot,
)


@pytest.fixture(scope="module")
def pages_parquet(tmp_path_factory):
    p = str(tmp_path_factory.mktemp("snap") / "pages.parquet")
    pq.write_table(pages_to_arrow(generate_pages(300, seed=11)), p)
    return p


def test_snapshot_log_grows_and_chains(spark, tmp_path, pages_parquet):
    out = str(tmp_path / "out")
    pages = spark.read.parquet(pages_parquet)
    dts = sorted(
        {r["dt"] for r in with_partition_cols(pages).select("dt").distinct().collect()}
    )
    first_dt = dts[0]
    wp = with_partition_cols(pages)
    r1 = run_extraction_job(
        spark, wp.where(wp["dt"] == first_dt).drop("dt", "bkt"), out
    )
    r2 = run_extraction_job(spark, pages, out)
    snaps = list_snapshots(out)
    assert [s["snapshot_id"] for s in snaps] == [1, 2]
    assert snaps[0]["parent_id"] is None and snaps[1]["parent_id"] == 1
    assert snaps[0]["op"] == "append" and snaps[1]["op"] == "append"
    # snapshot 2's partition set strictly contains snapshot 1's
    p1 = snapshots.snapshot_partition_set(snaps[0])
    p2 = snapshots.snapshot_partition_set(snaps[1])
    assert p1 < p2
    assert r1["snapshot_id"] == 1 and r2["snapshot_id"] == 2
    # a fully-skipped rerun commits nothing
    r3 = run_extraction_job(spark, pages, out)
    assert r3["partitions_done"] == 0
    assert current_snapshot(out)["snapshot_id"] == 2


def test_rollback_hides_then_reextracts(spark, tmp_path, pages_parquet):
    out = str(tmp_path / "out")
    pages = spark.read.parquet(pages_parquet)
    wp = with_partition_cols(pages)
    dts = sorted({r["dt"] for r in wp.select("dt").distinct().collect()})
    first_dt = dts[0]
    sub = wp.where(wp["dt"] == first_dt).drop("dt", "bkt")
    run_extraction_job(spark, sub, out)
    run_extraction_job(spark, pages, out)
    n_sub = sub.count()
    n_all = pages.count()
    assert read_extractions(spark, out).count() == n_all

    snap = rollback_to_snapshot(out, 1)
    assert snap["op"] == "rollback" and snap["rollback_of"] == 1
    assert snap["parent_id"] == 2 and snap["snapshot_id"] == 3
    # visible data is snapshot 1's partitions only, though the files of
    # the hidden partitions are still on disk
    assert read_extractions(spark, out).count() == n_sub
    assert (
        spark.read.parquet(f"{out}/extractions").count() == n_all
    )  # raw read still sees everything — rollback is metadata

    # the next run re-extracts exactly the rolled-back partitions
    r = run_extraction_job(spark, pages, out)
    assert r["partitions_done"] > 0
    assert read_extractions(spark, out).count() == n_all
    # history intact: 1, 2, 3 (rollback), 4 (re-extract)
    assert [s["snapshot_id"] for s in list_snapshots(out)] == [1, 2, 3, 4]

    # byte-stability across the rollback+re-extract cycle
    out2 = str(tmp_path / "fresh")
    run_extraction_job(spark, pages, out2)
    a = {
        r["url"]: r["extracted_text"]
        for r in read_extractions(spark, out).collect()
    }
    b = {
        r["url"]: r["extracted_text"]
        for r in read_extractions(spark, out2).collect()
    }
    assert a == b


def test_two_writer_race_one_loses_cleanly(tmp_path):
    out = str(tmp_path / "out")
    t1 = begin_commit(out)
    with pytest.raises(ConcurrentWriteError):
        begin_commit(out)
    # the loser wrote nothing; the winner commits normally
    commit_snapshot(out, t1, [("2024-01-01", 0)], op="append")
    assert current_snapshot(out)["snapshot_id"] == 1
    # after the winner's commit the table is claimable again
    t2 = begin_commit(out)
    commit_snapshot(out, t2, [("2024-01-01", 0), ("2024-01-02", 1)], op="append")
    assert current_snapshot(out)["snapshot_id"] == 2


def test_two_writer_race_through_job(spark, tmp_path, pages_parquet):
    """A job racing against a held intent must fail BEFORE writing data."""
    out = str(tmp_path / "out")
    pages = spark.read.parquet(pages_parquet)
    begin_commit(out)  # writer A holds the table (alive: our own pid)
    with pytest.raises(ConcurrentWriteError):
        run_extraction_job(spark, pages, out)
    assert not os.path.exists(f"{out}/extractions")
    assert list_snapshots(out) == []


def test_stale_intent_dead_pid_autoreclaimed(tmp_path):
    out = str(tmp_path / "out")
    t = begin_commit(out)
    # forge a dead writer: max pid+1 cannot be a live process we own
    intent_path = snapshots._intent_path(out)
    with open(intent_path) as fh:
        intent = json.load(fh)
    intent["pid"] = 2**22 + 1  # beyond default pid_max
    with open(intent_path, "w") as fh:
        json.dump(intent, fh)
    t2 = begin_commit(out)  # auto-reclaims: same host, pid provably dead
    assert t2["next_id"] == t["next_id"]
    commit_snapshot(out, t2, [("2024-01-01", 0)], op="append")
    assert current_snapshot(out)["snapshot_id"] == 1


def test_stale_intent_other_host_needs_flag(tmp_path):
    out = str(tmp_path / "out")
    begin_commit(out)
    intent_path = snapshots._intent_path(out)
    with open(intent_path) as fh:
        intent = json.load(fh)
    intent["host"] = "some-other-executor-host"
    with open(intent_path, "w") as fh:
        json.dump(intent, fh)
    with pytest.raises(ConcurrentWriteError):
        begin_commit(out)  # cannot prove the foreign pid is dead
    t = begin_commit(out, reclaim_stale=True)
    commit_snapshot(out, t, [("2024-01-01", 0)], op="append")
    assert current_snapshot(out)["snapshot_id"] == 1


def test_failed_job_aborts_intent(spark, tmp_path, pages_parquet):
    """A job that dies after claiming the intent releases it on the error
    path, so the next writer needs no reclaim."""
    out = str(tmp_path / "out")
    pages = spark.read.parquet(pages_parquet).drop("lang")
    # missing a kernel-required column -> the write fails mid-plan
    with pytest.raises(Exception):
        run_extraction_job(spark, pages, out)
    assert not os.path.exists(snapshots._intent_path(out))
    # table immediately writable again
    good = spark.read.parquet(pages_parquet)
    r = run_extraction_job(spark, good, out)
    assert r["docs"] == 300 and current_snapshot(out)["snapshot_id"] == 1


def test_stolen_intent_cannot_commit(tmp_path):
    """reclaim_stale=True stealing a LIVE writer's intent must surface at
    the victim's commit as ConcurrentWriteError — never as a silent
    history rewrite (ADVICE r6): the thief holds the claim, the victim's
    commit and abort are both void."""
    out = str(tmp_path / "out")
    victim = begin_commit(out)
    thief = begin_commit(out, reclaim_stale=True)  # steals the live claim
    with pytest.raises(ConcurrentWriteError):
        commit_snapshot(out, victim, [("2024-01-01", 0)], op="append")
    # the victim's abort must NOT release the thief's claim
    snapshots.abort_commit(out, victim)
    assert os.path.exists(
        os.path.join(out, snapshots.SNAP_DIR, "_intent.json")
    )
    commit_snapshot(out, thief, [("2024-01-01", 0)], op="append")
    assert current_snapshot(out)["snapshot_id"] == 1


def test_next_id_assigned_after_claim(tmp_path):
    """Snapshot ids are read under the claim, so a writer that waited out
    another's commit gets the NEXT id, not a stale one, and an id
    collision on disk fails loud instead of overwriting (ADVICE r6)."""
    out = str(tmp_path / "out")
    t1 = begin_commit(out)
    commit_snapshot(out, t1, [("2024-01-01", 0)], op="append")
    t2 = begin_commit(out)
    assert t2["next_id"] == 2
    # simulate a corrupted/raced log: v2 appears under someone's feet
    forged = snapshots._snap_path(out, 2)
    with open(forged, "w") as fh:
        json.dump({"snapshot_id": 2, "partitions": []}, fh)
    with pytest.raises(ConcurrentWriteError):
        commit_snapshot(out, t2, [("2024-01-01", 0)], op="append")
    # append-only history preserved: the forged file was not replaced
    with open(forged) as fh:
        assert json.load(fh)["partitions"] == []


def test_commit_without_hardlinks(tmp_path, monkeypatch):
    """On a filesystem where os.link is unsupported (EPERM), the commit
    falls back to an exclusive create: same JSON, an id collision still
    raises ConcurrentWriteError, and no tmp file is left behind."""

    def no_link(src, dst):
        raise OSError(errno.EPERM, "hardlinks not supported", dst)

    monkeypatch.setattr(os, "link", no_link)
    out = str(tmp_path / "out")
    t1 = begin_commit(out)
    snap = commit_snapshot(out, t1, [("2024-01-01", 0)], op="append")
    path = snapshots._snap_path(out, 1)
    with open(path) as fh:
        assert fh.read() == json.dumps(snap, sort_keys=True)
    assert current_snapshot(out) == snap
    # a second commit of the same id must not overwrite history
    t2 = begin_commit(out)
    t2["next_id"] = 1
    with pytest.raises(ConcurrentWriteError):
        commit_snapshot(out, t2, [("2024-01-02", 1)], op="append")
    with open(path) as fh:
        assert json.load(fh) == snap
    snapshots.abort_commit(out, t2)
    assert not [
        n for n in os.listdir(snapshots._snap_dir(out)) if ".tmp." in n
    ]
