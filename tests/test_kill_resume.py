"""Kill-mid-job resume: SIGKILL the extraction job partway through, rerun,
verify the output is complete, deduplicated and byte-stable — the
north-rule resumability contract, exercised for real (not simulated)."""

import glob
import os
import signal
import subprocess
import sys
import time

import pyarrow.parquet as pq
import pytest

from sbb_ocr_postcorrection_spark.datagen import generate_pages, pages_to_arrow

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
N_PAGES = 1200


def _run_job(out_dir: str, input_path: str, kill_mid_write: bool = False) -> int:
    cmd = [
        sys.executable,
        os.path.join(REPO, "scripts", "run_job.py"),
        "--input", input_path,
        "--output", out_dir,
        "--cores", "4",
    ]
    proc = subprocess.Popen(
        cmd, cwd=REPO, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL
    )
    if not kill_mid_write:
        proc.communicate(timeout=300)
        return proc.returncode
    # kill once the writer tasks have staged output: the job holds its
    # commit intent and has written data, but has not committed. A fixed
    # delay cannot promise that: the whole job takes 17-20 s on 4 cores
    deadline = time.time() + 120
    staged = os.path.join(out_dir, "extractions", "_staging-*")
    while not glob.glob(staged) and proc.poll() is None and time.time() < deadline:
        time.sleep(0.05)
    proc.send_signal(signal.SIGKILL)
    proc.wait(timeout=60)
    return proc.returncode


@pytest.mark.slow
def test_kill_and_resume(tmp_path, spark):
    input_path = str(tmp_path / "pages.parquet")
    pq.write_table(pages_to_arrow(generate_pages(N_PAGES, seed=7)), input_path)
    out = str(tmp_path / "out")

    # first run: killed mid-write (whether a kill lands before, during or
    # after partition commits, the invariants below must hold after the
    # resume)
    rc = _run_job(out, input_path, kill_mid_write=True)
    assert rc != 0  # SIGKILL

    # resume run to completion
    rc2 = _run_job(out, input_path)
    assert rc2 == 0

    result = spark.read.parquet(f"{out}/extractions")
    # complete: every input url present exactly once (idempotent overwrite,
    # no duplicates from the partial first run)
    assert result.count() == N_PAGES
    assert result.select("url").distinct().count() == N_PAGES

    # the current snapshot's entries cover every partition exactly once,
    # and their doc sums count every page once; no _manifest table exists
    from sbb_ocr_postcorrection_spark import snapshots

    entries = snapshots.current_snapshot(out)["partitions"]
    parts = {(p[0], p[1]) for p in entries}
    assert len(parts) == len(entries)
    assert parts == {
        (r["dt"].isoformat(), r["bkt"])
        for r in result.select("dt", "bkt").distinct().collect()
    }
    assert sum(p[2] for p in entries) == N_PAGES
    assert not os.path.exists(f"{out}/_manifest")

    # byte-stability: a fresh from-scratch run produces identical text
    out2 = str(tmp_path / "out_fresh")
    assert _run_job(out2, input_path) == 0
    fresh = spark.read.parquet(f"{out2}/extractions")
    a = {r["url"]: r["extracted_text"] for r in result.collect()}
    b = {r["url"]: r["extracted_text"] for r in fresh.collect()}
    assert a == b

    # snapshot-log invariants through the kill: the killed writer's stale
    # intent was auto-reclaimed by the resume run (same host, dead pid —
    # otherwise the resume would have FAILED with ConcurrentWriteError),
    # the latest snapshot covers every partition exactly once, and
    # rollback + re-extract reproduces the same bytes
    from sbb_ocr_postcorrection_spark.snapshots import (
        list_snapshots,
        read_extractions,
        rollback_to_snapshot,
    )

    assert not os.path.exists(snapshots._intent_path(out))
    snaps = list_snapshots(out)
    assert snaps, "completing runs must commit snapshots"
    assert snapshots.snapshot_partition_set(snaps[-1]) == parts
    assert read_extractions(spark, out).count() == N_PAGES
    if len(snaps) >= 2 and snaps[0]["n_partitions"] < snaps[-1]["n_partitions"]:
        # the kill landed after the first commit: roll back to it, verify
        # visibility shrinks, then a rerun restores the full table
        n_first = len(snapshots.snapshot_partition_set(snaps[0]))
        rollback_to_snapshot(out, snaps[0]["snapshot_id"])
        vis = read_extractions(spark, out)
        assert vis.select("dt", "bkt").distinct().count() == n_first
        assert _run_job(out, input_path) == 0
        again = {
            r["url"]: r["extracted_text"]
            for r in read_extractions(spark, out).collect()
        }
        assert again == a
