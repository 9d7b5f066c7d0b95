"""The spark-submit entry's --query mode: every registry operator is
cluster-submittable, with parquet/jsonl sinks."""

import json
import subprocess
import sys
from pathlib import Path

RUN_JOB = str(Path(__file__).resolve().parents[1] / "scripts" / "run_job.py")


def test_run_job_query_mode(tmp_path):
    r = subprocess.run(
        [
            sys.executable, RUN_JOB,
            "--query", "length_percentiles",
            "--sf-dir", "/root/testdata/sf0.001",
            "--output", str(tmp_path),
            "--format", "jsonl",
            "--cores", "4",
        ],
        capture_output=True, text=True, timeout=240,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    out = json.loads(r.stdout.strip().splitlines()[-1])
    assert out["rows"] == 20 and out["format"] == "jsonl"
    outdir = tmp_path / "length_percentiles"
    files = list(outdir.glob("part-*.json"))
    assert files, sorted(p.name for p in outdir.glob("*"))
    # read ALL shards: depending on scheduling, Spark may emit empty part
    # files for empty partitions, and files[0] can BE one — indexing into
    # the first shard's first line was the long-standing "under-load
    # flake" (IndexError on an empty shard, not a missing write)
    lines = [
        ln for f in files for ln in f.read_text().splitlines() if ln.strip()
    ]
    assert len(lines) == 20
    row = json.loads(lines[0])
    assert {"source", "n_docs", "p50", "p90", "p99"} <= set(row)


def test_run_job_query_mode_rejects_unknown():
    r = subprocess.run(
        [
            sys.executable, RUN_JOB,
            "--query", "no_such_query", "--output", "/tmp/x",
        ],
        capture_output=True, text=True, timeout=60,
    )
    assert r.returncode != 0
    assert "unknown query" in r.stderr
