"""Skew stress at a fixed driver heap: one LSH bucket of 8,000 identical
docs must yield all C(8000, 2) candidate pairs in a 2g session. The pairs
stream out of the band-bucket self-join, so no task holds a bucket's whole
pair list. Runs in a subprocess so the heap is fixed, independent of the
suite's shared session."""

import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
N_DOCS = 8_000

_SCRIPT = """
import sys
import pyarrow as pa
import pyarrow.parquet as pq
from sbb_ocr_postcorrection_spark.operators.dedup import minhash_lsh_candidates
from sbb_ocr_postcorrection_spark.pipeline import build_session

d, n = sys.argv[1], int(sys.argv[2])
text = ("the quick brown fox jumps over the lazy dog near the old "
        "river bank while birds sing in tall green trees")
pq.write_table(pa.table({
    "doc_id": pa.array(range(n), pa.int64()),
    "text": [text] * n,
    "lang": ["en"] * n,
    "source": ["s"] * n,
    "n_chars": pa.array([len(text)] * n, pa.int64()),
}), f"{d}/documents.parquet")
spark = build_session(app="skew_stress", cores=4)
spark.sparkContext.setLogLevel("ERROR")
print("PAIRS", minhash_lsh_candidates(spark, d).count(), flush=True)
spark.stop()
"""


@pytest.mark.slow
def test_lsh_hot_bucket_at_2g_driver(tmp_path):
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="2g")
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO, env.get("PYTHONPATH")) if p
    )
    proc = subprocess.run(
        [sys.executable, "-c", _SCRIPT, str(tmp_path), str(N_DOCS)],
        cwd=REPO,
        env=env,
        capture_output=True,
        text=True,
        timeout=900,
    )
    tail = proc.stderr[-2000:]
    assert "OutOfMemoryError" not in proc.stderr, tail
    assert proc.returncode == 0, tail
    assert f"PAIRS {N_DOCS * (N_DOCS - 1) // 2}" in proc.stdout.splitlines(), tail
