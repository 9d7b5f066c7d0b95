#!/usr/bin/env python3
"""Self-test of the benchmark:

    python3 perfbench/selftest.py

1. A tiny run of every workload, untraced, must print every end-to-end
   metric of BENCHMARK.json with its unit and ``correct: true``; one tiny
   traced run must print every per-layer metric with its unit.
2. A deliberately corrupted output must count as a failure: one altered
   ``extracted_text`` in the job's output table, and one row dropped from a
   registry query's result.

Exits 0 when every check holds.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TINY = ["--seconds", "0", "--pages", "150"]


def run_cli(workload: str, trace: int) -> dict:
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "3", "--trace", str(trace), *TINY],
        capture_output=True, text=True, timeout=600,
    )
    if p.returncode != 0:
        raise RuntimeError(f"{workload} trace={trace} exited {p.returncode}:\n{p.stderr[-3000:]}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def check_names(out: dict, specs: list[dict], what: str) -> list[str]:
    errors = []
    if not out["correct"] or out["failed"] or out["attempted"] < 1:
        errors.append(f"{what}: not correct ({out['attempted']} attempted, {out['failed']} failed)")
    want = {s["name"]: s["unit"] for s in specs}
    got = {k: v["unit"] for k, v in out["metrics"].items()}
    if got != want:
        errors.append(f"{what}: metrics differ from BENCHMARK.json: "
                      f"missing {sorted(set(want) - set(got))}, extra {sorted(set(got) - set(want))}, "
                      f"units {[(k, got[k], want[k]) for k in want if k in got and got[k] != want[k]]}")
    return errors


def corruption_checks() -> list[str]:
    """Corrupt one output of each kind and expect the check to catch it."""
    import pyarrow.parquet as pq

    sys.path[:0] = [HERE, ROOT, os.path.join(ROOT, "scripts")]
    import harness
    import workloads as W

    errors = []
    work = os.path.join(ROOT, ".perfbench", f"selftest-{os.getpid()}")
    os.makedirs(work)
    spark = harness.start_session(work, event_log=False)
    try:
        job = W.JobWorkload(os.path.join(work, "job"), 3, 150, incremental=False)
        job.prepare()
        job.setup(spark)
        out = job.rep()
        if out.failed:
            errors.append("job: the clean rep already failed its check")
        victim = sorted(W.parquet_files(os.path.join(job.out, "extractions")))[0]
        path = os.path.join(job.out, "extractions", victim)
        table = pq.read_table(path)
        i = table.schema.get_field_index("extracted_text")
        text = table.column(i).to_pylist()
        text[0] = text[0] + " "
        pq.write_table(table.set_column(i, "extracted_text", [text]), path)
        if not job.check(out.result):
            errors.append("job: an altered extracted_text passed the check")

        reg = W.RegistryWorkload(os.path.join(work, "reg"), 3,
                                 queries=("dedup_exact", "topk_vocab"))
        reg.prepare()
        reg.setup(spark)
        clean = reg.rep()
        if clean.failed or reg.warm_failed:
            errors.append("registry: the clean pass already failed its check")
        rows, cols = reg.last["dedup_exact"]
        if reg.check_query("dedup_exact", rows[:-1], cols):
            errors.append("registry: a dropped row passed the check")
    finally:
        harness.stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    return errors


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    errors = []
    for w in ("job_fresh", "job_incremental", "registry"):
        errors += check_names(run_cli(w, 0), bench["end_to_end"], f"{w} trace=0")
        print(f"selftest: {w} untraced ok" if not errors else errors[-1], flush=True)
    errors += check_names(run_cli("job_fresh", 1), bench["per_layer"], "job_fresh trace=1")
    print("selftest: traced run done", flush=True)
    errors += corruption_checks()
    for e in errors:
        print(f"selftest FAILED: {e}")
    if not errors:
        print("selftest: all checks passed")
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
