#!/usr/bin/env python3
"""Benchmark of the production extraction job and the query registry.

    python3 perfbench/run.py --workload job_fresh --seed 1 --seconds 10 --trace 0

Runs one workload (``job_fresh``, ``job_incremental`` or ``registry``, see
workloads.py) in a closed loop for ``--seconds`` on the production session
(``pipeline.build_session`` defaults, ``local[nproc]``), checks every
repetition, and prints one JSON object as the last stdout line:
``{"correct", "attempted", "failed", "metrics"}``. The line before it holds
each metric's samples (count, median, quartiles).

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` reports the
per-layer metrics instead: it interleaves traced and untraced reps of the
workload, runs every other layer once traced, reads the Spark event log,
and writes its spans to ``.perfbench/traces/``.

All scratch data lives under ``.perfbench/`` at the checkout root and is
removed at exit; only the trace files stay.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("job_fresh", "job_incremental", "registry")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--pages", type=int, default=None,
                   help="job input pages (default: workloads.JOB_PAGES)")
    return p.parse_args(argv)


def make_workload(name: str, work: str, seed: int, pages: int):
    import workloads as W

    sub = os.path.join(work, name)
    if name == "registry":
        return W.RegistryWorkload(sub, seed)
    return W.JobWorkload(sub, seed, pages, incremental=name == "job_incremental")


def set_up(w, spark) -> list:
    """Set the prepared workload up and run its cold first rep; returns the
    checked outcomes of that warm-up (the registry warms inside setup)."""
    from workloads import Outcome

    w.setup(spark)
    if w.name == "registry":
        return [Outcome(wall_s=0.0, attempted=len(w.names), failed=w.warm_failed)]
    return [w.rep()]


def untraced(spark, w, args, t_start) -> dict:
    warm = set_up(w, spark)
    setup_s = time.perf_counter() - t_start
    outs = []
    deadline = time.perf_counter() + args.seconds
    while not outs or time.perf_counter() < deadline:
        outs.append(w.rep())
    return {"setup_s": setup_s, "warm": warm, "outs": outs}


def traced(spark, w, args, work) -> dict:
    import layers
    from spans import Tracer
    from workloads import Outcome

    warm = set_up(w, spark)
    tracer = Tracer(spark, f"{args.workload}-{args.seed}")
    plain, reps = [], []  # reps: (tag, outcome) of traced reps
    deadline = time.perf_counter() + args.seconds
    while not reps or time.perf_counter() < deadline:
        plain.append(w.rep())
        tag = f"t{len(reps)}"
        with tracer.installed(spark):
            reps.append((tag, w.rep(tracer, tag)))
    # every other layer, once, traced
    other_name = "job_fresh" if w.name == "registry" else "registry"
    other = make_workload(other_name, work, args.seed, args.pages)
    other.prepare()
    warm += set_up(other, spark)
    with tracer.installed(spark):
        other_reps = [("o0", other.rep(tracer, "o0"))]
    job = other if w.name == "registry" else w
    kernel = layers.kernel_in_process(job.pages)
    warm.append(Outcome(wall_s=0.0, attempted=len(job.pages), failed=kernel["mismatched"]))
    noop_s = layers.noop_hop(spark, job.pages_path)
    job_reps, reg_reps = (other_reps, reps) if w.name == "registry" else (reps, other_reps)
    return {"warm": warm, "outs": plain + [o for _, o in reps + other_reps],
            "tracer": tracer, "reps": reps, "job_reps": job_reps, "reg_reps": reg_reps,
            "kernel": kernel, "noop_s": noop_s, "n_pages": len(job.pages),
            "plain_wall": [o.wall_s for o in plain]}


def checked(m: dict) -> tuple[int, int]:
    """(attempted, failed) over every checked rep, warm-ups included."""
    done = m["warm"] + m["outs"]
    return sum(o.attempted for o in done), sum(o.failed for o in done)


def end_to_end(m: dict) -> tuple[dict, dict]:
    outs = m["outs"]
    n_att, n_fail = checked(m)
    samples = {
        "wall_s": [o.wall_s for o in outs],
        "docs_per_s": [o.docs / o.wall_s for o in outs],
        "out_bytes_per_in_byte": [o.out_bytes / o.in_bytes for o in outs],
    }
    for q in outs[0].query_s:
        samples[f"registry.{q}_s"] = [o.query_s[q] for o in outs]
    metrics = {
        "setup_s": (m["setup_s"], "s"),
        "wall_s": (statistics.median(samples["wall_s"]), "s"),
        "docs_per_s": (statistics.median(samples["docs_per_s"]), "docs/s"),
        "success_rate": (1.0 - n_fail / n_att, "ratio"),
        "out_bytes_per_in_byte": (statistics.median(samples["out_bytes_per_in_byte"]), "B/B"),
    }
    return metrics, samples


def per_layer(m: dict, log_dir: str, cores: int) -> tuple[dict, dict]:
    from spans import JOB_ROOT, StageStats
    from workloads import REGISTRY_QUERIES

    med = statistics.median
    tracer, stages = m["tracer"], StageStats(log_dir)
    jd = [tracer.durations(tag) for tag, _ in m["job_reps"]]
    jo = [o for _, o in m["job_reps"]]
    own = [stages.totals(tag) for tag, _ in m["reps"]]
    k = m["kernel"]
    metrics = {key: (k[key], unit) for key, unit in (
        ("extract.busy_s", "s"), ("extract.blocks", "count"),
        ("extract.content_blocks", "count"), ("detect.busy_s", "s"),
        ("detect.spans", "count"), ("detect.flagged", "count"),
        ("correct.busy_s", "s"), ("correct.tokens", "count"),
        ("kernel.docs_per_s_core", "docs/s"),
    )}
    noop_rate = m["n_pages"] / m["noop_s"]
    metrics.update({
        "kernels_spark.noop_s": (m["noop_s"], "s"),
        "kernels_spark.hop_efficiency": (noop_rate / (cores * k["kernel.docs_per_s_core"]), "ratio"),
        "pipeline.list_s": (med(d.get("pipeline.list", 0.0) for d in jd), "s"),
        "pipeline.kernel_write_s": (med(d.get("pipeline.kernel_write", 0.0) for d in jd), "s"),
        "pipeline.manifest_s": (med(d.get("pipeline.manifest", 0.0) for d in jd), "s"),
        "pipeline.other_s": (med(
            d[JOB_ROOT] - sum(v for n, v in d.items() if n != JOB_ROOT) for d in jd), "s"),
        "pipeline.bytes_written": (med(o.out_bytes for o in jo), "B"),
        "pipeline.files_written": (med(o.files for o in jo), "count"),
        "pipeline.partitions_done": (med(o.result["partitions_done"] for o in jo), "count"),
        "pipeline.partitions_skipped": (med(o.result["partitions_skipped"] for o in jo), "count"),
        "snapshots.read_s": (med(d.get("snapshots.read", 0.0) for d in jd), "s"),
        "snapshots.commit_s": (med(d.get("snapshots.commit", 0.0) for d in jd), "s"),
        "spark.task_s": (med(t["task_s"] for t in own), "s"),
        "spark.shuffle_write_bytes": (med(t["shuffle_write_bytes"] for t in own), "B"),
        "spark.spill_bytes": (med(t["spill_bytes"] for t in own), "B"),
        "spark.task_skew": (med(
            stages.heaviest_stage_skew(f"{tag}:pipeline.kernel_write") for tag, _ in m["job_reps"]), "ratio"),
        "spark.stages": (med(t["stages"] for t in own), "count"),
        "trace.rep_wall_s": (med(o.wall_s for _, o in m["reps"]), "s"),
        "trace.overhead_s": (med(o.wall_s for _, o in m["reps"]) - med(m["plain_wall"]), "s"),
    })
    for q in REGISTRY_QUERIES:
        metrics[f"registry.{q}_s"] = (med(o.query_s[q] for _, o in m["reg_reps"]), "s")
        metrics[f"registry.{q}.shuffle_bytes"] = (med(
            stages.totals(f"{tag}:registry.{q}")["shuffle_write_bytes"]
            for tag, _ in m["reg_reps"]), "B")
    samples = {"trace.rep_wall_s": [o.wall_s for _, o in m["reps"]],
               "untraced_rep_wall_s": m["plain_wall"]}
    return metrics, samples


def main(argv=None) -> int:
    t_start = time.perf_counter()
    args = parse_args(argv)
    sys.path[:0] = [HERE, ROOT, os.path.join(ROOT, "scripts")]
    try:
        import __spark_entry__  # noqa: F401 - the program under test
        import check_oracle  # noqa: F401
        import sbb_ocr_postcorrection_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the program under test is missing from {ROOT}: {exc}",
              file=sys.stderr)
        return 2
    from concurrent.futures import ThreadPoolExecutor

    import harness
    import workloads

    args.pages = args.pages or workloads.JOB_PAGES
    work = os.path.join(ROOT, ".perfbench", f"run-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.chdir(work)  # Spark's warehouse dir and any stray file land here
    try:
        w = make_workload(args.workload, work, args.seed, args.pages)
        with ThreadPoolExecutor(1) as pool:
            starting = pool.submit(harness.start_session, work, bool(args.trace))
            try:
                w.prepare()  # Spark-free, while the JVM starts
            except BaseException:
                harness.stop_session(starting.result())
                raise
            spark = starting.result()
        try:
            if args.trace:
                m = traced(spark, w, args, work)
            else:
                m = untraced(spark, w, args, t_start)
        finally:
            harness.stop_session(spark)
        if args.trace:
            metrics, samples = per_layer(m, os.path.join(work, "eventlog"), harness.cores())
            trace_dir = os.path.join(ROOT, ".perfbench", "traces")
            os.makedirs(trace_dir, exist_ok=True)
            trace_path = os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.json")
            m["tracer"].write(trace_path, {"metrics": {k: v for k, (v, _) in metrics.items()}})
            workloads.log(f"spans written to {trace_path}")
            for name, s in sorted(m["tracer"].self_times().items()):
                workloads.log(f"self time {name}: {s:.4f} s")
        else:
            metrics, samples = end_to_end(m)
        n_att, n_fail = checked(m)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"workload": args.workload, "seed": args.seed, "trace": args.trace,
                      "samples": {k: harness.summary(v) for k, v in samples.items()}}))
    print(json.dumps({
        "correct": n_fail == 0, "attempted": n_att, "failed": n_fail,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
