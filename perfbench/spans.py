"""Spans recorded from the benchmark side, and the Spark event log.

A span is ``{id, name, parent, run, start, end}``, kept in memory and
written out once at the end. While a tracer is installed it wraps, from
outside the package, the calls the production job makes into its layers:

* ``DataFrame.collect``: the partition listing before the write
  (``pipeline.list``), the manifest aggregation after it
  (``pipeline.manifest``);
* ``DataFrameWriter.parquet``: the kernel + ``(dt, bkt)`` write
  (``pipeline.kernel_write``) and the manifest append (``pipeline.manifest``);
* ``snapshots.current_snapshot`` (``snapshots.read``), ``begin_commit`` and
  ``commit_snapshot`` (``snapshots.commit``).

Each span also becomes the Spark job description of the jobs it launches
(``<rep tag>:<span name>``), which is how the event log's stage metrics are
attributed to layers.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import time

JOB_ROOT = "pipeline.job"


class Tracer:
    """In-memory span recorder for one benchmark run."""

    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.tag = "untraced"
        self.wrote_extractions = False

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans), "name": name,
            "parent": parent["id"] if parent else None,
            "run": self.run_id, "rep": self.tag,
            "start": time.perf_counter(), "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobDescription(f"{self.tag}:{name}")
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self.sc.setJobDescription(
                f"{self.tag}:{self._stack[-1]['name']}" if self._stack else None
            )

    def _wrap(self, fn, name_of):
        tracer = self

        def wrapped(*args, **kwargs):
            # only calls made inside a traced job rep are layer boundaries
            if not tracer._stack or tracer._stack[0]["name"] != JOB_ROOT:
                return fn(*args, **kwargs)
            name = name_of(*args, **kwargs)
            with tracer.span(name):
                return fn(*args, **kwargs)

        return wrapped

    @contextlib.contextmanager
    def installed(self, spark):
        """Wrap the job's layer boundaries for the duration of the block."""
        from sbb_ocr_postcorrection_spark import snapshots

        df_cls = type(spark.range(1))
        writer_cls = type(spark.range(1).write)

        def collect_name(*_a, **_k):
            return "pipeline.manifest" if self.wrote_extractions else "pipeline.list"

        def parquet_name(_writer, path, *_a, **_k):
            if str(path).rstrip("/").endswith("extractions"):
                self.wrote_extractions = True
                return "pipeline.kernel_write"
            return "pipeline.manifest"

        patches = [
            (df_cls, "collect", collect_name),
            (writer_cls, "parquet", parquet_name),
            (snapshots, "current_snapshot", lambda *a, **k: "snapshots.read"),
            (snapshots, "begin_commit", lambda *a, **k: "snapshots.commit"),
            (snapshots, "commit_snapshot", lambda *a, **k: "snapshots.commit"),
        ]
        saved = [(obj, attr, getattr(obj, attr)) for obj, attr, _ in patches]
        for (obj, attr, name_of), (_, _, orig) in zip(patches, saved):
            setattr(obj, attr, self._wrap(orig, name_of))
        try:
            yield self
        finally:
            for obj, attr, orig in saved:
                setattr(obj, attr, orig)

    @contextlib.contextmanager
    def rep(self, tag: str, root: str):
        """One traced repetition: a root span whose jobs carry ``tag``."""
        self.tag = tag
        self.wrote_extractions = False
        with self.span(root) as rec:
            yield rec

    def durations(self, tag: str) -> dict[str, float]:
        """Summed duration per span name within one repetition."""
        out: dict[str, float] = {}
        for s in self.spans:
            if s["rep"] == tag:
                out[s["name"]] = out.get(s["name"], 0.0) + s["end"] - s["start"]
        return out

    def self_times(self) -> dict[str, float]:
        """Per span name: summed duration minus the time its children cover."""
        child = {s["id"]: 0.0 for s in self.spans}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            d = s["end"] - s["start"] - child[s["id"]]
            out[s["name"]] = out.get(s["name"], 0.0) + d
        return out

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, "self_s": self.self_times(), **extra}, fh)


class StageStats:
    """Task metrics per Spark stage, keyed by the job description that
    launched the stage, read from a finished event log."""

    def __init__(self, log_dir: str):
        self.stage_desc: dict[int, str] = {}
        self.tasks: dict[int, list[dict]] = {}
        for path in glob.glob(f"{log_dir}/**/*", recursive=True):
            name = os.path.basename(path)
            if os.path.isdir(path) or name.startswith((".", "appstatus")):
                continue
            with open(path) as fh:
                for line in fh:
                    self._event(json.loads(line))

    def _event(self, ev: dict) -> None:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            desc = (ev.get("Properties") or {}).get("spark.job.description")
            for sid in ev["Stage IDs"]:
                self.stage_desc.setdefault(sid, desc)
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics") or {}
            self.tasks.setdefault(ev["Stage ID"], []).append({
                "run_s": m.get("Executor Run Time", 0) / 1000.0,
                "shuffle_write": (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0),
                "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
            })

    def stages(self, desc: str) -> list[int]:
        """Stages launched under job description ``desc`` or below it
        (``desc`` = ``<rep tag>`` or ``<rep tag>:<span name>``)."""
        return [
            sid for sid, d in self.stage_desc.items()
            if d and (d == desc or d.startswith(desc + ":")) and sid in self.tasks
        ]

    def totals(self, desc: str) -> dict[str, float]:
        sids = self.stages(desc)
        tasks = [t for sid in sids for t in self.tasks[sid]]
        return {
            "stages": len(sids),
            "task_s": sum(t["run_s"] for t in tasks),
            "shuffle_write_bytes": sum(t["shuffle_write"] for t in tasks),
            "spill_bytes": sum(t["spill"] for t in tasks),
        }

    def heaviest_stage_skew(self, desc: str) -> float:
        """max/median task time of the stage with the most task time."""
        sids = self.stages(desc)
        if not sids:
            return 0.0
        sid = max(sids, key=lambda s: sum(t["run_s"] for t in self.tasks[s]))
        times = [t["run_s"] for t in self.tasks[sid]]
        med = statistics.median(times)
        return max(times) / med if med else 0.0
