"""The three workloads. Each is a closed loop: one caller, one job at a
time, and every repetition checks its own output.

* ``job_fresh``: ``run_extraction_job`` into an empty output directory;
* ``job_incremental``: the same job over a table whose first 12 of 14 crawl
  days are already committed (the output is restored before each rep,
  outside the timing), so only the last two days are pending;
* ``registry``: one ``collect()`` pass over the registry queries, each
  compared with its DuckDB ``oracle_sql()`` result.
"""

from __future__ import annotations

import contextlib
import hashlib
import os
import shutil
import sys
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from datetime import timedelta

import pyarrow.dataset as pads

import inputs
from harness import cores
from spans import JOB_ROOT

JOB_PAGES = 10000
DAYS_COMMITTED = 12  # of the 14 crawl days datagen spreads pages over
REGISTRY_SCALE = 0.001
REGISTRY_DOCS = 500

# bench.py's HEADLINE list, then the two dedup queries ROADMAP item 4
# targets (dedup_components, curation_pipeline and lang_id_posterior are
# left out: together they would double the registry run's time)
REGISTRY_QUERIES = (
    "rollup_stats", "topk_vocab", "filter_project", "equijoin_agg",
    "reassembly", "sliding_window", "gaps_islands", "stratified_split",
    "dedup_exact", "dedup_jaccard_pairs", "dedup_minhash_lsh",
    "dedup_corpus_keep", "url_dedup", "line_dedup", "passage_dedup",
    "dedup_incremental", "dedup_bloom", "host_reputation_gate", "seq_pack",
    "length_percentiles", "ann_brute_force", "ann_ivf_pinned",
    "quality_score", "fingerprints", "winnow_matches", "passage_retrieval",
    "extract_pipeline",
    "dedup_minhash_incremental", "decontaminate",
)


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


@dataclass
class Outcome:
    """One repetition: its wall time, what it did and whether it was right."""

    wall_s: float
    attempted: int = 1
    failed: int = 0
    docs: int = 0
    in_bytes: int = 0
    out_bytes: int = 0
    files: int = 0
    result: dict = field(default_factory=dict)
    query_s: dict = field(default_factory=dict)


def _digest(text: str) -> bytes:
    return hashlib.sha1(text.encode("utf-8")).digest()


def parquet_files(root: str) -> dict[str, int]:
    """Relative path → size of every parquet file under ``root``."""
    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            if n.endswith(".parquet"):
                p = os.path.join(d, n)
                out[os.path.relpath(p, root)] = os.path.getsize(p)
    return out


class JobWorkload:
    """``run_extraction_job`` over seeded datagen pages."""

    def __init__(self, work: str, seed: int, n_pages: int, incremental: bool):
        self.work = work
        self.seed = seed
        self.n_pages = n_pages
        self.incremental = incremental
        self.name = "job_incremental" if incremental else "job_fresh"
        self.out = os.path.join(work, "out")
        self.base = os.path.join(work, "base")

    def prepare(self) -> None:
        """The Spark-free part of setup: inputs and the kernel oracle."""
        from sbb_ocr_postcorrection_spark.datagen import _EPOCH
        from sbb_ocr_postcorrection_spark.kernel import run_document

        os.makedirs(self.work, exist_ok=True)
        self.pages = inputs.make_pages(self.seed, self.n_pages)
        self.pages_path = os.path.join(self.work, "pages.parquet")
        inputs.write_pages(self.pages_path, self.pages)
        # the oracle: per-url digest of the in-process kernel's text
        self.expected = {p.url: _digest(run_document(p.html).extracted_text) for p in self.pages}
        self.cutoff = _EPOCH + timedelta(days=DAYS_COMMITTED)
        old = [p for p in self.pages if self.incremental and p.warc_ts < self.cutoff]
        self.n_pending_docs = len(self.pages) - len(old)
        self.pending_html = sum(len(p.html) for p in self.pages) - sum(len(p.html) for p in old)
        self.old_path = os.path.join(self.work, "pages_old.parquet")
        if old:
            inputs.write_pages(self.old_path, old)

    def setup(self, spark) -> None:
        from sbb_ocr_postcorrection_spark.pipeline import (
            run_extraction_job, with_partition_cols,
        )
        from sbb_ocr_postcorrection_spark.snapshots import current_snapshot

        self.spark = spark
        parts = with_partition_cols(spark.read.parquet(self.pages_path))
        days = [r[0].isoformat() for r in parts.select("dt", "bkt").distinct().collect()]
        cutoff = self.cutoff.date().isoformat()
        self.n_skipped = sum(1 for dt in days if self.incremental and dt < cutoff)
        self.n_done = len(days) - self.n_skipped
        os.makedirs(self.base, exist_ok=True)
        self.base_files: dict[str, int] = {}
        self.base_snapshot = 0
        if self.incremental:
            run_extraction_job(spark, spark.read.parquet(self.old_path), self.base)
            self.base_files = parquet_files(os.path.join(self.base, "extractions"))
            self.base_snapshot = current_snapshot(self.base)["snapshot_id"]

    def rep(self, tracer=None, tag: str = "") -> Outcome:
        from sbb_ocr_postcorrection_spark.pipeline import run_extraction_job

        shutil.rmtree(self.out, ignore_errors=True)
        shutil.copytree(self.base, self.out)
        t0 = time.perf_counter()
        with tracer.rep(tag, JOB_ROOT) if tracer else contextlib.nullcontext():
            res = run_extraction_job(
                self.spark, self.spark.read.parquet(self.pages_path), self.out)
        wall = time.perf_counter() - t0
        new_files = {
            k: v for k, v in parquet_files(os.path.join(self.out, "extractions")).items()
            if k not in self.base_files
        }
        problems = self.check(res)
        for p in problems:
            log(f"{self.name}: {p}")
        return Outcome(
            wall_s=wall, failed=int(bool(problems)), docs=res["docs"],
            in_bytes=self.pending_html, out_bytes=sum(new_files.values()),
            files=len(new_files), result=res,
        )

    def check(self, res: dict) -> list[str]:
        """Everything wrong with one rep's result and the output table."""
        from sbb_ocr_postcorrection_spark.snapshots import current_snapshot

        problems = []
        want = {"docs": self.n_pending_docs, "partitions_done": self.n_done,
                "partitions_skipped": self.n_skipped,
                "snapshot_id": self.base_snapshot + 1}
        for k, v in want.items():
            if res.get(k) != v:
                problems.append(f"{k}={res.get(k)}, expected {v}")
        snap = current_snapshot(self.out)
        if not snap or snap["snapshot_id"] != self.base_snapshot + 1:
            problems.append(f"the table's snapshot did not advance to {self.base_snapshot + 1}")
        table = pads.dataset(
            os.path.join(self.out, "extractions"), format="parquet", partitioning="hive"
        ).to_table(columns=["url", "extracted_text"])
        got = dict(zip(
            table.column("url").to_pylist(),
            map(_digest, table.column("extracted_text").to_pylist()),
        ))
        if table.num_rows != len(self.expected) or got != self.expected:
            bad = sum(1 for u, d in self.expected.items() if got.get(u) != d)
            problems.append(f"{bad} urls differ from the kernel oracle ({table.num_rows} rows)")
        return problems


class RegistryWorkload:
    """One sequential ``collect()`` pass over the registry queries."""

    name = "registry"

    def __init__(self, work: str, seed: int, queries=REGISTRY_QUERIES):
        self.names = queries
        self.work = work
        self.seed = seed
        self.sf_dir = os.path.join(work, "sf")

    def prepare(self) -> None:
        """The Spark-free part of setup: the tables and their DuckDB oracle."""
        import duckdb

        import __spark_entry__
        from check_oracle import TABLES, canon

        self.canon = canon
        self.in_bytes = inputs.write_registry_tables(
            self.sf_dir, self.seed, REGISTRY_SCALE, REGISTRY_DOCS)
        oracle_sql = __spark_entry__.oracle_sql()
        self.expected: dict[str, list] = {}
        con = duckdb.connect()
        try:
            for t in TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.sf_dir}/{t}.parquet'")
            for q in self.names:
                res = con.execute(oracle_sql[q])
                self.expected[q] = canon(res.fetchall(), [d[0] for d in res.description])
        finally:
            con.close()
        self.out_bytes = sum(len(repr(e).encode()) for e in self.expected.values())

    def setup(self, spark) -> None:
        import __spark_entry__

        self.spark = spark
        self.queries = __spark_entry__.queries()
        # the cold first pass: it only warms the JVM, the codegen cache and
        # the Python workers, so all but the first query (which ships the
        # package to the workers) run on every core at once
        first, rest = self.names[0], self.names[1:]
        warm = {first: self._run_query(first)}
        with ThreadPoolExecutor(cores()) as ex:
            warm.update(zip(rest, ex.map(self._run_query, rest)))
        self.warm_failed = sum(not self.check_query(q, *warm[q]) for q in self.names)

    def _run_query(self, q: str):
        """(rows, columns) of one query, or (None, None) if it raised."""
        try:
            df = self.queries[q](self.spark, self.sf_dir)
            return [tuple(r) for r in df.collect()], df.columns
        except Exception as exc:  # noqa: BLE001 - a failing query is a counted failure
            log(f"registry: {q} raised {type(exc).__name__}: {exc}")
            return None, None

    def check_query(self, q: str, rows, cols) -> bool:
        ok = rows is not None and self.canon(rows, cols) == self.expected.get(q)
        if not ok:
            log(f"registry: {q} does not match its DuckDB oracle")
        return ok

    def rep(self, tracer=None, tag: str = "") -> Outcome:
        got, times = {}, {}
        with tracer.rep(tag, "registry") if tracer else contextlib.nullcontext():
            t0 = time.perf_counter()
            for q in self.names:
                t = time.perf_counter()
                with tracer.span(f"registry.{q}") if tracer else contextlib.nullcontext():
                    got[q] = self._run_query(q)
                times[q] = time.perf_counter() - t
            wall = time.perf_counter() - t0
        self.last = got
        failed = sum(not self.check_query(q, *got[q]) for q in self.names)
        return Outcome(
            wall_s=wall, attempted=len(self.names), failed=failed,
            docs=REGISTRY_DOCS, in_bytes=self.in_bytes, out_bytes=self.out_bytes,
            query_s=times,
        )
