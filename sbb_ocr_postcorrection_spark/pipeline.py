"""End-to-end extraction job: partition layout, skew salting, resumable
checkpoints, per-partition lineage + metrics.

Iceberg note: the sandbox image has no Iceberg jars, so the Iceberg-layout
contract (days(warc_ts) × bucket(url) partitioning, idempotent
overwrite-by-partition, snapshot-based resume) is implemented on plain
parquet plus the snapshot log of snapshots.py, with Iceberg's
writer/commit split: the kernel task is the writer
(``kernels_spark.write_stage`` writes its (dt, bkt) groups into a
per-attempt staging directory and returns one row per file with its
sums), and the driver commits — per written partition it deletes the old
directory and moves in the returned files, then commits one snapshot
whose entry for each visible partition carries that partition's sums, so
the table's visible set and its statistics are one record, written once
and never re-read from the output.

Filesystem contract: the output root is a POSIX path that the driver and
every worker can reach (a local disk in local mode, a shared mount on a
cluster). The commit renames files within it, and snapshots.py's
``os.link``/``open(path, "x")`` fence already requires it.

Resume contract (north_rule): a killed job restarts, removes from the
pending partition list every partition the current snapshot of the
append-only log (snapshots.py) names, and processes only the remainder. A
partition is done only once the snapshot naming it committed: files a run
moved in before dying ahead of its snapshot commit are neither visible
nor done, so a kill before the first commit re-extracts everything.
Partition writes are idempotent overwrites, never blind appends (contrast
the reference's append=True default, preprocessing/database.py:14-15).
"""

from __future__ import annotations

import glob
import os
import shutil
import time

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

from .kernels_spark import WRITTEN_SCHEMA, write_stage

N_URL_BUCKETS = 16
N_SALTS = 8  # host-aggregation salting fan-out

# per-partition sums a snapshot entry carries after its (dt_iso, bkt)
_PARTITION_SUMS = ("n_docs", "chars_in", "chars_out", "n_flagged", "n_spans")


def build_session(
    app: str = "sbb-extract",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    arrow_batch: int = 256,
) -> SparkSession:
    """Tuned local session. ``arrow_batch`` caps the row count of every
    Arrow batch, the extraction kernel's ``mapInArrow`` batches included,
    so html-binary batches stay memory-bounded (SURVEY.md §7.3
    binary-heavy rows)."""
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle_partitions = shuffle_partitions or max(cores, 8)
    # ship this package to Python workers regardless of the driver's cwd —
    # the local-mode analog of `spark-submit --py-files pkg.zip`
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    py_path = os.environ.get("PYTHONPATH", "")
    if pkg_root not in py_path.split(os.pathsep):
        py_path = f"{pkg_root}{os.pathsep}{py_path}" if py_path else pkg_root
        os.environ["PYTHONPATH"] = py_path
    return (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(arrow_batch))
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        .config("spark.executorEnv.PYTHONPATH", py_path)
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )


def with_partition_cols(pages: DataFrame) -> DataFrame:
    """Add the Iceberg-style partition columns: dt = days(warc_ts),
    bkt = bucket(url). Partition pruning on dt and co-location on bkt.

    Null warc_ts maps to the 1970-01-01 sentinel partition — a null dt would
    silently drop rows at the resume semi-join (null keys never match)."""
    return pages.withColumn(
        "dt", F.coalesce(F.to_date("warc_ts"), F.lit("1970-01-01").cast("date"))
    ).withColumn(
        "bkt", F.pmod(F.xxhash64("url"), F.lit(N_URL_BUCKETS)).cast("int")
    )


def salted_host_agg(
    df: DataFrame, *aggs, host_col: str = "host", salt_col: str = "url"
) -> DataFrame:
    """Two-phase skew-safe aggregation by host (north_rule: salt skewed
    hosts before any shuffle). Phase 1 partial-aggregates by (host, salt) —
    heavy hosts spread over N_SALTS reducers — phase 2 combines per host.

    ``aggs`` are (colname, 'sum'|'count'|'max') specs; counts pass through a
    sum in phase 2 (alias ``n_docs`` for the first count, ``n_<col>`` after).
    ``salt_col`` must be a fine-grained column (row id / url) — salting on a
    coarse column would put a whole hot host in one salt bucket."""
    if salt_col not in df.columns:
        raise ValueError(
            f"salt_col {salt_col!r} not in DataFrame columns {df.columns}; "
            "pass a fine-grained column to spread hot hosts"
        )
    salted = df.withColumn(
        "_salt", F.pmod(F.xxhash64(salt_col), F.lit(N_SALTS)).cast("int")
    )
    phase1_exprs = []
    phase2_exprs = []
    first_count = True
    for col, how in aggs:
        partial = f"_{how}_{col}"
        if how == "count":
            phase1_exprs.append(F.count(F.lit(1)).alias(partial))
            alias = "n_docs" if first_count else f"n_{col}"
            first_count = False
        elif how == "sum":
            phase1_exprs.append(F.sum(col).alias(partial))
            alias = f"sum_{col}"
        elif how == "max":
            phase1_exprs.append(F.max(col).alias(partial))
            alias = f"max_{col}"
        else:
            raise ValueError(how)
        final_fn = F.max if how == "max" else F.sum
        phase2_exprs.append(final_fn(partial).alias(alias))
    return (
        salted.groupBy(host_col, "_salt")
        .agg(*phase1_exprs)
        .groupBy(host_col)
        .agg(*phase2_exprs)
    )


def _arrow_frame(spark: SparkSession, rows, ddl: str) -> DataFrame:
    """A small driver-side frame (``rows`` of tuples in ``ddl`` column
    order) built by way of a ``pyarrow.Table``: it plans as a
    LocalTableScan and starts no Python task. ``createDataFrame`` of a
    Python list is a Python RDD scan instead, and every evaluation of it
    starts Python workers on the control path."""
    schema = StructType.fromDDL(ddl)
    arrow_schema = to_arrow_schema(schema)
    cols = list(zip(*rows)) if rows else [()] * len(arrow_schema)
    table = pa.Table.from_arrays(
        [pa.array(c, f.type) for c, f in zip(cols, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema)


def run_extraction_job(
    spark: SparkSession,
    pages: DataFrame,
    output_dir: str,
    lang_filter: str | None = None,
    resume: bool = True,
    reclaim_stale: bool = False,
) -> dict:
    """The flagship job: pages table → extracted table, partitioned by
    (dt, bkt), resumable at partition granularity.

    Every completing run commits one snapshot to the append-only log
    (snapshots.py): the done-set is the CURRENT snapshot's partition set,
    and empty before the first commit (so a rollback makes the next run
    re-extract what it hid, and a run killed before its commit is
    redone, whatever files it moved in); the commit intent is
    claimed BEFORE any data is written, so a second writer racing on the
    same table loses cleanly with ConcurrentWriteError. reclaim_stale
    force-reclaims an intent left by a writer that died on ANOTHER host
    (a same-host dead pid is reclaimed automatically).

    Returns a summary dict (docs processed, partitions done/skipped, secs).
    """
    from . import snapshots

    t0 = time.time()
    if lang_filter:
        pages = pages.filter(F.col("lang") == lang_filter)  # P5 analog
    pages = with_partition_cols(pages)

    # pending partitions = all partitions − done-set (driver-side set math;
    # the partition list is tiny even at 10^12 docs: days × buckets)
    all_rows = pages.select("dt", "bkt").distinct().collect()
    snap = snapshots.current_snapshot(output_dir)
    done_set = snapshots.snapshot_partition_set(snap)
    pending_rows = [
        r
        for r in all_rows
        if not resume or (r["dt"].isoformat(), r["bkt"]) not in done_set
    ]
    n_skipped = len(all_rows) - len(pending_rows)
    if not pending_rows:
        return {
            "docs": 0, "partitions_done": 0, "partitions_skipped": n_skipped,
            "seconds": time.time() - t0,
        }
    # claim the table BEFORE writing a byte — the losing writer of a
    # same-table race aborts here with nothing to clean up
    ticket = snapshots.begin_commit(output_dir, reclaim_stale=reclaim_stale)
    try:
        return _run_claimed(
            spark, pages, output_dir, resume, ticket, pending_rows,
            n_skipped, snap, t0,
        )
    except Exception:
        snapshots.abort_commit(output_dir, ticket)
        raise


def _run_claimed(
    spark, pages, output_dir, resume, ticket, pending_rows, n_skipped,
    snap, t0,
) -> dict:
    """The claimed section of run_extraction_job: everything between
    intent and snapshot commit (any failure here releases the intent)."""
    from . import snapshots

    pending = _arrow_frame(spark, pending_rows, "dt date, bkt int")

    # process only pending partitions; broadcast the (small) pending list
    # and carry dt/bkt through the kernel into the writer's file paths
    pages_pending = pages.join(F.broadcast(pending), ["dt", "bkt"], "left_semi")
    # repartition on the layout key before the kernel: parallelizes the
    # CPU-heavy stage regardless of input split count and co-locates each
    # output partition's rows with its writer task (one file per (dt,bkt)).
    # One task per core, not more: every Python task pays ≈0.27 CPU-s of
    # fixed setup (measured on a 4-core VM), mostly pyspark's
    # setup_spark_files calling importlib.invalidate_caches(), which on
    # Python 3.11 re-reads pyspark.zip once per cached zipimporter. When
    # spark.sql.shuffle.partitions is a multiple k·n of the n cores (as
    # build_session's default of 8 is on 4 cores), more tasks only regroup
    # the same keys: partitions i, i+n, …, i+(k−1)n of pmod(h, k·n) hold
    # exactly the rows of partition i of pmod(h, n). On 10k pages and 4
    # cores, the 8 tasks of pmod 8 paired this way carried the doc counts
    # of the 4 tasks of pmod 4 (2269/2201/2589/2941), at twice the setups.
    # Core counts that do not divide it (3, 5, 6, 7 under the default)
    # lose the dynamic balancing of the extra tasks; not measured
    n_tasks = spark.sparkContext.defaultParallelism
    out_path = os.path.join(output_dir, "extractions")
    # the intent is held, so any staging root left here is a dead writer's
    for stale in glob.glob(os.path.join(out_path, "_staging-*")):
        shutil.rmtree(stale)
    staging = os.path.join(out_path, f"_staging-{ticket['nonce']}")
    written = (
        pages_pending.repartition(n_tasks, "dt", "bkt")
        .select("url", "warc_ts", "html", "lang", "dt", "bkt")
        .mapInArrow(write_stage(staging), WRITTEN_SCHEMA)
        .collect()
    )

    # commit: per written partition, delete what an earlier run left and
    # move in only the files whose rows came back, so files of failed or
    # speculative attempts are never moved; then drop the staging root
    by_part: dict[tuple, list] = {}
    for r in written:
        by_part.setdefault((r["dt"], r["bkt"]), []).append(r)
    for (dt, bkt), rows in by_part.items():
        part_dir = os.path.join(out_path, f"dt={dt.isoformat()}", f"bkt={bkt}")
        shutil.rmtree(part_dir, ignore_errors=True)
        os.makedirs(part_dir)
        for r in rows:
            os.replace(r["path"], os.path.join(part_dir, os.path.basename(r["path"])))
    shutil.rmtree(staging, ignore_errors=True)

    # per-partition lineage + metrics (A10): each written partition's
    # snapshot entry carries the writer's per-file sums, so the commit
    # that makes the partition visible records its statistics too, and
    # the output is never re-read. A resume keeps every entry of the
    # current snapshot whole; resume=False replaces the visible set
    carried = snap["partitions"] if resume and snap else []
    entries = carried + [
        [dt.isoformat(), bkt, *(sum(r[c] for r in rows) for c in _PARTITION_SUMS)]
        for (dt, bkt), rows in by_part.items()
    ]
    n_docs = sum(r["n_docs"] for r in written)
    snapshots.commit_snapshot(
        output_dir,
        ticket,
        entries,
        op="append" if resume else "overwrite",
        extra={"n_docs": int(n_docs)},
    )
    return {
        "docs": int(n_docs),
        "partitions_done": len(pending_rows),
        "partitions_skipped": int(n_skipped),
        "seconds": time.time() - t0,
        "snapshot_id": ticket["next_id"],
    }


def export_training_corpus(
    spark: SparkSession,
    sf_dir: str,
    output_dir: str,
    max_records_per_file: int = 50_000,
) -> dict:
    """The pipeline's end product: run the composite curation verdict and
    materialize the KEPT documents as sharded JSONL (the interchange
    format training stacks ingest) plus an audit manifest.

    Shape: verdict ⋈ documents is an equality join on doc_id; the writer
    bounds shard size with maxRecordsPerFile (a shard maps to one loader
    work item downstream). The manifest accounts for every input document
    — the per-reason histogram means dropped docs are auditable, never
    silently gone — and records the export so a resumed/downstream job
    can verify counts without rescanning the corpus.

    Returns the manifest dict: {n_input, n_exported, reasons, output}.
    """
    import json as _json

    from .functions.exprs import tokens_expr
    from .operators.curation import curate_corpus
    from .operators.relational import load

    # persist: the verdict feeds BOTH the kept-docs write and the reason
    # histogram — without it the whole curation DAG (dedup, verification,
    # decontamination, the seven-way join) would execute twice. finally:
    # a failed write must not leave the verdict cached for the session
    # lifetime (the orphaned-cache hazard persist_slot exists to bound)
    v = curate_corpus(spark, sf_dir).persist()
    try:
        d = load(spark, sf_dir, "documents")
        kept = (
            v.filter(F.col("keep") == 1)
            .select("doc_id", "source", "lang")
            .join(d.select("doc_id", "text"), "doc_id")
            .withColumn("n_tokens", F.size(tokens_expr(F.col("text"))))
        )
        out = os.path.join(output_dir, "corpus")
        (
            kept.write.mode("overwrite")
            .option("maxRecordsPerFile", max_records_per_file)
            .json(out)
        )
        hist = {
            r["reason"]: r["n"]
            for r in v.groupBy("reason")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
    finally:
        v.unpersist()
    manifest = {
        "n_input": int(sum(hist.values())),
        "n_exported": int(hist.get("kept", 0)),
        "reasons": hist,
        "output": out,
    }
    with open(os.path.join(output_dir, "export_manifest.json"), "w") as fh:
        _json.dump(manifest, fh, indent=2, sort_keys=True)
    return manifest


def job_metrics(spark: SparkSession, output_dir: str) -> DataFrame:
    """Aggregate job metrics over the table's visible partitions, from the
    sums their current snapshot entries carry: chars in/out, detector hit
    rate (A10 analog of the reference's corpus-level stats). The hit rate
    is NULL when no visible doc has a span. Every sum is NULL when no
    partition is visible (no snapshot yet, or an empty one), and also when
    any visible entry carries no sums (a bare ``(dt, bkt)`` entry, which a
    resume carries forward): the table's sums are then unknown."""
    from . import snapshots

    snap = snapshots.current_snapshot(output_dir)
    rows = [p[2:] for p in snap["partitions"]] if snap else []
    if any(len(r) != len(_PARTITION_SUMS) for r in rows):
        rows = []
    sums = _arrow_frame(
        spark, rows, ", ".join(f"{c} long" for c in _PARTITION_SUMS)
    )
    return sums.agg(
        F.sum("n_docs").alias("docs"),
        F.sum("chars_in").alias("chars_in"),
        F.sum("chars_out").alias("chars_out"),
        F.try_divide(F.sum("n_flagged"), F.sum("n_spans")).alias("detector_hit_rate"),
    )
