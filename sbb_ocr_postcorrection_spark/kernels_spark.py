"""Arrow-batched Spark kernels wrapping the pure per-document kernel.

``_extract_batch`` runs the *same* pure function the oracle uses
(``kernel.run_document``) over one Arrow record batch, so Spark output is
byte-identical to the oracle by construction — the per-row invariant of
BASELINE.json input_hint. Two ``mapInArrow`` stages share it (SURVEY.md
§2.9 M1-M8 mapping):

* ``extract_stage`` yields the extraction rows. ``extract_pages`` (the
  registry queries) uses it;
* ``write_stage`` is the production job's writer: it writes its task's
  rows as one zstd parquet file per ``(dt, bkt)`` partition into a
  per-attempt staging directory and yields one row per file (its path
  and manifest sums). The driver commits those files (pipeline.py), the
  way an Iceberg writer task returns data files and their stats.

Scale notes:
* html is BinaryType and KB-MB per row — callers must cap
  ``spark.sql.execution.arrow.maxRecordsPerBatch`` (pipeline.py does; it
  bounds ``mapInArrow`` batches too) and the kernel drops the column;
* no pandas on the hop: ``url``, ``warc_ts`` and ``lang`` pass through as
  the input Arrow columns, and ``spans`` is one list array whose struct
  values are built from all of the batch's span tuples in one call;
* the kernel is a per-document pure function: no cross-row state, no
  shuffle, safe under task retries and speculative execution. The writer
  keeps that property: every attempt writes under its own directory, and
  only the files of the attempt whose rows the driver receives are
  committed;
* ``write_stage`` holds at most ``_FLUSH_BYTES`` of buffered output plus
  one Arrow batch per task;
* the staging directory is a POSIX path that the driver and every worker
  can reach (the table root's filesystem contract, see pipeline.py);
* stage 2 routes internally on the stage-1 flags (the reference's
  detector→translator routing, mt/cli_correct.py:1160-1186) — flagged spans
  only; no split/join of the DataFrame, so the whole extract is a single
  narrow stage.
"""

from __future__ import annotations

import itertools
import os
from collections.abc import Iterator

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from .kernel import run_document

# output schema — spans is a typed struct array (FIXTURES.md §1
# companion-table contract), not a JSON string
EXTRACT_SCHEMA = (
    "url string, warc_ts timestamp, host string, lang string, "
    "extracted_text string, "
    "spans array<struct<start:int, end:int, flagged:boolean>>, "
    "n_blocks int, n_content_blocks int, n_spans int, n_flagged int, "
    "chars_in long, chars_out long"
)

# Arrow types of EXTRACT_SCHEMA's computed columns (the pass-through ones
# keep the type Spark sent)
_SPAN_TYPE = pa.struct(
    [("start", pa.int32()), ("end", pa.int32()), ("flagged", pa.bool_())]
)
_SPANS_TYPE = pa.list_(_SPAN_TYPE)
_COLUMNS = [
    "url", "warc_ts", "host", "lang", "extracted_text", "spans",
    "n_blocks", "n_content_blocks", "n_spans", "n_flagged",
    "chars_in", "chars_out",
]

# one row per file write_stage wrote: its partition, path and manifest sums
WRITTEN_SCHEMA = (
    "dt date, bkt int, path string, n_docs long, chars_in long, "
    "chars_out long, n_flagged long, n_spans long"
)
_SUMMED = ["chars_in", "chars_out", "n_flagged", "n_spans"]
# buffered output bytes per write_stage task before its largest
# partition buffer is flushed as a row group
_FLUSH_BYTES = 64 << 20
# parquet leaf columns with min/max statistics: all but extracted_text,
# whose multi-KB values pyarrow would store whole in every footer
_STATS_COLUMNS = [
    c for c in _COLUMNS if c not in ("extracted_text", "spans")
] + [f"spans.list.element.{f.name}" for f in _SPAN_TYPE]


def _host_of(url: str | None) -> str | None:
    if url is None:
        return None
    rest = url.split("://", 1)[-1]
    return rest.split("/", 1)[0]


def _spans_array(offsets: list[int], flat: list[tuple[int, int, bool]]) -> pa.Array:
    """One list<struct> array from the batch's spans laid end to end: the
    struct values come from the span tuples in one ``pa.array`` call."""
    return pa.ListArray.from_arrays(
        pa.array(offsets, pa.int32()), pa.array(flat, _SPAN_TYPE),
        type=_SPANS_TYPE,
    )


def _extract_batch(batch: pa.RecordBatch) -> pa.RecordBatch:
    """Fused detect→correct kernel over one batch of (url, warc_ts, html,
    lang): both stages inside ONE Python worker pass (the reference's
    in-kernel detector→translator routing, mt/cli_correct.py:1160-1186).
    Fusing matters operationally: chaining two map operators runs TWO
    Python workers per task (2× CPU oversubscription at full parallelism)
    and ships the bulky intermediate detections through the JVM — measured
    6× slower at 32-way than fused."""
    hosts, texts = [], []
    n_blocks, n_content, n_spans, n_flagged = [], [], [], []
    chars_in, chars_out = [], []
    offsets, flat = [0], []
    for url, html in zip(
        batch.column("url").to_pylist(), batch.column("html").to_pylist()
    ):
        # null html = fetch failure row: emit an empty extraction, never
        # crash the partition (a task retry would just re-crash)
        r = run_document(html if html is not None else b"")
        hosts.append(_host_of(url))
        texts.append(r.extracted_text)
        flat.extend(r.spans)
        offsets.append(len(flat))
        n_blocks.append(r.n_blocks)
        n_content.append(r.n_content_blocks)
        n_spans.append(r.n_spans)
        n_flagged.append(r.n_flagged)
        chars_in.append(r.chars_in)
        chars_out.append(r.chars_out)
    return pa.RecordBatch.from_arrays(
        [
            batch.column("url"),
            batch.column("warc_ts"),
            pa.array(hosts, pa.string()),
            batch.column("lang"),
            pa.array(texts, pa.string()),
            _spans_array(offsets, flat),
            pa.array(n_blocks, pa.int32()),
            pa.array(n_content, pa.int32()),
            pa.array(n_spans, pa.int32()),
            pa.array(n_flagged, pa.int32()),
            pa.array(chars_in, pa.int64()),
            pa.array(chars_out, pa.int64()),
        ],
        names=_COLUMNS,
    )


def extract_stage(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    """The extraction kernel as a ``mapInArrow`` function."""
    for batch in batches:
        yield _extract_batch(batch)


def write_stage(staging: str):
    """The job's writer as a ``mapInArrow`` function over (url, warc_ts,
    html, lang, dt, bkt) batches, output schema ``WRITTEN_SCHEMA``.

    Each task writes ``<staging>/attempt-<taskAttemptId>/dt=<d>/bkt=<b>/
    part-<partitionId>.parquet`` per partition key it sees: zstd,
    dictionary encoding on ``host`` and ``lang`` only, statistics on every
    column but ``extracted_text``. Rows are routed per batch and buffered
    per key; once the task's buffers reach ``_FLUSH_BYTES`` the largest
    is flushed as a row group, and all are flushed at the end. ``dt`` and
    ``bkt`` are the hive path, not file columns, as in Spark's writer."""
    flush_bytes = _FLUSH_BYTES  # read on the driver, shipped in the closure

    def stage(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        from pyspark import TaskContext

        ctx = TaskContext.get()
        root = os.path.join(staging, f"attempt-{ctx.taskAttemptId()}")
        name = f"part-{ctx.partitionId():05d}.parquet"
        buffers: dict[tuple, list[pa.RecordBatch]] = {}
        sizes: dict[tuple, int] = {}
        files: dict[tuple, tuple[str, pq.ParquetWriter, list[int]]] = {}

        def flush(key) -> None:
            table = pa.Table.from_batches(buffers.pop(key))
            sizes.pop(key)
            if key not in files:
                d = os.path.join(root, f"dt={key[0].isoformat()}", f"bkt={key[1]}")
                os.makedirs(d, exist_ok=True)
                path = os.path.join(d, name)
                writer = pq.ParquetWriter(
                    path, table.schema, compression="zstd",
                    use_dictionary=["host", "lang"],
                    write_statistics=_STATS_COLUMNS,
                )
                files[key] = (path, writer, [0] * 5)
            _, writer, sums = files[key]
            writer.write_table(table)
            sums[0] += table.num_rows
            for i, c in enumerate(_SUMMED, 1):
                sums[i] += pc.sum(table.column(c)).as_py()

        try:
            for batch in batches:
                keys = list(zip(
                    batch.column("dt").to_pylist(), batch.column("bkt").to_pylist()
                ))
                # route per batch: one take puts each key's rows in one run
                order = sorted(range(len(keys)), key=keys.__getitem__)
                out = _extract_batch(batch).take(pa.array(order, pa.int32()))
                start = 0
                for key, run in itertools.groupby(order, key=keys.__getitem__):
                    n = sum(1 for _ in run)
                    piece = out.slice(start, n)
                    start += n
                    buffers.setdefault(key, []).append(piece)
                    sizes[key] = sizes.get(key, 0) + piece.nbytes
                while sizes and sum(sizes.values()) >= flush_bytes:
                    flush(max(sizes, key=sizes.get))
            for key in list(buffers):
                flush(key)
        finally:
            for _, writer, _ in files.values():
                writer.close()
        if files:
            keys = sorted(files)
            sums = list(zip(*(files[k][2] for k in keys)))
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array([k[0] for k in keys], pa.date32()),
                    pa.array([k[1] for k in keys], pa.int32()),
                    pa.array([files[k][0] for k in keys], pa.string()),
                    *(pa.array(c, pa.int64()) for c in sums),
                ],
                names=["dt", "bkt", "path", "n_docs", *_SUMMED],
            )

    return stage


def extract_pages(pages_df):
    """DataFrame-level extraction: pages → extraction table.

    ``pages_df`` needs columns (url, warc_ts, html, lang); extra columns are
    pruned, and html goes no further than the kernel.
    """
    return pages_df.select("url", "warc_ts", "html", "lang").mapInArrow(
        extract_stage, schema=EXTRACT_SCHEMA
    )
