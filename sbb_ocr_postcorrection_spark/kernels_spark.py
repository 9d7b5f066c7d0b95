"""Arrow-batched Spark kernel wrapping the pure per-document kernel.

``extract_stage`` is a ``mapInArrow`` iterator kernel (SURVEY.md §2.9 M1-M8
mapping): Spark feeds Arrow record batches, we run the *same* pure function
the oracle uses (``kernel.run_document``), so Spark output is
byte-identical to the oracle by construction — the per-row invariant of
BASELINE.json input_hint. Batch and stream (streaming/ingest.py) share
this one stage.

Scale notes:
* html is BinaryType and KB-MB per row — callers must cap
  ``spark.sql.execution.arrow.maxRecordsPerBatch`` (pipeline.py does; it
  bounds ``mapInArrow`` batches too) and the kernel drops the column;
* no pandas on the hop: ``url``, ``warc_ts`` and ``lang`` pass through as
  the input Arrow columns, and ``spans`` is built as one list array over
  three flat child arrays instead of per-row Python tuples;
* the kernel is a per-document pure function: no cross-row state, no
  shuffle, safe under task retries and speculative execution;
* stage 2 routes internally on the stage-1 flags (the reference's
  detector→translator routing, mt/cli_correct.py:1160-1186) — flagged spans
  only; no split/join of the DataFrame, so the whole extract is a single
  narrow stage.
"""

from __future__ import annotations

from collections.abc import Iterator

import pyarrow as pa

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


def _host_of(url: str) -> str:
    rest = url.split("://", 1)[-1]
    return rest.split("/", 1)[0]


def _spans_array(offsets: list[int], flat: list[tuple[int, int, bool]]) -> pa.Array:
    """One list<struct> array from the batch's spans laid end to end."""
    starts, ends, flags = zip(*flat) if flat else ((), (), ())
    values = pa.StructArray.from_arrays(
        [
            pa.array(starts, pa.int32()),
            pa.array(ends, pa.int32()),
            pa.array(flags, pa.bool_()),
        ],
        fields=list(_SPAN_TYPE),
    )
    return pa.ListArray.from_arrays(
        pa.array(offsets, pa.int32()), values, type=_SPANS_TYPE
    )


def extract_stage(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    """Fused detect→correct kernel: both stages inside ONE Python worker
    pass (the reference's in-kernel detector→translator routing,
    mt/cli_correct.py:1160-1186). Fusing matters operationally: chaining two
    map operators runs TWO Python workers per task (2× CPU oversubscription
    at full parallelism) and ships the bulky intermediate detections
    through the JVM — measured 6× slower at 32-way than fused."""
    for batch in batches:
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
        yield pa.RecordBatch.from_arrays(
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
            names=[
                "url", "warc_ts", "host", "lang", "extracted_text", "spans",
                "n_blocks", "n_content_blocks", "n_spans", "n_flagged",
                "chars_in", "chars_out",
            ],
        )


def extract_pages(pages_df):
    """DataFrame-level extraction: pages → extraction table.

    ``pages_df`` needs columns (url, warc_ts, html, lang); extra columns are
    pruned, and html goes no further than the kernel.
    """
    return pages_df.select("url", "warc_ts", "html", "lang").mapInArrow(
        extract_stage, schema=EXTRACT_SCHEMA
    )
