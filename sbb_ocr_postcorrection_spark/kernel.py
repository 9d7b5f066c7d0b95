"""Per-document extraction kernel: html bytes → extraction result.

This is THE reference implementation in the byte-identity sense: the Spark
pipeline (kernels_spark.py) calls exactly these functions inside Arrow
batches, and tests assert ``spark_result == oracle(html)`` byte-for-byte per
url (SURVEY.md §5.2 oracle strategy).

Two stages mirror the reference's two-step pipeline
(mt/cli_correct.py:960-1295 lifecycle, re-expressed):

  stage 1  detect_document : html → content blocks + per-token flag spans
  stage 2  correct_document: flagged tokens → corrected text, merge back in
           original order (order-preserving reassembly,
           mt/cli_correct.py:1274-1282 analog — here positional by
           construction because the kernel is per-document)

The detector-flag routing (mt/cli_correct.py:1160-1186) happens in-kernel:
only flagged spans pay the correction cost; unflagged text is passed through
untouched, guaranteeing the pass-through bytes are identical.
"""

from __future__ import annotations

from dataclasses import dataclass

from .correct import correct_token
from .detect import flag_spans_counted
from .extract import content_text, extract_blocks


@dataclass(frozen=True)
class BlockDetection:
    """Stage-1 output for one content block; spans are plain
    ``(start, end, flagged)`` tuples, n_flagged their flagged count
    (accumulated during flagging, so downstream never re-scans to count)."""

    block_index: int
    text: str
    spans: tuple[tuple[int, int, bool], ...]
    # REQUIRED, not defaulted: run_document sums it into the n_flagged
    # counter, so a forgotten count would silently under-report
    n_flagged: int


@dataclass(frozen=True)
class ExtractionResult:
    """Final per-document result (the output-table row)."""

    extracted_text: str
    spans: tuple[tuple[int, int, bool], ...]  # offsets into extracted_text
    n_blocks: int
    n_content_blocks: int
    n_spans: int
    n_flagged: int
    chars_in: int
    chars_out: int

    @property
    def detector_hit_rate(self) -> float:
        return self.n_flagged / self.n_spans if self.n_spans else 0.0


def detect_document(html: bytes | str) -> tuple[list[BlockDetection], int, int]:
    """Stage 1: boilerplate strip + noisy-span flags.

    Returns (detections, n_blocks_total, html_chars_in).
    """
    blocks = extract_blocks(html)
    chars_in = len(html) if isinstance(html, (bytes, bytearray)) else len(html.encode("utf-8"))
    detections = []
    append = detections.append
    for b in blocks:
        if b.is_content:
            spans, nf = flag_spans_counted(b.text)
            append(BlockDetection(b.index, b.text, tuple(spans), nf))
    return detections, len(blocks), chars_in


def correct_document(detections: list[BlockDetection]) -> tuple[str, list[tuple[int, int, bool]]]:
    """Stage 2: rewrite flagged spans only; merge order-preservingly.

    Returns (extracted_text, spans with offsets into extracted_text).
    """
    out_blocks: list[str] = []
    out_spans: list[tuple[int, int, bool]] = []
    append = out_spans.append
    offset = 0
    for det in detections:
        text = det.text
        # only flagged spans (~12% of all) are sliced and rewritten; the
        # text between two of them is copied as one slice, so a block with
        # none passes through byte-equal. `shift` maps an input offset to
        # its output offset: the block's offset plus the length change of
        # the corrections so far
        pieces: list[str] = []
        cursor = 0
        shift = offset
        for start, end, flagged in det.spans:
            if flagged:
                fixed = correct_token(text[start:end])
                pieces.append(text[cursor:start])
                pieces.append(fixed)
                cursor = end
                start_out = start + shift
                append((start_out, start_out + len(fixed), True))
                shift += len(fixed) - (end - start)
            else:
                append((start + shift, end + shift, False))
        pieces.append(text[cursor:])
        block_text = "".join(pieces)
        out_blocks.append(block_text)
        offset += len(block_text) + 1  # +1 for the joining newline
    return "\n".join(out_blocks), out_spans


def run_document(html: bytes | str) -> ExtractionResult:
    """Full two-stage kernel for one document."""
    detections, n_blocks, chars_in = detect_document(html)
    text, spans = correct_document(detections)
    n_spans = sum(len(d.spans) for d in detections)
    n_flagged = sum(d.n_flagged for d in detections)
    return ExtractionResult(
        extracted_text=text,
        spans=tuple(spans),
        n_blocks=n_blocks,
        n_content_blocks=len(detections),
        n_spans=n_spans,
        n_flagged=n_flagged,
        chars_in=chars_in,
        chars_out=len(text),
    )


__all__ = [
    "BlockDetection",
    "ExtractionResult",
    "detect_document",
    "correct_document",
    "run_document",
    "content_text",
]
