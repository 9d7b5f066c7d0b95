"""Differential oracles the package does not ship: slower reference forms
that tests compare the shipped fast paths against.

* ``parse_blocks_std`` — the stdlib ``html.parser`` block parser, the
  semantic yardstick for ``extract.parse_blocks`` (kernel guards:
  test_kernel_invariants, test_review_regressions);
* ``feature_embeddings`` — the array<float> byte-histogram embedding, the
  yardstick for ``multimodal.feature_histogram_batch``.

Tests import this module by name (pytest puts tests/ on ``sys.path``).
Python workers cannot import it, so it registers itself with cloudpickle
to ship its functions by value.
"""

from __future__ import annotations

import sys
from collections.abc import Iterator
from html.parser import HTMLParser

import pandas as pd
from pyspark import cloudpickle
from pyspark.sql import DataFrame, functions as F

from sbb_ocr_postcorrection_spark.extract import _BLOCK_TAGS, _BOILER_ANCESTORS, Block
from sbb_ocr_postcorrection_spark.operators.multimodal import _byte_histogram
from sbb_ocr_postcorrection_spark.operators.relational import load
from sbb_ocr_postcorrection_spark.textkit import nfc

cloudpickle.register_pickle_by_value(sys.modules[__name__])

# Subtrees whose text never counts.
_IGNORE_TAGS = frozenset(("script", "style", "noscript", "template", "svg", "head", "title"))


class _BlockParser(HTMLParser):
    """Incremental parser accumulating Block records in document order."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.blocks: list[Block] = []
        self._parts: list[str] = []
        self._link_chars = 0
        self._tag_count = 0
        self._ignore_depth = 0
        self._anchor_depth = 0
        self._boiler_depth = 0

    def _flush(self) -> None:
        text = " ".join(" ".join(self._parts).split())
        if text:
            self.blocks.append(
                Block(
                    index=len(self.blocks),
                    text=text,
                    link_chars=self._link_chars,
                    tag_count=self._tag_count,
                    in_boiler=self._boiler_depth > 0,
                )
            )
        self._parts = []
        self._link_chars = 0
        self._tag_count = 0

    def handle_starttag(self, tag: str, attrs) -> None:
        if tag in _IGNORE_TAGS:
            self._ignore_depth += 1
            return
        if self._ignore_depth:
            return
        self._tag_count += 1
        if tag in _BLOCK_TAGS:
            self._flush()
        if tag == "a":
            self._anchor_depth += 1
        if tag in _BOILER_ANCESTORS:
            self._boiler_depth += 1

    def handle_endtag(self, tag: str) -> None:
        if tag in _IGNORE_TAGS:
            self._ignore_depth = max(0, self._ignore_depth - 1)
            return
        if self._ignore_depth:
            return
        if tag in _BLOCK_TAGS:
            self._flush()
        if tag == "a":
            self._anchor_depth = max(0, self._anchor_depth - 1)
        if tag in _BOILER_ANCESTORS:
            self._boiler_depth = max(0, self._boiler_depth - 1)

    def handle_data(self, data: str) -> None:
        if self._ignore_depth or not data:
            return
        self._parts.append(data)
        if self._anchor_depth:
            self._link_chars += len(" ".join(data.split()))

    def close(self) -> None:  # flush trailing text
        super().close()
        self._flush()


def parse_blocks_std(html: bytes | str) -> list[Block]:
    """Stdlib html.parser implementation — the semantic yardstick; ~3×
    slower than ``extract.parse_blocks`` (tests assert equality on
    generated corpora)."""
    if isinstance(html, (bytes, bytearray)):
        html = html.decode("utf-8", errors="replace")
    parser = _BlockParser()
    parser.feed(nfc(html))
    parser.close()
    return parser.blocks


def feature_extract_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Binary payload → float32 embedding, cnt / n_bytes per histogram
    dim: the array form of the feature kernel."""
    for pdf in batches:
        rows = []
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            b = bytes(payload) if payload is not None else b""
            hist = _byte_histogram(b)
            vec = (hist / max(len(b), 1)).astype("float32")
            rows.append({"doc_id": doc_id, "embedding": vec.tolist()})
        yield pd.DataFrame(rows, columns=["doc_id", "embedding"])


def feature_embeddings(spark, sf_dir) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    payloads = d.select("doc_id", F.encode("text", "utf-8").alias("payload"))
    return payloads.mapInPandas(
        feature_extract_batch, schema="doc_id long, embedding array<float>"
    )
