"""Structured Streaming surface.

The reference is strictly batch (SURVEY.md §2.10), and the production
job's resume contract is the snapshot log (snapshots.py), NOT a streaming
sink. This package holds the one continuous-ingest shape: a pages stream →
the SAME fused extraction kernel the batch job runs → stateful first-seen
dedup on the extracted text (``extract_dedup_stream``).
"""

from . import dedup_stream  # noqa: F401
