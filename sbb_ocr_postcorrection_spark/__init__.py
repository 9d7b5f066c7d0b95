"""sbb_ocr_postcorrection_spark — PySpark-native web-text extraction engine.

A from-scratch PySpark reimplementation of the query/dataflow semantics of
qurator-spk/sbb_ocr_postcorrection (reference at /root/reference, studied in
SURVEY.md), re-targeted as main-content extraction over a Common-Crawl-style
table ``(url string, warc_ts timestamp, html binary, text string, lang
string)``:

* stage 1 (the reference's Detector analog): HTML boilerplate strip via
  tag/link-density block scoring + gaps-and-islands segmentation, and a
  character-ngram noisy-span detector;
* stage 2 (the Translator analog): a deterministic confusion-pattern +
  dictionary-argmin correction kernel applied only to flagged spans;
* everything per-document runs as batched Arrow kernels (the extraction
  kernel as ``mapInArrow``, the operator library's as ``mapInPandas``),
  everything cross-document as DataFrame/Catalyst relational ops.

Layout:
  textkit        pure string functions (NFC, split/levenshtein/ngrams)
  extract        HTML → scored text blocks (pure Python, deterministic)
  detect         char-ngram noisy-span detector (pure)
  correct        confusion+dictionary corrector (pure)
  kernel         per-document oracle: html bytes → extraction result
  datagen        deterministic synthetic pages generator
  kernels_spark  the fused stage 1+2 kernel as a mapInArrow stage, and the
                 job's writer stage around it
  pipeline       end-to-end job: partition layout, salting, snapshot resume
  snapshots      snapshot log (visible partitions + their sums), rollback,
                 writer fence
  operators/     relational operator library (SURVEY.md §2 mappings)
  queries        the driver-facing queries()/oracle_sql() registry
"""

__version__ = "0.1.0"
