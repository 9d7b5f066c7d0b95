"""Per-layer measurements that call the package's public functions
directly: the in-process kernel modules on one core, and the
``mapInPandas`` hop into a noop sink on the job's input shape."""

from __future__ import annotations

import time


def kernel_in_process(pages) -> dict[str, float]:
    """Time ``extract`` → ``detect`` → ``correct`` per document, in this
    process, and check the composition reproduces ``kernel.run_document``."""
    from sbb_ocr_postcorrection_spark import detect, extract, kernel

    clock = time.perf_counter
    busy = {"extract": 0.0, "detect": 0.0, "correct": 0.0}
    n = {"blocks": 0, "content_blocks": 0, "spans": 0, "flagged": 0}
    texts = []
    for p in pages:
        t0 = clock()
        blocks = extract.extract_blocks(p.html)
        t1 = clock()
        dets = []
        for b in blocks:
            if b.is_content:
                spans, nf = detect.flag_spans_counted(b.text)
                dets.append(kernel.BlockDetection(b.index, b.text, tuple(spans), nf))
        t2 = clock()
        text, _ = kernel.correct_document(dets)
        t3 = clock()
        busy["extract"] += t1 - t0
        busy["detect"] += t2 - t1
        busy["correct"] += t3 - t2
        n["blocks"] += len(blocks)
        n["content_blocks"] += len(dets)
        n["spans"] += sum(len(d.spans) for d in dets)
        n["flagged"] += sum(d.n_flagged for d in dets)
        texts.append(text)
    t0 = clock()
    whole_texts = [kernel.run_document(p.html).extracted_text for p in pages]
    whole = clock() - t0
    return {
        "extract.busy_s": busy["extract"],
        "extract.blocks": n["blocks"],
        "extract.content_blocks": n["content_blocks"],
        "detect.busy_s": busy["detect"],
        "detect.spans": n["spans"],
        "detect.flagged": n["flagged"],
        "correct.busy_s": busy["correct"],
        "correct.tokens": n["flagged"],
        "kernel.docs_per_s_core": len(pages) / whole,
        "mismatched": sum(a != b for a, b in zip(texts, whole_texts)),
    }


def noop_hop(spark, pages_path: str) -> float:
    """Seconds of ``extract_pages`` into a noop sink, on the job's input
    shape: partition columns plus the pre-kernel
    ``repartition(n_tasks, "dt", "bkt")`` of ``pipeline._run_claimed``."""
    from sbb_ocr_postcorrection_spark.kernels_spark import extract_pages
    from sbb_ocr_postcorrection_spark.pipeline import with_partition_cols

    n_tasks = max(
        spark.sparkContext.defaultParallelism,
        int(spark.conf.get("spark.sql.shuffle.partitions")),
    )
    pages = with_partition_cols(spark.read.parquet(pages_path))
    df = extract_pages(pages.repartition(n_tasks, "dt", "bkt"))
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0
