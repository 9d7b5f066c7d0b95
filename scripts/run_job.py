#!/usr/bin/env python
"""spark-submit entry point for the extraction job and the query registry.

Cluster use (north_rule contract):
    python scripts/make_pyfiles.py dist/pkg.zip
    spark-submit --py-files dist/pkg.zip scripts/run_job.py \
        --input /data/pages --output /data/out --lang de

    The extraction job's --output must be a POSIX path that the driver
    and every executor reach (a shared mount such as NFS): tasks write
    their parquet files under it and the driver renames them into place.

Local sandbox use (this container):
    python scripts/run_job.py --input <pages.parquet> --output <dir> \
        [--cores 32] [--lang de] [--no-resume] [--generate N]

Any registry operator (dedup, curation, ANN, packing, …) runs the same
way — the full library surface is cluster-submittable, not just the
extraction flagship:
    spark-submit --py-files dist/pkg.zip scripts/run_job.py \
        --query curation_report --sf-dir /data/tables --output /data/out \
        [--format parquet|jsonl]
"""

from __future__ import annotations

import argparse
import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", help="pages parquet path")
    ap.add_argument("--output", required=True, help="output directory")
    ap.add_argument("--lang", default=None, help="language filter (e.g. de)")
    ap.add_argument("--cores", type=int, default=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    ap.add_argument("--no-resume", action="store_true", help="reprocess everything")
    ap.add_argument("--generate", type=int, default=0,
                    help="generate N synthetic pages as input first (demo mode)")
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--query", default=None,
                    help="run this registry query (__spark_entry__.queries()) "
                         "instead of the extraction job")
    ap.add_argument("--sf-dir", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"),
        help="table directory for --query mode")
    ap.add_argument("--format", default="parquet", choices=["parquet", "jsonl"],
                    help="--query output format")
    args = ap.parse_args()

    from sbb_ocr_postcorrection_spark.pipeline import (
        build_session,
        job_metrics,
        run_extraction_job,
    )

    if args.query:
        import __spark_entry__ as entrymod

        qs = entrymod.queries()
        if args.query not in qs:
            ap.error(
                f"unknown query {args.query!r}; one of: {', '.join(sorted(qs))}"
            )
        spark = build_session(app=f"sbb-query-{args.query}", cores=args.cores)
        spark.sparkContext.setLogLevel("WARN")
        out = os.path.join(args.output, args.query)
        # persist: counted AND written from one evaluation; counting via a
        # read-back would crash on empty JSONL output (no part files → no
        # inferable schema) and pay a second full scan
        df = qs[args.query](spark, args.sf_dir).persist()
        n = df.count()
        if args.format == "jsonl":
            df.write.mode("overwrite").json(out)
        else:
            df.write.mode("overwrite").parquet(out)
        df.unpersist()
        print(json.dumps({"query": args.query, "rows": n, "output": out,
                          "format": args.format}))
        spark.stop()
        return 0

    input_path = args.input
    if args.generate:
        from sbb_ocr_postcorrection_spark.datagen import write_pages_parquet

        os.makedirs(args.output, exist_ok=True)
        input_path = os.path.join(args.output, "pages_input.parquet")
        write_pages_parquet(input_path, args.generate, seed=args.seed)
    if not input_path:
        ap.error("--input or --generate required")

    spark = build_session(app="sbb-extract-job", cores=args.cores)
    spark.sparkContext.setLogLevel("WARN")
    pages = spark.read.parquet(input_path)
    summary = run_extraction_job(
        spark, pages, args.output, lang_filter=args.lang, resume=not args.no_resume
    )
    metrics = job_metrics(spark, args.output).collect()[0].asDict()
    print(json.dumps({"summary": summary, "metrics": metrics}, default=str))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
