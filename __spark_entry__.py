"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)  — flagship two-stage extraction over pages synthesized from
                sf0.001 documents; returns the per-url extraction table.
queries()     — one entry per implemented operator (SURVEY.md §2 +
                training-data ops); callables take (spark, sf_dir).
oracle_sql()  — DuckDB-equivalent SQL per query (omitted only for the
                non-SQL-expressible kernel/LSH/multimodal ops → rows-only).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_REPO = os.path.dirname(os.path.abspath(__file__))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)
# ship the package to Python workers regardless of driver cwd
os.environ["PYTHONPATH"] = _REPO + os.pathsep + os.environ.get("PYTHONPATH", "")

from sbb_ocr_postcorrection_spark import queries as Q  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: synthesize pages from the
    documents table, run the detect→correct extraction kernels, return the
    per-url result (url, content digest, metrics)."""
    return Q.queries()["extract_pipeline"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return Q.queries()


def oracle_sql() -> dict[str, str]:
    return Q.oracle_sql()
