#!/usr/bin/env python
"""Package sbb_ocr_postcorrection_spark into a zip for spark-submit --py-files."""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from sbb_ocr_postcorrection_spark.queries import write_package_zip  # noqa: E402


def main() -> int:
    out = sys.argv[1] if len(sys.argv) > 1 else "dist/sbb_ocr_postcorrection_spark.zip"
    os.makedirs(os.path.dirname(out) or ".", exist_ok=True)
    write_package_zip(out)
    print(out)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
