"""Each shared decision of the operator layer has one home.

Scan-then-spread (a fresh scan of any table, spread round-robin over the
cores) lives in ``operators/relational.py`` as ``spread_scan``, which
``docs_input`` calls for the documents input; the repo's one keyed hash
(the first 15 hex chars of md5) lives in ``functions/exprs.py`` as
``md5_60``. A copy of either idiom in
any other package module is a second implementation of the decision.
"""

import re
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "sbb_ocr_postcorrection_spark"

IDIOMS = {
    "operators/relational.py": re.compile(
        r'load\(spark, sf_dir, "\w+"\)\s*\.repartition\(\s*'
        r"spark\.sparkContext\.defaultParallelism\s*\)"
    ),
    "functions/exprs.py": re.compile(r"F\.conv\(\s*F\.substring\(\s*F\.md5\("),
}


def test_shared_idioms_live_only_in_their_home():
    strays = []
    for path in sorted(PKG.rglob("*.py")):
        mod, src = path.relative_to(PKG).as_posix(), path.read_text()
        for home, idiom in IDIOMS.items():
            if mod != home:
                strays += [
                    f"{mod}:{src.count(chr(10), 0, m.start()) + 1} (home: {home})"
                    for m in idiom.finditer(src)
                ]
    assert not strays, "idiom copied outside its home:\n  " + "\n  ".join(strays)
