"""Each shared decision of the operator layer has one home.

Scan-then-spread (a fresh scan of any table, spread round-robin over the
cores) lives in ``operators/relational.py`` as ``spread_scan``, which
``docs_input`` calls for the documents input; the repo's one keyed hash
(the first 15 hex chars of md5) lives in ``functions/exprs.py`` as
``md5_60``. A copy of either idiom in
any other package module is a second implementation of the decision.

The DuckDB oracles in ``queries.py`` follow the same rule: a CTE chain or
expression two oracles share is one helper there (``_minhash_sig_ctes``,
``_near_dup_ctes``, ``_pack_ctes``, ...), so no run of SQL is written out
twice.
"""

import re
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "sbb_ocr_postcorrection_spark"

IDIOMS = {
    # a projection between the scan and the spread is still a copy
    "operators/relational.py": re.compile(
        r'load\(spark, sf_dir, "\w+"\)\s*'
        r"(?:\.select\((?:[^()]|\([^()]*\))*\)\s*)?"
        r"\.repartition\(\s*spark\.sparkContext\.defaultParallelism\s*\)"
    ),
    "functions/exprs.py": re.compile(r"F\.conv\(\s*F\.substring\(\s*F\.md5\("),
}
# (module, home) → why that module keeps its copy of the home's idiom
KEPT = {
    ("operators/curation.py", "operators/relational.py"):
        "projects before the spread: spread_scan(...).select(...) puts the "
        "Project above the round-robin Exchange, a different "
        "curation_pipeline plan",
}


def test_shared_idioms_live_only_in_their_home():
    strays, kept = [], set()
    for path in sorted(PKG.rglob("*.py")):
        mod, src = path.relative_to(PKG).as_posix(), path.read_text()
        for home, idiom in IDIOMS.items():
            if mod == home:
                continue
            found = [
                f"{mod}:{src.count(chr(10), 0, m.start()) + 1} (home: {home})"
                for m in idiom.finditer(src)
            ]
            if found and (mod, home) in KEPT:
                kept.add((mod, home))
            else:
                strays += found
    assert not strays, "idiom copied outside its home:\n  " + "\n  ".join(strays)
    assert kept == set(KEPT), f"stale KEPT entries: {sorted(set(KEPT) - kept)}"


# queries.py: a window of WINDOW consecutive lines, each longer than 3
# characters once stripped, that already appeared earlier in the file is a
# restated fragment. A window that stays restated is named here by its
# first stripped line, with the reason it cannot share a helper.
WINDOW = 6
RESTATED_ALLOWED: dict[str, str] = {}


def _restated_windows(path: Path) -> dict[tuple[str, ...], int]:
    """{window: line of its first later copy} of every restated window."""
    lines = [line.strip() for line in path.read_text().split("\n")]
    first, later = {}, {}
    for i in range(len(lines) - WINDOW + 1):
        w = tuple(lines[i : i + WINDOW])
        if all(len(line) > 3 for line in w):
            if w in first:
                later.setdefault(w, i + 1)
            else:
                first[w] = i + 1
    return later


def test_oracle_sql_states_each_fragment_once():
    later = _restated_windows(PKG / "queries.py")
    strays = sorted(
        (line, w[0]) for w, line in later.items() if w[0] not in RESTATED_ALLOWED
    )
    assert not strays, (
        f"{len(strays)} windows of {WINDOW} lines in queries.py restate an "
        "earlier fragment; share one helper instead:\n  "
        + "\n  ".join(f"queries.py:{line} {text}" for line, text in strays)
    )
    stale = set(RESTATED_ALLOWED) - {w[0] for w in later}
    assert not stale, sorted(stale)
