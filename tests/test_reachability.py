"""The shipped package is what its callers reach.

A name-based walk over the AST: the roots are the package's module-level
code (everything at the top of a module but a function or class
definition), ``__spark_entry__.py``, ``bench.py``, ``scripts/`` and
``perfbench/``. A reached function or class reaches every top-level
package function or class whose name appears in its body as a Name, an
Attribute, an import alias or an identifier-valued string constant.
Names, not bindings: a reference to ``foo`` reaches every ``foo``, so
the walk over-approximates and never flags a live definition. The one
binding it does resolve is an import of a package module: ``from . import
dedup`` names the module, not a function ``dedup`` anywhere in the package.

A definition the walk does not reach is called only from ``tests/`` (or
from nowhere): delete it, or move it into ``tests/`` if it is a
differential oracle. The allowlist below names the public API that no
shipped caller uses but that the behaviour contract documents.
"""

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PKG = REPO / "sbb_ocr_postcorrection_spark"

# (module path relative to the package, definition name) → reason
ALLOWLIST = {
    ("snapshots.py", "get_snapshot"): "snapshot API: read one version",
    ("snapshots.py", "list_snapshots"): "snapshot API: version history",
    ("snapshots.py", "read_extractions"): "snapshot API: time-travel read",
    ("snapshots.py", "rollback_to_snapshot"): "snapshot API: rollback",
    ("pipeline.py", "export_training_corpus"): "the paper's end product",
    ("operators/evaluation.py", "two_step_eval"): "the paper's two-step evaluation",
    ("operators/evaluation.py", "two_step_summary"): "its corpus-level summary",
}


# dotted names of the package's modules and subpackages
MODULES = {
    ".".join(p.relative_to(REPO).with_suffix("").parts).removesuffix(".__init__")
    for p in PKG.rglob("*.py")
}


def _import_base(x: ast.ImportFrom, package: str) -> str:
    """The dotted module a ``from ... import`` reads, relative ones resolved
    against ``package``."""
    if not x.level:
        return x.module
    parts = package.split(".")[: len(package.split(".")) - x.level + 1]
    return ".".join(parts + ([x.module] if x.module else []))


def _names(node: ast.AST, package: str = "") -> set[str]:
    """Names ``node`` references. An import of a package module names the
    module, so it references none of the module's definitions."""
    out = set()
    for x in ast.walk(node):
        if isinstance(x, ast.Name):
            out.add(x.id)
        elif isinstance(x, ast.Attribute):
            out.add(x.attr)
        elif isinstance(x, ast.Import):
            for a in x.names:
                if a.name not in MODULES:
                    out.update(a.name.split("."))
        elif isinstance(x, ast.ImportFrom):
            base = _import_base(x, package)
            out.update(a.name for a in x.names if f"{base}.{a.name}" not in MODULES)
        elif isinstance(x, ast.Constant) and isinstance(x.value, str) and x.value.isidentifier():
            out.add(x.value)
    return out


def _package_of(mod: str) -> str:
    """The dotted package of a module path relative to the package."""
    return ".".join((PKG.name, *Path(mod).parent.parts))


def _package():
    """(definitions {(module, name): node}, names used by module-level code)."""
    defs, roots = {}, set()
    for path in sorted(PKG.rglob("*.py")):
        mod = path.relative_to(PKG).as_posix()
        for st in ast.parse(path.read_text()).body:
            if isinstance(st, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                defs[(mod, st.name)] = st
            else:
                roots |= _names(st, _package_of(mod))
    return defs, roots


def _outside_roots() -> set[str]:
    files = [REPO / "__spark_entry__.py", REPO / "bench.py"]
    files += sorted((REPO / "scripts").glob("*.py"))
    files += sorted((REPO / "perfbench").glob("*.py"))
    out = set()
    for f in files:
        out |= _names(ast.parse(f.read_text()))
    return out


def _reached(defs, root_names: set[str], extra=()) -> set:
    by_name: dict[str, list] = {}
    for key in defs:
        by_name.setdefault(key[1], []).append(key)
    todo = [k for n in root_names for k in by_name.get(n, [])] + list(extra)
    seen = set()
    while todo:
        key = todo.pop()
        if key not in seen:
            seen.add(key)
            names = _names(defs[key], _package_of(key[0]))
            todo += [k for n in names for k in by_name.get(n, [])]
    return seen


def _span(node) -> int:
    first = min([node.lineno] + [d.lineno for d in node.decorator_list])
    return node.end_lineno - first + 1


def test_every_package_definition_is_reached():
    defs, roots = _package()
    roots |= _outside_roots()
    unreached = set(defs) - _reached(defs, roots)
    missing = set(ALLOWLIST) - set(defs)
    assert not missing, f"allowlisted but not defined: {sorted(missing)}"
    stale = set(ALLOWLIST) - unreached
    assert not stale, f"allowlisted but reached by a shipped caller: {sorted(stale)}"
    bad = set(defs) - _reached(defs, roots, extra=ALLOWLIST)
    lines = sum(_span(defs[k]) for k in unreached)
    assert not bad, (
        f"{len(unreached)} top-level definitions ({lines} lines) are reached "
        f"only from tests/; not allowlisted ({len(bad)}):\n"
        + "\n".join(f"  {m}:{defs[(m, n)].lineno} {n}" for m, n in sorted(bad))
    )


def test_module_import_is_not_a_reference_to_a_same_named_function():
    """An import of a package module, absolute or relative at any level,
    names the MODULE: none of its names is a reference. An import of a
    definition, and any other name, is."""
    src = ast.parse(
        "from . import dedup\n"
        "from .. import kernel\n"
        "import sbb_ocr_postcorrection_spark.pipeline\n"
        "from .dedup import near_dup_pairs\n"
        "from ..kernel import run_document as rd\n"
    )
    names = _names(src, f"{PKG.name}.operators")
    assert names == {"near_dup_pairs", "run_document"}
