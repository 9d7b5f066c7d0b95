"""The operator layer has no knobs.

A registry entry runs as ``fn(spark, sf_dir)``, so a defaulted parameter
on an operator only ever runs at its default, and its DuckDB oracle has
to restate that default. A value with one production use is a module
constant that the operator and its oracle both read. A defaulted
parameter may stay only when

* it is a relation input a composition injects (``RELATION_INPUTS``),
* it is the crawler user agent (``agent``, a deployment setting), or
* two production call sites pass different values (``ALLOWED``, each
  entry naming those callers and their values).

The same holds for a parameter WITHOUT a default that every package call
site passes the same module constant (an UPPER_CASE name or attribute):
the function reads the constant itself.
"""

import ast
import re
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "sbb_ocr_postcorrection_spark"
SCOPE = ["operators", "sources", "functions", "queries.py"]

RELATION_INPUTS = {
    "docs", "sh", "history", "batch", "old", "new", "robots", "sitemaps",
    "known", "per_doc", "pages", "base",
}
DEPLOYMENT = {"agent"}

ALLOWED = {
    "operators/dedup.py:_bucket_pairs.max_bucket_size":
        "simhash_bucket_pairs/simhash_rotation_pairs None; "
        "minhash_lsh_candidates_from passes its own cap",
    "operators/dedup.py:minhash_lsh_candidates_from.max_bucket_size":
        "minhash_lsh_candidates and lsh_recall_eval None; "
        "near_dup_pairs MAX_BUCKET_SIZE (1,000)",
    "operators/dedup.py:candidate_jaccard.max_shingle_df":
        "minhash_incremental None; near_dup_pairs MAX_SHINGLE_DF (10,000)",
    "operators/dedup.py:decontaminate.min_overlap":
        "registry decontaminate 1; curation.curate_corpus 8",
    "operators/evaluation.py:_prf_exprs.prec_name":
        "confusion_metrics 'prec'; detector_eval 'detector_precision'",
    "operators/evaluation.py:_prf_exprs.rec_name":
        "confusion_metrics 'rec'; detector_eval 'detector_recall'",
    "operators/evaluation.py:_prf_exprs.f1_name":
        "confusion_metrics 'f1'; detector_eval 'detector_f1'",
    "queries.py:_minhash_sig_ctes.with_lang":
        "dedup_minhash_lsh oracle False; dedup_corpus_keep oracle True",
    "queries.py:_perceptron_stages_sql.train_where":
        "_perceptron_train_oracle ''; _perceptron_eval_oracle the "
        "CLF_EVAL_FOLD training-fold filter",
    "queries.py:_pagerank_oracle.seed_mod":
        "host_pagerank oracle None; host_trustrank oracle TRUST_SEED_MOD",
}


def _functions():
    """(module, function node) of every function and lambda in SCOPE."""
    files = []
    for part in SCOPE:
        path = PKG / part
        files += sorted(path.rglob("*.py")) if path.is_dir() else [path]
    for path in files:
        mod = path.relative_to(PKG).as_posix()
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda)):
                yield mod, node


def _defaulted_params():
    for mod, node in _functions():
        a = node.args
        pos = a.posonlyargs + a.args
        named = pos[len(pos) - len(a.defaults):] + [
            k for k, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None
        ]
        for arg in named:
            yield mod, getattr(node, "name", "<lambda>"), arg.arg, node.lineno


def test_no_single_valued_parameters():
    strays = [
        f"{mod}:{line} {fn}.{arg}"
        for mod, fn, arg, line in _defaulted_params()
        if arg not in RELATION_INPUTS | DEPLOYMENT
        and f"{mod}:{fn}.{arg}" not in ALLOWED
    ]
    assert not strays, (
        "defaulted parameter with one production value — make it a module "
        "constant the operator and its oracle both read:\n  " + "\n  ".join(strays)
    )


def test_allowlist_entries_still_exist():
    present = {f"{mod}:{fn}.{arg}" for mod, fn, arg, _ in _defaulted_params()}
    assert not set(ALLOWED) - present, sorted(set(ALLOWED) - present)


def _constant(expr):
    """The module constant an argument expression names, else None."""
    name = getattr(expr, "id", None) or getattr(expr, "attr", None)
    return name if name and re.fullmatch(r"[A-Z][A-Z0-9_]*", name) else None


def _package_calls() -> dict[str, list[ast.Call]]:
    """Every call in the package, by the called function's name."""
    calls = {}
    for path in sorted(PKG.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Call):
                name = getattr(node.func, "id", None) or getattr(node.func, "attr", None)
                calls.setdefault(name, []).append(node)
    return calls


def _bound(call: ast.Call, i, name: str):
    """The expression ``call`` binds to parameter ``name`` (positional
    index ``i``, None for keyword-only); None when unbound or when a
    starred argument comes first."""
    if i is not None and i < len(call.args):
        starred = any(isinstance(x, ast.Starred) for x in call.args[: i + 1])
        return None if starred else call.args[i]
    return next((k.value for k in call.keywords if k.arg == name), None)


def test_no_parameter_every_call_site_fills_with_one_constant():
    calls = _package_calls()
    strays = []
    for mod, node in _functions():
        sites = calls.get(getattr(node, "name", None), [])
        a = node.args
        params = list(enumerate(a.posonlyargs + a.args))
        params += [(None, k) for k in a.kwonlyargs]
        for i, arg in params:
            consts = {_constant(_bound(c, i, arg.arg)) for c in sites}
            if sites and len(consts) == 1 and None not in consts:
                strays.append(
                    f"{mod}:{node.lineno} {node.name}.{arg.arg} "
                    f"(every call passes {consts.pop()})"
                )
    assert not strays, (
        "parameter that every package call site fills with the same module "
        "constant — read the constant in the function:\n  " + "\n  ".join(strays)
    )
