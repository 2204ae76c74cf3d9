"""Every public function and class of the package has a product caller,
and every option of a package function has a product call that passes
it: a function only tests call, or a default no product call overrides,
is code (or a choice) the product carries for nothing."""

from __future__ import annotations

import ast
import pathlib

from reverse_etl_homebrew_spark import session

PKG = pathlib.Path(session.__file__).parent
ROOT = PKG.parent
PRODUCT = sorted(PKG.rglob("*.py")) + [ROOT / "bench.py", ROOT / "__spark_entry__.py"]

# name → why it has no product caller
ALLOWED = {
    "run_sync": "the sync job's entry point; its callers are the deployment's scheduler, perfbench and tests",
    "FakeHubSpot": "the Transport fake that tests and perfbench inject",
    "cluster_conf": "the spark-submit profile in SCALE.md; its caller is the cluster launch",
}
# module (relative to the package) → why its public names have no product caller
ALLOWED_MODULES = {
    "multimodal/fixture.py": "the oracle's independent ground truth: its write_*_fixture functions regenerate the committed parquet files the multimodal oracle SQL reads",
    "streaming/structured.py": "its callers are streaming jobs; the event-time disorder poison class and the non-finite streaming twins are pinned on it",
    "streaming/stateful.py": "its callers are streaming jobs; the event-time disorder poison class and the non-finite streaming twins are pinned on it",
}


_COLUMN = (
    "names an input or output column: the default is the committed tables' "
    "column name, and a frame with other names passes its own"
)
# defaulted parameter name → why no product call passes it
OPTION_ALLOWED = {
    **dict.fromkeys(
        (
            "id_col", "text_col", "vec_col", "a_col", "b_col", "key_col",
            "chunk_col", "ntok_col", "index_win_col", "updated_col",
            "left_id", "right_id", "keys",
        ),
        _COLUMN,
    ),
    "sleeper": "run_sync's test seam: tests and perfbench skip the real backoff sleeps",
    "fail_injector": "run_sync's test seam: tests inject row failures to drive the DLQ path",
    "alert_sink": "run_sync's test seam: tests capture the alerts a deployment posts",
    "executors": "cluster_conf's deployment size, set by the cluster launch",
    "cores_per_executor": "cluster_conf's deployment size, set by the cluster launch",
}


def _rel(path):
    return path.relative_to(PKG).as_posix()


def _definitions():
    """(module, node) of every public top-level function and class."""
    return [
        (_rel(path), n)
        for path in sorted(PKG.rglob("*.py"))
        for n in ast.parse(path.read_text(), str(path)).body
        if isinstance(n, (ast.FunctionDef, ast.ClassDef)) and not n.name.startswith("_")
    ]


def _registered(node):
    """A builder under ``@register(...)``: the registry is its caller."""
    return any(
        isinstance(d, ast.Call) and getattr(d.func, "id", getattr(d.func, "attr", None)) == "register"
        for d in getattr(node, "decorator_list", ())
    )


def _references():
    """Every identifier use in product code — names, attributes and
    imported names; strings and comments are not identifiers. A
    definition's uses inside its own body are skipped, and a re-export
    in an ``__init__.py`` is not a call."""
    refs = set()
    for path in PRODUCT:
        tree = ast.parse(path.read_text(), str(path))
        own = {}
        for d in tree.body:
            if isinstance(d, (ast.FunctionDef, ast.ClassDef)):
                for n in ast.walk(d):
                    own[id(n)] = d.name
        for n in ast.walk(tree):
            if isinstance(n, ast.Name):
                name = n.id
            elif isinstance(n, ast.Attribute):
                name = n.attr
            elif isinstance(n, ast.alias):
                if path.name == "__init__.py":
                    continue
                name = n.name
            else:
                continue
            if own.get(id(n)) != name:
                refs.add(name)
    return refs


def test_package_functions_have_product_callers():
    refs = _references()
    uncalled = [
        f"{rel}:{n.name}"
        for rel, n in _definitions()
        if n.name not in refs and not _registered(n)
        and n.name not in ALLOWED and rel not in ALLOWED_MODULES
    ]
    assert not uncalled, uncalled


def test_allowlist_is_current():
    """An allowlisted name that gained a caller or left the code, and an
    allowlisted module that left the code or whose every public name
    gained a caller, must leave the list."""
    refs = _references()
    defs = _definitions()
    defined = {n.name for _, n in defs}
    stale = sorted(n for n in ALLOWED if n not in defined or n in refs)
    stale += sorted(
        rel for rel in ALLOWED_MODULES
        if not any(r == rel and n.name not in refs and not _registered(n) for r, n in defs)
    )
    assert not stale, stale


def _defaulted(fn):
    """(name, position or None) of every defaulted parameter of ``fn``;
    keyword-only parameters have no position."""
    a = fn.args
    pos = a.posonlyargs + a.args
    out = [(arg.arg, i) for i, arg in enumerate(pos) if i >= len(pos) - len(a.defaults)]
    out += [(arg.arg, None) for arg, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None]
    return out


def _passed():
    """(callee name, parameter name or position) of every argument a
    product call passes. A keyword at a call through a subscript
    (``PLAN_BUILDERS[job_type](..., extra_idmap=...)``) is recorded
    under the callee ``None``: it counts for every function."""
    passed = set()
    for path in PRODUCT:
        for n in ast.walk(ast.parse(path.read_text(), str(path))):
            if not isinstance(n, ast.Call):
                continue
            f = n.func
            if isinstance(f, ast.Subscript):
                passed |= {(None, k.arg) for k in n.keywords if k.arg}
                continue
            name = getattr(f, "id", getattr(f, "attr", None))
            for k in n.keywords:
                passed.add((name, k.arg))  # k.arg None: **kwargs passes every keyword
            if any(isinstance(a, ast.Starred) for a in n.args):
                passed.add((name, None))
            passed |= {(name, i) for i in range(len(n.args))}
    return passed


def _never_passed():
    """``module:function(param)`` of every defaulted parameter of a
    top-level package function, public or private, outside
    ALLOWED_MODULES, that no product call passes."""
    passed = _passed()
    out = []
    for path in sorted(PKG.rglob("*.py")):
        rel = _rel(path)
        if rel in ALLOWED_MODULES:
            continue
        for fn in ast.parse(path.read_text(), str(path)).body:
            if not isinstance(fn, ast.FunctionDef):
                continue
            for param, i in _defaulted(fn):
                hits = {(fn.name, param), (fn.name, None), (None, param)}
                if i is not None:
                    hits.add((fn.name, i))
                if not hits & passed:
                    out.append((f"{rel}:{fn.name}", param))
    return out


def test_package_options_have_product_callers():
    """A default no product call overrides is a constant: it belongs in
    the body, and the code only its other values reach goes with it."""
    unpassed = [f"{f}({p})" for f, p in _never_passed() if p not in OPTION_ALLOWED]
    assert not unpassed, unpassed


def test_option_allowlist_is_current():
    """An allowlisted parameter that every definition now receives from
    a product call, or that left the code, must leave the list."""
    live = {p for _, p in _never_passed()}
    stale = sorted(p for p in OPTION_ALLOWED if p not in live)
    assert not stale, stale
