"""Every public function and class of the package has a product caller:
a function only tests call is code the product carries for nothing."""

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
    "accept_time_doc_stats": "the sidecar corpus_refresh_probe(doc_stats=) reads; fixtures/tenx_refresh.py measures that form for SCALE.md",
}
# module (relative to the package) → why its public names have no product caller
ALLOWED_MODULES = {
    "multimodal/fixture.py": "the oracle's independent ground truth: its write_*_fixture functions regenerate the committed parquet files the multimodal oracle SQL reads",
    "streaming/structured.py": "its callers are streaming jobs; the event-time disorder poison class and the non-finite streaming twins are pinned on it",
    "streaming/stateful.py": "its callers are streaming jobs; the event-time disorder poison class and the non-finite streaming twins are pinned on it",
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
