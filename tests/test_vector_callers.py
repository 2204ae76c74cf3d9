"""Every public function of the vector tier has a product caller: a
function only tests call is code the product carries for nothing."""

from __future__ import annotations

import ast
import pathlib

from reverse_etl_homebrew_spark import session

PKG = pathlib.Path(session.__file__).parent
ROOT = PKG.parent
PRODUCT = sorted(PKG.rglob("*.py")) + [ROOT / "bench.py", ROOT / "__spark_entry__.py"]
GUARDED = ("operators/similarity.py", "operators/vectorized.py", "functions/vectors.py")

# name → why it has no product caller yet
ALLOWED = {
    "random_hyperplane_signs": "the codegen sign fold the tests check the bucket kernel against",
    "append_to_ann_index": "index maintenance; ROADMAP 'functions with no product caller'",
    "deterministic_centroids": "IVF centroid seeding; ROADMAP 'functions with no product caller'",
    "train_centroids": "IVF centroid training; ROADMAP 'functions with no product caller'",
}


def _public_functions(path):
    tree = ast.parse(path.read_text(), str(path))
    return [
        n for n in tree.body
        if isinstance(n, ast.FunctionDef) and not n.name.startswith("_")
    ]


def _references():
    """(path, name) of every identifier use in product code — names,
    attributes and imported names; strings and comments are not
    identifiers. A function's uses inside its own body are skipped."""
    refs = []
    for path in PRODUCT:
        tree = ast.parse(path.read_text(), str(path))
        own = {}
        for fn in tree.body:
            if isinstance(fn, ast.FunctionDef):
                for n in ast.walk(fn):
                    own[id(n)] = fn.name
        for n in ast.walk(tree):
            if isinstance(n, ast.Name):
                name = n.id
            elif isinstance(n, ast.Attribute):
                name = n.attr
            elif isinstance(n, ast.alias):
                name = n.name
            else:
                continue
            if own.get(id(n)) != name:
                refs.append(name)
    return set(refs)


def test_vector_tier_functions_have_product_callers():
    refs = _references()
    uncalled = [
        f"{rel}:{fn.name}"
        for rel in GUARDED
        for fn in _public_functions(PKG / rel)
        if fn.name not in refs and fn.name not in ALLOWED
    ]
    assert not uncalled, uncalled


def test_allowlist_is_current():
    """An allowlisted name that gained a caller or left the code must
    leave the list."""
    refs = _references()
    defined = {fn.name for rel in GUARDED for fn in _public_functions(PKG / rel)}
    stale = sorted(n for n in ALLOWED if n not in defined or n in refs)
    assert not stale, stale
