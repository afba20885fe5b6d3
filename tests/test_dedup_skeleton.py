"""AST guards on the package's near-dup skeleton and surface.

The minhash, simhash and SRP families share one band-key explode, one
bucket self-join, one keep/drop verdict and one SRP bit derivation, and
the package holds no `fast` verify knob and no reference twin (those
live in tests/reference_twins.py).
"""

import ast
import pathlib

PKG = pathlib.Path(__file__).resolve().parents[1] / "batukh_spark"

TWINS = {"tokenize_html_reference", "simhash_expr", "_assign_expr",
         "srp_signature_expr", "_cos_pairs_fast", "_apply_merge",
         "train_bpe_loop", "_train_bpe_full"}


def _functions():
    """(module path, function node) for every function in the package."""
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG.parent).as_posix()
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                yield rel, node


def _owners(match):
    """{module:function} of the innermost functions holding a node for
    which `match(node)` is true."""
    out = set()
    for rel, fn in _functions():
        inner = {id(n) for sub in ast.walk(fn) if sub is not fn
                 and isinstance(sub, (ast.FunctionDef, ast.AsyncFunctionDef))
                 for n in ast.walk(sub)}
        if any(match(n) for n in ast.walk(fn) if id(n) not in inner):
            out.add(f"{rel}:{fn.name}")
    return out


def _call(node, attr):
    return (isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == attr)


def _named_call(node, name):
    return (isinstance(node, ast.Call) and isinstance(node.func, ast.Name)
            and node.func.id == name)


def test_no_fast_knob_or_reference_twin_in_package():
    stray = []
    for rel, fn in _functions():
        a = fn.args
        params = [*a.posonlyargs, *a.args, *a.kwonlyargs]
        if any(p.arg == "fast" for p in params):
            stray.append(f"{rel}:{fn.lineno} {fn.name}(fast=...)")
        if fn.name in TWINS:
            stray.append(f"{rel}:{fn.lineno} defines {fn.name}")
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG.parent).as_posix()
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Import) and any(
                    al.name == "html.parser" for al in node.names):
                stray.append(f"{rel}:{node.lineno} imports html.parser")
            if isinstance(node, ast.ImportFrom) and (
                    node.module == "html.parser"
                    or (node.module == "html"
                        and any(al.name == "parser" for al in node.names))):
                stray.append(f"{rel}:{node.lineno} imports html.parser")
    assert not stray, stray


def test_near_dup_skeleton_built_once():
    dedup = "batukh_spark/operators/dedup.py"
    sim = "batukh_spark/operators/similarity.py"
    # the exact_dup > near_dup > unique CASE
    assert _owners(lambda n: _call(n, "when") and any(
        isinstance(a, ast.Constant) and a.value == "exact_dup"
        for a in n.args)) == {f"{dedup}:_verdict"}
    # the band split: posexplode over an array of band keys
    assert _owners(lambda n: _call(n, "posexplode") and n.args
                   and _call(n.args[0], "array")) \
        == {f"{dedup}:_explode_bands"}
    # the (band_id, key) bucket self-join
    assert _owners(lambda n: isinstance(n, ast.Constant)
                   and n.value == "a.band_id") == {f"{dedup}:_band_pairs"}
    # the SRP bits: only the Arrow signature reads the hyperplanes
    assert _owners(lambda n: _named_call(n, "_srp_sign_rows")) \
        == {f"{sim}:srp_signature_col"}
    assert _owners(lambda n: _named_call(n, "_srp_sign")) \
        == {f"{sim}:_srp_sign_rows"}
