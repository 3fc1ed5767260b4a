"""The engine's surface carries only what some caller uses (no Spark).

Two AST scans over every call site of the package: ``unmixing_spark/``,
``scripts/``, ``tests/``, ``perfbench/``, ``bench.py``,
``bench_extra.py`` and ``__spark_entry__.py``.

- Every top-level function in ``unmixing_spark/`` is referenced by name
  somewhere outside its own body (a call, an attribute, an import, or a
  decorator that registers it).
- Every defaulted parameter of a top-level function or class method is
  passed by some call, by keyword or by position. A default that no
  caller overrides is a constant, and is written as one. A call with
  ``*args`` or ``**kwargs`` counts as passing every parameter. Calls
  match definitions by bare name, so a call to any function of the same
  name counts.

The reference-port kernels are exempt from the second scan: their
signatures mirror the reference's functions one to one, and the golden
tests call them that way.
"""

from __future__ import annotations

import ast
import pathlib
from collections import Counter, defaultdict

REPO = pathlib.Path(__file__).resolve().parent.parent
PKG = REPO / "unmixing_spark"
CALLERS = [PKG, REPO / "scripts", REPO / "tests", REPO / "perfbench",
           REPO / "bench.py", REPO / "bench_extra.py",
           REPO / "__spark_entry__.py"]

REFERENCE_PORTS = {
    "functions/transforms.py", "raster/masks.py", "raster/composite.py",
    "lsma/endmembers.py", "lsma/fcls.py", "sasma/kernels.py",
    "spatial/affine.py",
}

# (module, function, parameter, reason) for a default no caller sets.
_REFERENCE = "reference port: mirrors the reference's signature"
UNSET_DEFAULTS = [
    ("functions/mnf.py", "mnf_rotate", "nodata", _REFERENCE),
    ("functions/mnf.py", "mnf_fit_distributed", "nodata",
     "pass 1 of mnf_rotate, whose signature it shares"),
    ("sasma/focal.py", "interpolate_endmember_map", "cval",
     _REFERENCE),
    ("sasma/focal.py", "interpolate_endmember_map", "nodata",
     _REFERENCE),
    ("text/bpe.py", "save_merges", "path",
     "deployment setting: where the merge table is written"),
    ("text/bpe.py", "load_merges", "path",
     "deployment setting: where the merge table is read from"),
]

_FUNCS = (ast.FunctionDef, ast.AsyncFunctionDef)


def _trees() -> dict[pathlib.Path, ast.Module]:
    paths = []
    for p in CALLERS:
        paths += sorted(p.rglob("*.py")) if p.is_dir() else [p]
    return {p: ast.parse(p.read_text()) for p in paths}


def _engine_defs(trees):
    """(module, qualified name, def node, is method) of every top-level
    function and top-level class method in the package."""
    for path, tree in trees.items():
        if PKG not in path.parents:
            continue
        module = path.relative_to(PKG).as_posix()
        for node in tree.body:
            if isinstance(node, _FUNCS):
                yield module, node.name, node, False
            elif isinstance(node, ast.ClassDef):
                for m in node.body:
                    if isinstance(m, _FUNCS):
                        yield module, f"{node.name}.{m.name}", m, True


def _referenced_names(node) -> Counter:
    names = Counter()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            names[n.id] += 1
        elif isinstance(n, ast.Attribute):
            names[n.attr] += 1
        elif isinstance(n, ast.alias):
            names[n.name.rsplit(".", 1)[-1]] += 1
    return names


def unreferenced_functions(trees) -> list[tuple[str, str]]:
    refs = Counter()
    for tree in trees.values():
        refs += _referenced_names(tree)
    return [(module, name)
            for module, name, node, method in _engine_defs(trees)
            if not method and not node.decorator_list
            and refs[name] == _referenced_names(node)[name]]


def unset_defaults(trees) -> list[tuple[str, str, str]]:
    calls = defaultdict(list)
    for tree in trees.values():
        for n in ast.walk(tree):
            if isinstance(n, ast.Call):
                f = n.func
                name = f.attr if isinstance(f, ast.Attribute) else \
                    getattr(f, "id", None)
                calls[name].append(n)
    out = []
    for module, qualname, node, method in _engine_defs(trees):
        if module in REFERENCE_PORTS:
            continue
        a = node.args
        positional = a.posonlyargs + a.args
        first = len(positional) - len(a.defaults)
        defaulted = {p.arg: i for i, p in enumerate(positional) if i >= first}
        defaulted.update({p.arg: None for p, d in
                          zip(a.kwonlyargs, a.kw_defaults) if d is not None})
        bound = int(method and bool(positional)
                    and positional[0].arg in ("self", "cls"))
        passed = set()
        for call in calls[qualname.rsplit(".", 1)[-1]]:
            if any(isinstance(x, ast.Starred) for x in call.args) or \
                    any(k.arg is None for k in call.keywords):
                passed |= set(defaulted)
                continue
            n_pos = len(call.args) + bound
            passed |= {p for p, i in defaulted.items()
                       if i is not None and i < n_pos}
            passed |= {k.arg for k in call.keywords}
        out += [(module, qualname, p) for p in defaulted if p not in passed]
    return out


def _lines(items) -> str:
    return "".join(f"\n  {item}" for item in sorted(items))


def test_every_engine_function_has_a_caller():
    dead = unreferenced_functions(_trees())
    assert not dead, f"{len(dead)} functions nothing references:" + \
        _lines(dead)


def test_every_default_is_set_by_some_caller():
    allowed = {(m, f, p) for m, f, p, _ in UNSET_DEFAULTS}
    unset = set(unset_defaults(_trees()))
    assert not unset - allowed, (
        f"{len(unset - allowed)} defaulted parameters no call passes "
        "(make each a constant):" + _lines(unset - allowed))
    assert not allowed - unset, (
        "UNSET_DEFAULTS entries that some caller now sets (drop them):"
        + _lines(allowed - unset))
