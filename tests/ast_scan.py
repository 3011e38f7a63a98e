"""Static AST scans of the engine's source, shared by the guards in
``tests/test_reachability.py`` (no definition reached only by tests)
and ``tests/test_options.py`` (no parameter set only by tests).

Both guards read the program the same way, so they cannot disagree
about what runs it. Defined once here:

* the package: every ``*.py`` under ``sf_etl_spark/``
* the non-test callers: ``sf_etl_spark/`` itself, ``bench.py``,
  ``__spark_entry__.py``, ``tools/`` and ``perfbench/``; nothing under
  ``tests/`` counts
* the roots of reachability: every ``@register``-decorated lane, the
  module-level statements of ``sf_etl_spark/`` (package ``__init__``
  re-exports and ``__all__`` lists do not count), all of
  ``sf_etl_spark/cli.py`` and ``sf_etl_spark/__main__.py``, and every
  non-test caller outside the package

Matching is by name only (``f(...)`` and ``obj.f(...)`` both call
``f``), so the scans over-approximate what the program uses: they can
miss dead code, but flag live code only when it is reached through a
computed name or, for parameters, called through another name (a
function passed as a value).
"""

from __future__ import annotations

import ast
import functools
import re
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PKG = REPO / "sf_etl_spark"

_IDENT = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*$")
_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


@functools.cache
def parse(path: Path) -> ast.Module:
    return ast.parse(path.read_text(encoding="utf-8"))


def rel(path: Path) -> str:
    return path.relative_to(REPO).as_posix()


def package_files() -> list[Path]:
    return sorted(PKG.rglob("*.py"))


def entry_files() -> list[Path]:
    """The non-test callers outside the package."""
    files = [REPO / "bench.py", REPO / "__spark_entry__.py"]
    files += sorted((REPO / "tools").rglob("*.py"))
    files += sorted((REPO / "perfbench").rglob("*.py"))
    return files


def caller_files() -> list[Path]:
    return package_files() + entry_files()


def top_level_defs() -> dict[tuple[str, str], ast.AST]:
    """(relpath, name) -> every top-level function or class of the package."""
    return {
        (rel(path), stmt.name): stmt
        for path in package_files()
        for stmt in parse(path).body
        if isinstance(stmt, _DEFS)
    }


def refs(node: ast.AST) -> set[str]:
    """Every identifier ``node`` can reach by name: any ``Name`` or
    ``Attribute``, any imported name (``from m import f as g``
    references ``f``), and any identifier-like string constant
    (``getattr(mod, "f")``)."""
    out: set[str] = set()
    for sub in ast.walk(node):
        if isinstance(sub, ast.Name):
            out.add(sub.id)
        elif isinstance(sub, ast.Attribute):
            out.add(sub.attr)
        elif isinstance(sub, ast.ImportFrom):
            out.update(a.name for a in sub.names)
        elif isinstance(sub, ast.Import):
            out.update(a.name.split(".")[-1] for a in sub.names)
        elif isinstance(sub, ast.Constant) and isinstance(sub.value, str):
            if _IDENT.match(sub.value):
                out.add(sub.value)
    return out


def _is_register(dec: ast.expr) -> bool:
    target = dec.func if isinstance(dec, ast.Call) else dec
    return (isinstance(target, ast.Name) and target.id == "register") or (
        isinstance(target, ast.Attribute) and target.attr == "register"
    )


def _is_reexport(path: Path, stmt: ast.stmt) -> bool:
    if isinstance(stmt, (ast.Assign, ast.AnnAssign)):
        targets = stmt.targets if isinstance(stmt, ast.Assign) else [stmt.target]
        if any(isinstance(t, ast.Name) and t.id == "__all__" for t in targets):
            return True
    return path.name == "__init__.py" and isinstance(stmt, (ast.Import, ast.ImportFrom))


def root_refs() -> set[str]:
    """Every identifier the roots reference."""
    roots: set[str] = set()
    for path in package_files():
        whole = path.name in ("cli.py", "__main__.py") and path.parent == PKG
        for stmt in parse(path).body:
            if isinstance(stmt, _DEFS):
                if whole or any(_is_register(d) for d in stmt.decorator_list):
                    roots |= refs(stmt)
            elif not _is_reexport(path, stmt):
                roots |= refs(stmt)
    for path in entry_files():
        roots |= refs(parse(path))
    return roots


def _callee(node: ast.expr) -> str | None:
    if isinstance(node, ast.Name):
        return node.id
    if isinstance(node, ast.Attribute):
        return node.attr
    return None


def calls(files: list[Path]) -> dict[str, list[ast.Call]]:
    """Callee name -> the calls to it in ``files``. ``partial(f, ...)``
    counts as a call of ``f`` with the bound arguments."""
    out: dict[str, list[ast.Call]] = {}
    for path in files:
        for node in ast.walk(parse(path)):
            if not isinstance(node, ast.Call):
                continue
            name = _callee(node.func)
            if name == "partial" and node.args:
                name = _callee(node.args[0])
                node = ast.Call(func=node.args[0], args=node.args[1:], keywords=node.keywords)
            if name:
                out.setdefault(name, []).append(node)
    return out


def defaulted_params(fn: ast.FunctionDef) -> list[tuple[str, int | None]]:
    """(name, positional index or None for keyword-only) of every
    parameter of ``fn`` that has a default."""
    a = fn.args
    pos = a.posonlyargs + a.args
    first = len(pos) - len(a.defaults)
    out = [(arg.arg, i) for i, arg in enumerate(pos) if i >= first]
    out += [(arg.arg, None) for arg, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None]
    return out


def passes(call: ast.Call, name: str, index: int | None) -> bool:
    """Whether ``call`` may set the parameter; a ``*args`` or
    ``**kwargs`` splat may set any."""
    if any(isinstance(a, ast.Starred) for a in call.args):
        return True
    if any(k.arg is None or k.arg == name for k in call.keywords):
        return True
    return index is not None and len(call.args) > index
