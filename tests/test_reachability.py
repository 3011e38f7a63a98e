"""No top-level definition in ``sf_etl_spark/`` may be reached only by tests.

ROADMAP aim 2: each thing is done one way, with no shapes kept only
for tests. This is a static, name-based reachability scan over the
AST. Its roots are what the system actually runs:

* every ``@register``-decorated lane
* module-level statements of ``sf_etl_spark/`` (package ``__init__``
  re-exports and ``__all__`` lists do not count)
* ``bench.py``, ``__spark_entry__.py``, ``tools/``, ``perfbench/``,
  ``sf_etl_spark/cli.py`` and ``sf_etl_spark/__main__.py``

A reference is any ``Name`` or ``Attribute`` identifier, any imported
name (an alias ``from m import f as g`` references ``f``), and any
identifier-like string constant (``getattr(mod, "f")``). Matching is by
name only, so the scan over-approximates what is reached: it can miss
dead code, but flags live code only if a computed name reaches it.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PKG = REPO / "sf_etl_spark"

_IDENT = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*$")

# Definitions kept on purpose although no root reaches them.
ALLOWLIST = {
    # The seam tests use to route a URI scheme to a local directory.
    ("sf_etl_spark/connector/fsutil.py", "register_scheme"): "test seam for URI schemes",
    ("sf_etl_spark/connector/fsutil.py", "unregister_scheme"): "test seam for URI schemes",
    ("sf_etl_spark/connector/fsutil.py", "_canonical_scheme"): "used by the test seam",
}

_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _refs(node: ast.AST) -> set[str]:
    """Every identifier ``node`` can reach by name."""
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


def _scan():
    """(defs, root refs): defs maps (relpath, name) -> node."""
    defs: dict[tuple[str, str], ast.AST] = {}
    roots: set[str] = set()
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(REPO).as_posix()
        tree = ast.parse(path.read_text(encoding="utf-8"))
        whole = path.name in ("cli.py", "__main__.py") and path.parent == PKG
        for stmt in tree.body:
            if isinstance(stmt, _DEFS):
                defs[(rel, stmt.name)] = stmt
                if whole or any(_is_register(d) for d in stmt.decorator_list):
                    roots |= _refs(stmt)
            elif not _is_reexport(path, stmt):
                roots |= _refs(stmt)
    entry = [REPO / "bench.py", REPO / "__spark_entry__.py"]
    entry += sorted((REPO / "tools").rglob("*.py"))
    entry += sorted((REPO / "perfbench").rglob("*.py"))
    for path in entry:
        roots |= _refs(ast.parse(path.read_text(encoding="utf-8")))
    return defs, roots


def unreached(allow=ALLOWLIST) -> list[tuple[str, str, int]]:
    """Top-level defs of ``sf_etl_spark/`` that no root reaches."""
    defs, roots = _scan()
    by_name: dict[str, list[tuple[str, str]]] = {}
    for key in defs:
        by_name.setdefault(key[1], []).append(key)
    seen: set[tuple[str, str]] = set()
    todo = list(roots)
    done: set[str] = set()
    while todo:
        name = todo.pop()
        if name in done:
            continue
        done.add(name)
        for key in by_name.get(name, ()):
            if key not in seen:
                seen.add(key)
                todo.extend(_refs(defs[key]) - done)
    return sorted(
        (rel, name, defs[(rel, name)].lineno)
        for rel, name in defs
        if (rel, name) not in seen and (rel, name) not in allow
    )


def test_no_definition_is_reached_only_by_tests():
    dead = unreached()
    assert not dead, "top-level defs no lane, bench, tool or CLI path reaches:\n" + "\n".join(
        f"  {rel}:{line} {name}" for rel, name, line in dead
    )


def test_allowlist_entries_exist_and_stay_unreached():
    """A stale allowlist entry would hide a future test-only def."""
    flagged = {(rel, name) for rel, name, _ in unreached(allow={})}
    assert set(ALLOWLIST) <= flagged
