"""No top-level definition in ``sf_etl_spark/`` may be reached only by tests.

ROADMAP aim 2: each thing is done one way, with no shapes kept only
for tests. This is a static, name-based reachability scan over the
AST, from the roots ``tests/ast_scan.py`` defines (what the system
actually runs: the registered lanes, the package's module-level code,
the CLI, ``bench.py``, ``__spark_entry__.py``, ``tools/`` and
``perfbench/``), following every identifier a reached definition
references.
"""

from __future__ import annotations

from tests.ast_scan import refs, root_refs, top_level_defs

# Definitions kept on purpose although no root reaches them.
ALLOWLIST = {
    # The seam tests use to route a URI scheme to a local directory.
    ("sf_etl_spark/connector/fsutil.py", "register_scheme"): "test seam for URI schemes",
    ("sf_etl_spark/connector/fsutil.py", "unregister_scheme"): "test seam for URI schemes",
    ("sf_etl_spark/connector/fsutil.py", "_canonical_scheme"): "used by the test seam",
}


def unreached(allow=ALLOWLIST) -> list[tuple[str, str, int]]:
    """Top-level defs of ``sf_etl_spark/`` that no root reaches."""
    defs, roots = top_level_defs(), root_refs()
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
                todo.extend(refs(defs[key]) - done)
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
