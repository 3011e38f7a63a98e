"""No defaulted parameter of a top-level ``sf_etl_spark/`` function may
be set only by tests, or by nobody.

ROADMAP aim 2: a knob stays only if a measurement says it matters. A
parameter that no lane, bench path, tool or CLI path passes is a
constant with extra branches; this guard keeps it one. A parameter
counts as set when some call in a non-test caller (as
``tests/ast_scan.py`` defines them) names the function and passes the
parameter by keyword or position, or splats ``*args``/``**kwargs``.
Spark-free and static: it runs in about a second.
"""

from __future__ import annotations

import ast

from tests.ast_scan import caller_files, calls, defaulted_params, passes, top_level_defs

_ORDERSTATS = "sf_etl_spark/operators/orderstats.py"
_PARTITIONING = "tests vary it to prove the result does not depend on partitioning"

# Parameters kept on purpose although no non-test caller sets them.
ALLOWLIST = {
    (_ORDERSTATS, "grouped_median_twophase", "n_buckets"): _PARTITIONING,
    (_ORDERSTATS, "grouped_exact_rank", "n_buckets"): _PARTITIONING,
    (_ORDERSTATS, "grouped_percentile_cont_multi", "n_buckets"): _PARTITIONING,
    (_ORDERSTATS, "grouped_quantile_twophase", "n_buckets"): _PARTITIONING,
    ("sf_etl_spark/operators/scd.py", "scd2_apply", "n_buckets"): _PARTITIONING,
    ("sf_etl_spark/operators/joins.py", "asof_join_pandas", "buckets"): _PARTITIONING,
    ("sf_etl_spark/operators/joins.py", "asof_join_pandas", "max_rows_per_bucket"): (
        "tests trip the per-bucket memory guard with a small cap"
    ),
    ("sf_etl_spark/session.py", "get_spark", "master"): "deployment setting: the cluster to run on",
    ("sf_etl_spark/cli.py", "main", "argv"): "deployment setting: the command line",
    ("sf_etl_spark/sinks/writers.py", "compact_parquet", "vacuum"): (
        "the only path that reclaims a merge target's storage: superseded "
        "commit directories and archived versions, via vacuum_merge_staging"
    ),
}


def defaulted() -> list[tuple[str, str, str, int | None, int]]:
    """(relpath, function, parameter, positional index, line) of every
    defaulted parameter of a top-level package function."""
    return [
        (rel, name, param, index, fn.lineno)
        for (rel, name), fn in sorted(top_level_defs().items())
        if isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef))
        for param, index in defaulted_params(fn)
    ]


def unset(allow=ALLOWLIST) -> list[tuple[str, str, str, int]]:
    """Defaulted parameters no non-test caller sets."""
    by_name = calls(caller_files())
    return [
        (rel, name, param, line)
        for rel, name, param, index, line in defaulted()
        if (rel, name, param) not in allow
        and not any(passes(c, param, index) for c in by_name.get(name, ()))
    ]


def test_no_parameter_is_set_only_by_tests():
    flagged = unset()
    assert not flagged, (
        "defaulted parameters no lane, bench, tool or CLI path sets "
        "(make each a constant, or allowlist it with a reason):\n"
        + "\n".join(f"  {rel}:{line} {name}({param})" for rel, name, param, line in flagged)
    )


def test_allowlist_entries_exist_and_stay_unset():
    """A stale allowlist entry would hide a future test-only parameter."""
    flagged = {(rel, name, param) for rel, name, param, _ in unset(allow={})}
    assert set(ALLOWLIST) <= flagged
