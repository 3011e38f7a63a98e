"""Pre-snapshot smoke gate: construct EVERY registered query's
DataFrame against sf0.001 and force analysis.

Round 3 shipped two regressions a plan-time check would have caught in
under a minute (a NameError in the SOQL compiler and an
AnalysisException in the events loader); this gate exists so a
half-finished refactor can never reach a snapshot commit silently
again. Run it before any commit touching `sf_etl_spark/`:

    python -m pytest tests/test_smoke_gate.py -q

For most lanes, plan construction + `df.schema` drives Catalyst
analysis (column resolution, type checking, UDF registration) but no
jobs. The exceptions are the EXECUTE_ON_CONSTRUCT lanes below: their
fn() performs real merges/writes at DataFrame-construction time
(returning a read-back of the written target), so the gate runs real
jobs — and leaves tempdirs — for exactly those names. That is the
price of gating them at all; the list keeps the cost visible and lets
`-m "not smoke_exec"` skip them for a sub-minute pure-analysis pass.
The full oracle suite (`test_queries_oracle.py`) remains the
correctness authority.
"""

from __future__ import annotations

import pytest

from sf_etl_spark.queries import all_queries
from sf_etl_spark.sources import TABLES, load_table

SPECS = all_queries()

#: Derived FROM THE REGISTRY (each lane declares
#: executes_on_construct=True at @register): fn() runs real Spark jobs
#: at DataFrame-construction time — writes/merges (the returned df is
#: a read-back of a just-written target) or eager computation (bloom
#: collect, KMeans training, iterative localCheckpoints). The gate
#: runs real jobs for exactly these; `-m "not smoke_exec"` is the
#: pure-analysis pass. A new eager lane that forgets the flag fails
#: test_construct_declarations_match_behavior below.
EXECUTE_ON_CONSTRUCT = {
    name for name, spec in SPECS.items() if spec.executes_on_construct
}


@pytest.mark.parametrize("table", sorted(TABLES))
def test_table_loads(spark, sf_dir, table):
    df = load_table(spark, sf_dir, table)
    assert df.columns


@pytest.mark.parametrize(
    "name",
    [
        pytest.param(n, marks=pytest.mark.smoke_exec)
        if n in EXECUTE_ON_CONSTRUCT
        else n
        for n in sorted(SPECS)
    ],
)
def test_query_plan_analyzes(spark, sf_dir, name):
    df = SPECS[name].fn(spark, sf_dir)
    # forces analysis; executes jobs only for EXECUTE_ON_CONSTRUCT lanes
    assert df.schema.fields


def test_construct_declarations_cover_eager_sources():
    """Static drift check for the executes_on_construct declarations:
    a lane whose own source (or its operator helpers) writes temp
    targets, trains an ML model, collects, or localCheckpoints at
    construction time must declare the flag — catching the common
    failure (a new write-side/eager lane forgetting it) from source
    text alone. Table reads no longer run a job once a file's footer
    has been checked in the session, so counting jobs at construction
    could replace this text heuristic; it has not yet, because several
    streaming lanes run micro-batches inside helpers at construction
    without declaring the flag.
    The reverse direction (a declared lane going lazy) is reviewed by
    hand: over-declaring only makes the pure-analysis pass smaller,
    never incorrect."""
    import inspect
    import io
    import tokenize

    def _code_only(src: str) -> str:
        """Drop comments and string literals so prose mentioning a
        marker (e.g. a scale note saying 'production would
        localCheckpoint …') can't false-positive; real eager calls are
        NAME/OP tokens and survive."""
        try:
            toks = tokenize.generate_tokens(io.StringIO(src).readline)
            # "" join keeps multi-token markers like '.collect()'
            # contiguous; NAME tokens can't merge into a false marker
            # because every marker contains punctuation or is a whole
            # NAME that tokenize would have emitted intact.
            return "".join(
                t.string
                for t in toks
                if t.type not in (tokenize.COMMENT, tokenize.STRING)
            )
        except (tokenize.TokenError, IndentationError):
            return src

    EAGER_MARKERS = ("mkdtemp", ".fit(", "localCheckpoint", ".collect()")
    # operator modules whose helpers are eager; appearing in a lane's
    # source means the lane executes at construct
    EAGER_HELPERS = (
        "grouped_percentile_cont_twophase",
        "grouped_median_twophase_double",
        "grouped_exact_rank",
        "merge_into_partitioned_parquet",
        "scd2_apply",
        "fold_into_rollup",
        "maintain_hourly_rollup",
        "upsert_partitioned_parquet",
        "compact_parquet",
        "zorder_write",
        "bloom_prune_literal",
        "connected_components",
        "star_components",
        "pagerank",
        "write_parquet",
        "write_csv",
        "write_orc",
        "write_json",
    )
    missing = []
    for name, spec in SPECS.items():
        if spec.executes_on_construct:
            continue
        try:
            src = _code_only(inspect.getsource(spec.fn.__wrapped__))
        except (TypeError, OSError, AttributeError):
            continue
        if any(m in src for m in EAGER_MARKERS) or any(
            h in src for h in EAGER_HELPERS
        ):
            missing.append(name)
    assert not missing, (
        f"lanes look eager at construction but lack "
        f"executes_on_construct=True: {missing}"
    )
