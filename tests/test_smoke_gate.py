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
fn() performs real merges/writes, eager computation or streaming
micro-batches at DataFrame-construction time, so the gate runs real
jobs — and leaves tempdirs — for exactly those names. That is the
price of gating them at all; the list keeps the cost visible and lets
`-m "not smoke_exec"` skip them for a job-free pure-analysis pass.
The declaration is checked by behaviour in both directions: a declared
lane must run at least one Spark job while it is built, and every other
lane must run none and leave no streaming query active.
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
#: a read-back of a just-written target), eager computation (bloom
#: collect, KMeans training, iterative localCheckpoints) or streaming
#: micro-batches run to a memory table. The gate
#: runs real jobs for exactly these; `-m "not smoke_exec"` is the
#: pure-analysis pass. A new eager lane that forgets the flag fails
#: test_query_plan_analyzes below.
EXECUTE_ON_CONSTRUCT = {
    name for name, spec in SPECS.items() if spec.executes_on_construct
}


@pytest.mark.parametrize("table", sorted(TABLES))
def test_table_loads(spark, sf_dir, table):
    df = load_table(spark, sf_dir, table)
    assert df.columns


def _next_job_id(spark) -> int:
    """The id the scheduler gives the next Spark job. Ids are global,
    so the delta counts jobs from every thread and job group,
    streaming micro-batches included."""
    return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()


@pytest.fixture(scope="module")
def warm_footers(spark, sf_dir):
    """A table's first ``load_table`` in a session checks its footer
    with a Spark job; read every table once so that check is not
    charged to whichever lane happens to read it first."""
    for table in TABLES:
        load_table(spark, sf_dir, table)


def _drop_managed_tables(spark) -> None:
    """A lane may reuse managed tables an earlier call in the session
    wrote (``bucketed_join_colocated`` keeps its bucketed copies), so
    its later builds run no job. Dropping them builds a declared lane
    as on its first call, whatever ran before it."""
    for t in spark.catalog.listTables():
        if not t.isTemporary:
            spark.sql(f"DROP TABLE IF EXISTS `{t.name}`")


@pytest.mark.parametrize(
    "name",
    [
        pytest.param(n, marks=pytest.mark.smoke_exec)
        if n in EXECUTE_ON_CONSTRUCT
        else n
        for n in sorted(SPECS)
    ],
)
def test_query_plan_analyzes(spark, sf_dir, warm_footers, name):
    """Construct the lane and force analysis. A lane that declares
    executes_on_construct must run at least one Spark job while its
    DataFrame is built; any other lane must run none and leave no
    streaming query active. A stale declaration would keep a lazy lane
    out of the pure-analysis pass and its plan guards."""
    if name in EXECUTE_ON_CONSTRUCT:
        _drop_managed_tables(spark)
    streams_before = {q.id for q in spark.streams.active}
    jobs_before = _next_job_id(spark)
    df = SPECS[name].fn(spark, sf_dir)
    jobs = _next_job_id(spark) - jobs_before
    left_active = [q.name or q.id for q in spark.streams.active if q.id not in streams_before]
    if name in EXECUTE_ON_CONSTRUCT:
        assert jobs, (
            f"{name} declares executes_on_construct but ran no Spark job "
            "at construction; drop the flag"
        )
    else:
        assert not jobs and not left_active, (
            f"{name} ran {jobs} Spark job(s) and left streams {left_active} "
            "active at construction; declare executes_on_construct=True"
        )
    assert df.schema.fields
