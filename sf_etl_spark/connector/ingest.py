"""Ingest-side result retrieval: the Bulk 2.0 results TRIPLE as
DataFrames — failed rows, applied rows, and never-attempted rows.

The reference never ships a load leg at all (its job state machine,
``oxidized-force/src/response.rs:47-54``, covers only query jobs);
this module extends the writer (`datasource.SfIngestWriter`) with the
pieces every production load needs: ``/jobs/ingest/{id}/
failedResults`` (row rejects), ``/successfulResults`` (applied rows
with server-assigned Ids), and ``/unprocessedrecords`` (the retry set
after a job-level failure or abort), each surfaced as a DataFrame.

Scale shape: one task per ingest job id (``parallelize(ids, n)`` +
``mapPartitions``) — each task pulls its job's CSV independently, so
a 1000-job load drains its results with cluster parallelism, not a
driver loop. Reject/unprocessed payloads are the bounded slivers of a
load; successes are the BULK — at production volume aggregate or
write them promptly rather than collecting.
"""

from __future__ import annotations

import csv
import io
from collections.abc import Callable, Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    BooleanType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
)

FAILED_RESULTS_SCHEMA = StructType(
    [
        StructField("job_id", StringType(), False),
        StructField("sf_id", StringType(), True),
        StructField("sf_error", StringType(), True),
        # original row payload as a map — jobs with different written
        # column sets coexist in one stable schema
        StructField("fields", MapType(StringType(), StringType()), True),
    ]
)

# The streaming sink's reject side table (`failed_results_path`): one
# JSON line per rejected row, the failed-results columns tagged with
# the micro-batch that produced them. Read it back with
# ``spark.read.schema(REJECTS_SCHEMA).json(path)``.
REJECTS_SCHEMA = StructType(
    [StructField("batch_id", LongType(), False), *FAILED_RESULTS_SCHEMA.fields]
)

SUCCESSFUL_RESULTS_SCHEMA = StructType(
    [
        StructField("job_id", StringType(), False),
        StructField("sf_id", StringType(), True),
        # true = the row CREATED a record (insert / upsert-miss);
        # false = it updated or deleted an existing one
        StructField("created", BooleanType(), True),
        StructField("fields", MapType(StringType(), StringType()), True),
    ]
)

UNPROCESSED_RECORDS_SCHEMA = StructType(
    [
        StructField("job_id", StringType(), False),
        StructField("fields", MapType(StringType(), StringType()), True),
    ]
)


def _parse_failed_csv(job_id: str, text: str) -> Iterator[tuple]:
    rows = csv.reader(io.StringIO(text))
    header = next(rows, None) or []
    data_cols = [c for c in header if c not in ("sf__Id", "sf__Error")]
    idx = {c: header.index(c) for c in header}
    for row in rows:
        get = lambda c: row[idx[c]] if c in idx and idx[c] < len(row) else None
        yield (
            job_id,
            get("sf__Id") or None,
            get("sf__Error"),
            {c: get(c) for c in data_cols},
        )


def _parse_successful_csv(job_id: str, text: str) -> Iterator[tuple]:
    rows = csv.reader(io.StringIO(text))
    header = next(rows, None) or []
    data_cols = [c for c in header if c not in ("sf__Id", "sf__Created")]
    idx = {c: header.index(c) for c in header}
    for row in rows:
        get = lambda c: row[idx[c]] if c in idx and idx[c] < len(row) else None
        created = get("sf__Created")
        yield (
            job_id,
            get("sf__Id") or None,
            None if created is None else created.lower() == "true",
            {c: get(c) for c in data_cols},
        )


def _parse_unprocessed_csv(job_id: str, text: str) -> Iterator[tuple]:
    rows = csv.reader(io.StringIO(text))
    header = next(rows, None) or []
    for row in rows:
        yield (job_id, dict(zip(header, row)))


# (client method name, CSV parser) per result kind — the per-partition
# fetch resolves the method by name so only module-level references
# are shipped to executors
def _fetch_failed(client, jid):
    return _parse_failed_csv(jid, client.get_ingest_failed_results(jid))


def _fetch_successful(client, jid):
    return _parse_successful_csv(jid, client.get_ingest_successful_results(jid))


def _fetch_unprocessed(client, jid):
    return _parse_unprocessed_csv(jid, client.get_ingest_unprocessed_records(jid))


def _results_df(
    spark: SparkSession,
    options: dict[str, str],
    sweep_states: tuple,
    fetch_one: Callable,
    schema: StructType,
) -> DataFrame:
    """Shared sweep skeleton for the three results endpoints.

    Enumerates the backend's ingest jobs (paginated list walked to
    exhaustion), keeps those in ``sweep_states``, and — when
    ``options['object']`` is set — only THIS object's jobs, so one
    pipeline's sweep never pulls another's results (r11 ADVICE).
    """
    from sf_etl_spark.connector.datasource import _client_from_options

    client = _client_from_options(options)
    obj_name = options.get("object")
    ids = [
        j.id
        for j in client.list_ingest_jobs()
        if j.id
        and j.state in sweep_states
        and (obj_name is None or j.object == obj_name)
    ]
    if not ids:
        return spark.createDataFrame([], schema)
    opts = dict(options)

    def fetch(part: Iterator[str]) -> Iterator[tuple]:
        client = _client_from_options(opts)
        for jid in part:
            yield from fetch_one(client, jid)

    rdd = spark.sparkContext.parallelize(ids, len(ids)).mapPartitions(fetch)
    return spark.createDataFrame(rdd, schema)


def failed_results_df(
    spark: SparkSession,
    options: dict[str, str],
) -> DataFrame:
    """Rejected rows of the backend's ingest jobs as a DataFrame.

    ``options`` are the same connector options the ``sfetl`` format
    takes (login_url/client_id/.../object). The call sweeps every
    finished ingest job the backend lists — the "what failed in
    last night's load?" call, covering BOTH terminal-with-results
    states: ``JobComplete`` (partial row rejects) and ``Failed``
    (job-level rejects still expose retrievable failed records).
    """
    from sf_etl_spark.connector.client import JobState

    return _results_df(
        spark,
        options,
        (JobState.JOB_COMPLETE, JobState.FAILED),
        _fetch_failed,
        FAILED_RESULTS_SCHEMA,
    )


def successful_results_df(
    spark: SparkSession,
    options: dict[str, str],
) -> DataFrame:
    """Applied rows of the backend's ingest jobs as a DataFrame —
    ``sf__Id,sf__Created`` + the original columns, one download task
    per job.

    This is the read-back every keyed downstream step builds on: the
    server-assigned Ids of what a load just created (``created=true``)
    vs what it updated (``created=false``). Same sweep semantics as
    :func:`failed_results_df`.
    """
    from sf_etl_spark.connector.client import JobState

    return _results_df(
        spark,
        options,
        (JobState.JOB_COMPLETE, JobState.FAILED),
        _fetch_successful,
        SUCCESSFUL_RESULTS_SCHEMA,
    )


def unprocessed_records_df(
    spark: SparkSession,
    options: dict[str, str],
) -> DataFrame:
    """Rows the backend never ATTEMPTED, as a DataFrame — the retry
    set of a resumable loader (job-level failures and aborts leave
    their whole upload here, distinct from ROW rejects). A 3-line
    resume is ``unprocessed_records_df(...)`` → reshape ``fields`` →
    write back through the sink. The sweep covers Failed and Aborted
    jobs for ``options['object']``."""
    from sf_etl_spark.connector.client import JobState

    return _results_df(
        spark,
        options,
        (JobState.FAILED, JobState.ABORTED),
        _fetch_unprocessed,
        UNPROCESSED_RECORDS_SCHEMA,
    )
