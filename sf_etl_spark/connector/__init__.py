"""Connector/ETL surface: the reference's two crates re-expressed as a
Spark data source plus a schema pipeline.

* :mod:`client` — REST/Bulk client (R1-R7) with pagination + results
  download (the reference's two gaps, SURVEY §2.1 R2/R6).
* :mod:`datasource` — Spark Python DataSource: partitioned parallel
  extraction (bulk chunk / PK-range splits).
* :func:`read_object` — scan + typed coercion in one call.

The ``sf-sql`` pipeline (login → describe → DDL text,
``sql-builder/src/main.rs:51-82``) is ``sf_etl_spark.cli``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from sf_etl_spark.connector.client import (
    BulkJob,
    JobState,
    QueryPage,
    ResultChunk,
    SfClient,
)
from sf_etl_spark.connector.datasource import FORMAT_NAME, SfEtlDataSource, register
from sf_etl_spark.connector.errors import (
    ClientBuilderError,
    ConnectorError,
    HttpError,
    JobFailedError,
    NotAuthenticatedError,
    ResponseError,
    TokenError,
)

__all__ = [
    "BulkJob",
    "ClientBuilderError",
    "ConnectorError",
    "FORMAT_NAME",
    "HttpError",
    "JobFailedError",
    "JobState",
    "NotAuthenticatedError",
    "QueryPage",
    "ResponseError",
    "ResultChunk",
    "SfClient",
    "SfEtlDataSource",
    "TokenError",
    "read_object",
    "register",
]


def read_object(
    spark: SparkSession,
    options: dict[str, str],
    object_name: str,
    coerce: bool = True,
) -> DataFrame:
    """Scan one SObject into a typed DataFrame.

    The scan yields wire strings (executor-parallel fetch); the typed
    cast lane (`schema/ingest.coerce_dataframe`) then runs as Catalyst
    expressions — the describe-driven equivalent of the reference's
    per-caller serde structs (``response.rs:4-10``).
    """
    from sf_etl_spark.connector.datasource import (
        _client_from_options,
        project_fields,
        wire_schema,
    )
    from sf_etl_spark.schema.ingest import coerce_dataframe

    register(spark)
    reader = spark.read.format(FORMAT_NAME).option("object", object_name)
    for k, v in options.items():
        reader = reader.option(k, v)
    if not coerce:
        return reader.load()
    # one describe, on the driver: handing Spark the wire schema keeps
    # the planner from describing the object a second time. A projected
    # read coerces only the selected fields (the cast lane would re-add
    # dropped columns as typed nulls).
    schema = project_fields(
        _client_from_options(options).describe(object_name), options.get("fields")
    )
    return coerce_dataframe(reader.schema(wire_schema(schema)).load(), schema)
