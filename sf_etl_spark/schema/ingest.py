"""Typed ingestion: wire-shaped records → typed DataFrame.

The reference deserializes query JSON into user-written structs
(``QueryResponse<T>``, ``response.rs:4-10``) — the type mapping is
manual and per-caller. Here the ``describe`` schema drives the cast
automatically: every column arrives as its wire string and is coerced
JVM-side (no Python UDFs) to the Spark type from
:mod:`sf_etl_spark.schema.field_types`.

Per-type rules (SURVEY §1.2):
- MultiPicklist: ``;``-joined wire value → ``split`` to array;
- Currency/Percent: string → exact ``DecimalType(p, s)`` cast;
- DateTime/Date: ISO-8601 strings → timestamp/date cast;
- Boolean/Int/Long/Double: plain casts;
- JSON lanes (AnyType/Address/Location): kept as string; parse on
  demand with ``from_json`` — schema-on-read, not schema-on-ingest.

All casts are Catalyst expressions → whole-stage codegen; at 100 TB
this is a map-only stage with no shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

from sf_etl_spark.schema.field_types import Field, FieldType, ObjectSchema, struct_field_for


def coerce_column(f: Field) -> Column:
    """Catalyst expression turning the wire-string column into its
    typed form."""
    col = F.col(f.name)
    sf = struct_field_for(f)
    if f.field_type == FieldType.MULTI_PICKLIST:
        return F.when(col.isNull(), None).otherwise(F.split(col, ";")).alias(f.name)
    if isinstance(sf.dataType, StringType):
        return col.cast("string").alias(f.name)
    return col.cast(sf.dataType).alias(f.name)


def coerce_dataframe(raw: DataFrame, schema: ObjectSchema) -> DataFrame:
    """Project+cast a wire-shaped (all-string) DataFrame to the typed
    schema; columns missing from the input become typed nulls."""
    cols = []
    for f in schema.fields:
        if f.name in raw.columns:
            cols.append(coerce_column(f))
        else:
            cols.append(F.lit(None).cast(struct_field_for(f).dataType).alias(f.name))
    return raw.select(*cols)
