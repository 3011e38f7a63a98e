"""Golden tests for the schema system (SURVEY §2.1 R3/R8/R9).

The reference left this whole path untested (``sql-builder`` has zero
tests — SURVEY §5); the describe-JSON fixture mirrors the mock shapes
in ``oxidized-force/src/client.rs:442-495``.
"""

from __future__ import annotations

from decimal import Decimal

import pytest
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DateType,
    DecimalType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    TimestampType,
)

from sf_etl_spark.schema import (
    Field,
    FieldType,
    ObjectSchema,
    create_table_ddl,
    spark_type_for,
    struct_field_for,
)
from sf_etl_spark.connector.datasource import wire_schema
from sf_etl_spark.schema.ingest import coerce_dataframe

# Describe-shaped JSON, Salesforce wire casing (client.rs mock shapes).
CASE_DESCRIBE = {
    "name": "Case",
    "fields": [
        {"name": "Id", "type": "id", "length": 18, "nillable": False, "updateable": False},
        {"name": "Subject", "type": "string", "length": 255},
        {"name": "IsClosed", "type": "boolean", "nillable": False},
        {"name": "CreatedDate", "type": "datetime"},
        {"name": "DueDate", "type": "date"},
        {"name": "SlaTime", "type": "time"},
        {"name": "Amount", "type": "currency", "precision": 18, "scale": 2},
        {"name": "Discount", "type": "percent", "precision": 5, "scale": 2},
        {"name": "NumEmployees", "type": "int"},
        {"name": "ViewCount", "type": "long"},
        {"name": "Score", "type": "double"},
        {"name": "Tags", "type": "multipicklist", "length": 4099},
        {"name": "AccountId", "type": "reference", "relationshipName": "Account"},
        {"name": "OrphanRef", "type": "reference"},  # reference panics here (main.rs:89)
        {"name": "Payload", "type": "anyType"},
        {"name": "BillingAddress", "type": "address"},
        {"name": "Email__c", "type": "email", "length": 80, "custom": True, "unique": True},
        {"name": "Secret", "type": "encryptedstring", "length": 32},
    ],
}


@pytest.fixture(scope="module")
def case_schema() -> ObjectSchema:
    return ObjectSchema.from_describe_json(CASE_DESCRIBE)


def test_all_28_field_types_map():
    """Every FieldType variant maps to a Spark type without error."""
    for ft in FieldType:
        f = Field(name="x", field_type=ft, length=10, precision=10, scale=2)
        assert spark_type_for(f) is not None


def test_type_mapping_table(case_schema):
    st = case_schema.to_struct_type()
    by_name = {f.name: f for f in st.fields}
    assert isinstance(by_name["Id"].dataType, StringType)
    assert by_name["Id"].metadata["primary_key"] is True
    assert by_name["Id"].nullable is False
    assert isinstance(by_name["IsClosed"].dataType, BooleanType)
    assert isinstance(by_name["CreatedDate"].dataType, TimestampType)
    assert isinstance(by_name["DueDate"].dataType, DateType)
    assert isinstance(by_name["SlaTime"].dataType, StringType)  # no TimeType
    assert by_name["SlaTime"].metadata["time_format"] == "HH:mm:ss.SSS"
    assert by_name["Amount"].dataType == DecimalType(18, 2)  # not varchar!
    assert by_name["Discount"].dataType == DecimalType(5, 2)
    assert isinstance(by_name["NumEmployees"].dataType, IntegerType)
    assert isinstance(by_name["ViewCount"].dataType, LongType)
    assert isinstance(by_name["Score"].dataType, DoubleType)
    assert isinstance(by_name["Tags"].dataType, ArrayType)
    assert by_name["AccountId"].metadata["foreign_key"] == {
        "table": "Account",
        "keys": ["Id"],
    }
    # null relationship_name must NOT panic (reference bug, main.rs:89)
    assert "foreign_key" not in by_name["OrphanRef"].metadata
    assert by_name["Payload"].metadata["json"] is True
    assert by_name["Email__c"].metadata["unique"] is True
    assert by_name["Email__c"].metadata["custom"] is True
    assert by_name["Secret"].metadata["encrypted"] is True


def test_field_names_projection(case_schema):
    """field_names() ↔ DescribeResponse::field_names (response.rs:147)."""
    assert case_schema.field_names()[:3] == ["Id", "Subject", "IsClosed"]


def test_ddl_postgres_golden(case_schema):
    ddl = create_table_ddl("Case", case_schema.to_struct_type(), "postgres")
    lines = [ln.strip().rstrip(",") for ln in ddl.splitlines()]
    assert lines[0] == 'CREATE TABLE "Case" ('
    assert '"Id" VARCHAR(18) PRIMARY KEY' in lines
    assert '"Subject" VARCHAR(255)' in lines
    assert '"IsClosed" BOOLEAN NOT NULL' in lines
    assert '"Amount" NUMERIC(18, 2)' in lines
    assert '"Tags" TEXT[]' in lines
    assert '"Payload" JSONB' in lines
    assert '"Email__c" VARCHAR(80) UNIQUE' in lines
    assert '"AccountId" TEXT REFERENCES "Account" ("Id")' in lines
    # deterministic: column order == describe order (fixes table.rs:11)
    assert ddl == create_table_ddl("Case", case_schema.to_struct_type(), "postgres")
    assert ddl.splitlines()[1].strip().startswith('"Id"')


def test_ddl_spark_dialect(case_schema):
    ddl = create_table_ddl("Case", case_schema.to_struct_type(), "spark")
    assert ddl.startswith("CREATE TABLE `Case` (")
    assert "`Tags` ARRAY<STRING>" in ddl
    assert ddl.rstrip().endswith("USING parquet;")


def test_ddl_runs_in_duckdb(case_schema, oracle):
    """The ANSI-dialect DDL must be executable by a real database."""
    ddl = create_table_ddl("CaseDdl", case_schema.to_struct_type(), "ansi")
    # DuckDB lacks inline REFERENCES to missing tables; create the target first.
    oracle.execute('CREATE TABLE "Account" ("Id" TEXT PRIMARY KEY)')
    oracle.execute(ddl)
    cols = oracle.execute(
        "SELECT column_name FROM information_schema.columns WHERE table_name='CaseDdl' ORDER BY ordinal_position"
    ).fetchall()
    assert [c[0] for c in cols] == list(ObjectSchema.from_describe_json(CASE_DESCRIBE).field_names())


def _coerce_records(spark, records, schema):
    """Wire-shaped records → the scan's all-string frame → the cast lane,
    as ``read_object`` composes them."""
    names = schema.field_names()
    wire = spark.createDataFrame(
        [tuple(r.get(n) for n in names) for r in records], wire_schema(schema)
    )
    return coerce_dataframe(wire, schema)


def test_typed_ingestion(spark, case_schema):
    records = [
        {
            "Id": "500A01",
            "Subject": "hello",
            "IsClosed": "false",
            "CreatedDate": "2026-01-02 03:04:05",
            "DueDate": "2026-02-03",
            "SlaTime": "08:30:00.000",
            "Amount": "1234.56",
            "Discount": "12.50",
            "NumEmployees": "42",
            "ViewCount": "9999999999",
            "Score": "3.5",
            "Tags": "a;b;c",
            "AccountId": "001X",
            "Payload": '{"k": 1}',
        },
        {"Id": "500A02", "Subject": None, "IsClosed": "true"},
    ]
    df = _coerce_records(spark, records, case_schema)
    rows = {r["Id"]: r for r in df.collect()}
    r1 = rows["500A01"]
    assert r1["IsClosed"] is False
    assert r1["Amount"] == Decimal("1234.56")
    assert r1["NumEmployees"] == 42
    assert r1["ViewCount"] == 9999999999
    assert r1["Tags"] == ["a", "b", "c"]
    assert str(r1["CreatedDate"]) == "2026-01-02 03:04:05"
    assert str(r1["DueDate"]) == "2026-02-03"
    r2 = rows["500A02"]
    assert r2["Subject"] is None and r2["Amount"] is None and r2["Tags"] is None
    assert df.schema["Amount"].dataType == DecimalType(18, 2)


def test_coerce_is_codegen_only(spark, case_schema):
    """Ingestion must stay JVM-side: no BatchEvalPython in the plan."""
    records = [{"Id": "1", "Tags": "x;y"}]
    df = _coerce_records(spark, records, case_schema)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan


def test_coerce_missing_columns_become_typed_nulls(spark, case_schema):
    wire = spark.createDataFrame([("1",)], "Id string")
    df = coerce_dataframe(wire, case_schema)
    assert df.columns == case_schema.field_names()
    assert df.schema["Score"].dataType == DoubleType()
