"""Connector tests against the in-process mock Salesforce server.

Covers every operator the reference implements (R1-R9, SURVEY §2.1)
plus the two gaps the new engine fixes: query pagination (R2) and
bulk results download (R6), and the partitioned Spark scan built on
top of them.
"""

from __future__ import annotations

import contextlib
import decimal
import json

import pytest
from pyspark.sql import functions as F

from sf_etl_spark.connector import (
    JobState,
    ResponseError,
    SfClient,
    TokenError,
    read_object,
)
from sf_etl_spark.connector.errors import ClientBuilderError
from sf_etl_spark.connector.ingest import REJECTS_SCHEMA
from sf_etl_spark.connector.mockserver import MockSalesforce


@pytest.fixture(scope="module")
def mock_sf():
    server = MockSalesforce(n_rows=95, page_size=20)
    url = server.start()
    yield server, url
    server.stop()


@pytest.fixture()
def client(mock_sf):
    _, url = mock_sf
    c = SfClient(client_id="app", client_secret="shhh", login_url=url, backoff_base=0.01)
    c.login("user@test", "pw")
    return c


def sf_options(url: str) -> dict[str, str]:
    return {
        "login_url": url,
        "client_id": "app",
        "client_secret": "shhh",
        "username": "user@test",
        "password": "pw",
    }


# -- R1 auth ---------------------------------------------------------------


def test_session_refresh_on_401(client, mock_sf):
    """Server-side session expiry mid-extraction: the client must
    re-run the password grant once and replay the request with the
    fresh token (long partitioned scans outlive Salesforce session
    TTLs routinely). The mock rotates its accepted token, so the old
    bearer 401s until the re-login lands."""
    server, _ = mock_sf
    try:
        server.valid_token = "ROTATED"
        logins_before = server.logins
        pages = list(client.query_pages("SELECT Id FROM Case"))
        assert sum(len(p.records) for p in pages) == 95
        assert client.access_token == "ROTATED"
        assert server.logins == logins_before + 1  # exactly one refresh
    finally:
        server.valid_token = "MOCK_TOKEN"


def test_session_refresh_replays_even_with_zero_retries(mock_sf):
    """The refresh replay must not consume a retry attempt: with
    max_retries=0 a 401 on the only attempt still re-logins AND
    replays (the regression was HttpError('... failed after 1
    attempts: None') after a successful refresh)."""
    server, url = mock_sf
    c = SfClient(
        client_id="app", client_secret="shhh", login_url=url,
        backoff_base=0.01, max_retries=0,
    )
    c.login("user@test", "pw")
    try:
        server.valid_token = "ROTATED2"
        pages = list(c.query_pages("SELECT Id FROM Case"))
        assert sum(len(p.records) for p in pages) == 95
        assert c.access_token == "ROTATED2"
    finally:
        server.valid_token = "MOCK_TOKEN"


def test_no_refresh_without_stored_credentials(mock_sf):
    """A manually-seeded token (no login(), no stored creds) must NOT
    attempt a refresh loop — the 401 surfaces as the API error."""
    _, url = mock_sf
    c = SfClient(client_id="app", client_secret="shhh", login_url=url, backoff_base=0.01)
    c.access_token = "STALE"
    c.instance_url = url
    with pytest.raises(ResponseError) as ei:
        list(c.query_pages("SELECT Id FROM Case"))
    assert ei.value.status == 401


def test_login_stores_token(client):
    assert client.access_token == "MOCK_TOKEN"
    assert client.instance_url.startswith("http://127.0.0.1")


def test_login_bad_credentials(mock_sf):
    _, url = mock_sf
    c = SfClient(client_id="app", client_secret="wrong", login_url=url, backoff_base=0.01)
    with pytest.raises(TokenError):
        c.login("user@test", "pw")


def test_builder_validation():
    with pytest.raises(ClientBuilderError):
        SfClient(client_id="", client_secret="x", login_url="http://x")


def test_unauthenticated_call(mock_sf):
    _, url = mock_sf
    c = SfClient(client_id="app", client_secret="shhh", login_url=url)
    from sf_etl_spark.connector import NotAuthenticatedError

    with pytest.raises(NotAuthenticatedError):
        c.query("SELECT Id FROM Case")


# -- R2 query with pagination (reference gap #1) ---------------------------


def test_query_single_page(client):
    recs = client.query("SELECT Id, Priority FROM Case WHERE NumCalls < 1")
    # NumCalls = i % 11 == 0 → i in {0, 11, 22, ...} → 9 of 95 rows
    assert len(recs) == 9
    assert set(recs[0]) == {"Id", "Priority"}  # attributes stripped


def test_query_paginates_to_exhaustion(client, mock_sf):
    server, _ = mock_sf
    recs = client.query("SELECT Id FROM Case")
    assert len(recs) == server.n_rows  # 95 rows @ page_size 20 → 5 pages
    assert len({r["Id"] for r in recs}) == server.n_rows


def test_query_error_payload(client):
    with pytest.raises(ResponseError) as ei:
        client._get_json(f"{client._base_path()}/nope")
    assert ei.value.status == 404


# -- R3 describe + R8 type mapping (R9 DDL: tests/test_cli.py) -------------


def test_describe_schema(client):
    schema = client.describe("Case")
    assert schema.name == "Case"
    assert schema.field_names()[:2] == ["Id", "AccountId"]
    st = schema.to_struct_type()
    by_name = {f.name: f for f in st.fields}
    assert by_name["NumCalls"].dataType.typeName() == "integer"
    assert by_name["Tags"].dataType.typeName() == "array"
    assert by_name["Amount"].dataType.typeName().startswith("decimal")


# -- R4-R7 bulk lifecycle + results download (reference gap #2) ------------


def test_bulk_job_lifecycle(client, mock_sf):
    server, _ = mock_sf
    job = client.create_query_job("Case", ["Id", "CaseNumber", "Amount"])
    assert job.state in (JobState.UPLOAD_COMPLETE, JobState.IN_PROGRESS)
    done = client.wait_for_job(job.id)
    assert done.state == JobState.JOB_COMPLETE
    assert done.number_records_processed == server.n_rows
    assert done.concurrency_mode == "Parallel"  # response.rs:39 parity

    chunks = list(client.download_results(job.id, max_records=40))
    assert len(chunks) == 3  # 95 rows @ 40/chunk
    rows = [ln for c in chunks for ln in c.csv_text.strip().splitlines()[1:]]
    assert len(rows) == server.n_rows


def test_bulk_abort(client):
    job = client.create_query_job("Case", ["Id"])
    aborted = client.abort_query_job(job.id)
    assert aborted.state == JobState.ABORTED


# -- Spark DataSource scan -------------------------------------------------


def test_spark_bulk_scan_partitioned(spark, mock_sf):
    server, url = mock_sf
    df = read_object(
        spark,
        {**sf_options(url), "chunk_size": "25"},
        "Case",
    )
    assert df.count() == server.n_rows
    # 95 rows @ chunk 25 → 4 partitions planned by the driver
    raw = read_object(spark, {**sf_options(url), "chunk_size": "25"}, "Case", coerce=False)
    assert raw.rdd.getNumPartitions() == 4

    row = df.filter(df.Id == "500000000000000003").first()
    assert row.NumCalls == 3
    assert row.Tags == ["red", "blue"]
    assert row.IsEscalated is False
    assert row.Amount == decimal.Decimal("10.75")
    assert row.CreatedDate is not None


def test_spark_bulk_scan_honors_declared_csv_dialect(spark):
    """A job declaring PIPE/CRLF must parse correctly: the declared
    dialect metadata reaches csv.reader (the reference deserializes
    lineEnding/columnDelimiter, response.rs:37-38, but never uses
    them — and so did we until r10)."""
    server = MockSalesforce(n_rows=31, column_delimiter="PIPE", line_ending="CRLF")
    url = server.start()
    try:
        df = read_object(spark, {**sf_options(url), "chunk_size": "10"}, "Case")
        assert df.count() == server.n_rows
        row = df.filter(df.Id == "500000000000000003").first()
        assert row.NumCalls == 3
        assert row.Amount == decimal.Decimal("10.75")
    finally:
        server.stop()


def test_spark_bulk_scan_serial_locator_walk(spark, mock_sf):
    server, url = mock_sf
    df = read_object(
        spark,
        {**sf_options(url), "chunk_size": "30", "offset_locators": "false"},
        "Case",
        coerce=False,
    )
    assert df.rdd.getNumPartitions() == 1  # opaque locators → serial chain
    assert df.count() == server.n_rows


def test_spark_rest_scan_range_partitioned(spark, mock_sf):
    server, url = mock_sf
    opts = {
        **sf_options(url),
        "mode": "rest",
        "partition_field": "NumCalls",
        "lower": "0",
        "upper": "10",
        "num_partitions": "4",
    }
    df = read_object(spark, opts, "Case", coerce=False)
    assert df.rdd.getNumPartitions() == 4
    assert df.count() == server.n_rows  # splits partition, not filter
    # predicate pushdown into per-partition SOQL
    df2 = read_object(spark, {**opts, "where": "NumCalls >= 5"}, "Case", coerce=False)
    assert df2.count() == sum(1 for r in server.rows if int(r["NumCalls"]) >= 5)


def test_catalyst_filter_pushdown_to_soql(spark, mock_sf):
    """A Spark .filter() on the scan must reach the remote SOQL WHERE
    (transfer-volume pushdown), while Spark still re-applies the
    predicate post-scan. Range comparisons only push under the
    explicit opt-in (remote collation may be stricter than Spark's
    binary string compare — see _WIDEN_ONLY in datasource.py)."""
    server, url = mock_sf
    opts = {**sf_options(url), "mode": "rest", "push_range_filters": "true"}
    n_before = len(server.requests_seen)
    df = read_object(spark, opts, "Case", coerce=False).filter("NumCalls >= 7")
    expect = sum(1 for r in server.rows if int(r["NumCalls"]) >= 7)
    assert df.count() == expect
    pushed = [
        r
        for r in server.requests_seen[n_before:]
        if "query" in r and ("WHERE" in r or "WHERE%20" in r or "+WHERE+" in r)
    ]
    assert pushed, "no WHERE clause reached the mock server"
    assert any("NumCalls" in r for r in pushed)


def test_read_object_describes_the_object_once(spark, mock_sf):
    """A typed read describes the object once, on the driver, and hands
    Spark the wire schema, so the planner does not describe it again."""
    server, url = mock_sf
    n_before = len(server.requests_seen)
    df = read_object(spark, {**sf_options(url), "mode": "rest"}, "Case")
    assert df.count() == server.n_rows
    describes = [r for r in server.requests_seen[n_before:] if r.endswith("/describe")]
    assert len(describes) == 1, describes


def test_filter_to_soql_rendering():
    from pyspark.sql.datasource import (
        EqualTo,
        GreaterThan,
        In,
        IsNull,
        StringStartsWith,
    )

    from sf_etl_spark.connector.datasource import _filter_to_soql

    assert _filter_to_soql(EqualTo(("Status",), "Closed")) == "Status = 'Closed'"
    assert _filter_to_soql(In(("Priority",), ("P1", "P2"))) == "Priority IN ('P1', 'P2')"
    assert _filter_to_soql(IsNull(("Owner",))) == "Owner = null"
    assert _filter_to_soql(StringStartsWith(("Subject",), "Re:")) == "Subject LIKE 'Re:%'"
    # quotes escaped the SOQL way
    assert _filter_to_soql(EqualTo(("Name",), "O'Brien")) == "Name = 'O\\'Brien'"
    # nested column paths stay Spark-side
    assert _filter_to_soql(EqualTo(("a", "b"), 1)) is None
    # range comparisons on the all-strings wire schema can be remotely
    # STRICTER than Spark's binary re-check → not pushed by default
    assert _filter_to_soql(GreaterThan(("NumCalls",), 5)) is None
    assert _filter_to_soql(GreaterThan(("NumCalls",), 5), push_ranges=True) == "NumCalls > 5"


def test_soql_value_float_literals():
    """Non-finite / scientific-notation floats must not be pushed:
    str(1e-07) is not a valid SOQL numeric literal and would fail the
    whole remote scan rather than skip one clause."""
    from pyspark.sql.datasource import EqualTo

    from sf_etl_spark.connector.datasource import _filter_to_soql, _soql_value

    assert _soql_value(2.5) == "2.5"
    assert _soql_value(float("inf")) is None
    assert _soql_value(float("-inf")) is None
    assert _soql_value(float("nan")) is None
    assert _soql_value(1e-7) is None  # repr: '1e-07'
    assert _soql_value(1e20) is None  # repr: '1e+20'
    # a non-expressible literal skips the clause, not the scan
    assert _filter_to_soql(EqualTo(("Score",), float("nan"))) is None


def test_projection_pushdown_via_fields_option(spark, mock_sf):
    """`fields` narrows the wire schema AND the remote SELECT list
    (R4 projection pushdown — `client.rs:217` done scan-side)."""
    server, url = mock_sf
    n_before = len(server.requests_seen)
    df = read_object(
        spark,
        {**sf_options(url), "mode": "rest", "fields": "Id,NumCalls"},
        "Case",
    )
    assert df.columns == ["Id", "NumCalls"]
    assert df.count() == server.n_rows
    reqs = [r for r in server.requests_seen[n_before:] if "/query" in r]
    assert reqs and all("Subject" not in r for r in reqs)  # non-selected col not on the wire

    with pytest.raises(Exception, match="unknown fields"):
        read_object(
            spark,
            {**sf_options(url), "mode": "rest", "fields": "Id,Nope"},
            "Case",
            coerce=False,
        ).count()


# -- streaming incremental source ------------------------------------------


def test_stream_reader_full_then_delta(spark, tmp_path):
    """readStream over the connector: first availableNow run pulls the
    full object, a second run from the SAME checkpoint pulls only the
    delta above the checkpointed watermark offset — the incremental
    contract, enforced by Spark's own offset log instead of the batch
    module's state file."""
    from sf_etl_spark.connector.datasource import register as register_fmt

    server = MockSalesforce(n_rows=0, page_size=10)
    server.rows = [
        {"Id": f"500{i:015d}", "Priority": ["Low", "High"][i % 2], "NumCalls": str(i)}
        for i in range(25)
    ]
    url = server.start()
    try:
        register_fmt(spark)
        out = str(tmp_path / "sf_sink")
        ckpt = str(tmp_path / "ckpt")
        opts = {
            **sf_options(url),
            "object": "Case",
            "watermark_field": "NumCalls",
            "fields": "Id,Priority,NumCalls",
        }

        def run_once():
            q = (
                spark.readStream.format("sfetl")
                .options(**opts)
                .load()
                .writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

        n_before = len(server.requests_seen)
        run_once()
        back = spark.read.parquet(out)
        assert back.count() == 25
        assert sorted(back.columns) == ["Id", "NumCalls", "Priority"]

        # upstream delta appears; same checkpoint -> only the delta moves
        server.rows.extend(
            {"Id": f"500{i:015d}", "Priority": "High", "NumCalls": str(i)}
            for i in range(25, 30)
        )
        run_once()
        back = spark.read.parquet(out)
        assert back.count() == 30
        assert back.agg(F.max(F.col("NumCalls").cast("int"))).collect()[0][0] == 29
        # the second run's query carried the remote delta predicate
        delta_reqs = [
            r for r in server.requests_seen[n_before:]
            if "NumCalls+%3E+24" in r or "NumCalls%20%3E%2024" in r or "NumCalls > 24" in r
        ]
        assert delta_reqs, f"no delta-predicate request seen"
    finally:
        server.stop()


def test_rest_and_stream_reads_give_the_same_boolean_strings(spark, tmp_path):
    """A record holding a JSON boolean reads as the same wire string
    through the REST batch scan and the sfetl streaming source
    ("true"/"false", as bulk CSV and the sink write it); the REST scan
    used to give Python's "True"/"False"."""
    from sf_etl_spark.connector.datasource import register as register_fmt

    server = MockSalesforce(n_rows=0, page_size=10)
    server.rows = [
        {"Id": f"500{i:015d}", "IsEscalated": i % 2 == 0, "NumCalls": str(i)}
        for i in range(4)
    ]
    url = server.start()
    try:
        register_fmt(spark)
        fields = {"fields": "Id,IsEscalated,NumCalls"}
        rest = read_object(spark, {**sf_options(url), **fields, "mode": "rest"}, "Case", coerce=False)
        q = (
            spark.readStream.format("sfetl")
            .options(**sf_options(url), **fields, object="Case", watermark_field="NumCalls")
            .load()
            .writeStream.format("parquet")
            .option("path", str(tmp_path / "out"))
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        streamed = spark.read.parquet(str(tmp_path / "out"))

        def rows(df):
            return sorted(tuple(r) for r in df.select("Id", "IsEscalated").collect())

        assert rows(rest) == rows(streamed)
        assert {r[1] for r in rows(rest)} == {"true", "false"}
    finally:
        server.stop()


@contextlib.contextmanager
def _versioned_org(n_rows: int, page_size: int = 10):
    """A mock org whose Case rows carry a monotonic integer ``Version``
    watermark, served as wire strings like every other mock value;
    page_size=10 so a full pull spans several pages."""
    server = MockSalesforce(n_rows=0, page_size=page_size)
    server.rows = [_versioned_row(i) for i in range(n_rows)]
    url = server.start()
    try:
        yield server, url
    finally:
        server.stop()


def _versioned_row(i: int) -> dict[str, str]:
    return {"Id": f"500{i:015d}", "Priority": ["Low", "High"][i % 2], "Version": str(i)}


def _version_stream(url: str, names: list[str]):
    from pyspark.sql.types import StringType, StructField, StructType

    from sf_etl_spark.connector.datasource import SfIncrementalStreamReader

    schema = StructType([StructField(n, StringType()) for n in names])
    return SfIncrementalStreamReader(
        schema, {**sf_options(url), "object": "Case", "watermark_field": "Version"}
    )


def _stream_batches(reader, start: dict, end: dict) -> list:
    """What the executor tasks of one (start, end] micro-batch read."""
    return [b for p in reader.partitions(start, end) for b in reader.read(p)]


def _stream_rows(reader, start: dict, end: dict) -> list[tuple]:
    return [
        tuple(r.values()) for b in _stream_batches(reader, start, end) for r in b.to_pylist()
    ]


def _soql_seen(server, since: int = 0) -> list[str]:
    """The SOQL text of every ``/query`` request the mock served
    (cursor continuations carry no SOQL)."""
    from urllib.parse import parse_qs, urlparse

    out = []
    for req in server.requests_seen[since:]:
        u = urlparse(req.split(" ", 1)[1])
        if u.path.endswith("/query"):
            out.append(parse_qs(u.query)["q"][0])
    return out


def test_stream_reader_offset_stays_without_new_rows():
    """Full first pull, one batch per REST page; with no new rows
    upstream the latest offset stays put and plans nothing; new rows
    move only the delta."""
    with _versioned_org(25) as (server, url):
        reader = _version_stream(url, ["Id", "Priority", "Version"])
        start = reader.initialOffset()
        offset = reader.latestOffset()
        assert offset == {"wm": 24}
        batches = _stream_batches(reader, start, offset)
        assert [b.num_rows for b in batches] == [10, 10, 5]
        assert len(_stream_rows(reader, start, offset)) == 25
        again = reader.latestOffset()
        assert again == offset and reader.partitions(offset, again) == []

        server.rows.extend(_versioned_row(i) for i in range(25, 30))
        new = reader.latestOffset()
        assert new == {"wm": 29}
        rows = _stream_rows(reader, offset, new)
        assert sorted(int(r[2]) for r in rows) == [25, 26, 27, 28, 29]
        assert reader.latestOffset() == new and reader.partitions(new, new) == []


def test_stream_reader_watermark_advances_numerically():
    """Wire-string watermarks '9' -> '10' advance the offset to 10: a
    lexicographic max would keep '9' and re-serve row 10 forever. An
    offset read back from the checkpoint's JSON plans the same range."""
    with _versioned_org(10) as (server, url):
        reader = _version_stream(url, ["Id", "Version"])
        offset = reader.latestOffset()
        assert offset == {"wm": 9}
        server.rows.append(_versioned_row(10))
        new = reader.latestOffset()
        assert new == {"wm": 10}
        resumed = json.loads(json.dumps(offset))
        assert [r[1] for r in _stream_rows(reader, resumed, new)] == ["10"]
        assert reader.latestOffset() == new


def test_stream_reader_does_not_emit_an_unprojected_watermark():
    """A watermark field outside the schema still drives the offset (the
    max-watermark query selects it) but is not emitted."""
    with _versioned_org(25) as (server, url):
        reader = _version_stream(url, ["Id", "Priority"])
        offset = reader.latestOffset()
        assert offset == {"wm": 24}
        rows = _stream_rows(reader, reader.initialOffset(), offset)
        assert {len(r) for r in rows} == {2}
        assert sorted(rows) == sorted((r["Id"], r["Priority"]) for r in server.rows)


def test_stream_started_at_initial_watermark_reads_only_rows_above_it(spark, tmp_path):
    """``initial_watermark=W`` (stream from a backfill's high-water
    mark): availableNow delivers exactly the rows with SeqNo > W, and
    latestOffset never reports less than W, also when no row is above
    it. W=11 also checks the comparison is numeric ('9' > '11' as
    strings)."""
    from pyspark.sql.types import StringType, StructField, StructType

    from sf_etl_spark.connector.datasource import SfIncrementalStreamReader
    from sf_etl_spark.connector.datasource import register as register_fmt

    server = MockSalesforce(n_rows=0, page_size=10)
    server.rows = [{"Id": f"500{i:015d}", "SeqNo": str(i)} for i in range(30)]
    url = server.start()
    try:
        opts = {
            **sf_options(url),
            "object": "Case",
            "watermark_field": "SeqNo",
            "initial_watermark": "11",
        }
        schema = StructType([StructField(n, StringType()) for n in ("Id", "SeqNo")])
        reader = SfIncrementalStreamReader(schema, opts)
        start = reader.initialOffset()
        assert start == {"wm": "11"}
        latest = reader.latestOffset()
        assert latest == {"wm": 29}
        assert sorted(int(r[1]) for r in _stream_rows(reader, start, latest)) == list(range(12, 30))

        register_fmt(spark)
        q = (
            spark.readStream.format("sfetl")
            .schema("Id string, SeqNo string")
            .options(**opts)
            .load()
            .writeStream.format("parquet")
            .option("path", str(tmp_path / "out"))
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        back = spark.read.parquet(str(tmp_path / "out")).select("SeqNo")
        assert sorted(int(r[0]) for r in back.collect()) == list(range(12, 30))

        # nothing above W upstream: the offset stays at W, plans nothing
        server.rows = server.rows[:12]
        assert reader.latestOffset() == start
        assert reader.partitions(start, reader.latestOffset()) == []
    finally:
        server.stop()


def _stream_to_parquet(spark, url: str, out: str, ckpt: str) -> None:
    from sf_etl_spark.connector.datasource import register as register_fmt

    register_fmt(spark)
    q = (
        spark.readStream.format("sfetl")
        .schema("Id string, Priority string, Version string")
        .options(**sf_options(url), object="Case", watermark_field="Version")
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


MAX_WM_SOQL = "SELECT Version FROM Case ORDER BY Version DESC NULLS LAST LIMIT 1"


def test_stream_available_now_reads_every_row_in_executor_tasks(spark, tmp_path):
    """availableNow over 10,000 rows in 2,000-row pages delivers all of
    them. The driver asks only for the latest watermark (one one-row
    query); the rows are read once, by the micro-batch's partition."""
    with _versioned_org(10_000, page_size=2_000) as (server, url):
        out = str(tmp_path / "out")
        _stream_to_parquet(spark, url, out, str(tmp_path / "ckpt"))
        back = spark.read.parquet(out)
        assert back.count() == 10_000
        assert back.select("Id").distinct().count() == 10_000
        soql = _soql_seen(server)
        assert soql[-1] == "SELECT Id, Priority, Version FROM Case WHERE Version <= 9999"
        assert soql[:-1] and set(soql[:-1]) == {MAX_WM_SOQL}


def test_stream_rerun_on_checkpoint_delivers_only_new_rows(spark, tmp_path):
    """A second availableNow run on the same checkpoint, after 500 rows
    were added upstream, delivers exactly those 500, read as one closed
    watermark range."""
    with _versioned_org(10_000, page_size=2_000) as (server, url):
        out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
        _stream_to_parquet(spark, url, out, ckpt)
        before = {r.Id for r in spark.read.parquet(out).select("Id").collect()}
        server.rows.extend(_versioned_row(i) for i in range(10_000, 10_500))
        n_seen = len(server.requests_seen)
        _stream_to_parquet(spark, url, out, ckpt)
        back = spark.read.parquet(out)
        assert back.count() == 10_500
        added = {r.Id for r in back.select("Id").collect()} - before
        assert added == {_versioned_row(i)["Id"] for i in range(10_000, 10_500)}
        soql = _soql_seen(server, n_seen)
        assert soql[-1] == (
            "SELECT Id, Priority, Version FROM Case WHERE Version > 9999 AND Version <= 10499"
        )
        assert set(soql[:-1]) == {MAX_WM_SOQL}


def test_stream_max_rows_per_batch_is_rejected():
    """The removed row-limit option fails loudly instead of being
    silently ignored."""
    from pyspark.sql.types import StringType, StructField, StructType

    from sf_etl_spark.connector.datasource import SfEtlDataSource

    opts = {**sf_options("http://unused"), "object": "Case", "watermark_field": "Version"}
    schema = StructType([StructField("Id", StringType())])
    with pytest.raises(ClientBuilderError, match="max_rows_per_batch"):
        SfEtlDataSource({**opts, "max_rows_per_batch": "2"}).streamReader(schema)


def test_removed_writer_options_are_rejected():
    """job_ids_path and fs_resolver served only the removed foreachBatch
    reject capture; passing either to the batch or the streaming sink
    fails loudly instead of being silently ignored."""
    from pyspark.sql.types import StringType, StructField, StructType

    from sf_etl_spark.connector.datasource import SfEtlDataSource

    opts = {**sf_options("http://unused"), "object": "Thing"}
    schema = StructType([StructField("K", StringType())])
    for removed in ("job_ids_path", "fs_resolver"):
        source = SfEtlDataSource({**opts, removed: "x"})
        with pytest.raises(ClientBuilderError, match=removed):
            source.writer(schema, False)
        with pytest.raises(ClientBuilderError, match=removed):
            source.streamWriter(schema, False)


def test_mock_order_by_desc_with_limit():
    """The mock org sorts ORDER BY <field> DESC (nulls first unless
    NULLS LAST, as SOQL does) and applies LIMIT after the sort."""
    server = MockSalesforce(n_rows=0)
    server.rows = [{"Id": str(i), "V": v} for i, v in enumerate(["3", "10", None, "7"])]
    _, rows = server.select_rows("SELECT V FROM Case ORDER BY V DESC LIMIT 1")
    assert [r["V"] for r in rows] == [None]
    _, rows = server.select_rows("SELECT V FROM Case ORDER BY V DESC NULLS LAST LIMIT 1")
    assert [r["V"] for r in rows] == ["10"]
    _, rows = server.select_rows("SELECT V FROM Case ORDER BY V ASC NULLS LAST")
    assert [r["V"] for r in rows] == ["3", "7", "10", None]
    server.rows = [r for r in server.rows if r["V"] is not None]
    _, rows = server.select_rows("SELECT V FROM Case WHERE V < 10 ORDER BY V DESC LIMIT 1")
    assert [r["V"] for r in rows] == ["7"]


# -- scan partitioning options are checked at planning time ----------------


def _scan_reader(url: str, **opts):
    from pyspark.sql.types import StringType, StructField, StructType

    from sf_etl_spark.connector.datasource import SfScanReader

    schema = StructType([StructField("Id", StringType()), StructField("NumCalls", StringType())])
    return SfScanReader(schema, {**sf_options(url), "object": "Case", **opts})


def test_rest_partition_field_requires_lower_and_upper(mock_sf):
    _, url = mock_sf
    reader = _scan_reader(url, mode="rest", partition_field="NumCalls", lower="0")
    with pytest.raises(ClientBuilderError, match="upper"):
        reader.partitions()
    reader = _scan_reader(url, mode="rest", partition_field="NumCalls")
    with pytest.raises(ClientBuilderError, match="lower and upper"):
        reader.partitions()


def test_rest_partition_lower_above_upper_is_rejected(mock_sf):
    _, url = mock_sf
    reader = _scan_reader(
        url, mode="rest", partition_field="NumCalls", lower="10", upper="5"
    )
    with pytest.raises(ClientBuilderError, match="lower"):
        reader.partitions()


def test_bulk_chunk_size_zero_is_rejected_before_a_job_is_created(mock_sf):
    server, url = mock_sf
    n_jobs = len(server.jobs)
    with pytest.raises(ClientBuilderError, match="chunk_size"):
        _scan_reader(url, chunk_size="0").partitions()
    assert len(server.jobs) == n_jobs


def test_session_refresh_uses_rotated_credentials(mock_sf):
    """A second login() with new credentials must update the captured
    refresh provider: after a password rotation the 401 re-login has
    to replay the credentials that just worked, not the first login's
    stale ones (which would fail repeatedly and can lock the
    account)."""
    server, url = mock_sf
    c = SfClient(login_url=url, client_id="app", client_secret="shhh")
    c.login("user@test", "old_pw")
    c.login("user@test", "new_pw")  # rotation
    try:
        server.valid_token = "ROTATED2"
        list(c.query_pages("SELECT Id FROM Case"))
        assert server.last_password == "new_pw"
        assert c.access_token == "ROTATED2"
    finally:
        server.valid_token = "MOCK_TOKEN"


def test_custom_provider_survives_login(mock_sf):
    """A caller-installed vault provider must NOT be overwritten by a
    later login() capture."""
    server, url = mock_sf
    c = SfClient(login_url=url, client_id="app", client_secret="shhh")
    c.set_credential_provider(lambda: ("user@test", "vault_pw"))
    c.login("user@test", "typed_pw")
    try:
        server.valid_token = "ROTATED3"
        list(c.query_pages("SELECT Id FROM Case"))
        assert server.last_password == "vault_pw"
    finally:
        server.valid_token = "MOCK_TOKEN"


def test_mock_select_rows_evaluates_in_list():
    """The mock must HONOR a pushed IN-list (shrinking the wire
    payload is what pushdown is for); unparseable conditions still
    fall through to over-delivery, which Spark's re-apply corrects."""
    server = MockSalesforce(n_rows=9)
    _, rows = server.select_rows(
        "SELECT Id FROM Case WHERE Priority IN ('Low', 'High')"
    )
    assert 0 < len(rows) < 9
    assert all(r["Priority"] in ("Low", "High") for r in rows)


# -- Bulk 2.0 ingest (the LOAD leg; reference is extract-only) --------------


def test_bulk_ingest_lifecycle_and_abort():
    """Committed ingest jobs apply exactly their CSV rows; aborted
    jobs apply NOTHING (the writer-abort guarantee)."""
    server = MockSalesforce(object_name="Case", rows=[])
    url = server.start()
    try:
        c = SfClient(client_id="app", client_secret="shhh", login_url=url, backoff_base=0.01)
        c.login("user@test", "pw")
        job = c.create_ingest_job("Case")
        assert job.state == JobState.OPEN
        c.upload_ingest_batch(job.id, "CaseNumber,Priority\nA1,Low\nA2,High\n")
        c.close_ingest_job(job.id)
        done = c.wait_for_ingest_job(job.id)
        assert done.state == JobState.JOB_COMPLETE
        assert done.number_records_processed == 2
        assert len(server.rows) == 2
        assert all(r["Id"] for r in server.rows)  # server-assigned ids

        j2 = c.create_ingest_job("Case")
        c.upload_ingest_batch(j2.id, "CaseNumber,Priority\nB1,Low\n")
        aborted = c.abort_ingest_job(j2.id)
        assert aborted.state == JobState.ABORTED
        assert len(server.rows) == 2  # aborted rows never applied

        # closing without an upload is an invalid state transition
        j3 = c.create_ingest_job("Case")
        with pytest.raises(ResponseError):
            c.close_ingest_job(j3.id)
    finally:
        server.stop()


def test_spark_sfetl_write_handles_empty_partitions(spark):
    """More partitions than rows: empty partitions must commit as
    no-op receipts, not open empty ingest jobs."""
    fields = [
        {"name": "Id", "type": "id", "length": 18, "nillable": False},
        {"name": "Key", "type": "string", "length": 20},
        {"name": "Val", "type": "string", "length": 20},
    ]
    server = MockSalesforce(object_name="Thing", fields=fields, rows=[])
    url = server.start()
    try:
        from sf_etl_spark.connector.datasource import register as register_sfetl

        register_sfetl(spark)
        df = spark.createDataFrame(
            [("X1", "a"), ("X2", "b"), ("X3", None)], ["Key", "Val"]
        ).repartition(8)
        opts = {**sf_options(url), "object": "Thing"}
        df.write.format("sfetl").options(**opts).mode("append").save()
        assert sorted(r["Key"] for r in server.rows) == ["X1", "X2", "X3"]
        n_jobs = sum(1 for j in server.jobs.values() if j.get("kind") == "ingest")
        assert 1 <= n_jobs <= 3  # only non-empty partitions opened jobs
        # None round-trips as empty-string wire value → NULL on read
        back = read_object(spark, {**opts, "chunk_size": "10"}, "Thing", coerce=False)
        vals = {r["Key"]: r["Val"] for r in back.collect()}
        assert vals == {"X1": "a", "X2": "b", "X3": None}

        with pytest.raises(Exception, match="append-only"):
            df.write.format("sfetl").options(**opts).mode("overwrite").save()
    finally:
        server.stop()


# -- Bulk 2.0 upsert / delete / failedResults (r10 verdict task 3) ----------


def _login(url):
    c = SfClient(client_id="app", client_secret="shhh", login_url=url, backoff_base=0.01)
    c.login("user@test", "pw")
    return c


def test_bulk_upsert_updates_not_duplicates():
    """Upsert on an external id updates matching rows in place and
    inserts the rest — re-running the SAME upsert is a no-op on row
    count (the idempotence exactly-once loads build on)."""
    rows = [
        {"Id": "500X1", "Ext__c": "K1", "Val": "old1"},
        {"Id": "500X2", "Ext__c": "K2", "Val": "old2"},
    ]
    server = MockSalesforce(object_name="Case", rows=list(rows))
    url = server.start()
    try:
        c = _login(url)
        job = c.create_ingest_job("Case", operation="upsert", external_id_field="Ext__c")
        assert job.operation == "upsert" and job.external_id_field == "Ext__c"
        csv_text = "Ext__c,Val\nK1,new1\nK3,new3\n"
        c.upload_ingest_batch(job.id, csv_text)
        c.close_ingest_job(job.id)
        done = c.wait_for_ingest_job(job.id)
        assert done.number_records_processed == 2
        assert done.number_records_failed == 0
        by_ext = {r["Ext__c"]: r for r in server.rows}
        assert len(server.rows) == 3  # K1 updated, K2 untouched, K3 inserted
        assert by_ext["K1"]["Val"] == "new1"
        assert by_ext["K1"]["Id"] == "500X1"  # Id is server-owned on upsert
        assert by_ext["K2"]["Val"] == "old2"
        assert by_ext["K3"]["Val"] == "new3" and by_ext["K3"]["Id"]

        # replay the identical upsert: no duplicates, same values
        j2 = c.create_ingest_job("Case", operation="upsert", external_id_field="Ext__c")
        c.upload_ingest_batch(j2.id, csv_text)
        c.close_ingest_job(j2.id)
        c.wait_for_ingest_job(j2.id)
        assert len(server.rows) == 3
    finally:
        server.stop()


def test_bulk_upsert_requires_external_id():
    server = MockSalesforce(object_name="Case", rows=[])
    url = server.start()
    try:
        with pytest.raises(ResponseError, match="externalIdFieldName"):
            _login(url).create_ingest_job("Case", operation="upsert")
    finally:
        server.stop()


def test_bulk_delete_and_failed_results():
    """Delete removes known Ids; unknown Ids land in failedResults
    with the original row payload retrievable."""
    rows = [{"Id": f"500D{i}", "Val": str(i)} for i in range(4)]
    server = MockSalesforce(object_name="Case", rows=list(rows))
    url = server.start()
    try:
        c = _login(url)
        job = c.create_ingest_job("Case", operation="delete")
        c.upload_ingest_batch(job.id, "Id\n500D1\n500D3\nNOPE\n")
        c.close_ingest_job(job.id)
        done = c.wait_for_ingest_job(job.id)
        assert done.number_records_processed == 2
        assert done.number_records_failed == 1
        assert sorted(r["Id"] for r in server.rows) == ["500D0", "500D2"]
        failed = c.get_ingest_failed_results(job.id)
        lines = failed.strip().split("\n")
        assert lines[0] == "sf__Id,sf__Error,Id"
        assert "NOPE" in lines[1] and "not found" in lines[1]
    finally:
        server.stop()


def test_bulk_upsert_empty_key_rows_fail_not_insert():
    server = MockSalesforce(object_name="Case", rows=[])
    url = server.start()
    try:
        c = _login(url)
        job = c.create_ingest_job("Case", operation="upsert", external_id_field="Ext__c")
        c.upload_ingest_batch(job.id, "Ext__c,Val\nK1,a\n,b\n")
        c.close_ingest_job(job.id)
        done = c.wait_for_ingest_job(job.id)
        assert done.number_records_processed == 1
        assert done.number_records_failed == 1
        assert len(server.rows) == 1
        assert "empty external id" in c.get_ingest_failed_results(job.id)
    finally:
        server.stop()


def test_spark_write_upsert_and_failed_results_df(spark):
    """The full Spark leg: df.write upsert via options, then the
    failed-rows sweep surfaced as a DataFrame."""
    from sf_etl_spark.connector.datasource import register as register_sfetl
    from sf_etl_spark.connector.ingest import failed_results_df

    fields = [
        {"name": "Id", "type": "id", "length": 18, "nillable": False},
        {"name": "Ext__c", "type": "string", "length": 20},
        {"name": "Val", "type": "string", "length": 20},
    ]
    seed = [{"Id": "500S1", "Ext__c": "K1", "Val": "old"}]
    server = MockSalesforce(object_name="Thing", fields=fields, rows=list(seed))
    url = server.start()
    try:
        register_sfetl(spark)
        opts = {**sf_options(url), "object": "Thing"}
        df = spark.createDataFrame(
            [("K1", "new"), ("K2", "b"), (None, "dropme")], ["Ext__c", "Val"]
        ).repartition(2)
        (
            df.write.format("sfetl")
            .options(**opts, operation="upsert", externalIdFieldName="Ext__c")
            .mode("append")
            .save()
        )
        by_ext = {r.get("Ext__c"): r for r in server.rows}
        assert by_ext["K1"]["Val"] == "new" and by_ext["K1"]["Id"] == "500S1"
        assert by_ext["K2"]["Val"] == "b"
        assert len(server.rows) == 2  # null-key row failed, not inserted

        failed = failed_results_df(spark, opts)  # sweep, no ids tracked
        rows = failed.collect()
        assert len(rows) == 1
        assert rows[0]["fields"]["Val"] == "dropme"
        assert "empty external id" in rows[0]["sf_error"]
    finally:
        server.stop()


def test_spark_write_upsert_option_validation(spark):
    from sf_etl_spark.connector.datasource import register as register_sfetl

    register_sfetl(spark)
    server = MockSalesforce(object_name="Thing", rows=[])
    url = server.start()
    try:
        opts = {**sf_options(url), "object": "Thing"}
        df = spark.createDataFrame([("K1", "a")], ["Ext__c", "Val"])
        with pytest.raises(Exception, match="requires the externalIdFieldName"):
            df.write.format("sfetl").options(**opts, operation="upsert").mode(
                "append"
            ).save()
        with pytest.raises(Exception, match="not a column"):
            df.write.format("sfetl").options(
                **opts, operation="upsert", externalIdFieldName="Missing__c"
            ).mode("append").save()
        with pytest.raises(Exception, match="unsupported ingest operation"):
            df.write.format("sfetl").options(**opts, operation="merge").mode(
                "append"
            ).save()
    finally:
        server.stop()


def _csv_cells(text: str, names: list[str], delimiter: str = ",") -> list[tuple]:
    from sf_etl_spark.connector.datasource import _csv_batches

    return [
        tuple(r[n] for n in names)
        for b in _csv_batches(text, names, delimiter)
        for r in b.to_pylist()
    ]


def test_bulk_csv_chunk_parses_to_wire_cells():
    """A bulk result chunk reads as the wire cells: quoted delimiters
    and newlines kept, empty and quoted-empty fields null, columns
    picked by header name (a missing one reads null), the declared
    delimiter used, CRLF rows alike, an empty chunk gives no rows."""
    names = ["Id", "Name", "Note"]
    text = 'Name,Id\n"a,b",1\n"line1\nline2",2\n,3\n"",4\n'
    assert _csv_cells(text, names) == [
        ("1", "a,b", None),
        ("2", "line1\nline2", None),
        ("3", None, None),
        ("4", None, None),
    ]
    assert _csv_cells("Id|Name|Note\r\n1|x,y|\r\n2|\"p|q\"|z\r\n", names, "|") == [
        ("1", "x,y", None),
        ("2", "p|q", "z"),
    ]
    assert _csv_cells("Id\tName\n1\tx y\n", names, "\t") == [("1", "x y", None)]
    assert _csv_cells("", names) == []
    assert _csv_cells("Id,Name\n", names) == []


def test_rest_page_renders_json_scalars_as_wire_strings():
    """REST records are built column by column; JSON booleans and
    numbers read as the strings bulk CSV carries, strings and nulls
    pass through."""
    from types import SimpleNamespace

    from sf_etl_spark.connector.datasource import _rest_batches

    records = [
        {"Id": "1", "IsEscalated": True, "NumCalls": 3, "Amount": 10.5},
        {"Id": "2", "IsEscalated": False, "NumCalls": None, "Amount": 0},
    ]
    client = SimpleNamespace(query_pages=lambda soql: iter([SimpleNamespace(records=records)]))
    names = ["Id", "IsEscalated", "NumCalls", "Amount", "Absent"]
    (batch,) = _rest_batches(client, "SELECT ...", names)
    assert batch.schema.names == names
    assert [tuple(r.values()) for r in batch.to_pylist()] == [
        ("1", "true", "3", "10.5", None),
        ("2", "false", None, "0", None),
    ]


def test_sink_csv_matches_format_cell_per_value():
    """The sink's Arrow CSV parses back, with csv.reader, to exactly
    _format_cell of every value, for every column type the sink meets;
    an empty string is written as a bare empty field."""
    import csv
    import datetime
    import io

    import pyarrow as pa

    from sf_etl_spark.connector.datasource import _csv_rows, _format_cell, _wire_batch

    ts = datetime.datetime(2024, 1, 5, 12, 30, 15, 250999)
    utc = ts.replace(tzinfo=datetime.timezone.utc)
    day, old_day = datetime.date(2024, 1, 5), datetime.date(999, 12, 31)
    dec = decimal.Decimal
    columns = {
        "s": (pa.string(), ["a,b", 'say "hi"', "l1\nl2", None, ""]),
        "b": (pa.bool_(), [True, False, None, True, False]),
        "i": (pa.int64(), [7, -3, None, 0, 10**15]),
        "f": (pa.float64(), [1.0, 0.1, None, 1e20, -2.5]),
        "d": (pa.decimal128(12, 2), [dec("3.50"), None, dec("0.00"), None, dec("-1.00")]),
        "day": (pa.date32(), [day, None, old_day, None, None]),
        "ts": (pa.timestamp("us", tz="UTC"), [utc, None, utc, None, None]),
        "ntz": (pa.timestamp("us"), [ts, None, None, ts, None]),
    }
    batch = pa.RecordBatch.from_arrays(
        [pa.array(v, type=t) for t, v in columns.values()], names=list(columns)
    )
    out = _csv_rows(_wire_batch(batch)).decode("utf-8")
    expected = [[_format_cell(c) for c in r.values()] for r in batch.to_pylist()]
    assert list(csv.reader(io.StringIO(out))) == expected
    assert out.splitlines()[-1].startswith(',"false",')  # "" → bare empty field


def test_sink_slices_a_batch_over_target_job_mb():
    """One Arrow batch larger than target_job_mb opens several ingest
    jobs, each within the budget, holding every row once."""
    import csv
    import io

    import pyarrow as pa
    from pyspark.sql.types import StringType, StructField, StructType

    from sf_etl_spark.connector.datasource import SfIngestWriter

    server = MockSalesforce(object_name="Thing", rows=[])
    url = server.start()
    try:
        names = ["Key", "Val"]
        schema = StructType([StructField(n, StringType()) for n in names])
        limit = 2048
        writer = SfIngestWriter(
            schema, {**sf_options(url), "object": "Thing", "target_job_mb": str(limit / 2**20)}
        )
        keys = [f"K{i:04d}" for i in range(300)]
        batch = pa.RecordBatch.from_arrays(
            [pa.array(keys), pa.array([f"payload-{i:06d}" for i in range(300)])], names=names
        )
        commit = writer.write(iter([batch, batch.slice(0, 0)]))
        assert commit.n_rows == 300 and len(commit.job_ids) >= 3
        csvs = [server.jobs[j]["csv"] for j in commit.job_ids]
        assert all(len(c.encode()) <= limit for c in csvs)
        assert all(c.startswith("Key,Val\n") for c in csvs)
        rows = [r for c in csvs for r in list(csv.reader(io.StringIO(c)))[1:]]
        assert [r[0] for r in rows] == keys
    finally:
        server.stop()


def test_format_cell_salesforce_conventions():
    """r10 ADVICE: booleans must serialize lowercase, timestamps as
    ISO-8601 — not Python reprs."""
    import datetime

    from sf_etl_spark.connector.datasource import _format_cell

    assert _format_cell(True) == "true"
    assert _format_cell(False) == "false"
    assert _format_cell(None) == ""
    assert _format_cell(7) == "7"
    assert _format_cell(decimal.Decimal("3.50")) == "3.50"
    assert _format_cell(datetime.date(2024, 1, 5)) == "2024-01-05"
    naive = datetime.datetime(2024, 1, 5, 12, 30, 15, 250000)
    assert _format_cell(naive) == "2024-01-05T12:30:15.250Z"
    aware = datetime.datetime(
        2024, 1, 5, 13, 30, 15, tzinfo=datetime.timezone(datetime.timedelta(hours=1))
    )
    assert _format_cell(aware) == "2024-01-05T12:30:15.000Z"


def test_native_stream_writer_sfetl(spark, tmp_path):
    """writeStream.format('sfetl'): per-micro-batch ingest jobs with
    the commit barrier, no foreachBatch. Two staged files at 1 file
    per trigger = 2 batches -> >= 2 ingest jobs; upsert keys converge."""
    import pyspark.sql.functions as SF
    from sf_etl_spark.connector.datasource import register as register_sfetl

    fields = [
        {"name": "Id", "type": "id", "length": 18, "nillable": False},
        {"name": "K", "type": "string", "length": 8},
        {"name": "V", "type": "string", "length": 8},
    ]
    server = MockSalesforce(object_name="Thing", fields=fields, rows=[])
    url = server.start()
    try:
        register_sfetl(spark)
        src = tmp_path / "src"
        src.mkdir()
        spark.createDataFrame([("k1", "a"), ("k2", "b")], ["K", "V"]).coalesce(
            1
        ).write.parquet(str(src / "f1"))
        spark.createDataFrame([("k2", "B2"), ("k3", "c")], ["K", "V"]).coalesce(
            1
        ).write.parquet(str(src / "f2"))
        import os, shutil, time as _t

        for i, d in enumerate(["f1", "f2"]):
            f = [x for x in os.listdir(src / d) if x.endswith(".parquet")][0]
            dst = str(src / f"chunk_{i}.parquet")
            os.replace(str(src / d / f), dst)
            os.utime(dst, (_t.time() + i, _t.time() + i))
            shutil.rmtree(str(src / d))
        stream = (
            spark.readStream.schema("K string, V string")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        opts = {**sf_options(url), "object": "Thing"}
        q = (
            stream.writeStream.format("sfetl")
            .options(**opts, operation="upsert", externalIdFieldName="K")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        n_jobs = sum(1 for j in server.jobs.values() if j.get("kind") == "ingest")
        assert n_jobs >= 2  # one job per non-empty batch partition, >=1 per batch
        by_k = {r["K"]: r["V"] for r in server.rows}
        assert by_k == {"k1": "a", "k2": "B2", "k3": "c"}  # k2 upserted, not duplicated
        assert len(server.rows) == 3
    finally:
        server.stop()


def test_bulk_upsert_missing_key_column_fails_all_rows():
    """An upsert CSV that omits the external-id column entirely must
    fail EVERY row (retrievable via failedResults), not insert them."""
    server = MockSalesforce(object_name="Case", rows=[])
    url = server.start()
    try:
        c = _login(url)
        job = c.create_ingest_job("Case", operation="upsert", external_id_field="Ext__c")
        c.upload_ingest_batch(job.id, "Val\na\nb\n")
        c.close_ingest_job(job.id)
        done = c.wait_for_ingest_job(job.id)
        assert done.number_records_processed == 0
        assert done.number_records_failed == 2
        assert len(server.rows) == 0
        assert "missing column" in c.get_ingest_failed_results(job.id)
    finally:
        server.stop()


# -- size-governed chunked writes + round-robin commit poll ------------------


def test_spark_write_chunks_oversized_partition(spark):
    """A partition bigger than target_job_mb must stream into MULTIPLE
    size-bounded ingest jobs (one CSV upload per job), never one
    unbounded in-memory buffer — and the scan-back must be identical."""
    from sf_etl_spark.connector.datasource import register as register_sfetl

    fields = [
        {"name": "Id", "type": "id", "length": 18, "nillable": False},
        {"name": "Key", "type": "long"},
        {"name": "Val", "type": "string", "length": 40},
    ]
    server = MockSalesforce(object_name="Thing", fields=fields, rows=[], page_size=500)
    url = server.start()
    try:
        register_sfetl(spark)
        data = [(i, f"payload-{i:06d}") for i in range(300)]
        df = spark.createDataFrame(data, ["Key", "Val"]).coalesce(1)
        opts = {**sf_options(url), "object": "Thing"}
        # ~6.3 KB of CSV at a 2 KiB budget -> expect ~4 jobs from ONE partition
        (
            df.write.format("sfetl")
            .options(**opts, target_job_mb=str(2048 / (1024 * 1024)))
            .mode("append")
            .save()
        )
        ingest_jobs = [j for j in server.jobs.values() if j.get("kind") == "ingest"]
        assert len(ingest_jobs) >= 2, "oversized partition did not split into jobs"
        limit = 2048
        max_line = max(len(ln) for j in ingest_jobs for ln in j["csv"].splitlines()) + 2
        for j in ingest_jobs:
            assert len(j["csv"]) <= limit + max_line  # budget + at most one row overshoot
        back = read_object(spark, {**opts, "chunk_size": "500"}, "Thing", coerce=False)
        got = sorted((int(r["Key"]), r["Val"]) for r in back.collect())
        assert got == data  # byte-identical round trip across the split
    finally:
        server.stop()


def test_commit_poll_round_robin_is_one_sleep_per_sweep(monkeypatch):
    """The N-job commit barrier must wait O(slowest job): one status
    sweep over ALL pending jobs per poll interval, not a serial
    poll-to-completion per job (O(N * interval))."""
    from sf_etl_spark.connector.client import BulkJob

    c = SfClient(client_id="a", client_secret="b", login_url="http://unused")
    sweeps_left = {f"j{i}": 3 for i in range(5)}

    def fake_status(jid):
        sweeps_left[jid] -= 1
        state = JobState.JOB_COMPLETE if sweeps_left[jid] <= 0 else JobState.IN_PROGRESS
        return BulkJob(id=jid, state=state)

    sleeps = []
    monkeypatch.setattr(c, "get_ingest_job_status", fake_status)
    monkeypatch.setattr(
        "sf_etl_spark.connector.client.time.sleep", lambda s: sleeps.append(s)
    )
    done = c.wait_for_ingest_jobs(list(sweeps_left))
    assert set(done) == set(sweeps_left)
    # serial polling would sleep ~10 times (2 per job); round-robin
    # sleeps once per sweep -> exactly 2 here
    assert len(sleeps) == 2


def test_commit_poll_raises_on_failed_job(monkeypatch):
    from sf_etl_spark.connector.client import BulkJob
    from sf_etl_spark.connector.errors import JobFailedError

    c = SfClient(client_id="a", client_secret="b", login_url="http://unused")

    def fake_status(jid):
        state = JobState.FAILED if jid == "bad" else JobState.JOB_COMPLETE
        return BulkJob(id=jid, state=state)

    monkeypatch.setattr(c, "get_ingest_job_status", fake_status)
    with pytest.raises(JobFailedError, match="bad"):
        c.wait_for_ingest_jobs(["ok", "bad"])


def test_spark_write_commit_polls_round_robin_not_serially(spark):
    """End-to-end proof the commit barrier SWEEPS: the per-id status
    GETs must interleave across all pending jobs (j1,j2,j3,j4,
    j1,j2,...), never poll one job to completion before touching the
    next (j1,j1,j1,j2,...). Request-order assertion — wall-clock-free,
    so the documented host contention bursts can't flake it."""
    import re as _re

    from sf_etl_spark.connector.datasource import register as register_sfetl

    fields = [
        {"name": "Id", "type": "id", "length": 18, "nillable": False},
        {"name": "Key", "type": "long"},
    ]
    server = MockSalesforce(
        object_name="Thing", fields=fields, rows=[], fail_first_polls=2
    )
    url = server.start()
    try:
        register_sfetl(spark)
        df = spark.createDataFrame([(i,) for i in range(40)], ["Key"]).repartition(4)
        opts = {**sf_options(url), "object": "Thing"}
        df.write.format("sfetl").options(**opts).mode("append").save()
        n_jobs = sum(1 for j in server.jobs.values() if j.get("kind") == "ingest")
        assert n_jobs == 4
        status_gets = [
            m.group(1)
            for r in server.requests_seen
            if (m := _re.fullmatch(r"GET .*/jobs/ingest/(\w+)", r))
        ]
        # first sweep touches every job exactly once before any repeat
        assert len(set(status_gets[:n_jobs])) == n_jobs, status_gets[:8]
    finally:
        server.stop()


# -- real-endpoint semantics: rate limits, job-list pagination, CSV rules ----


def test_insert_with_id_column_fails_job():
    """Real Bulk 2.0 rejects an Id column on insert jobs — the job goes
    Failed with an errorMessage and applies nothing."""
    from sf_etl_spark.connector.errors import JobFailedError

    server = MockSalesforce(object_name="Case", rows=[])
    url = server.start()
    try:
        c = _login(url)
        job = c.create_ingest_job("Case")
        c.upload_ingest_batch(job.id, "Id,Priority\nA1,Low\n")
        c.close_ingest_job(job.id)
        with pytest.raises(JobFailedError, match="Id column not allowed"):
            c.wait_for_ingest_job(job.id)
        assert len(server.rows) == 0
    finally:
        server.stop()


def test_upsert_empty_cell_preserves_field_na_sentinel_nulls():
    """Bulk 2.0 upsert CSV semantics: an EMPTY cell leaves the target
    field unchanged; only the '#N/A' sentinel nulls it."""
    rows = [{"Id": "500Z1", "Ext__c": "K1", "Val": "keepme", "Note": "orig"}]
    server = MockSalesforce(object_name="Case", rows=list(rows))
    url = server.start()
    try:
        c = _login(url)
        job = c.create_ingest_job("Case", operation="upsert", external_id_field="Ext__c")
        c.upload_ingest_batch(job.id, "Ext__c,Val,Note\nK1,,#N/A\n")
        c.close_ingest_job(job.id)
        done = c.wait_for_ingest_job(job.id)
        assert done.number_records_processed == 1
        (row,) = server.rows
        assert row["Val"] == "keepme"  # empty cell skipped, not wiped
        assert row["Note"] == ""  # '#N/A' explicitly nulled
    finally:
        server.stop()


def test_list_ingest_jobs_paginates_and_sweep_scopes_by_object(spark):
    """The job-list endpoint paginates (r11 ADVICE): the client must
    walk nextRecordsUrl to exhaustion, and the failedResults sweep
    must include Failed-state jobs and only THIS object's jobs."""
    from sf_etl_spark.connector.ingest import failed_results_df

    server = MockSalesforce(object_name="Case", rows=[], job_page_size=2)
    url = server.start()
    try:
        c = _login(url)
        # 5 upsert jobs (> 2 pages); job 3 carries a bad row
        for i in range(5):
            job = c.create_ingest_job("Case", operation="upsert", external_id_field="Ext__c")
            bad = ",nokey\n" if i == 3 else ""
            c.upload_ingest_batch(job.id, f"Ext__c,Val\nK{i},v{i}\n{bad}")
            c.close_ingest_job(job.id)
            c.wait_for_ingest_job(job.id)
        jobs = c.list_ingest_jobs()
        assert len(jobs) == 5  # all pages walked
        pages = [r for r in server.requests_seen if "queryLocator" in r]
        assert len(pages) >= 2  # pagination actually exercised

        opts = {**sf_options(url), "object": "Case"}
        failed = failed_results_df(spark, opts).collect()
        assert len(failed) == 1 and "empty external id" in failed[0]["sf_error"]
        # a different object's sweep must not pull Case jobs
        other = failed_results_df(spark, {**sf_options(url), "object": "Other"})
        assert other.count() == 0
    finally:
        server.stop()


def test_failed_results_sweep_includes_failed_state_jobs(spark):
    """A job that FAILED at the job level still lists in the sweep
    (its failedResults CSV is retrievable, possibly empty) instead of
    being silently skipped."""
    from sf_etl_spark.connector.client import JobState as JS

    server = MockSalesforce(object_name="Case", rows=[])
    url = server.start()
    try:
        c = _login(url)
        job = c.create_ingest_job("Case")
        c.upload_ingest_batch(job.id, "Id,Priority\nA1,Low\n")  # job-level reject
        c.close_ingest_job(job.id)
        with pytest.raises(Exception):
            c.wait_for_ingest_job(job.id)
        listed = {j.id: j.state for j in c.list_ingest_jobs()}
        assert listed[job.id] == JS.FAILED
        # the CSV is servable for the Failed job (no 400)
        assert c.get_ingest_failed_results(job.id).startswith("sf__Id,sf__Error")
    finally:
        server.stop()


def test_429_burst_retried_with_retry_after(client, mock_sf):
    """An injected 429 storm (Retry-After: 0.05) must be absorbed by
    the retry loop — bounded wait, request succeeds afterwards."""
    import time as _t

    server, _ = mock_sf
    with server.lock:
        server.inject_429_remaining = 2
    t0 = _t.monotonic()
    rows = client.query("SELECT Id FROM Case LIMIT 3")
    elapsed = _t.monotonic() - t0
    assert len(rows) == 3
    assert server.n_429_served >= 2
    # two honored Retry-After sleeps of 0.05s, not exponential seconds
    assert elapsed < 2.0
    server.n_429_served = 0


def test_client_counts_requests_retries_429s_and_backoff(mock_sf, monkeypatch):
    """SfClient keeps its own transport counters, so a run against a
    real org shows its retries and backoff, not only the mock's tally:
    a burst of three 429s reads 3 retries, 3 429s, 4 requests and the
    seconds actually slept."""
    import sf_etl_spark.connector.client as client_mod

    server, url = mock_sf
    c = SfClient(client_id="app", client_secret="shhh", login_url=url, backoff_base=0.01)
    c.login("user@test", "pw")
    assert (c.requests, c.retries, c.http_429, c.backoff_s) == (1, 0, 0, 0.0)
    slept: list[float] = []
    monkeypatch.setattr(client_mod.time, "sleep", slept.append)
    with server.lock:
        server.inject_429_remaining = 3
    try:
        assert len(c.query("SELECT Id FROM Case LIMIT 3")) == 3
    finally:
        with server.lock:
            server.inject_429_remaining = 0
            server.n_429_served = 0
    assert (c.requests, c.retries, c.http_429) == (1 + 4, 3, 3)
    assert len(slept) == 3 and c.backoff_s == pytest.approx(sum(slept))
    assert c.backoff_s > 0


def test_429_exhaustion_raises_response_error(mock_sf):
    """More consecutive 429s than retries -> a typed error, not an
    infinite loop."""
    server, url = mock_sf
    c = SfClient(
        client_id="app", client_secret="shhh", login_url=url,
        backoff_base=0.01, max_retries=1,
    )
    c.login("user@test", "pw")
    with server.lock:
        server.inject_429_remaining = 10
    # the final attempt surfaces the typed 429 error (REQUEST_LIMIT_EXCEEDED)
    with pytest.raises(ResponseError, match="TotalRequests"):
        c.query("SELECT Id FROM Case LIMIT 1")
    with server.lock:
        server.inject_429_remaining = 0
        server.n_429_served = 0


def test_sforce_call_options_header_sent(mock_sf):
    """call_options rides every request as Sforce-Call-Options so org
    admins can attribute API usage to this integration."""
    server, url = mock_sf
    c = SfClient(
        client_id="app", client_secret="shhh", login_url=url,
        backoff_base=0.01, call_options="client=sf_etl_spark",
    )
    c.login("user@test", "pw")
    seen = {}
    orig_route = server.route

    def spying_route(h, method):
        seen[h.path] = h.headers.get("Sforce-Call-Options")
        return orig_route(h, method)

    server.route = spying_route
    try:
        c.query("SELECT Id FROM Case LIMIT 1")
    finally:
        server.route = orig_route
    assert any(v == "client=sf_etl_spark" for v in seen.values())


def test_native_stream_writer_captures_failed_rows(spark, tmp_path):
    """failed_results_path: each micro-batch's rejects land as a
    batchId-named JSONL file (replay-idempotent), containing exactly
    the poisoned rows."""
    from sf_etl_spark.connector.datasource import register as register_sfetl

    fields = [
        {"name": "Id", "type": "id", "length": 18, "nillable": False},
        {"name": "K", "type": "string", "length": 8},
        {"name": "Tag", "type": "string", "length": 8},
    ]
    server = MockSalesforce(object_name="Thing", fields=fields, rows=[])
    url = server.start()
    try:
        register_sfetl(spark)
        src = tmp_path / "src"
        src.mkdir()
        import os, shutil, time as _t

        batches = [[("k1", "a"), (None, "poison1")], [("k2", "b"), (None, "poison2")]]
        for i, rows in enumerate(batches):
            d = src / f"tmp{i}"
            spark.createDataFrame(rows, "K string, Tag string").coalesce(1).write.parquet(str(d))
            f = [x for x in os.listdir(d) if x.endswith(".parquet")][0]
            dst = str(src / f"chunk_{i}.parquet")
            os.replace(str(d / f), dst)
            os.utime(dst, (_t.time() + i, _t.time() + i))
            shutil.rmtree(str(d))
        side = tmp_path / "rejects"
        stream = (
            spark.readStream.schema("K string, Tag string")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        q = (
            stream.writeStream.format("sfetl")
            .options(
                **sf_options(url),
                object="Thing",
                operation="upsert",
                externalIdFieldName="K",
                failed_results_path=str(side),
            )
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        files = sorted(os.listdir(side))
        assert len(files) == 2 and all(f.startswith("rejects-batch") for f in files)
        rej = spark.read.schema(REJECTS_SCHEMA).json(str(side))
        rows = rej.collect()
        assert sorted(r["fields"]["Tag"] for r in rows) == ["poison1", "poison2"]
        assert all("empty external id" in r["sf_error"] for r in rows)
        assert sorted({r["batch_id"] for r in rows}) == [0, 1]
        # healthy rows landed
        assert sorted(r["K"] for r in server.rows) == ["k1", "k2"]
    finally:
        server.stop()


def test_filesystem_for_resolves_schemes(tmp_path, monkeypatch):
    """The reject side table and watermark state resolve their paths
    through pyarrow.fs so they can land on object storage a real
    cluster uses (r12 verdict task 1): URI schemes resolve via
    FileSystem.from_uri (with the Hadoop s3a/s3n aliases rewritten to
    the s3 scheme pyarrow speaks), scheme-less paths fall back to
    LocalFileSystem + abspath, and an UNRECOGNIZED scheme raises —
    a silent local fallback for 's3a://…' would write cluster
    artifacts to a driver-local './s3a:/…' directory, i.e. lose them."""
    import os
    from pyarrow import fs as pafs

    from sf_etl_spark.connector.fsutil import filesystem_for

    f, p = filesystem_for(f"file://{tmp_path}/side")
    assert isinstance(f, pafs.LocalFileSystem) and p == f"{tmp_path}/side"
    f, p = filesystem_for(str(tmp_path / "bare"))
    assert isinstance(f, pafs.LocalFileSystem) and p == str(tmp_path / "bare")
    f, p = filesystem_for("relative/side")
    assert isinstance(f, pafs.LocalFileSystem)
    assert p == os.path.abspath("relative/side")
    # s3a/s3n alias to s3 BEFORE from_uri (checked on the pure rewrite
    # — a real s3 resolution would hit the network)
    from sf_etl_spark.connector.fsutil import _normalize_uri

    assert _normalize_uri("s3a://bucket/state.json") == "s3://bucket/state.json"
    assert _normalize_uri("S3N://bucket/k") == "s3://bucket/k"
    assert _normalize_uri("gs://bucket/k") == "gs://bucket/k"
    with pytest.raises(Exception):  # unrecognized scheme must NOT fall back
        filesystem_for("bogus://bucket/state.json")


def test_native_stream_writer_side_table_via_fs_uri(spark, tmp_path, monkeypatch):
    """failed_results_path given as a file:// URI must land the reject
    files at the URI's path — proof the commit hook writes through the
    pyarrow.fs handle, with no os.* path dependency (the old os.makedirs
    on 'file:///…' would have created a literal 'file:' directory under
    the driver's CWD and never touched the target). The hook runs in
    the Python worker Spark spawns for streaming-sink commits, not in
    this process: the side-file write is disabled here, and the file
    still lands."""
    import os

    from sf_etl_spark.connector import fsutil
    from sf_etl_spark.connector.datasource import register as register_sfetl

    def not_here(path, payload):
        raise AssertionError("the sink's commit ran in the test process")

    monkeypatch.setattr(fsutil, "write_small_file_atomic", not_here)

    fields = [
        {"name": "Id", "type": "id", "length": 18, "nillable": False},
        {"name": "K", "type": "string", "length": 8},
        {"name": "Tag", "type": "string", "length": 8},
    ]
    server = MockSalesforce(object_name="Thing", fields=fields, rows=[])
    url = server.start()
    try:
        register_sfetl(spark)
        src = tmp_path / "src"
        src.mkdir()
        spark.createDataFrame(
            [("k1", "good"), (None, "poison")], "K string, Tag string"
        ).coalesce(1).write.parquet(str(src / "batch0"))
        side = tmp_path / "rejects"
        q = (
            spark.readStream.schema("K string, Tag string")
            .parquet(str(src / "batch0"))
            .writeStream.format("sfetl")
            .options(
                **sf_options(url),
                object="Thing",
                operation="upsert",
                externalIdFieldName="K",
                failed_results_path=f"file://{side}",
            )
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        # the file:// URI resolved to the local path — not to a literal
        # "file:" directory — and the reject row is exactly the poison
        files = sorted(os.listdir(side))
        assert files == ["rejects-batch000000000.jsonl"]
        assert not os.path.exists("file:")
        rej = spark.read.schema(REJECTS_SCHEMA).json(str(side))
        rows = rej.collect()
        assert [r["fields"]["Tag"] for r in rows] == ["poison"]
        assert [r["K"] for r in server.rows] == ["k1"]
    finally:
        server.stop()


def test_client_cache_amortizes_logins_per_process():
    """Repeated _client_from_options calls with identical options must
    reuse one authenticated client (one password grant per worker
    process, not per task); changed credentials key a NEW entry."""
    from sf_etl_spark.connector.datasource import _client_from_options

    server = MockSalesforce(object_name="Case", rows=[])
    url = server.start()
    try:
        opts = {**sf_options(url), "object": "Case"}
        c1 = _client_from_options(opts)
        c2 = _client_from_options(dict(opts))  # fresh dict, same values
        assert c1 is c2
        assert server.logins == 1
        # a rotated password must NOT reuse the old session
        server.valid_token = "ROT"
        c3 = _client_from_options({**opts, "password": "pw2"})
        assert c3 is not c1
        assert server.logins == 2
    finally:
        server.stop()


def test_chunked_write_rejects_span_chunks(spark):
    """Chunking x partial failure: poisoned rows scattered across a
    partition that splits into several jobs must ALL surface in the
    failed-results sweep (each chunk-job reports its own rejects)."""
    from sf_etl_spark.connector.datasource import register as register_sfetl
    from sf_etl_spark.connector.ingest import failed_results_df

    fields = [
        {"name": "Id", "type": "id", "length": 18, "nillable": False},
        {"name": "Ext__c", "type": "string", "length": 20},
        {"name": "Val", "type": "string", "length": 40},
    ]
    server = MockSalesforce(object_name="Thing", fields=fields, rows=[], page_size=500)
    url = server.start()
    try:
        register_sfetl(spark)
        # every 10th key poisoned (empty external id), single partition,
        # tiny job budget -> poisoned rows land in DIFFERENT chunk jobs
        data = [
            (None if i % 10 == 0 else f"K{i:04d}", f"payload-{i:06d}")
            for i in range(200)
        ]
        df = spark.createDataFrame(data, ["Ext__c", "Val"]).coalesce(1)
        opts = {**sf_options(url), "object": "Thing"}
        (
            df.write.format("sfetl")
            .options(
                **opts,
                operation="upsert",
                externalIdFieldName="Ext__c",
                target_job_mb=str(2048 / (1024 * 1024)),
            )
            .mode("append")
            .save()
        )
        n_jobs = sum(1 for j in server.jobs.values() if j.get("kind") == "ingest")
        assert n_jobs >= 2
        failed = failed_results_df(spark, opts).collect()
        assert len(failed) == 20  # every poisoned row surfaced
        assert len({r["job_id"] for r in failed}) >= 2  # from >= 2 chunk jobs
        assert len(server.rows) == 180
    finally:
        server.stop()


def test_max_jobs_per_task_budget_fails_fast(spark):
    """A partition whose chunking would exceed the per-task job budget
    must fail with sizing guidance BEFORE spraying the org's daily
    ingest-job quota — and its opened jobs must be aborted."""
    from sf_etl_spark.connector.datasource import register as register_sfetl

    fields = [
        {"name": "Id", "type": "id", "length": 18, "nillable": False},
        {"name": "Key", "type": "long"},
        {"name": "Val", "type": "string", "length": 40},
    ]
    server = MockSalesforce(object_name="Thing", fields=fields, rows=[])
    url = server.start()
    try:
        register_sfetl(spark)
        data = [(i, f"payload-{i:06d}") for i in range(300)]
        df = spark.createDataFrame(data, ["Key", "Val"]).coalesce(1)
        opts = {**sf_options(url), "object": "Thing"}
        with pytest.raises(Exception, match="max_jobs_per_task"):
            (
                df.write.format("sfetl")
                .options(
                    **opts,
                    target_job_mb=str(2048 / (1024 * 1024)),  # ~4 chunks
                    max_jobs_per_task="2",
                )
                .mode("append")
                .save()
            )
        # fail-fast cleanup: nothing half-applied
        ingest = [j for j in server.jobs.values() if j.get("kind") == "ingest"]
        assert all(j["state"] == "Aborted" for j in ingest)
        assert len(server.rows) == 0
    finally:
        server.stop()


# -- successfulResults / unprocessedrecords (results-retrieval triple) ------


def test_successful_results_created_vs_updated():
    """successfulResults carries sf__Id,sf__Created + original cols:
    upsert-miss rows report created=true with their server-assigned
    Id, upsert-hit rows created=false with the existing Id."""
    rows = [{"Id": "500P1", "Ext__c": "K1", "Val": "old"}]
    server = MockSalesforce(object_name="Case", rows=list(rows))
    url = server.start()
    try:
        c = _login(url)
        job = c.create_ingest_job("Case", operation="upsert", external_id_field="Ext__c")
        c.upload_ingest_batch(job.id, "Ext__c,Val\nK1,new\nK2,b\n")
        c.close_ingest_job(job.id)
        c.wait_for_ingest_job(job.id)
        lines = c.get_ingest_successful_results(job.id).strip().split("\n")
        assert lines[0] == "sf__Id,sf__Created,Ext__c,Val"
        by_key = {ln.split(",")[2]: ln for ln in lines[1:]}
        assert by_key["K1"] == "500P1,false,K1,new"  # update kept the Id
        assert by_key["K2"].endswith(",true,K2,b")
        assert by_key["K2"].startswith("500A")  # server-assigned Id
    finally:
        server.stop()


def test_unprocessed_records_on_job_level_failure_and_abort():
    """A job-level reject (Id on insert) or an abort never ATTEMPTS
    rows — the whole upload is retrievable as unprocessedrecords,
    distinct from row rejects."""
    server = MockSalesforce(object_name="Case", rows=[])
    url = server.start()
    try:
        c = _login(url)
        bad = c.create_ingest_job("Case")
        c.upload_ingest_batch(bad.id, "Id,Priority\nA1,Low\nA2,High\n")
        c.close_ingest_job(bad.id)
        with pytest.raises(Exception):
            c.wait_for_ingest_job(bad.id)
        lines = c.get_ingest_unprocessed_records(bad.id).strip().split("\n")
        assert lines == ["Id,Priority", "A1,Low", "A2,High"]

        ab = c.create_ingest_job("Case")
        c.upload_ingest_batch(ab.id, "Priority\nMed\n")
        c.abort_ingest_job(ab.id)
        lines = c.get_ingest_unprocessed_records(ab.id).strip().split("\n")
        assert lines == ["Priority", "Med"]
    finally:
        server.stop()


def test_spark_successful_results_df(spark):
    """The sweep-as-DataFrame leg for successes: one download task per
    job, created flag typed boolean, server Ids surfaced."""
    from sf_etl_spark.connector.datasource import register as register_sfetl
    from sf_etl_spark.connector.ingest import successful_results_df

    fields = [
        {"name": "Id", "type": "id", "length": 18, "nillable": False},
        {"name": "Ext__c", "type": "string", "length": 20},
        {"name": "Val", "type": "string", "length": 20},
    ]
    server = MockSalesforce(object_name="Thing", fields=fields, rows=[])
    url = server.start()
    try:
        register_sfetl(spark)
        opts = {**sf_options(url), "object": "Thing"}
        df = spark.createDataFrame([("K1", "a"), ("K2", "b")], ["Ext__c", "Val"])
        w = (
            df.coalesce(1).write.format("sfetl")
            .options(**opts, operation="upsert", externalIdFieldName="Ext__c")
            .mode("append")
        )
        w.save()
        w.save()  # replay: same keys now UPDATE
        got = successful_results_df(spark, opts).collect()
        assert len(got) == 4
        assert sum(1 for r in got if r["created"]) == 2
        assert sum(1 for r in got if not r["created"]) == 2
        assert all(r["sf_id"] for r in got)
        assert {r["fields"]["Ext__c"] for r in got} == {"K1", "K2"}
    finally:
        server.stop()


def test_unprocessed_records_df_resume_roundtrip(spark):
    """The 3-line resumable-loader flow: an aborted job's upload comes
    back as unprocessed_records_df, reshapes, and re-writes cleanly."""
    from sf_etl_spark.connector.datasource import register as register_sfetl
    from sf_etl_spark.connector.ingest import unprocessed_records_df

    fields = [
        {"name": "Id", "type": "id", "length": 18, "nillable": False},
        {"name": "Key", "type": "string", "length": 20},
    ]
    server = MockSalesforce(object_name="Thing", fields=fields, rows=[])
    url = server.start()
    try:
        register_sfetl(spark)
        opts = {**sf_options(url), "object": "Thing"}
        c = _login(url)
        job = c.create_ingest_job("Thing")
        c.upload_ingest_batch(job.id, "Key\nk1\nk2\nk3\n")
        c.abort_ingest_job(job.id)  # never processed
        retry = unprocessed_records_df(spark, opts)  # sweep Failed+Aborted
        assert retry.count() == 3
        out = retry.select(F.col("fields")["Key"].alias("Key"))
        out.write.format("sfetl").options(**opts).mode("append").save()
        assert sorted(r["Key"] for r in server.rows) == ["k1", "k2", "k3"]
    finally:
        server.stop()


def test_results_routes_reject_query_job_ids():
    """An ingest-results route hit with a QUERY job id must return the
    INVALIDJOBSTATE error body, never a handler crash."""
    server = MockSalesforce(object_name="Case")
    url = server.start()
    try:
        c = _login(url)
        qjob = c.create_query_job("Case", ["Id"])
        c.wait_for_job(qjob.id)  # JobComplete
        for call in (
            c.get_ingest_failed_results,
            c.get_ingest_successful_results,
            c.get_ingest_unprocessed_records,
        ):
            with pytest.raises(ResponseError, match="INVALIDJOBSTATE"):
                call(qjob.id)
    finally:
        server.stop()


def test_job_waits_back_off_on_the_built_in_cadence(monkeypatch):
    """A query-job wait and an ingest-jobs wait share one cadence: the
    first sleep is 0.02 s, each sweep that leaves a job pending sleeps
    1.5x longer, capped at 10 s — no caller-tunable interval."""
    from sf_etl_spark.connector.client import BulkJob

    c = SfClient(client_id="a", client_secret="b", login_url="http://unused")
    pending_sweeps = 20
    sweeps_left: dict[str, int] = {}

    def fake_status(jid):
        sweeps_left[jid] -= 1
        state = JobState.JOB_COMPLETE if sweeps_left[jid] < 0 else JobState.IN_PROGRESS
        return BulkJob(id=jid, state=state)

    sleeps = []
    monkeypatch.setattr(c, "get_query_job_status", fake_status)
    monkeypatch.setattr(c, "get_ingest_job_status", fake_status)
    monkeypatch.setattr(
        "sf_etl_spark.connector.client.time.sleep", lambda s: sleeps.append(s)
    )
    expected = [min(0.02 * 1.5**k, 10.0) for k in range(pending_sweeps)]
    assert expected[:3] == pytest.approx([0.02, 0.03, 0.045])
    assert expected[-1] == 10.0  # the cap binds within the run

    sweeps_left["q"] = pending_sweeps
    assert c.wait_for_job("q").state == JobState.JOB_COMPLETE
    assert sleeps == pytest.approx(expected)

    sleeps.clear()
    sweeps_left.update(i1=pending_sweeps, i2=pending_sweeps)
    done = c.wait_for_ingest_jobs(["i1", "i2"])
    assert set(done) == {"i1", "i2"}
    assert sleeps == pytest.approx(expected)  # one sleep per sweep


# -- injected (non-local) pyarrow filesystems through fsutil ----------------
# r13 verdict task 6: the docstrings promise object-store semantics —
# tmp+move convergence, recursive create_dir, crash recovery — but
# every prior test ultimately hit LocalFileSystem. These pin the
# GENERIC code path against filesystems that are not the local one:
# pyarrow's in-memory _MockFileSystem (nothing can silently fall back
# to os.*) and SubTreeFileSystem (a re-rooted delegate, the shape of a
# bucket-scoped store).


def _read_bytes(fs, path):
    with fs.open_input_stream(path) as f:
        return f.read()


def test_fsutil_scheme_registry_injected_fs(tmp_path):
    """register_scheme routes a URI scheme to a caller-supplied
    pyarrow filesystem instance (fsspec-wrapped stores, test doubles);
    write/read round-trips live on THAT fs, the .tmp sibling is
    consumed by the move, and deregistering restores strict
    unknown-scheme behavior."""
    import os

    from pyarrow import fs as pafs

    from sf_etl_spark.connector import fsutil

    mem = pafs._MockFileSystem()
    fsutil.register_scheme("mem", lambda rest: (mem, rest))
    try:
        f, p = fsutil.filesystem_for("mem://deep/dir/a.json")
        assert f is mem and p == "deep/dir/a.json"
        fsutil.write_small_file_atomic("mem://deep/dir/a.json", b'{"v": 1}')
        assert _read_bytes(mem, "deep/dir/a.json") == b'{"v": 1}'
        listed = mem.get_file_info(pafs.FileSelector("deep/dir"))
        assert [i.base_name for i in listed] == ["a.json"]  # tmp consumed by move
        assert not os.path.exists("mem:")  # nothing leaked locally
        # replay convergence: a fixed-name artifact overwrites in place
        fsutil.write_small_file_atomic("mem://deep/dir/a.json", b'{"v": 2}')
        assert _read_bytes(mem, "deep/dir/a.json") == b'{"v": 2}'
    finally:
        fsutil.unregister_scheme("mem")
    with pytest.raises(Exception):  # back to raise-on-unknown-scheme
        fsutil.filesystem_for("mem://deep/dir/a.json")
    # aliases apply BEFORE resolver lookup (r14 review pass): a
    # resolver registered for 's3' must also catch the Hadoop
    # spellings this module canonicalizes — otherwise an 's3a://'
    # path would bypass the injected fs and build a real S3FileSystem
    fsutil.register_scheme("s3", lambda rest: (mem, rest))
    try:
        f, p = fsutil.filesystem_for("s3a://bucket/wm.json")
        assert f is mem and p == "bucket/wm.json"
        f, p = fsutil.filesystem_for("S3N://bucket/wm.json")
        assert f is mem and p == "bucket/wm.json"
    finally:
        fsutil.unregister_scheme("s3")
    # and the converse: REGISTERING the aliased spelling must route the
    # canonical one too — the registry is keyed by canonical scheme, so
    # register('s3a') and register('s3') are the same entry (the high-
    # effort r14 review caught register('s3a') as silently dead)
    fsutil.register_scheme("s3a", lambda rest: (mem, rest))
    try:
        for spelling in ("s3a://b/k.json", "s3://b/k.json", "s3n://b/k.json"):
            f, p = fsutil.filesystem_for(spelling)
            assert f is mem and p == "b/k.json", spelling
    finally:
        fsutil.unregister_scheme("s3n")  # any spelling unregisters the entry
    with pytest.raises(Exception):
        fsutil.filesystem_for("bogus2://b/k.json")


def test_fsutil_subtree_fs_rebases_paths(tmp_path):
    """SubTreeFileSystem injection: the artifact must land INSIDE the
    subtree root via fs-native relative paths (recursive create_dir on
    a rebased parent), never at a driver-local absolute path."""
    from pyarrow import fs as pafs

    from sf_etl_spark.connector import fsutil

    sub = pafs.SubTreeFileSystem(str(tmp_path), pafs.LocalFileSystem())
    fsutil.register_scheme("sub", lambda rest: (sub, rest))
    try:
        fsutil.write_small_file_atomic("sub://a/b/wm.json", b'{"watermark": 7}')
        assert (tmp_path / "a" / "b" / "wm.json").read_bytes() == b'{"watermark": 7}'
    finally:
        fsutil.unregister_scheme("sub")


def test_reject_side_table_through_injected_fs():
    """The streaming sink's reject side table — download, tmp+move
    write, zero-rejects erase INCLUDING a crashed attempt's stale .tmp
    — must run on an injected non-local filesystem end-to-end. The
    commit hook is driven directly (it is driver-side code with no
    session), against REAL mock-backend jobs."""
    import json as _json

    from pyarrow import fs as pafs
    from pyspark.sql.types import StringType, StructField, StructType

    from sf_etl_spark.connector import fsutil
    from sf_etl_spark.connector.datasource import (
        SfIngestCommit,
        SfIngestStreamWriter,
    )

    fields = [
        {"name": "Id", "type": "id", "length": 18, "nillable": False},
        {"name": "K", "type": "string", "length": 8},
        {"name": "Tag", "type": "string", "length": 8},
    ]
    server = MockSalesforce(object_name="Thing", fields=fields, rows=[])
    url = server.start()
    mem = pafs._MockFileSystem()
    fsutil.register_scheme("mem", lambda rest: (mem, rest))
    try:
        c = _login(url)
        schema = StructType(
            [StructField("K", StringType()), StructField("Tag", StringType())]
        )
        writer = SfIngestStreamWriter(
            schema,
            {
                **sf_options(url),
                "object": "Thing",
                "operation": "upsert",
                "externalIdFieldName": "K",
                "failed_results_path": "mem://side/rejects",
            },
        )
        # batch 3: one job, one poisoned row (empty external id)
        job = c.create_ingest_job("Thing", "upsert", external_id_field="K")
        c.upload_ingest_batch(job.id, "K,Tag\nk1,ok\n,poison\n")
        c.close_ingest_job(job.id)
        writer.commit([SfIngestCommit(job_ids=(job.id,), n_rows=2)], 3)
        raw = _read_bytes(mem, "side/rejects/rejects-batch000000003.jsonl")
        recs = [_json.loads(line) for line in raw.decode().splitlines()]
        assert len(recs) == 1 and recs[0]["fields"]["Tag"] == "poison"
        assert recs[0]["batch_id"] == 3
        # replay of batch 3 with zero rejects: the stale .jsonl, a
        # PRE-UPGRADE fixed-name .tmp sibling, and a crashed attempt's
        # hidden uniquified tmp (the current naming) are ALL erased —
        # visible stale tmps would resurrect a dead attempt's rejects
        # through spark.read.json, hidden ones are swept as hygiene
        stale_tmp = "side/rejects/rejects-batch000000003.jsonl.tmp"
        stale_hidden = "side/rejects/.rejects-batch000000003.jsonl.tmp.dead-beef"
        other_batch = "side/rejects/rejects-batch000000004.jsonl"
        for p, payload in (
            (stale_tmp, b'{"dead": true}\n'),
            (stale_hidden, b'{"dead": true}\n'),
            (other_batch, b'{"other": true}\n'),
        ):
            with mem.open_output_stream(p) as f:
                f.write(payload)
        job2 = c.create_ingest_job("Thing", "upsert", external_id_field="K")
        c.upload_ingest_batch(job2.id, "K,Tag\nk2,ok\n")
        c.close_ingest_job(job2.id)
        writer.commit([SfIngestCommit(job_ids=(job2.id,), n_rows=1)], 3)
        for leftover in (
            "side/rejects/rejects-batch000000003.jsonl",
            stale_tmp,
            stale_hidden,
        ):
            assert mem.get_file_info(leftover).type == pafs.FileType.NotFound
        # another batch's artifacts are untouched by the sweep
        assert mem.get_file_info(other_batch).type != pafs.FileType.NotFound
    finally:
        fsutil.unregister_scheme("mem")
        server.stop()


def test_reject_side_table_ignores_concurrent_loader(spark):
    """The streaming sink's side table holds only the rejects of the
    jobs its own micro-batch created: a concurrent loader that keeps
    loading poisoned rows into the SAME object throughout the batch's
    commit contributes nothing to it. Those intruding rejects are still
    reachable the object-wide way, through failed_results_df — so they
    exist and were excluded, not merely never created."""
    import json as _json
    import threading
    import time as _time

    from pyarrow import fs as pafs
    from pyspark.sql.types import StringType, StructField, StructType

    from sf_etl_spark.connector import fsutil
    from sf_etl_spark.connector.datasource import (
        SfIngestCommit,
        SfIngestStreamWriter,
    )
    from sf_etl_spark.connector.ingest import failed_results_df

    fields = [
        {"name": "Id", "type": "id", "length": 18, "nillable": False},
        {"name": "K", "type": "string", "length": 8},
        {"name": "Tag", "type": "string", "length": 16},
    ]
    server = MockSalesforce(object_name="Thing", fields=fields, rows=[])
    url = server.start()
    mem = pafs._MockFileSystem()
    fsutil.register_scheme("mem", lambda rest: (mem, rest))
    stop = threading.Event()
    landed = threading.Event()
    n_intruders = [0]

    def intrude():
        c = _login(url)
        while not stop.is_set():
            j = c.create_ingest_job("Thing", "upsert", external_id_field="K")
            # empty external id -> one reject per intruding job
            c.upload_ingest_batch(j.id, "K,Tag\n,INTRUDER\n")
            c.close_ingest_job(j.id)
            c.wait_for_ingest_job(j.id)
            n_intruders[0] += 1
            landed.set()
            _time.sleep(0.01)

    try:
        opts = {
            **sf_options(url),
            "object": "Thing",
            "operation": "upsert",
            "externalIdFieldName": "K",
        }
        schema = StructType(
            [StructField("K", StringType()), StructField("Tag", StringType())]
        )
        writer = SfIngestStreamWriter(
            schema, {**opts, "failed_results_path": "mem://side"}
        )
        t = threading.Thread(target=intrude, daemon=True)
        t.start()
        try:
            # a finished intruding job exists before the batch commits
            assert landed.wait(30)
            c = _login(url)
            job = c.create_ingest_job("Thing", "upsert", external_id_field="K")
            c.upload_ingest_batch(job.id, "K,Tag\nk1,ok1\n,mine\nk2,ok2\n")
            c.close_ingest_job(job.id)
            writer.commit([SfIngestCommit(job_ids=(job.id,), n_rows=3)], 0)
        finally:
            stop.set()
            t.join()
        raw = _read_bytes(mem, "side/rejects-batch000000000.jsonl")
        recs = [_json.loads(line) for line in raw.decode().splitlines()]
        assert [(r["batch_id"], r["job_id"], r["fields"]["Tag"]) for r in recs] == [
            (0, job.id, "mine")
        ]
        assert n_intruders[0] >= 1
        tags = [r["fields"]["Tag"] for r in failed_results_df(spark, opts).collect()]
        assert "INTRUDER" in tags and "mine" in tags
    finally:
        fsutil.unregister_scheme("mem")
        server.stop()


def test_write_small_file_atomic_survives_stale_foreign_tmp(tmp_path):
    """r14 ADVICE: the tmp sibling carries a per-attempt uniquifier,
    so a zombie attempt's leftover tmp can neither be clobbered
    mid-write by a retry nor corrupt the moved artifact. A stale
    foreign tmp on disk must not break a fresh write."""
    import os

    from sf_etl_spark.connector import fsutil

    p = tmp_path / "wm.json"
    stale = tmp_path / "wm.json.tmp.deadbeef"
    stale.write_bytes(b"{trunc")
    fsutil.write_small_file_atomic(str(p), b'{"v": 1}')
    assert p.read_bytes() == b'{"v": 1}'
    assert stale.read_bytes() == b"{trunc"  # orphan untouched, harmless
    # two writes in a row: artifact converges, no tmp siblings leak
    fsutil.write_small_file_atomic(str(p), b'{"v": 2}')
    assert p.read_bytes() == b'{"v": 2}'
    assert sorted(os.listdir(tmp_path)) == ["wm.json", "wm.json.tmp.deadbeef"]


def test_write_small_file_atomic_crashed_tmp_is_hidden(tmp_path, monkeypatch):
    """A crashed attempt's orphaned tmp is '.'-prefixed, so a directory
    reader that hides '_'/'.'-prefixed files (spark.read.json) never
    picks up a half-written artifact."""
    import os

    from pyarrow import fs as pafs

    from sf_etl_spark.connector import fsutil

    class CrashBeforeMove:
        def __init__(self):
            self.fs = pafs.LocalFileSystem()

        def __getattr__(self, name):
            return getattr(self.fs, name)

        def move(self, src, dest):
            raise OSError("crash before move")

    monkeypatch.setattr(fsutil, "filesystem_for", lambda path: (CrashBeforeMove(), path))
    with pytest.raises(OSError, match="crash before move"):
        fsutil.write_small_file_atomic(str(tmp_path / "a.jsonl"), b"{}\n")
    (orphan,) = os.listdir(tmp_path)
    assert orphan.startswith(".a.jsonl.tmp.")
