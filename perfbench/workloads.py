"""The benchmark's workloads: each a fixed list of ops run one at a time.

An op is built by a ``construct`` call (for registry ops, the public
``all_queries()[name].fn(spark, sf_dir)``), materialised in full, and
checked once, untimed, in the cold pass. See ``BENCHMARK.md`` for why
each workload holds the ops it does.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import threading
import time
from collections.abc import Callable
from dataclasses import dataclass

#: registry ops per workload
RELATIONAL = (
    "q5_revenue_by_nation",
    "q9_product_profit",
    "exists_correlated",
    "soql_child_subquery",
    "soql_parent_traversal",
    "soql_orders_rollup",
)
LLM_OPS = (
    "ann_ivf_topk",
    "bm25_topk",
    "pandas_udf_zscore",
)
#: ``sf_etl`` is all generated legs (``SfEtl``); it takes no registry op
SF_ETL = ()

#: generated Case records served by the mock org in ``sf_etl``
SF_ETL_CASES = 10_000
#: Salesforce's REST query batch size; the mock's default page is 20
REST_PAGE_SIZE = 2000
#: 429 responses injected ahead of the bulk extract, each with the
#: mock's default Retry-After
BURST_429 = 3

WORKLOADS = {
    "analytics": RELATIONAL + LLM_OPS,
    "sf_etl": SF_ETL,
}

#: the mock org's fixed OAuth client and user
CREDS = {"client_id": "app", "client_secret": "shhh", "username": "user@test", "password": "pw"}


@dataclass
class Op:
    name: str
    #: builds the op's DataFrame
    construct: Callable[[], object]
    #: steady passes: runs it in full, discarding the output
    materialise: Callable[[object], None]
    #: cold pass: runs it in full and returns what ``check`` needs
    result: Callable[[object], object]
    #: returns None when the output is right, else what is wrong
    check: Callable[[object], str | None]


def noop_sink(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _to_pandas(df):
    return df.toPandas()


def registry_ops(spark, names, digester, oracles) -> list[Op]:
    from oracle import FIXTURE_DIR
    from sf_etl_spark.queries import all_queries

    specs = all_queries()
    ops = []
    for name in names:
        spec = specs[name]

        def check(frame, spec=spec):
            got = digester.digest(frame)
            want = oracles.expected(spec.name, spec.oracle)
            return None if got == want else f"digest {got[:12]} != oracle {want[:12]}"

        ops.append(Op(name, lambda spec=spec: spec.fn(spark, FIXTURE_DIR), noop_sink, _to_pandas, check))
    return ops


class MockCpuMeter:
    """CPU seconds the mock org's handler threads spend in
    ``MockSalesforce.route``: building and parsing the CSV and JSON it
    serves and accepts. The mock stands in for the external org and runs
    inside the benchmark's process, so this CPU is not the program's."""

    def __init__(self) -> None:
        from sf_etl_spark.connector.mockserver import MockSalesforce

        self.total_s = 0.0
        lock = threading.Lock()
        orig_route = MockSalesforce.route

        def route(server, h, method):
            t0 = time.thread_time()
            try:
                return orig_route(server, h, method)
            finally:
                with lock:
                    self.total_s += time.thread_time() - t0

        MockSalesforce.route = route


def _rows_digest(rows) -> tuple[int, str]:
    """(count, order-insensitive checksum) of string tuples."""
    keys = sorted("\x1f".join("" if v is None else str(v) for v in r) for r in rows)
    return len(keys), hashlib.sha256("\x1e".join(keys).encode()).hexdigest()


class SfEtl:
    """The generated extract and load legs of ``sf_etl`` around one mock
    org that serves the seed's Case records for the whole run."""

    def __init__(self, spark, seed: int, out_dir: str) -> None:
        from datagen import CASE_FIELD_NAMES, make_cases
        from sf_etl_spark.connector.mockserver import CASE_FIELDS, MockSalesforce

        self.spark = spark
        self.out_dir = out_dir
        self.records = make_cases(SF_ETL_CASES, seed)
        self.fields = CASE_FIELD_NAMES
        self.expected = _rows_digest(tuple(r[f] for f in self.fields) for r in self.records)
        self.expected_loaded = _rows_digest(tuple(r[f] for f in self.fields[1:]) for r in self.records)
        self.lake = os.path.join(out_dir, "lake")
        self.target = None
        self.source = MockSalesforce(
            rows=self.records,
            fields=[*CASE_FIELDS, {"name": "SeqNo", "type": "long"}],
            page_size=REST_PAGE_SIZE,
        )
        self.url = self.source.start()

    def close(self) -> None:
        self.source.stop()

    def _extract(self, mode: str):
        from sf_etl_spark.connector import read_object

        return read_object(self.spark, {"login_url": self.url, "mode": mode, **CREDS}, "Case")

    def _wire(self, df):
        """Typed Case columns back to their wire strings."""
        from pyspark.sql import functions as F

        return df.select(
            *[F.col(c) for c in ("Id", "AccountId", "CaseNumber", "Priority")],
            F.array_join("Tags", ";").alias("Tags"),
            F.col("Amount").cast("string").alias("Amount"),
            F.col("IsEscalated").cast("string").alias("IsEscalated"),
            F.col("NumCalls").cast("string").alias("NumCalls"),
            F.date_format("CreatedDate", "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'").alias("CreatedDate"),
            F.col("Payload"),
            F.col("SeqNo").cast("string").alias("SeqNo"),
        )

    def _check_rows(self, rows) -> str | None:
        got = _rows_digest(rows)
        return None if got == self.expected else f"rows/checksum {got[0]}/{got[1][:12]} != {self.expected[0]}"

    def _collect(self, df):
        return self._wire(df).collect()

    def ops(self) -> list[Op]:
        def bulk():
            with self.source.lock:
                self.source.inject_429_remaining = BURST_429
            return self._extract("bulk")

        return [
            Op("extract_bulk", bulk, noop_sink, self._collect, self._check_rows),
            Op("extract_rest", lambda: self._extract("rest"), noop_sink, self._collect, self._check_rows),
            Op("load_lake_and_org", self._load_construct, self._load_materialise,
               self._load_materialise, self._load_check),
            Op("stream_extract", self._stream_construct, noop_sink,
               lambda df: df.select(*self.fields).collect(), self._check_rows),
        ]

    # incremental pull: ``readStream.format("sfetl")`` on the SeqNo
    # watermark into a parquet file sink; a fresh checkpoint each time,
    # so every pass pulls the whole object
    def _stream_construct(self):
        from sf_etl_spark.connector import register

        out = os.path.join(self.out_dir, "stream")
        ckpt = os.path.join(self.out_dir, "stream_ckpt")
        for d in (out, ckpt):
            shutil.rmtree(d, ignore_errors=True)
        register(self.spark)
        q = (
            self.spark.readStream.format("sfetl")
            .options(login_url=self.url, object="Case", watermark_field="SeqNo", **CREDS)
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return self.spark.read.parquet(out)

    # extract once (during construction, like the registry's sfetl
    # lanes), then load the typed frame into a parquet lake path and
    # into a second, empty mock org through the ``sfetl`` sink
    def _load_construct(self):
        return self._extract("bulk").localCheckpoint(eager=True)

    def _load_materialise(self, df) -> None:
        from sf_etl_spark.connector.mockserver import MockSalesforce
        from sf_etl_spark.sinks import write_parquet

        write_parquet(df, self.lake)
        self.target = MockSalesforce(rows=[])
        url = self.target.start()
        try:
            self._wire(df).drop("Id").write.format("sfetl").options(
                login_url=url, object="Case", **CREDS
            ).mode("append").save()
        finally:
            self.target.stop()

    def _load_check(self, _) -> str | None:
        lake = self._check_rows(self._collect(self.spark.read.parquet(self.lake)))
        if lake:
            return "lake " + lake
        got = _rows_digest(tuple(r.get(f) for f in self.fields[1:]) for r in self.target.rows)
        if got != self.expected_loaded:
            return f"org rows/checksum {got[0]}/{got[1][:12]} != {self.expected_loaded[0]}"
        return None
