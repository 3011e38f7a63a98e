#!/usr/bin/env python
"""sfetl WRITE-path volume probe (r11 verdict task 6): every probe row
so far was a read/compute lane; this one measures the ingest leg.

Writes a customer slice through the ``sfetl`` sink at 1x and 10x the
key cap with a FIXED partition count, a small ``target_job_mb`` (so
the size-governed chunking actually splits at 10x), and the mock's
delayed-completion polls (fail_first_polls=2: each job completes on
its third status sweep, after the client's built-in 0.02 s and 0.03 s
backoff sleeps).

What the ratio proves: job COUNT must scale ~linearly with volume
(chunking fans out instead of buffering), while WALL time stays near
flat — uploads at this scale are sub-millisecond, so the cost is the
commit barrier, and the round-robin sweep makes that O(slowest job),
independent of job count. A serial poll would scale wall time with
job count and blow the ratio.

Usage: python tools/probe_sfetl_write.py [sf_dir]   (default sf0.1)
Prints one line per scale: rows, jobs, best-of-3 wall seconds.
"""

import os
import sys
import time

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from pyspark.sql import functions as F  # noqa: E402

from sf_etl_spark.connector.datasource import register as register_sfetl  # noqa: E402
from sf_etl_spark.connector.mockserver import MockSalesforce  # noqa: E402
from sf_etl_spark.session import get_spark  # noqa: E402
from sf_etl_spark.sources import load_table  # noqa: E402

FIELDS = [
    {"name": "Id", "type": "id", "length": 18, "nillable": False},
    {"name": "Key", "type": "long"},
    {"name": "Segment", "type": "picklist", "length": 20},
    {"name": "AcctCents", "type": "long"},
]
BASE_CAP = 400  # sink_sfetl_ingest_roundtrip's _SFETL_KEY_CAP
PARTITIONS = 4  # fixed across scales — volume, not layout, varies
TARGET_JOB_MB = 4096 / (1024 * 1024)  # 4 KiB: chunking binds at 10x


def run_once(spark, sf_dir: str, cap: int) -> tuple[int, int, float]:
    out = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") <= cap)
        .select(
            F.col("c_custkey").alias("Key"),
            F.col("c_mktsegment").alias("Segment"),
            F.floor(F.col("c_acctbal") * 100 + F.lit(0.5))
            .cast("bigint")
            .alias("AcctCents"),
        )
        .repartition(PARTITIONS)
        .localCheckpoint(eager=True)  # stage input once; time the WRITE
    )
    n_rows = out.count()
    server = MockSalesforce(
        object_name="Customer", fields=FIELDS, rows=[], fail_first_polls=2
    )
    url = server.start()
    try:
        opts = {
            "login_url": url,
            "client_id": "app",
            "client_secret": "shhh",
            "username": "user@test",
            "password": "pw",
            "object": "Customer",
            "target_job_mb": str(TARGET_JOB_MB),
        }
        t0 = time.perf_counter()
        out.write.format("sfetl").options(**opts).mode("append").save()
        wall = time.perf_counter() - t0
        n_jobs = sum(1 for j in server.jobs.values() if j.get("kind") == "ingest")
        assert len(server.rows) == n_rows, "row loss through the chunked write"
    finally:
        server.stop()
    return n_rows, n_jobs, wall


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = get_spark("sfetl-write-probe")
    spark.sparkContext.setLogLevel("ERROR")
    register_sfetl(spark)
    run_once(spark, sf_dir, 50)  # warm: DataSource bridge + codegen
    results = {}
    for scale, cap in (("x1", BASE_CAP), ("x10", BASE_CAP * 10)):
        best = (0, 0, float("inf"))
        for _ in range(3):
            r = run_once(spark, sf_dir, cap)
            if r[2] < best[2]:
                best = r
        results[scale] = best
        print(f"{scale}: rows={best[0]} jobs={best[1]} wall={best[2]:.2f}s")
    r1, r10 = results["x1"], results["x10"]
    print(
        f"ratio: rows x{r10[0] / max(r1[0], 1):.1f} jobs x{r10[1] / max(r1[1], 1):.1f} "
        f"wall x{r10[2] / r1[2]:.2f}"
    )
    spark.stop()


if __name__ == "__main__":
    main()
