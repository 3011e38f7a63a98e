#!/usr/bin/env python
"""Generate a 10x-scaled (sf~1) probe dataset from sf0.1 into
.probe/sf1, preserving each probe lane's WORKLOAD STRUCTURE:

- orders/lineitem: 10 disjoint replicas with shifted keys
  (o_orderkey/l_orderkey += k*1e9, o_custkey += k*1e8,
  l_suppkey += k*1e7, l_partkey += k*1e8). Disjoint key spaces keep
  join fan-outs and graph topology per-replica identical to sf0.1 —
  the scan/join/shuffle volume grows 10x while per-key semantics
  stay fixed, which is exactly what an sf-scaling probe should vary.
- part: 10 replicas with a distinct first-token prefix ('r<k> ') on
  p_name, so sorted-neighborhood blocking windows never span
  replicas (linkage clusters stay replica-local; without the prefix,
  'name' and 'name' in two replicas are Levenshtein-0 and every
  cluster would 10x, changing the workload instead of scaling it).
- documents: 10 replicas where replica k>0 suffixes EVERY token with
  ``_k`` — a BIJECTIVE token rename, so every set-similarity metric
  (shingle Jaccard, minhash, simhash hamming structure) is EXACTLY
  preserved within a replica while replicas share no tokens at all
  (no cross-replica near-dup pairs). This is what lets the dedup
  lanes be probed at 10x volume with the sf0.1 cluster structure
  intact, just 10 of it.
- every other table: copied through unchanged (dimension-sized, or —
  embeddings — vectors whose replication would CHANGE the workload:
  10 exact copies of every point would merge ANN clusters).

Used by the PLANS.md round-7 sf1 probes (r6 verdict task 7); output
is gitignored scratch, not a fixture.

``--null-keys`` (r9 verdict task 8) builds the companion
``.probe/sf1nulls`` variant: every table symlinked from the existing
``.probe/sf1`` output except ``customer``, which is rewritten with
every 13th ``c_acctbal`` NULLed — so the ranked-analytics lanes
(decile_lift_table, through its NULLS-LAST sentinel) exercise their
null-key path at probe volume, not just in the sf0.001 unit test
(tests/test_analytics_nulls.py). Run WITHOUT the flag first.
"""

import os
import shutil
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from pyspark.sql import functions as F  # noqa: E402

from sf_etl_spark.session import get_spark  # noqa: E402
from sf_etl_spark.sources import load_table  # noqa: E402

SRC = "/root/testdata/sf0.1"
_PROBE_ROOT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".probe"
)
DST = os.path.join(_PROBE_ROOT, "sf1")
REPLICAS = 10

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def make_null_variant() -> None:
    """Build .probe/sf1nulls from .probe/sf1: symlink every table,
    override customer with the nulled-acctbal variant."""
    if not os.path.isdir(DST):
        sys.exit("run tools/make_probe_sf1.py without --null-keys first")
    dst = os.path.join(_PROBE_ROOT, "sf1nulls")
    shutil.rmtree(dst, ignore_errors=True)
    os.makedirs(dst)
    for t in TABLES:
        if t == "customer":
            continue
        os.symlink(os.path.join(DST, f"{t}.parquet"), os.path.join(dst, f"{t}.parquet"))
    spark = get_spark("sf1-null-probe-gen")
    spark.sparkContext.setLogLevel("ERROR")
    c = load_table(spark, SRC, "customer").withColumn(
        "c_acctbal",
        F.when(F.col("c_custkey") % 13 == 0, F.lit(None).cast("double")).otherwise(
            F.col("c_acctbal")
        ),
    )
    c.write.mode("overwrite").parquet(os.path.join(dst, "customer.parquet"))
    print("wrote", dst)
    spark.stop()


def main() -> None:
    spark = get_spark("sf1-probe-gen")
    spark.sparkContext.setLogLevel("ERROR")
    os.makedirs(DST, exist_ok=True)
    k = F.col("_rep")

    def replicate(df):
        return df.crossJoin(
            spark.range(REPLICAS).select(F.col("id").cast("int").alias("_rep"))
        )

    o = replicate(load_table(spark, SRC, "orders")).select(
        (F.col("o_orderkey") + k.cast("long") * 1_000_000_000).alias("o_orderkey"),
        (F.col("o_custkey") + k.cast("long") * 100_000_000).alias("o_custkey"),
        "o_orderstatus",
        "o_totalprice",
        "o_orderdate",
        "o_orderpriority",
    )
    o.write.mode("overwrite").parquet(os.path.join(DST, "orders.parquet"))

    li = replicate(load_table(spark, SRC, "lineitem")).select(
        (F.col("l_orderkey") + k.cast("long") * 1_000_000_000).alias("l_orderkey"),
        (F.col("l_partkey") + k.cast("long") * 100_000_000).alias("l_partkey"),
        (F.col("l_suppkey") + k.cast("long") * 10_000_000).alias("l_suppkey"),
        "l_linenumber",
        "l_quantity",
        "l_extendedprice",
        "l_discount",
        "l_tax",
        "l_returnflag",
        "l_linestatus",
        "l_shipdate",
    )
    li.write.mode("overwrite").parquet(os.path.join(DST, "lineitem.parquet"))

    p = replicate(load_table(spark, SRC, "part")).select(
        (F.col("p_partkey") + k.cast("long") * 100_000_000).alias("p_partkey"),
        F.concat(F.lit("r"), k.cast("string"), F.lit(" "), F.col("p_name")).alias("p_name"),
        "p_brand",
        "p_type",
        "p_size",
        "p_retailprice",
    )
    p.write.mode("overwrite").parquet(os.path.join(DST, "part.parquet"))

    d = replicate(load_table(spark, SRC, "documents")).select(
        (F.col("doc_id") + k.cast("long") * 100_000_000).alias("doc_id"),
        F.when(k == 0, F.col("text"))
        .otherwise(
            F.regexp_replace(
                F.col("text"),
                F.lit(r"(\S+)"),
                F.concat(F.lit("$1_"), k.cast("string")),
            )
        )
        .alias("text"),
        "lang",
        "source",
        "n_chars",
    )
    d.write.mode("overwrite").parquet(os.path.join(DST, "documents.parquet"))

    # events: 10 replicas with disjoint event_id/user_id spaces and
    # UNCHANGED ts/type/value/props — per-user sequences and per-type
    # value distributions are identical per replica, so user-keyed
    # windows and (user, hour) rollup keys grow 10x while per-key
    # semantics stay fixed; type-keyed statistics see 10x rows of the
    # same distribution (volume, not workload shape). Added r9: the
    # rollup/robust-outlier probes were silently reading the sf0.1
    # copy-through before this.
    e = replicate(load_table(spark, SRC, "events")).select(
        (F.col("event_id") + k.cast("long") * 1_000_000_000).alias("event_id"),
        "ts",
        (F.col("user_id") + k.cast("long") * 100_000_000).alias("user_id"),
        "event_type",
        "value",
        "props",
    )
    e.write.mode("overwrite").parquet(os.path.join(DST, "events.parquet"))

    for t in ["region", "nation", "customer", "supplier", "embeddings"]:
        src, dst = os.path.join(SRC, f"{t}.parquet"), os.path.join(DST, f"{t}.parquet")
        if os.path.isdir(src):
            shutil.copytree(src, dst, dirs_exist_ok=True)
        else:
            shutil.copyfile(src, dst)
    print("wrote", DST)
    spark.stop()


if __name__ == "__main__":
    if "--null-keys" in sys.argv:
        make_null_variant()
    else:
        main()
