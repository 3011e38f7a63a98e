"""Skew operators: salted join must be row-for-row identical to the
plain inner join, and the salt must actually spread keys."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sf_etl_spark.operators.skew import SALT_COL, salt_probe, salted_join
from sf_etl_spark.sources import load_table


@pytest.fixture(scope="module")
def li(spark, sf_dir):
    return load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )


@pytest.fixture(scope="module")
def orders(spark, sf_dir):
    return load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderstatus"
    )


def _sorted_rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_salted_join_equivalent(li, orders):
    plain = li.join(orders, ["l_orderkey"])
    salted = salted_join(li, orders, ["l_orderkey"], n=8)
    assert _sorted_rows(salted) == _sorted_rows(plain)


def test_salt_spreads_hot_key(spark):
    # one key, many distinct rows -> salts must cover many buckets
    hot = spark.range(1000).select(
        F.lit(42).alias("k"), F.col("id").alias("payload")
    )
    n_buckets = salt_probe(hot, 16).select(SALT_COL).distinct().count()
    assert n_buckets == 16


def test_salt_is_deterministic(li):
    a = salt_probe(li, 16).select("l_orderkey", "l_linenumber", SALT_COL)
    b = salt_probe(li, 16).select("l_orderkey", "l_linenumber", SALT_COL)
    assert _sorted_rows(a) == _sorted_rows(b)
