"""Bloom-filter pruning operator (operators/bloom.py): membership
contract (no false negatives, bounded false positives) and the
prune-is-a-superset invariant the exact-join composition relies on."""

from __future__ import annotations

from pyspark.sql import functions as F

from sf_etl_spark.operators.bloom import bloom_build, bloom_prune_literal
from sf_etl_spark.sources import load_table


def test_bloom_prune_is_superset_of_exact_match(spark, sf_dir):
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    urgent = o.filter(F.col("o_orderpriority") == "1-URGENT").select("o_orderkey")
    bloom = bloom_build(urgent, "o_orderkey")

    pruned_keys = {
        r[0]
        for r in bloom_prune_literal(l, "l_orderkey", bloom)
        .select("l_orderkey")
        .distinct()
        .collect()
    }
    exact_keys = {
        r[0]
        for r in l.join(urgent, l["l_orderkey"] == urgent["o_orderkey"], "left_semi")
        .select("l_orderkey")
        .distinct()
        .collect()
    }
    all_keys = {r[0] for r in l.select("l_orderkey").distinct().collect()}

    # no false negatives: every true match survives the prune
    assert exact_keys <= pruned_keys
    # the prune actually prunes (urgent is ~20% of orders; at fixture
    # cardinality vs m=2^17 the FP rate is well under 5%)
    fp = len(pruned_keys - exact_keys)
    assert fp <= max(1, len(all_keys) // 20)
    assert len(pruned_keys) < len(all_keys)


def test_bloom_prune_keeps_every_semi_join_row(spark, sf_dir):
    """No false negatives at ROW level: every probe row the exact
    semi join keeps (duplicates included) survives the prune, for a
    selective build side as well as a broad one."""
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    for build in (
        o.filter(F.col("o_orderkey") % 97 == 0).select("o_orderkey"),
        o.filter(F.col("o_orderstatus") != "F").select("o_orderkey"),
    ):
        exact = l.join(build, l["l_orderkey"] == build["o_orderkey"], "left_semi")
        pruned = bloom_prune_literal(l, "l_orderkey", bloom_build(build, "o_orderkey"))
        assert exact.count() > 0
        assert exact.exceptAll(pruned).count() == 0


def test_bloom_empty_build_side_prunes_everything(spark, sf_dir):
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    none = o.filter(F.lit(False)).select("o_orderkey")
    bloom = bloom_build(none, "o_orderkey")
    assert bloom_prune_literal(l, "l_orderkey", bloom).count() == 0
