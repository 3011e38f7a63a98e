"""The generated-code cache holds a rerun's classes: running the same
ops a second time compiles (almost) nothing new."""

from __future__ import annotations

from sf_etl_spark.queries import all_queries

#: the benchmark's ``analytics`` ops (perfbench/workloads.py). At
#: sf0.001 they compile ~180 classes, more than Spark's default cache of
#: 100 entries holds; the six relational ones alone compile ~83, which
#: the default would hold too
OPS = (
    "q5_revenue_by_nation",
    "q9_product_profit",
    "exists_correlated",
    "soql_child_subquery",
    "soql_parent_traversal",
    "soql_orders_rollup",
    "ann_ivf_topk",
    "bm25_topk",
    "pandas_udf_zscore",
)
#: classes a rerun may still compile: measured 10 on the second run and
#: 2 on the third in a fresh session, against ~176 with 100 entries
MAX_RERUN_COMPILES = 20


def _run_all(spark, sf_dir) -> None:
    specs = all_queries()
    for name in OPS:
        specs[name].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()


def test_rerun_compiles_no_new_classes(spark, sf_dir):
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    _run_all(spark, sf_dir)
    c1 = compiles.getCount()
    _run_all(spark, sf_dir)
    rerun = compiles.getCount() - c1
    assert rerun <= MAX_RERUN_COMPILES, (
        f"rerun compiled {rerun} classes; cache holds "
        f"{spark.conf.get('spark.sql.codegen.cache.maxEntries')} entries"
    )
