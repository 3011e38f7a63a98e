"""Plan and job budgets of the retrieval lanes, so the shapes they
replaced cannot come back unseen: ``ann_ivf_topk`` is one narrow
nearest-centroid scan (no window over a centroid cross join),
``bm25_topk`` one tokenising scan per input (no explode and no
(doc, term) shuffle), and the PQ lanes one narrow encode/ADC pass (no
codebook cross join and no ADC shuffle)."""

from __future__ import annotations

import pytest

from sf_etl_spark.queries import all_queries
from sf_etl_spark.sources import load_table


def _next_job_id(spark) -> int:
    return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()


def _construct(spark, sf_dir, name):
    """(DataFrame, Spark jobs run while building it, physical plan)."""
    for table in ("embeddings", "documents"):
        load_table(spark, sf_dir, table)  # footer checks are not the lane's
    before = _next_job_id(spark)
    df = all_queries()[name].fn(spark, sf_dir)
    jobs = _next_job_id(spark) - before
    return df, jobs, df._jdf.queryExecution().executedPlan().toString()


def _shuffles(plan: str) -> int:
    return sum(
        1 for ln in plan.splitlines() if "Exchange " in ln and "BroadcastExchange" not in ln
    )


def test_ann_ivf_topk_one_job_one_scan(spark, sf_dir):
    # construction collects the K centroids and the query in one job;
    # the lane is a scan, the kernel, a filter and a top-k
    df, jobs, plan = _construct(spark, sf_dir, "ann_ivf_topk")
    assert jobs == 1
    for node in ("Window", "BroadcastNestedLoopJoin", "Join", "Generate"):
        assert node not in plan, node
    assert "MapInArrow" in plan and "TakeOrderedAndProject" in plan
    assert _shuffles(plan) == 0, plan
    assert df.count() == 10


def test_bm25_topk_tokenises_once_per_scan(spark, sf_dir):
    df, jobs, plan = _construct(spark, sf_dir, "bm25_topk")
    assert jobs == 0
    assert "Generate" not in plan
    # the corpus-stats aggregate's gather is the only shuffle
    assert _shuffles(plan) <= 1, plan
    assert plan.count("split(") == plan.count("FileScan parquet") == 2, plan
    assert "TakeOrderedAndProject" in plan
    assert 0 < df.count() <= 20


@pytest.mark.parametrize("name", ["ann_pq_adc_topk", "ann_ivf_pq_topk"])
def test_pq_lanes_one_job_no_expansion(spark, sf_dir, name):
    # construction collects the codebook's seed vectors (and the IVF
    # centroids) with the query in one job; encode and ADC are one
    # MapInArrow pass, the re-rank a broadcast join of the shortlist
    df, jobs, plan = _construct(spark, sf_dir, name)
    assert jobs == 1
    for node in ("CartesianProduct", "BroadcastNestedLoopJoin", "Generate", "Window"):
        assert node not in plan, node
    assert "MapInArrow" in plan and plan.count("TakeOrderedAndProject") == 2
    assert _shuffles(plan) == 0, plan
    assert df.count() == 10
