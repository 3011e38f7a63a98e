"""Table reads check each parquet footer once per session and file
version, then read with the checked schema and run no Spark job."""

from __future__ import annotations

import itertools
import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from sf_etl_spark.sources import load_table
from sf_etl_spark.sources.tables import SchemaDriftError


_GROUPS = itertools.count()


def _jobs_during(spark, fn) -> int:
    """Spark jobs submitted while ``fn()`` runs on this thread."""
    sc = spark.sparkContext
    group = f"test_table_footers-{next(_GROUPS)}"
    sc.setJobGroup(group, "footer reads")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _write_region(d, **cols) -> None:
    cols = cols or {
        "r_regionkey": pa.array([0, 1], type=pa.int32()),
        "r_name": pa.array(["AFRICA", "AMERICA"]),
    }
    pq.write_table(pa.table(cols), os.path.join(d, "region.parquet"))


def test_second_read_of_a_file_runs_no_job(spark, sf_dir, tmp_path):
    # a private copy, so no earlier test in the session has read it
    shutil.copy(os.path.join(sf_dir, "orders.parquet"), tmp_path / "orders.parquet")
    first = _jobs_during(spark, lambda: load_table(spark, str(tmp_path), "orders"))
    second = _jobs_during(spark, lambda: load_table(spark, str(tmp_path), "orders"))
    assert first >= 1  # the footer inference the cache saves
    assert second == 0
    df = load_table(spark, str(tmp_path), "orders")
    assert df.count() == load_table(spark, sf_dir, "orders").count()


@pytest.mark.parametrize(
    ("cols", "column"),
    [
        ({"r_regionkey": pa.array([0], type=pa.int64()), "r_name": pa.array(["X"])}, "r_regionkey"),
        ({"r_regionkey": pa.array([0], type=pa.int32())}, "r_name"),
        (
            {
                "r_regionkey": pa.array([0], type=pa.int32()),
                "r_name": pa.array(["X"]),
                "r_comment": pa.array(["c"]),
            },
            "r_comment",
        ),
    ],
    ids=["retyped", "missing", "extra"],
)
def test_footer_drift_names_table_and_column(spark, tmp_path, cols, column):
    _write_region(str(tmp_path), **cols)
    with pytest.raises(SchemaDriftError, match=rf"'region'.*'{column}'"):
        load_table(spark, str(tmp_path), "region")


def test_file_rewritten_in_place_is_checked_again(spark, tmp_path):
    d = str(tmp_path)
    _write_region(d)
    assert load_table(spark, d, "region").count() == 2
    _write_region(d, r_regionkey=pa.array([0], type=pa.int32()))
    with pytest.raises(SchemaDriftError, match="r_name"):
        load_table(spark, d, "region")
    _write_region(
        d,
        r_regionkey=pa.array([0, 1, 2], type=pa.int32()),
        r_name=pa.array(["AFRICA", "AMERICA", "ASIA"]),
    )
    assert _jobs_during(spark, lambda: load_table(spark, d, "region")) >= 1
    assert load_table(spark, d, "region").count() == 3
