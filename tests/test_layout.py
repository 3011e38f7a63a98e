"""Z-order layout quality: the clustered write must make BOTH
clustered columns' per-file min/max spans narrow — the parquet-footer
property file skipping consumes. A single-column sort would ace its
own column and fail the other; random layout fails both."""

from __future__ import annotations

from pyspark.sql import functions as F

from sf_etl_spark.operators.layout import Z_FILES, write_zordered
from sf_etl_spark.sources import load_table


def file_column_spans(path: str, column: str) -> list[tuple[float, float]]:
    """Per-file (min, max) of ``column`` from the parquet footers —
    the exact statistics a scan's file-skipping consults. Driver-side
    metadata reads only (no data pages)."""
    import glob
    import os

    import pyarrow.parquet as pq

    spans: list[tuple[float, float]] = []
    for f in sorted(glob.glob(os.path.join(path, "*.parquet"))):
        md = pq.ParquetFile(f).metadata
        lo, hi = None, None
        for rg in range(md.num_row_groups):
            for ci in range(md.num_columns):
                col = md.row_group(rg).column(ci)
                if col.path_in_schema == column and col.statistics is not None:
                    s = col.statistics
                    lo = s.min if lo is None else min(lo, s.min)
                    hi = s.max if hi is None else max(hi, s.max)
        if lo is not None:
            spans.append((lo, hi))
    return spans


def _avg_span_frac(path: str, column: str, global_lo, global_hi) -> float:
    spans = file_column_spans(path, column)
    assert spans, f"no footer stats for {column}"
    width = global_hi - global_lo
    return sum(hi - lo for lo, hi in spans) / (len(spans) * width)


def test_zorder_bounds_both_columns(spark, sf_dir, tmp_path):
    orders = load_table(spark, sf_dir, "orders")
    lo_k, hi_k, lo_p, hi_p = orders.selectExpr(
        "min(o_custkey)", "max(o_custkey)", "min(o_totalprice)", "max(o_totalprice)"
    ).first()

    zdir = str(tmp_path / "z")
    write_zordered(orders, ("o_custkey", "o_totalprice"), zdir)
    # each clustered column's average per-file span must be well under
    # the full range: with 8 files a random layout sits at ~1.0 on
    # both; a z-curve bounds both around ~1/sqrt(Z_FILES) or better
    k_frac = _avg_span_frac(zdir, "o_custkey", lo_k, hi_k)
    p_frac = _avg_span_frac(zdir, "o_totalprice", lo_p, hi_p)
    assert k_frac < 0.6, f"custkey spans too wide: {k_frac:.2f}"
    assert p_frac < 0.6, f"totalprice spans too wide: {p_frac:.2f}"

    # contrast: the same data sorted by custkey ONLY — perfect on
    # custkey, near-random on totalprice (documents why z-order, not
    # plain sort, is the multi-column layout)
    sdir = str(tmp_path / "s")
    (
        orders.repartitionByRange(Z_FILES, "o_custkey")
        .sortWithinPartitions("o_custkey")
        .write.mode("overwrite")
        .parquet(sdir)
    )
    p_frac_sorted = _avg_span_frac(sdir, "o_totalprice", lo_p, hi_p)
    assert p_frac < p_frac_sorted, (
        f"z-order should beat single-column sort on the second column: "
        f"{p_frac:.2f} vs {p_frac_sorted:.2f}"
    )


def test_zorder_roundtrip_schema_clean(spark, sf_dir, tmp_path):
    # no helper columns may leak into the written schema
    orders = load_table(spark, sf_dir, "orders")
    zdir = str(tmp_path / "z2")
    write_zordered(orders, ("o_custkey", "o_totalprice"), zdir)
    back = spark.read.parquet(zdir)
    assert sorted(back.columns) == sorted(orders.columns)
    assert back.count() == orders.count()


def test_zone_map_prunes_and_loses_nothing(spark, sf_dir, tmp_path):
    from sf_etl_spark.operators.layout import build_zone_map, prune_files_by_zone

    li = load_table(spark, sf_dir, "lineitem")
    out = str(tmp_path / "zm")
    (
        li.repartitionByRange(8, "l_orderkey")
        .sortWithinPartitions("l_orderkey")
        .write.mode("overwrite")
        .parquet(out)
    )
    zmap = build_zone_map(spark, out, "l_orderkey")
    n_files = zmap.count()
    lo, hi = 300, 700
    kept = prune_files_by_zone(zmap, lo, hi)
    # the skipping actually happens: a selective range must NOT keep
    # every file of a range-clustered layout
    assert 0 < len(kept) < n_files
    # and loses nothing: pruned scan == full scan under the predicate
    full = (
        spark.read.parquet(out)
        .filter(F.col("l_orderkey").between(lo, hi))
        .count()
    )
    pruned = (
        spark.read.parquet(*kept)
        .filter(F.col("l_orderkey").between(lo, hi))
        .count()
    )
    assert pruned == full > 0


def test_footer_column_bounds_match_scan(spark, sf_dir):
    """Footer statistics must equal the scan-derived min/max for both
    a single parquet file (fixture) and a Spark-written directory —
    they replace bounds JOBS in the two-phase operators, so a drift
    here silently mis-buckets."""
    from sf_etl_spark.operators.layout import footer_column_bounds

    path = f"{sf_dir}/orders.parquet"
    fb = footer_column_bounds(path, "o_totalprice")
    row = (
        spark.read.parquet(path)
        .agg(F.min("o_totalprice"), F.max("o_totalprice"))
        .first()
    )
    assert fb == (row[0], row[1])
    # unknown column → None (callers fall back to the scan)
    assert footer_column_bounds(path, "no_such_column") is None


def test_footer_column_bounds_directory(spark, sf_dir, tmp_path):
    from sf_etl_spark.operators.layout import footer_column_bounds

    out = str(tmp_path / "multi")
    spark.read.parquet(f"{sf_dir}/orders.parquet").repartition(3).write.parquet(out)
    fb = footer_column_bounds(out, "o_totalprice")
    row = spark.read.parquet(out).agg(F.min("o_totalprice"), F.max("o_totalprice")).first()
    assert fb == (row[0], row[1])
    # empty dir → None
    assert footer_column_bounds(str(tmp_path / "nothing_here"), "x") is None
