"""Z-order clustered writes — data layout for multi-column file
skipping.

A 100 TB table is pruned twice: partition directories first, then
per-file column min/max footers. Sorting by one column gives perfect
skipping on that column and none on any other; interleaving the bits
of several columns' normalized ranks (the Z-/Morton curve, the layout
behind Delta OPTIMIZE ZORDER BY and Iceberg's sort orders) bounds
every clustered column's per-file value range at once, so selective
filters on ANY of them skip most files.

Spark-first shape: the z-value is a pure codegen'd bit-interleave
expression (no UDF); `repartitionByRange(z)` gives contiguous
z-ranges per output file (range partitioning samples boundaries —
one extra pass, the standard cost of a clustered write);
`sortWithinPartitions(z)` tightens row-group stats inside each file.
The write is exactly one shuffle — the same bill as any repartitioned
write.

Ref parity note: the reference has no layout story at all (its sink
is a DDL text file, ``sql-builder/src/main.rs:77-79``); this module is
part of the engine's beyond-reference scale surface.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

Z_BITS = 16  # per-column resolution; 2 cols × 16 bits = 32-bit z-value
Z_FILES = 8  # files per z-ordered write


def _normalize_to_bits(col: Column, lo: Column, hi: Column) -> Column:
    """Min-max normalize a numeric column onto [0, 2^Z_BITS): the rank
    proxy that keeps the z-value computable without a global sort.
    Constant columns (hi == lo) map to 0."""
    span = hi - lo
    scaled = F.when(
        span > 0,
        F.floor((col.cast("double") - lo) / span * ((1 << Z_BITS) - 1)),
    ).otherwise(F.lit(0))
    return scaled.cast("long")


def z_value(a_bits: Column, b_bits: Column) -> Column:
    """Interleave two bit-normalized columns into their Morton code:
    bit i of ``a`` lands at 2i+1, bit i of ``b`` at 2i. Built as a
    folded bitwise expression — whole-stage codegen, no Python."""
    z = F.lit(0).cast("long")
    for i in range(Z_BITS):
        z = z.bitwiseOR(
            F.shiftleft(F.shiftright(a_bits, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        ).bitwiseOR(F.shiftleft(F.shiftright(b_bits, i).bitwiseAND(F.lit(1)), 2 * i))
    return z


def write_zordered(df: DataFrame, cols: tuple[str, str], target_dir: str) -> None:
    """Write ``df`` as ``Z_FILES`` parquet files clustered on the
    Z-curve of two numeric columns.

    The column bounds ship as one broadcast row (a tiny pre-agg — at
    100 TB, swap in stored table statistics and skip the pass);
    ``repartitionByRange`` then assigns contiguous z-ranges to files
    and ``sortWithinPartitions`` orders rows inside each, so BOTH
    clustered columns' per-file min/max spans are narrow — the footer
    property file skipping feeds on. The helper z-columns are dropped
    before the write; output schema == input schema.
    """
    a, b = cols
    bounds = df.agg(
        F.min(a).alias("__alo"),
        F.max(a).alias("__ahi"),
        F.min(b).alias("__blo"),
        F.max(b).alias("__bhi"),
    )
    z = z_value(
        _normalize_to_bits(F.col(a), F.col("__alo"), F.col("__ahi")),
        _normalize_to_bits(F.col(b), F.col("__blo"), F.col("__bhi")),
    )
    (
        df.join(F.broadcast(bounds))
        .withColumn("__z", z)
        .repartitionByRange(Z_FILES, "__z")
        .sortWithinPartitions("__z")
        .drop("__z", "__alo", "__ahi", "__blo", "__bhi")
        .write.mode("overwrite")
        .parquet(target_dir)
    )


def footer_column_bounds(path: str, column: str):
    """Global (min, max) of ``column`` from parquet footer statistics
    — a driver-side metadata read replacing a whole bounds SCAN for
    operators that only need a covering range (two-phase order
    statistics). ``path`` may be a single parquet file or a directory
    of them. Returns None when any file lacks stats for the column
    (caller falls back to scanning); footer reads are O(files) bytes,
    the same budget as zone-map pruning below."""
    import glob
    import os

    import pyarrow.parquet as pq

    if not os.path.exists(path):
        return None  # caller falls back to its bounds scan
    files = (
        sorted(glob.glob(os.path.join(path, "*.parquet")))
        if os.path.isdir(path)
        else [path]
    )
    if not files:
        return None
    lo, hi = None, None
    for f in files:
        md = pq.ParquetFile(f).metadata
        seen = False
        for rg in range(md.num_row_groups):
            for ci in range(md.num_columns):
                col = md.row_group(rg).column(ci)
                if col.path_in_schema == column and col.statistics is not None:
                    s = col.statistics
                    if s.min is None or s.max is None:
                        continue
                    seen = True
                    lo = s.min if lo is None else min(lo, s.min)
                    hi = s.max if hi is None else max(hi, s.max)
        if not seen:
            return None
    return None if lo is None else (lo, hi)


def build_zone_map(spark, path: str, column: str):
    """Zone map build: per-FILE (min, max, row count) of ``column``,
    computed as ONE distributed scan grouped by ``input_file_name()``
    — the stored-statistics table a lakehouse keeps beside the data
    (Delta's add-file stats, Iceberg's manifest metrics, the classic
    "small materialized aggregates" of Moerkotte, VLDB 1998).

    Built engine-side, not by walking parquet footers on the driver:
    at 100 TB the stats build parallelizes like any scan and in
    practice is folded into the write path; reading the result is
    O(#files), never O(rows).
    """
    df = spark.read.parquet(path)
    return (
        df.groupBy(F.input_file_name().alias("file"))
        .agg(
            F.min(column).alias("zmin"),
            F.max(column).alias("zmax"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


def prune_files_by_zone(zone_map_df, lo, hi) -> list[str]:
    """File-skipping decision from a zone map: keep files whose
    [zmin, zmax] interval intersects [lo, hi]. Returns the kept file
    list — a bounded-METADATA collect (O(#files), the same class as a
    manifest read; at 100 TB this list feeds the reader as a pruned
    manifest, it is never row data)."""
    kept = (
        zone_map_df.filter((F.col("zmax") >= lo) & (F.col("zmin") <= hi))
        .select("file")
        .collect()
    )
    return sorted(r["file"] for r in kept)
