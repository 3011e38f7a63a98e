"""Data sinks: partitioned parquet/CSV/JSON writers plus a JDBC lane.

Reference parity: the reference's only sink is a DDL *text file*
(`sql-builder/src/main.rs:77-79`) — it never writes data. Here the
sink surface is completed the Spark-native way, with the DDL renderer
(`sf_etl_spark.schema.ddl`, reference R9 parity) available to
pre-create JDBC targets.

Fixed settings, each deliberate:
 - **zstd** compression: ~30% smaller than snappy at similar read
   speed — at 100 TB that's tens of TB of storage and shuffle I/O.
 - **partitionBy** on low-cardinality keys gives partition-pruned
   reads (`PartitionFilters` in the scan) — the difference between
   scanning 100 TB and scanning one day/status slice.
 - **maxRecordsPerFile** caps file size so a skewed partition can't
   produce a single monster file that serializes a downstream task.
 - **no coalesce(1)**: writers keep the plan's parallelism; small-file
   compaction is a separate maintenance pass, not a write-path stall.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


# compaction's row budget per output file
COMPACT_ROWS_PER_FILE = 1_000_000


def write_parquet(df: DataFrame, path: str, partition_by: list[str] | None = None) -> None:
    """Partitioned parquet sink: overwrite, zstd, at most 5,000,000
    rows per file."""
    w = (
        df.write.mode("overwrite")
        .option("compression", "zstd")
        .option("maxRecordsPerFile", 5_000_000)
    )
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def write_csv(df: DataFrame, path: str) -> None:
    """CSV sink (overwrite, header row, gzip) — the reference's
    bulk-extract wire format (`BulkQueryStatusResponse.content_type:
    CSV`, `oxidized-force/src/response.rs:36-44`), emitted rather than
    fetched. Splittable-unfriendly (gzip), so for interchange only."""
    df.write.mode("overwrite").option("header", True).option("compression", "gzip").csv(path)


def write_json(df: DataFrame, path: str) -> None:
    """JSON-lines sink (overwrite) — the reference's REST response
    shape (`QueryResponse.records`, `response.rs:4-10`) as an output
    lane."""
    df.write.mode("overwrite").json(path)


def write_orc(df: DataFrame, path: str) -> None:
    """ORC sink (overwrite, zstd) — the columnar alternative to parquet
    for warehouses standardized on ORC; same pushdown properties."""
    df.write.mode("overwrite").option("compression", "zstd").orc(path)


def write_jdbc(df: DataFrame, url: str, table: str, **options: str) -> None:
    """JDBC sink (e.g. the Postgres target the reference's DDL
    prepares): appends in batches of 10,000 rows, one connection per
    write partition; ``options`` pass through to the JDBC source.
    Raises the underlying error when no driver jar is on the
    classpath — this container carries none, so tests gate on it."""
    w = (
        df.write.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("batchsize", 10_000)
    )
    for k, v in options.items():
        w = w.option(k, v)
    w.mode("append").save()


def _partition_cols(fs, jpath) -> list[str]:
    """Hive-style partition columns of a parquet directory, outermost
    first, read off its first ``col=value`` subdirectory at each
    level."""
    cols: list[str] = []
    while True:
        subs = [
            st.getPath()
            for st in fs.listStatus(jpath)
            if st.isDirectory() and "=" in st.getPath().getName()
        ]
        if not subs:
            return cols
        jpath = subs[0]
        cols.append(jpath.getName().split("=", 1)[0])


def compact_parquet(spark, path: str, vacuum: bool = False) -> int:
    """Small-file compaction — the maintenance pass the write path
    deliberately does not do inline (see module doc).

    Streaming sinks and fine-grained merges accrete many small files;
    at 100 TB the cost is real (a scan task per file, footer reads,
    NameNode/listing pressure). Compaction rewrites the dataset into
    ``ceil(rows / COMPACT_ROWS_PER_FILE)`` files (per partition
    directory when the dataset has ``col=value`` subdirectories,
    preserving the layout and its pruning), then atomically swaps directories via the Hadoop
    FileSystem — works unchanged on hdfs:// / s3a:// targets.

    Returns the number of files after compaction. The delete+rename
    swap has a brief window where readers see no directory — the gap a
    transactional table format closes with snapshots; on plain parquet
    schedule compaction in a maintenance window.

    Scale notes: one full shuffle (repartition) — compaction IS a
    rewrite, there is no cheaper correct shape; to compact selectively,
    point ``path`` at one partition directory.

    Merge targets (``merge_into_partitioned_parquet`` output) are
    detected via their ``_merge_meta.json`` manifest and compacted
    SNAPSHOT-ATOMICALLY: the whole live snapshot is rewritten into one
    fresh commit directory (bucket layout preserved — flattening it
    would mis-bucket the next merge's keys, the exact hazard the
    manifest exists to prevent) and the manifest swaps to reference
    only that commit. Concurrent readers see old-or-new, never a gap.
    Superseded commit dirs — and with them ALL archived time-travel
    versions — are garbage-collected only with ``vacuum=True``; the
    default keeps history readable by time travel (the Delta OPTIMIZE
    contract: compaction is not history truncation).
    """
    import math
    import uuid

    from pyspark.sql import functions as F  # noqa: F401 (parity with callers)

    from sf_etl_spark.streaming.pipelines import (
        BUCKET_COL,
        _commit_snapshot,
        _hadoop_fs,
        _read_buckets,
        _read_merge_meta,
        vacuum_merge_staging,
    )

    fs, target_path = _hadoop_fs(spark, path)
    meta = _read_merge_meta(spark, fs, target_path)
    if meta is not None:
        df = _read_buckets(spark, path, meta)
        # the shared snapshot-commit protocol: the compacted snapshot is
        # a fresh commit dir replacing EVERY prior bucket mapping.
        # Compaction is a read-modify-write of the WHOLE snapshot, so
        # it CASes on the version it read — racing a merge must fail
        # the compaction (harmless to re-run), never resurrect
        # pre-merge rows by swapping a stale rewrite over the merge.
        _commit_snapshot(
            spark,
            fs,
            target_path,
            path,
            df.repartition(F.col(BUCKET_COL)),
            n_buckets=int(meta["n_buckets"]),
            prior_buckets=None,
            write_options={"maxRecordsPerFile": str(COMPACT_ROWS_PER_FILE)},
            expected_version=int(meta.get("version", 0)),
        )
        if vacuum:
            vacuum_merge_staging(spark, path)  # superseded commits + history
        out = _read_buckets(spark, path, _read_merge_meta(spark, fs, target_path))
        return len([f for f in out.inputFiles() if f.endswith(".parquet")])

    df = spark.read.parquet(path)
    rows = df.count()
    n_files = max(1, math.ceil(rows / COMPACT_ROWS_PER_FILE))
    staging = path.rstrip("/") + f"__compact_{uuid.uuid4().hex[:8]}"
    partition_by = _partition_cols(fs, target_path)
    if partition_by:
        # one task per partition value → one file per partition dir,
        # split further by maxRecordsPerFile when a partition is big
        (
            df.repartition(*[F.col(c) for c in partition_by])
            .write.mode("overwrite")
            .option("maxRecordsPerFile", COMPACT_ROWS_PER_FILE)
            .partitionBy(*partition_by)
            .parquet(staging)
        )
    else:
        df.repartition(n_files).write.mode("overwrite").parquet(staging)
    _, staging_path = _hadoop_fs(spark, staging)
    fs.delete(target_path, True)
    if not fs.rename(staging_path, target_path):
        raise IOError(f"compaction swap failed: rename({staging}, {path})")
    out = spark.read.parquet(path)
    return len([f for f in out.inputFiles() if f.endswith(".parquet")])
