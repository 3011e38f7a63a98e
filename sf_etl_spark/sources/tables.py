"""Parquet table sources for the synthetic star schema.

The reference's only "source" is a remote Salesforce scan
(`oxidized-force/src/client.rs:199-205`); here the equivalent surface
is `spark.read.parquet` — columnar, predicate-pushdown-capable, and
splittable across executors. At 100 TB these would be partitioned
directories; a single file per table is just the test fixture shape.

Scale notes:
 - We never `.cache()` by default: at 100 TB caching a fact table is a
   memory bomb. Callers opt in for small dims.
 - `TABLES` is imposed on read. Each file's parquet footer is read once
   per session and file version (path, mtime, size) and checked against
   its `TABLES` entry; a missing, extra or retyped column fails loudly,
   naming the table and the column, instead of reading back as NULLs.
   Every later read passes the checked schema to `spark.read.schema`,
   which skips footer inference — without it each read costs a Spark
   job (85-125 ms on the sf0.1 fixture).
"""

from __future__ import annotations

import os
import urllib.parse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

#: table name -> expected Spark DDL schema (see FIXTURES.md §B).
TABLES: dict[str, str] = {
    "region": "r_regionkey int, r_name string",
    "nation": "n_nationkey int, n_name string, n_regionkey int",
    "customer": (
        "c_custkey bigint, c_name string, c_nationkey int, "
        "c_acctbal double, c_mktsegment string"
    ),
    "supplier": "s_suppkey bigint, s_name string, s_nationkey int, s_acctbal double",
    "part": (
        "p_partkey bigint, p_name string, p_brand string, p_type string, "
        "p_size int, p_retailprice double"
    ),
    "orders": (
        "o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp_ntz, o_orderpriority string"
    ),
    "lineitem": (
        "l_orderkey bigint, l_partkey bigint, l_suppkey bigint, l_linenumber int, "
        "l_quantity double, l_extendedprice double, l_discount double, l_tax double, "
        "l_returnflag string, l_linestatus string, l_shipdate timestamp_ntz"
    ),
    "events": (
        "event_id bigint, ts timestamp_ntz, user_id bigint, event_type string, "
        "value double, props string"
    ),
    "documents": "doc_id bigint, text string, lang string, source string, n_chars bigint",
    "embeddings": "vec_id bigint, embedding array<float>, label int",
}


#: columns whose parquet encoding may differ from their declared type
#: because the loader normalises them: ``events.ts`` (see `_load_events`)
#: -> the encodings it accepts, as Spark type names
_ENCODINGS: dict[tuple[str, str], tuple[str, ...]] = {
    ("events", "ts"): ("bigint", "timestamp", "timestamp_ntz"),
}

#: (session id, path) -> ((mtime_ns, size), checked footer schema). Two
#: threads missing on one key at once both infer and store the same value.
_FOOTERS: dict[tuple[str, str], tuple[tuple[int, int], StructType]] = {}


class SchemaDriftError(ValueError):
    """A table file's parquet footer disagrees with its `TABLES` entry."""


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one synthetic table. Parquet scan ⇒ column pruning and
    predicate pushdown are free once downstream ops are declarative."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {sorted(TABLES)}")
    if name == "events":
        return _load_events(spark, sf_dir)
    path = os.path.join(sf_dir, f"{name}.parquet")
    return spark.read.schema(_footer_schema(spark, name, path)).parquet(path)


def _footer_schema(spark: SparkSession, name: str, path: str) -> StructType:
    """The physical schema of table *name*'s file at *path*, inferred
    from its footer (one Spark job) and checked against `TABLES` once
    per session and file version; later calls return it with no job.

    A file rewritten in place gets a new (mtime, size) and is inferred
    and checked again; a directory dataset is versioned by the
    directory's own entry, which changes when its files are replaced.
    A path ``os.stat`` cannot see (a missing file, a remote URI) is
    inferred on every call, so Spark names a missing path itself."""
    try:
        st = os.stat(path)
        version = (st.st_mtime_ns, st.st_size)
    except OSError:
        version = None
    key = (spark._jsparkSession.sessionUUID(), path)
    hit = _FOOTERS.get(key)
    if hit is not None and hit[0] == version:
        return hit[1]
    schema = spark.read.parquet(path).schema
    _check_footer(name, path, schema)
    if version is not None:
        _FOOTERS[key] = (version, schema)
    return schema


def _check_footer(name: str, path: str, physical: StructType) -> None:
    """Raise `SchemaDriftError` naming the table and the first column
    whose name or type differs from ``TABLES[name]``."""
    got = {f.name: f.dataType.simpleString() for f in physical.fields}
    for f in StructType.fromDDL(TABLES[name]).fields:
        want = f.dataType.simpleString()
        if f.name not in got:
            raise SchemaDriftError(
                f"table {name!r} ({path}): column {f.name!r} ({want}) is missing"
            )
        have = got.pop(f.name)
        if have != want and have not in _ENCODINGS.get((name, f.name), ()):
            raise SchemaDriftError(
                f"table {name!r} ({path}): column {f.name!r} is {have}, declared {want}"
            )
    if got:
        col = next(iter(got))
        raise SchemaDriftError(
            f"table {name!r} ({path}): column {col!r} ({got[col]}) is not declared"
        )


def _load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Load events with a schema-tolerant `ts`: a 100 TB lake holds a
    mix of physical encodings, so branch on the dtype the footer
    declares rather than assuming one.

    * TIMESTAMP(NANOS) files: Spark's reader rejects them outright
      ([PARQUET_TYPE_ILLEGAL]) unless nanos are surfaced as raw longs
      (legacy nanosAsLong) — rebuild a microsecond TIMESTAMP_NTZ with
      exact integer floor-division, the same ns→us truncation DuckDB
      applies, so oracle comparisons stay bit-equal.
    * TIMESTAMP(MICROS/MILLIS) files: already a timestamp on read —
      pass through, normalized to TIMESTAMP_NTZ.

    The branch reads the cached physical schema (`_footer_schema`), so
    only a file's first load in a session runs the inference job.

    Requires ``spark.sql.legacy.parquet.nanosAsLong=true`` and a UTC
    session timezone — both are ENGINE_CONF entries (session.py), set
    by ``get_spark``/``apply_engine_conf``; every registered query
    applies them on entry. The loader itself is side-effect-free."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, TimestampNTZType

    path = os.path.join(sf_dir, "events.parquet")
    schema = _footer_schema(spark, "events", path)
    df = spark.read.schema(schema).parquet(path)
    ts_type = schema["ts"].dataType
    if isinstance(ts_type, LongType):  # nanos surfaced as raw longs
        return df.withColumn(
            "ts", F.expr("CAST(timestamp_micros(ts div 1000) AS TIMESTAMP_NTZ)")
        )
    if isinstance(ts_type, TimestampNTZType):
        return df
    return df.withColumn("ts", F.col("ts").cast("timestamp_ntz"))


def ensure_parallelism(df: DataFrame, key: str | None = None) -> DataFrame:
    """Hash-repartition on `key` ONLY when the plan is under-parallel.

    A small parquet fixture (one file, one row group) scans as a single
    partition, serializing any compute-heavy narrow stage downstream
    (e.g. MinHash: ~10k hash evals per doc). On a real cluster the scan
    already has file-level parallelism and this is a no-op — the guard
    keeps us from paying an always-on shuffle at 100 TB just to fix a
    test-fixture artifact.

    Two deliberate choices (A/B-measured on the minhash pipeline):
     - HASH partitioning on the downstream grouping key, not round
       robin: round-robin exchanges are non-deterministic, which stops
       Catalyst reusing the exchange when the result self-joins (LSH
       candidate join) — the whole signature subtree recomputed, 3.5x
       slower. Hash-by-key is deterministic AND pre-aligns the
       follow-up groupBy(key) shuffle.
     - Target is half the scheduler parallelism: the hashing
       stage is memory-bandwidth-bound, and saturating every vCPU with
       it just thrashes (32-way measured slower than 16-way on 32
       vCPUs); the guard only fires on under-parallel fixture scans,
       so cluster-scale inputs are untouched.

    The under-parallel probe estimates the SCAN's split count from the
    plan's input files and ``spark.sql.files.maxPartitionBytes`` —
    the same quantities Spark's file-source packing uses — instead of
    ``df.rdd.getNumPartitions()``: the RDD probe forces a
    plan-to-RDD conversion per call (a whole extra physical planning
    pass, and an eager one), which is pure overhead on the hot path.
    The estimate is conservative (ignores openCostInBytes packing,
    which only LOWERS real parallelism), so it can only over-fire the
    guard on borderline inputs — never skip it when the scan is
    genuinely serial. Inputs without file provenance (in-memory
    DataFrames, post-shuffle frames) are assumed already parallel.
    """
    spark = df.sparkSession
    target = max(2, spark.sparkContext.defaultParallelism // 2)
    files = df.inputFiles()
    if not files:
        return df  # no file provenance: not a fixture-scan artifact
    max_bytes = _parse_bytes_conf(
        spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728")
    )
    splits = 0
    for f in files:
        if f.startswith("file:"):
            # inputFiles() returns percent-encoded URIs — a path with
            # a space stats as '%20' and would silently skip the guard
            path = urllib.parse.unquote(f[len("file:") :])
            try:
                size = os.path.getsize(path)
            except OSError:
                return df  # can't stat → don't guess, leave the plan alone
            splits += max(1, -(-size // max_bytes))
        else:
            # remote FS (hdfs/s3a): assume ≥1 full split per file; a
            # multi-file remote dataset is already parallel enough for
            # the fixture guard's purpose
            splits += 1
        if splits >= target:
            return df
    return df.repartition(target, key) if key else df.repartition(target)


_BYTE_SUFFIX = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}


def _parse_bytes_conf(v: str) -> int:
    """Spark byte-size conf strings: '134217728', '128m', '128MB'."""
    s = v.strip().lower().removesuffix("b")
    if s and s[-1] in _BYTE_SUFFIX:
        return int(float(s[:-1]) * _BYTE_SUFFIX[s[-1]])
    return int(s)
