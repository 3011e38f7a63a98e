"""SparkSession factory tuned for this engine.

Defaults are chosen for scale-out correctness first (AQE on, skew-join
handling, broadcast thresholds) and local-mode speed second. On a real
cluster the same settings hold; only `master` and memory sizing change.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Configs applied to every session this engine creates. Each one is a
#: deliberate scale decision:
#:  - AQE: runtime coalescing of shuffle partitions, skew-join splitting
#:    and dynamic broadcast-join demotion/promotion — essential at 100 TB
#:    where static planning guesses wrong.
#:  - shuffle.partitions: a *starting* width; AQE coalesces down. On a
#:    1000-executor cluster this should be ~2-3x total cores; locally we
#:    match the core count so tests don't drown in empty partitions.
#:  - Arrow: every Pandas-UDF / toPandas boundary is Arrow-batched.
#:  - autoBroadcastJoinThreshold: dims (region/nation/customer at small
#:    SF) broadcast automatically; large fact-fact joins still shuffle.
#:  - codegen.cache.maxEntries: the generated-class cache is an LRU, and
#:    pipelines rerun the same queries in the same order, so a cache
#:    smaller than one pass's classes misses on every rerun: Janino
#:    recompiles each class and HotSpot JIT-compiles it again (Spark's
#:    default of 100 entries recompiles 175 classes per steady pass of
#:    the 9-op analytics benchmark). One pass of the 147-lane bench.py
#:    headline at sf0.1 compiles 2,013 distinct classes with a
#:    100,000-entry cache, and a second pass 92 new ones; metaspace grows
#:    89 MB over the first pass and 3 MB over the second. 4096 entries
#:    hold that working set twice over. The conf is static: `get_spark`
#:    sets it when it builds the session, and `apply_engine_conf` cannot
#:    set it on a session that is already running.
ENGINE_CONF: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.python.filterPushdown.enabled": "true",  # connector pushFilters
    "spark.sql.parquet.aggregatePushdown": "true",
    "spark.sql.cbo.enabled": "true",
    "spark.sql.codegen.cache.maxEntries": "4096",
    "spark.sql.session.timeZone": "UTC",
    # TIMESTAMP(NANOS) parquet columns: Spark refuses them outright
    # ([PARQUET_TYPE_ILLEGAL]) unless surfaced as raw longs; the events
    # loader rebuilds a microsecond TIMESTAMP_NTZ from the long (see
    # sources/tables.py). Engine-wide and declared HERE — a table
    # loader must never mutate session config as a side effect.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.shuffle.partitions": os.environ.get("SPARK_GRAFT_CPUS", "32"),
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
    "spark.ui.enabled": "false",
}

#: The ``spark.sql.*`` keys of ``ENGINE_CONF`` that Spark fixes when the
#: session starts. Setting one on a running session raises inside the
#: JVM, and building that exception costs more py4j round trips than
#: setting every other key, so `apply_engine_conf` skips them.
STATIC_SQL_CONF = frozenset({"spark.sql.codegen.cache.maxEntries"})


def get_spark(app_name: str = "sf_etl_spark", master: str | None = None) -> SparkSession:
    """Create (or fetch) a SparkSession with the engine's tuned config.

    `master` defaults to ``local[$SPARK_GRAFT_CPUS]`` when not running
    under an existing session (e.g. the driver supplies its own).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = SparkSession.builder.appName(app_name)
    builder = builder.master(master or f"local[{cpus}]")
    for k, v in ENGINE_CONF.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def apply_engine_conf(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine configs to an existing session.

    Used when the caller (e.g. the verification driver) owns session
    construction: static configs (memory, `STATIC_SQL_CONF`) are
    skipped, the other SQL configs applied, one py4j call each.
    """
    for k, v in ENGINE_CONF.items():
        if k.startswith("spark.sql.") and k not in STATIC_SQL_CONF:
            try:
                spark.conf.set(k, v)
            except Exception:
                pass  # restricted conf under this deployment
    return spark
