from sf_etl_spark.sources.tables import (
    TABLES,
    ensure_parallelism,
    load_table,
)

__all__ = ["TABLES", "ensure_parallelism", "load_table"]
