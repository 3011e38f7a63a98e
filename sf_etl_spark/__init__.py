"""sf_etl_spark — a PySpark-native analytics engine.

A from-scratch, Spark-first re-expression of the capabilities of the
reference ETL toolkit ``nater540/sf-etl`` (see SURVEY.md): extraction
(connector surface), schema/type system (describe → StructType → DDL),
and — per the project north star — a complete relational query surface
plus LLM-data-pipeline operators (dedup, similarity search, multimodal
columns, text analysis), all designed around Spark's distributed
execution model (Catalyst optimization, AQE, broadcast joins,
partition-aware shuffles) so the same code scales from local testing
to 100 TB clusters.
"""

from sf_etl_spark import _zipimport_compat

__version__ = "0.1.0"

# Spark's Python workers import this package to unpickle the program's
# classes and UDFs; see the module for what it saves them per call.
_zipimport_compat.install()
