"""kompactor_spark — a PySpark-native analytics engine.

A ground-up Spark-first re-expression of the capabilities of the
reference compactor (metrico/kompactor, surveyed in SURVEY.md): a
metadata-driven Parquet compaction pipeline PLUS the full declared
relational / streaming / LLM-data-pipeline query surface (SURVEY §2.B).

Everything here is public PySpark API: DataFrames over Parquet,
Catalyst-optimized declarative plans, Structured Streaming, pandas UDFs
only where built-ins cannot express the semantics.
"""

from kompactor_spark.compaction import CompactionJob
from kompactor_spark.compaction.fsck import fsck_host
from kompactor_spark.compaction.retention import enforce_retention
from kompactor_spark import functions as chsql  # ClickHouse-compat surface (R5)
from kompactor_spark.session import ensure_conf, get_spark
from kompactor_spark.sql_api import run_sql
from kompactor_spark.tables import TABLES, load_table

__all__ = [
    "CompactionJob",
    "TABLES",
    "chsql",
    "enforce_retention",
    "ensure_conf",
    "fsck_host",
    "get_spark",
    "load_table",
    "run_sql",
]
__version__ = "0.1.0"
