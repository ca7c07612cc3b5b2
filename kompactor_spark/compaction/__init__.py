"""Compaction engine (SURVEY §2.B K1-K2).

The reference's purpose — metadata-driven Parquet compaction for an
InfluxDB-3-style layout (kompactor.ts:172-323) — rebuilt Spark-first
with its bugs fixed (SURVEY §2.A.4 B1-B9) and its dead/planned policy
implemented (D1-D4/D8: size cutoffs, 70/30 split, generation level).
"""

from kompactor_spark.compaction.job import CompactionJob
from kompactor_spark.compaction.metadata import ParquetFileInfo, SnapshotMetadata, expire_snapshots
from kompactor_spark.compaction.readers import files_as_of, read_table, snapshot_ids
from kompactor_spark.compaction.planner import (
    CompactionPlan,
    compute_split_cuts,
    plan_compaction,
    plan_generation,
)

__all__ = [
    "CompactionJob",
    "CompactionPlan",
    "ParquetFileInfo",
    "SnapshotMetadata",
    "compute_split_cuts",
    "expire_snapshots",
    "files_as_of",
    "read_table",
    "snapshot_ids",
    "plan_compaction",
    "plan_generation",
]
