"""Compaction through the correctness gate (SURVEY §2.B K1).

Builds a real InfluxDB-3-style layout from the events table (3 WAL
files for the busiest hour), runs the full CompactionJob (merge →
sorted zstd single file → atomic catalog rewrite → source deletion),
reads the compacted output back, and returns its content. The oracle
replays the reference's merge semantics (kompactor.ts:107-111) as SQL
over the same source rows.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from kompactor_spark.compaction import CompactionJob
from kompactor_spark.compaction.metadata import ParquetFileInfo, Swap, commit
from kompactor_spark.compaction.planner import GroupKey
from kompactor_spark.compaction.writer import land, staged_write
from kompactor_spark.queries import register
from kompactor_spark.sources import clear_scratch
from kompactor_spark.tables import loader
from kompactor_spark.timeutil import NS_PER_HOUR, ns_bucket

_HOST = "host-q"


def _build_layout(spark, sf_dir: str, root: str) -> None:
    """events rows of the min-hour bucket → 3 WAL parquet files (by
    ``event_id % 3``) in one lake write, cataloged by one commit."""
    T = loader(sf_dir, spark)
    ev = T("events").select(
        F.col("ts").alias("time"), "event_id", "user_id", "event_type", "value"
    )
    min_hour = ev.agg(F.min(ns_bucket(F.col("time"), NS_PER_HOUR)).alias("h")).first()["h"]
    rows = ev.where((F.col("time") >= min_hour) & (F.col("time") < min_hour + NS_PER_HOUR))

    hour_dir = GroupKey.for_hour(_HOST, 0, 1, min_hour).dir()
    with staged_write(rows.withColumn("_wal", F.col("event_id") % 3), "_wal", root, _HOST) as staged:
        infos = [ParquetFileInfo.from_file(path, f"{hour_dir}/{int(i) + 1:010d}.parquet") for i, path in staged.items()]
        for path, info in zip(staged.values(), infos):
            land(path, root, info.path)
    commit(root, _HOST, [Swap(added=infos, db=0, table=1)])


@register(
    "k1_hour_compaction",
    oracle="""
    WITH hour0 AS (
      SELECT epoch_ns(min(time_bucket(INTERVAL '1 hour', ts))) AS h FROM events
    )
    SELECT event_id,
           epoch_ns(ts) AS time_ns,
           user_id, event_type, value
    FROM events, hour0
    WHERE epoch_ns(ts) >= h AND epoch_ns(ts) < h + 3600000000000
    ORDER BY event_id
    """,
)
def k1_hour_compaction(spark, sf_dir):
    tag = sf_dir.rstrip("/").split("/")[-1]
    root = clear_scratch("k1_layout_" + tag)
    _build_layout(spark, sf_dir, root)
    job = CompactionJob(spark, root, [_HOST])
    (report,) = job.run()
    if report.compacted_groups != 1:  # loud under python -O too
        raise RuntimeError(f"expected one merged group, got {report}")
    (out_rel,) = report.results[0].output_paths
    return (
        spark.read.parquet(os.path.join(root, out_rel))
        .select(
            "event_id",
            (F.col("time") - F.col("time") % 1000).alias("time_ns"),
            "user_id",
            "event_type",
            "value",
        )
        .orderBy("event_id")
    )
