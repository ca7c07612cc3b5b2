"""Compaction through the correctness gate (SURVEY §2.B K1).

Builds a real InfluxDB-3-style layout from the events table (3 WAL
files for the busiest hour), runs the full CompactionJob (merge →
sorted zstd single file → atomic catalog rewrite → source deletion),
reads the compacted output back, and returns its content. The oracle
replays the reference's merge semantics (kompactor.ts:107-111) as SQL
over the same source rows.
"""

from __future__ import annotations

import glob
import os
import shutil

from pyspark.sql import functions as F

from kompactor_spark.compaction import CompactionJob
from kompactor_spark.compaction.metadata import ParquetFileInfo, commit, footer_time_stats
from kompactor_spark.queries import register
from kompactor_spark.sources import clear_scratch
from kompactor_spark.tables import loader

_HOST = "host-q"


def _build_layout(spark, sf_dir: str, root: str) -> None:
    """events rows of the min-hour bucket → 3 WAL parquet files, cataloged
    by one commit."""
    T = loader(sf_dir, spark)
    ev = T("events").select(
        F.col("ts").alias("time"), "event_id", "user_id", "event_type", "value"
    )
    hour_ns = 3600 * 1_000_000_000
    min_hour = ev.agg(F.min((F.col("time") - F.col("time") % hour_ns)).alias("h")).first()["h"]
    rows = ev.where((F.col("time") >= min_hour) & (F.col("time") < min_hour + hour_ns))

    import datetime

    dt = datetime.datetime.fromtimestamp(min_hour / 1e9, tz=datetime.timezone.utc)
    date, hour = dt.strftime("%Y-%m-%d"), dt.hour
    infos = []
    for i in range(3):
        rel = f"{_HOST}/dbs/db-0/table-1/{date}/{hour:02d}-00/{i + 1:010d}.parquet"
        abs_dir = os.path.join(root, rel + ".d")
        shard = rows.where(F.col("event_id") % 3 == i).coalesce(1).sortWithinPartitions("time")
        shard.write.mode("overwrite").parquet(abs_dir)
        (part,) = glob.glob(os.path.join(abs_dir, "part-*.parquet"))
        abs_path = os.path.join(root, rel)
        os.makedirs(os.path.dirname(abs_path), exist_ok=True)
        os.replace(part, abs_path)
        shutil.rmtree(abs_dir, ignore_errors=True)
        n, mn, mx = footer_time_stats(abs_path)
        infos.append(
            ParquetFileInfo(
                id=0, path=rel, size_bytes=os.path.getsize(abs_path), row_count=n,
                chunk_time=mn, min_time=mn, max_time=mx,
            )
        )
    commit(root, _HOST, added=infos, db=0, table=1)


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
    job = CompactionJob(spark, root, [_HOST], time_col="time")
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
