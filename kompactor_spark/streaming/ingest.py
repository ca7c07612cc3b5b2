"""Streaming ingest into the reference's layout (the write path the
compactor consumes — reference README.md:74-106 format, produced by
InfluxDB's WAL flusher there, by Structured Streaming here).

Each micro-batch becomes one WAL-numbered Parquet file per
(db, table, date, hour) — `<wal>.parquet` under
`<host>/dbs/db-N/table-N/<date>/<HH-00>/`. Ordering: the files land
first, then ``metadata.commit`` catalogs them, so a crash never
catalogs a missing file.

Idempotent re-delivery: foreachBatch may replay a batch after a crash;
the WAL name is derived from batch_id, so a replay overwrites the same
file (os.replace) and the commit replaces the entry in place.
"""

from __future__ import annotations

import glob
import os
import shutil

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kompactor_spark.compaction.metadata import (
    INGEST_SNAPSHOT,
    ParquetFileInfo,
    commit,
    footer_time_stats,
)

NS_PER_HOUR = 3_600_000_000_000


class IngestJob:
    """foreachBatch sink: stream → WAL files + snapshot catalog."""

    def __init__(
        self,
        data_dir: str,
        host: str,
        db: int = 0,
        table: int = 0,
        time_col: str = "time",
        auto_compact: bool = False,
        grace_ns: int = 0,
    ):
        """``auto_compact``: after each batch, run hour compaction for
        hours the event clock has closed (hour end + ``grace_ns`` ≤ max
        ingested event time) — continuous compaction: the hour still
        receiving writes is never touched, closed hours with >1 WAL
        file merge as soon as they seal. Idempotent like the manual
        path (C16: re-runs fold `c_…h` outputs with any stragglers)."""
        self.data_dir = data_dir
        self.host = host
        self.db = db
        self.table = table
        self.time_col = time_col
        self.auto_compact = auto_compact
        self.grace_ns = int(grace_ns)
        self._max_seen_ns: int | None = None
        os.makedirs(os.path.join(data_dir, host, "snapshots"), exist_ok=True)
        os.makedirs(os.path.join(data_dir, host, "dbs"), exist_ok=True)

    @property
    def snapshot_path(self) -> str:
        return os.path.join(self.data_dir, self.host, "snapshots", INGEST_SNAPSHOT)

    def attach(self, stream: DataFrame, checkpoint: str):
        """Wire this sink into a streaming DataFrame; returns the query."""
        return (
            stream.writeStream.foreachBatch(self.write_batch)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )

    def write_batch(self, df: DataFrame, batch_id: int) -> None:
        """One WAL file per (date, hour) present in the batch.

        Single Spark job per micro-batch: dynamic ``partitionBy`` on the
        hour bucket writes every hour's (sorted, zstd) file in one pass;
        the driver then discovers the hours from the staged DIRECTORY
        NAMES and takes row-count/min/max from the Parquet FOOTERS — no
        ``collect()`` of data and no per-hour job loop (the previous
        shape was 2·hours+1 jobs per batch and a driver round-trip)."""
        t = F.col(self.time_col)
        # subtract-modulo, not `/`: ns epochs exceed double's 2^53, and
        # the float path can misroute boundary rows into the wrong hour
        with_bucket = df.withColumn("_hour_ns", (t - t % NS_PER_HOUR).cast("long"))
        staging_root = os.path.join(
            self.data_dir, self.host, f"_ingest_staging_{int(batch_id)}"
        )
        shutil.rmtree(staging_root, ignore_errors=True)
        (
            # repartition on the bucket → each hour lands wholly in one
            # task → exactly one file per hour; the within-task sort
            # keys (bucket, time) so every output file is time-sorted
            with_bucket.repartition("_hour_ns")
            .sortWithinPartitions("_hour_ns", self.time_col)
            .write.partitionBy("_hour_ns")
            .mode("overwrite")
            .option("compression", "zstd")
            .parquet(staging_root)
        )
        wal = int(batch_id) + 1
        new_infos: list[ParquetFileInfo] = []
        try:
            hour_dirs = sorted(glob.glob(os.path.join(staging_root, "_hour_ns=*")))
            # Validate EVERY hour before moving ANY file: on a foreign
            # session (spark.sql.files.maxRecordsPerFile set, or leftover
            # files from task retries) an hour can stage >1 part file —
            # failing mid-loop would leave a partially applied batch.
            staged: dict[str, str] = {}
            for part_dir in hour_dirs:
                parts = glob.glob(os.path.join(part_dir, "part-*.parquet"))
                if len(parts) != 1:
                    raise RuntimeError(
                        f"ingest staging: expected exactly 1 part file in {part_dir}, "
                        f"found {len(parts)} — check spark.sql.files.maxRecordsPerFile "
                        "or leftover task-retry files; no staged hour was applied"
                    )
                staged[part_dir] = parts[0]
            for part_dir in hour_dirs:
                hour_ns = int(os.path.basename(part_dir).split("=", 1)[1])
                import datetime

                dt = datetime.datetime.fromtimestamp(hour_ns / 1e9, tz=datetime.timezone.utc)
                rel = os.path.join(
                    self.host,
                    "dbs",
                    f"db-{self.db}",
                    f"table-{self.table}",
                    dt.strftime("%Y-%m-%d"),
                    f"{dt.hour:02d}-00",
                    f"{wal:010d}.parquet",
                )
                abs_path = os.path.join(self.data_dir, rel)
                written = staged[part_dir]
                n_rows, mn, mx = footer_time_stats(written, self.time_col)
                os.makedirs(os.path.dirname(abs_path), exist_ok=True)
                os.replace(written, abs_path)
                new_infos.append(
                    ParquetFileInfo(
                        id=0,  # assigned by the commit below
                        path=rel,
                        size_bytes=os.path.getsize(abs_path),
                        row_count=n_rows,
                        chunk_time=mn,
                        min_time=mn,
                        max_time=mx,
                    )
                )
        finally:
            shutil.rmtree(staging_root, ignore_errors=True)
        if new_infos:
            commit(self.data_dir, self.host, added=new_infos, db=self.db, table=self.table)
            batch_max = max(i.max_time for i in new_infos)
            self._max_seen_ns = (
                batch_max if self._max_seen_ns is None else max(self._max_seen_ns, batch_max)
            )
            if self.auto_compact:
                self._compact_closed_hours(df.sparkSession)

    def _compact_closed_hours(self, spark) -> None:
        """Continuous compaction: merge every closed hour with >1 file.
        The cutoff is the observed event-time high-watermark minus
        grace — a pure driver decision off catalog metadata."""
        from kompactor_spark.compaction.job import CompactionJob

        if self._max_seen_ns is None:
            return
        CompactionJob(spark, self.data_dir, [self.host], time_col=self.time_col).run(
            before_hour_ns=self._max_seen_ns - self.grace_ns
        )
