"""Streaming ingest into the reference's layout (the write path the
compactor consumes — reference README.md:74-106 format, produced by
InfluxDB's WAL flusher there, by Structured Streaming here).

Each micro-batch becomes one WAL-numbered Parquet file per
(db, table, date, hour) — `<wal>.parquet` under
`<host>/dbs/db-N/table-N/<date>/<HH-00>/` — in one call of the lake
writer (``compaction.writer.staged_write``) keyed on the hour bucket. A
micro-batch read from files reports its size to Spark's optimizer, so a
small one is written in this process; a rate source's reports none and
takes the Spark write.
A batch's event time is its int64 ns ``time`` column
(``metadata.TIME_COL``); a source whose time column has another name is
renamed before ingest (``withColumnRenamed(<name>, "time")``).
Ordering: the files land first, then ``metadata.commit`` catalogs them,
so a crash never catalogs a missing file.

Idempotent re-delivery: foreachBatch may replay a batch after a crash;
the WAL name is derived from batch_id, so a replay overwrites the same
file (os.replace) and the commit replaces the entry in place.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kompactor_spark.compaction.metadata import TIME_COL, ParquetFileInfo, Swap, commit
from kompactor_spark.compaction.planner import GroupKey
from kompactor_spark.compaction.writer import land, staged_write
from kompactor_spark.timeutil import NS_PER_HOUR, ns_bucket


class IngestJob:
    """foreachBatch sink: stream → WAL files + snapshot catalog."""

    def __init__(
        self,
        data_dir: str,
        host: str,
        db: int = 0,
        table: int = 0,
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
        self.auto_compact = auto_compact
        self.grace_ns = int(grace_ns)
        self._max_seen_ns: int | None = None
        os.makedirs(os.path.join(data_dir, host, "snapshots"), exist_ok=True)
        os.makedirs(os.path.join(data_dir, host, "dbs"), exist_ok=True)

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

        One lake-writer call per micro-batch, keyed on the hour bucket,
        writes every hour's (sorted, zstd) file: in this process for a
        small batch, in one Spark write for a large or unsized one (see
        ``compaction.writer``). The hours come from the staged directory
        names and the row counts and time ranges from the Parquet footers,
        with no per-hour job loop. Every WAL path is built before the
        first file moves, so a row with a null time raises ``ValueError``
        and leaves the lake as it was."""
        with_bucket = df.withColumn("_hour_ns", ns_bucket(F.col(TIME_COL), NS_PER_HOUR))
        wal = int(batch_id) + 1
        with staged_write(with_bucket, "_hour_ns", self.data_dir, self.host) as staged:
            # every entry before the first move: a bad key leaves no file in the lake
            new_infos = [ParquetFileInfo.from_file(path, self._wal_relpath(k, wal)) for k, path in staged.items()]
            for path, info in zip(staged.values(), new_infos):
                land(path, self.data_dir, info.path)
        if new_infos:
            commit(self.data_dir, self.host, [Swap(added=new_infos, db=self.db, table=self.table)])
            batch_max = max(i.max_time for i in new_infos)
            self._max_seen_ns = (
                batch_max if self._max_seen_ns is None else max(self._max_seen_ns, batch_max)
            )
            if self.auto_compact:
                self._compact_closed_hours(df.sparkSession)

    def _wal_relpath(self, hour_key: str, wal: int) -> str:
        """The WAL file's path for a staged hour key; a row with a null
        ``time`` stages no hour."""
        try:
            hour_ns = int(hour_key)
        except ValueError:
            raise ValueError(
                f"ingest batch has rows with a null {TIME_COL!r} (staged hour key "
                f"{hour_key!r}); nothing was moved into the lake"
            ) from None
        key = GroupKey.for_hour(self.host, self.db, self.table, hour_ns)
        return os.path.join(key.dir(), f"{wal:010d}.parquet")

    def _compact_closed_hours(self, spark) -> None:
        """Continuous compaction: merge every closed hour with >1 file.
        The cutoff is the observed event-time high-watermark minus
        grace — a pure driver decision off catalog metadata."""
        from kompactor_spark.compaction.job import CompactionJob

        if self._max_seen_ns is None:
            return
        CompactionJob(spark, self.data_dir, [self.host]).run(before_hour_ns=self._max_seen_ns - self.grace_ns)
