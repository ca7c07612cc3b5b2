"""The lake's one writer: ingest, compaction and the ``k1_hour_compaction``
layout all write through it.

It is the reference's merge (kompactor.ts:107-111: ``read_parquet([...])
ORDER BY time`` into one zstd file) done for many outputs at once. The
caller tags each row with the output it belongs to: the hour bucket for
ingest, or the group and split part for compaction. A single Spark
write then repartitions on the tag, which puts each output wholly in one
task. It sorts each task by (tag, time) and writes with
``partitionBy(tag)``, giving one time-sorted zstd file per tag.

The files go to a fresh staging directory under ``<host>/``, outside
``dbs/``, so a failed write never leaves files in the lake. Every tag
must stage exactly one file before the caller moves any of them. The
staging directory is removed when the caller is done, whatever happened.
"""

from __future__ import annotations

import contextlib
import glob
import os
import shutil
import tempfile
from collections.abc import Iterator

from pyspark.sql import DataFrame

from kompactor_spark.compaction.metadata import ParquetFileInfo
from kompactor_spark.compaction.planner import CompactionConfig


@contextlib.contextmanager
def staged_write(
    df: DataFrame,
    key: str,
    data_dir: str,
    host: str,
    time_col: str = "time",
    config: CompactionConfig | None = None,
) -> Iterator[dict[str, str]]:
    """Write ``df`` as one time-sorted file per distinct value of its
    ``key`` column; the files do not hold ``key``. Yields ``{key value
    as its directory name: staged file path}``."""
    config = config or CompactionConfig()
    host_dir = os.path.join(data_dir, host)
    os.makedirs(host_dir, exist_ok=True)
    staging = tempfile.mkdtemp(prefix="_staging_", dir=host_dir)
    try:
        (
            df.repartition(key)
            .sortWithinPartitions(key, time_col)
            .write.partitionBy(key)
            .mode("overwrite")
            .option("compression", config.compression)
            .option("parquet.page.row.count.limit", str(config.row_group_rows))
            .parquet(staging)
        )
        staged: dict[str, str] = {}
        for part_dir in sorted(glob.glob(os.path.join(staging, f"{key}=*"))):
            files = glob.glob(os.path.join(part_dir, "part-*.parquet"))
            if len(files) != 1:
                # a session with spark.sql.files.maxRecordsPerFile set, or
                # task-retry leftovers: moving one file would drop rows
                raise RuntimeError(
                    f"staged write: expected exactly 1 file in {part_dir}, found "
                    f"{len(files)}; check spark.sql.files.maxRecordsPerFile; "
                    "nothing was moved into the lake"
                )
            staged[part_dir.split("=", 1)[1]] = files[0]
        yield staged
    finally:
        shutil.rmtree(staging, ignore_errors=True)


def land(staged_path: str, data_dir: str, rel: str, time_col: str = "time") -> ParquetFileInfo:
    """Move a staged file to ``data_dir/rel``; returns its entry."""
    abs_path = os.path.join(data_dir, rel)
    os.makedirs(os.path.dirname(abs_path), exist_ok=True)
    os.replace(staged_path, abs_path)
    return ParquetFileInfo.from_file(data_dir, rel, time_col)
