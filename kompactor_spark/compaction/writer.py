"""The lake's one writer: ingest, compaction and the ``k1_hour_compaction``
layout all write through it.

It is the reference's merge (kompactor.ts:107-111: ``read_parquet([...])
ORDER BY time`` into one file, ``COMPRESSION 'ZSTD', ROW_GROUP_SIZE
100000``) done for many outputs at once. The codec and the row-group
size are fixed facts of the format, like the ``time`` column
(``metadata.TIME_COL``): every file is zstd with ``ROW_GROUP_ROWS``-row
row groups. The caller tags each row with the output it belongs to: the
hour bucket for ingest, or the group and split part for compaction. The
writer gives one time-sorted file per tag, staged as
``<tag>=<value>/part-*.parquet`` (a null tag is
``__HIVE_DEFAULT_PARTITION__``, as Spark names it).

One rule picks the backend: Spark's optimizer estimate of the frame's
size, which launches no job (for a Parquet read it is the files' bytes).

- At or below ``LOCAL_WRITE_MAX_BYTES`` the frame is collected once with
  ``toArrow()`` and sorted, split and written in this process by pyarrow,
  the reference's single-process model. A Spark write job costs about
  200 ms whatever its size, most of an ingest micro-batch's write.
- Above it, or when the size is unknown (Spark reports ``Long.MaxValue``,
  as for a rate-source micro-batch), one Spark write repartitions on the
  tag, which puts each output wholly in one task, sorts each task by
  (tag, time) and writes with ``partitionBy(tag)``.

8 MiB is where the in-process write was still clearly ahead. On a 4-vCPU
VM, local[4], median of 4, in-process against Spark: 182 against 318 ms
at a 6.3 MB estimate, 701 against 723 ms at 21 MB and 2,747 against
1,487 ms at 82 MB with the default JIT; 545 against 772 ms at 6.2 MB and
1,679 against 1,978 ms at 20.7 MB with the C1-only JIT the benchmark
uses. The in-process files use zstd level 3 and dictionary encoding only
where a column's distinct values are at most half its rows, as
parquet-mr falls back to plain otherwise. At those sizes they came
within 0.2 % of Spark's bytes; files of a few dozen rows, mostly footer
and page headers, come out 4-6 % larger.

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

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame

from kompactor_spark.compaction.metadata import TIME_COL

LOCAL_WRITE_MAX_BYTES = 8 * 1024 * 1024  # largest size estimate written in-process
ROW_GROUP_ROWS = 100_000  # R4: the reference's ROW_GROUP_SIZE


@contextlib.contextmanager
def staged_write(df: DataFrame, key: str, data_dir: str, host: str) -> Iterator[dict[str, str]]:
    """Write ``df`` as one time-sorted file per distinct value of its
    ``key`` column; the files do not hold ``key``. Yields ``{key value
    as its directory name: staged file path}``."""
    host_dir = os.path.join(data_dir, host)
    os.makedirs(host_dir, exist_ok=True)
    staging = tempfile.mkdtemp(prefix="_staging_", dir=host_dir)
    try:
        # Spark's optimizer estimate launches no job; Long.MaxValue when unknown
        if df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes() <= LOCAL_WRITE_MAX_BYTES:
            _write_local(df.toArrow(), key, staging)
        else:
            # Spark has no row-count setting for row groups (they close
            # by bytes), so here the value caps the rows per page
            (
                df.repartition(key)
                .sortWithinPartitions(key, TIME_COL)
                .write.partitionBy(key)
                .mode("overwrite")
                .option("compression", "zstd")
                .option("parquet.page.row.count.limit", str(ROW_GROUP_ROWS))
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


def _write_local(table: pa.Table, key: str, staging: str) -> None:
    """The in-process backend: a stable sort by (key, time), nulls first
    as in Spark's ascending sort, then one file per run of equal keys."""
    order = pc.sort_indices(table, [(key, "ascending"), (TIME_COL, "ascending")], null_placement="at_start")
    table = table.take(order)
    start = 0
    for run in pc.value_counts(table[key]):  # in order of appearance: sorted
        value, n = run["values"].as_py(), run["counts"].as_py()
        part = table.slice(start, n).drop_columns([key])
        start += n
        part_dir = os.path.join(staging, f"{key}={'__HIVE_DEFAULT_PARTITION__' if value is None else value}")
        os.makedirs(part_dir)
        pq.write_table(
            part,
            os.path.join(part_dir, "part-00000.parquet"),
            compression="zstd",
            compression_level=3,  # parquet-mr's default
            row_group_size=ROW_GROUP_ROWS,
            use_dictionary=[
                f.name
                for f, col in zip(part.schema, part.columns)
                if not pa.types.is_nested(f.type) and 2 * pc.count_distinct(col).as_py() <= len(col)
            ],
        )


def land(staged_path: str, data_dir: str, rel: str) -> None:
    """Move a staged file to ``data_dir/rel``. Callers take its entry
    (``ParquetFileInfo.from_file``) from the staged file, before any
    file moves."""
    abs_path = os.path.join(data_dir, rel)
    os.makedirs(os.path.dirname(abs_path), exist_ok=True)
    os.replace(staged_path, abs_path)
