"""Catalog-scoped table reads: time travel + stats-based file skipping.

The snapshot catalog (metadata.py; reference README.md:74-106 layout,
kompactor.ts:190-192 iteration) already records per-file min/max event
time. Reading THROUGH the catalog instead of globbing the directory
buys three things that matter at 100 TB:

- **Exact file manifest** — a killed writer's orphan file (reference
  crash gap B7) is invisible until committed to a snapshot, so readers
  never see half-written data (same contract as Iceberg/Delta).
- **Time travel** — ``as_of=N`` reproduces the table as the catalog
  stood at snapshot N (valid until the files are physically removed by
  retention/compaction, exactly like Iceberg's expire-snapshots
  horizon).
- **File skipping** — a time-range predicate prunes files on catalog
  min/max BEFORE Spark ever lists or opens them. For a 1-hour query
  over a year of data that is ~1/8760 of the manifest; the driver
  hands Spark only the surviving paths, so there is no 100k-file
  listing bottleneck on the scan path at all.

The catalog is KBs and driver-side by design (SURVEY §1.3); the data
path stays a plain columnar parquet scan with pushdown intact.
"""

from __future__ import annotations

import os

from kompactor_spark.compaction.metadata import (
    TIME_COL,
    ParquetFileInfo,
    load_manifest,
    snapshot_id,
    snapshot_paths,
)
from kompactor_spark.session import read_parquet


def snapshot_ids(data_dir: str, host: str) -> list[int]:
    """Sorted numeric ids of the host's committed snapshots."""
    return sorted(snapshot_id(p) for p in snapshot_paths(data_dir, host))


def files_as_of(
    data_dir: str,
    host: str,
    db: int | None = None,
    table: int | None = None,
    as_of: int | None = None,
    min_time_ns: int | None = None,
    max_time_ns: int | None = None,
) -> list[ParquetFileInfo]:
    """File manifest for (db, table) as the catalog stood at snapshot
    ``as_of`` (inclusive; None = latest), pruned to files whose
    [min_time, max_time] overlaps the requested ns range.
    """
    out = []
    for db_id, table_id, f in load_manifest(data_dir, host, as_of=as_of):
        if db is not None and db_id != db:
            continue
        if table is not None and table_id != table:
            continue
        if min_time_ns is not None and f.max_time < min_time_ns:
            continue
        if max_time_ns is not None and f.min_time > max_time_ns:
            continue
        out.append(f)
    return sorted(out, key=lambda f: f.path)


def read_table(
    spark,
    data_dir: str,
    host: str,
    db: int,
    table: int,
    as_of: int | None = None,
    min_time_ns: int | None = None,
    max_time_ns: int | None = None,
):
    """Catalog-scoped DataFrame over one (db, table).

    File skipping happens driver-side on catalog stats; the residual
    row-level ``time`` filter is still applied (and pushed down to the
    surviving files) so results are exact, not merely file-granular.

    Raises ``FileNotFoundError`` when the manifest is empty — an empty
    table has no schema source, and silently returning nothing would
    mask a wrong (db, table, as_of) coordinate.
    """
    from pyspark.sql import functions as F

    files = files_as_of(
        data_dir, host, db=db, table=table, as_of=as_of,
        min_time_ns=min_time_ns, max_time_ns=max_time_ns,
    )
    if not files:
        raise FileNotFoundError(
            f"catalog has no files for host={host} db={db} table={table} as_of={as_of}"
        )
    df = read_parquet(spark, *[os.path.join(data_dir, f.path) for f in files])
    if min_time_ns is not None:
        df = df.where(F.col(TIME_COL) >= min_time_ns)
    if max_time_ns is not None:
        df = df.where(F.col(TIME_COL) <= max_time_ns)
    return df
