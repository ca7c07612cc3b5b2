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

from kompactor_spark.compaction.metadata import ParquetFileInfo, read_snapshot, snapshot_paths


def _snapshot_id(path: str) -> int:
    return int(os.path.basename(path).split(".")[0])


def snapshot_ids(data_dir: str, host: str) -> list[int]:
    """Sorted numeric ids of the host's committed snapshots."""
    return sorted(_snapshot_id(p) for p in snapshot_paths(data_dir, host))


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

    Later snapshots win on path collisions (same dedup rule as the
    compaction planner's cross-snapshot merge).
    """
    by_path: dict[str, ParquetFileInfo] = {}
    for sp in snapshot_paths(data_dir, host):
        if as_of is not None and _snapshot_id(sp) > as_of:
            continue
        for db_id, table_id, f in read_snapshot(sp).all_files():
            if db is not None and db_id != db:
                continue
            if table is not None and table_id != table:
                continue
            by_path[f.path] = f
    out = []
    for f in by_path.values():
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
    df = spark.read.parquet(*[os.path.join(data_dir, f.path) for f in files])
    if min_time_ns is not None:
        df = df.where(F.col("time") >= min_time_ns)
    if max_time_ns is not None:
        df = df.where(F.col("time") <= max_time_ns)
    return df


def expire_snapshots(data_dir: str, host: str) -> dict:
    """Fold the host's snapshot history into ONE manifest file
    (Iceberg-style expire-snapshots, the catalog-GC companion to
    `read_table(as_of=...)`).

    Every snapshot file holds a subset of the CURRENT file set
    (compaction/retention rewrite all snapshots in place), so the fold
    is a pure union-dedup by path — state is unchanged, only history
    granularity is lost: after expiry, ``as_of`` older than the merged
    snapshot raises, which IS the documented time-travel horizon.

    Crash-safe ordering: the merged snapshot is written (atomically)
    BEFORE the old ones are unlinked; at any intermediate point the
    union over remaining snapshot files is identical, so readers and
    fsck never see a torn catalog.

    Driver-side O(#files) JSON work — at 100 TB this keeps the
    per-read catalog parse bounded no matter how many ingest batches
    have committed snapshots.
    """
    from kompactor_spark.compaction.metadata import (
        SnapshotMetadata,
        read_snapshot,
        write_snapshot_atomic,
    )

    paths = snapshot_paths(data_dir, host)
    if len(paths) <= 1:
        return {"merged": 0, "kept": len(paths)}
    by_path: dict = {}
    writer_id = host
    for sp in paths:
        snap = read_snapshot(sp)
        writer_id = snap.writer_id
        for db_id, table_id, f in snap.all_files():
            by_path[f.path] = (db_id, table_id, f)
    dbs: dict = {}
    for db_id, table_id, f in by_path.values():
        dbs.setdefault(db_id, {}).setdefault(table_id, []).append(f)
    merged = SnapshotMetadata(
        writer_id=writer_id,
        parquet_size_bytes=0,
        row_count=0,
        min_time=0,
        max_time=0,
        databases=[(d, t) for d, t in sorted(dbs.items())],
    )
    merged.recompute_totals()
    new_id = max(_snapshot_id(p) for p in paths) + 1
    out = os.path.join(data_dir, host, "snapshots", f"{new_id:04d}.info.json")
    write_snapshot_atomic(merged, out)
    for sp in paths:
        os.remove(sp)
    return {"merged": len(paths), "kept": 1, "snapshot": out}
