"""Snapshot metadata codec (SURVEY §1.1 metadata plane).

Format: InfluxDB 3 Core snapshot JSON (reference README.md:74-106) —
note the heterogeneous pair-arrays ``[id, object]`` for databases and
tables (Rust ``Vec<(u32, T)>`` serializations, kompactor.ts:190-192).
These cannot round-trip through spark.read.json (no single element
type), and the catalog is KBs — so this is driver-side Python by
design (SURVEY §1.3).

This module is the catalog's one code path and the only one that
deletes lake files: ``load_manifest`` is the only union over the
snapshot files, ``commit`` the only writer that changes what they hold,
and ``expire_snapshots`` folds them. All call ``read_snapshot`` /
``write_snapshot_atomic`` as globals of this module.

The format's one schema contract is the reference's: every data file
has an orderable int64 column named ``time`` (``TIME_COL``), the key of
its one write, ``read_parquet([...]) ORDER BY time`` (kompactor.ts:107-111).
A source whose time column has another name is renamed before ingest.

Fixes over the reference:
- B3: all ns epochs handled as Python int (arbitrary precision), never
  float (kompactor.ts:276-277 used Math.min/max over 1.7e18 > 2^53).
- B7: writes are atomic (tmp + fsync + rename), and ``commit`` deletes
  the files it uncatalogs only after it has written the snapshots
  (kompactor.ts deleted first).
"""

from __future__ import annotations

import contextlib
import dataclasses
import fcntl
import glob
import json
import os
import tempfile
from collections.abc import Collection, Iterable
from dataclasses import dataclass, field

from kompactor_spark.compaction.planner import parse_group_key

TIME_COL = "time"  # the event-time column of every lake file (kompactor.ts:107-111)


@dataclass
class ParquetFileInfo:
    """One data file entry (reference README.md:97-105)."""

    id: int
    path: str
    size_bytes: int
    row_count: int
    chunk_time: int  # ns epoch
    min_time: int  # ns epoch
    max_time: int  # ns epoch

    @classmethod
    def from_json(cls, obj: dict) -> ParquetFileInfo:
        return cls(
            id=int(obj["id"]),
            path=str(obj["path"]),
            size_bytes=int(obj["size_bytes"]),
            row_count=int(obj["row_count"]),
            chunk_time=int(obj["chunk_time"]),
            min_time=int(obj["min_time"]),
            max_time=int(obj["max_time"]),
        )

    @classmethod
    def from_file(cls, path: str, rel: str) -> ParquetFileInfo:
        """The entry cataloging the file at ``path`` as ``rel``: its real
        size (B6) and its footer's rows and time range (0 for a file with
        no rows). ``commit`` assigns the id."""
        rows, tmin, tmax = footer_time_stats(path)
        return cls(
            id=0,
            path=rel,
            size_bytes=os.path.getsize(path),
            row_count=rows,
            chunk_time=tmin or 0,
            min_time=tmin or 0,
            max_time=tmax or 0,
        )

    def to_json(self) -> dict:
        return {
            "id": self.id,
            "path": self.path,
            "size_bytes": self.size_bytes,
            "row_count": self.row_count,
            "chunk_time": self.chunk_time,
            "min_time": self.min_time,
            "max_time": self.max_time,
        }


@dataclass
class SnapshotMetadata:
    """One ``*.info.json`` snapshot. databases/tables keep the
    pair-array structure: list[tuple[int, ...]]."""

    writer_id: str
    parquet_size_bytes: int
    row_count: int
    min_time: int
    max_time: int
    # [(db_id, {table_id: [ParquetFileInfo, ...]}), ...]
    databases: list[tuple[int, dict[int, list[ParquetFileInfo]]]] = field(default_factory=list)

    @classmethod
    def from_json(cls, obj: dict) -> SnapshotMetadata:
        dbs: list[tuple[int, dict[int, list[ParquetFileInfo]]]] = []
        for db_id, db_info in obj.get("databases", []):
            tables: dict[int, list[ParquetFileInfo]] = {}
            for table_id, files in db_info.get("tables", []):
                tables[int(table_id)] = [ParquetFileInfo.from_json(f) for f in files]
            dbs.append((int(db_id), tables))
        return cls(
            writer_id=str(obj["writer_id"]),
            parquet_size_bytes=int(obj["parquet_size_bytes"]),
            row_count=int(obj["row_count"]),
            min_time=int(obj["min_time"]),
            max_time=int(obj["max_time"]),
            databases=dbs,
        )

    def to_json(self) -> dict:
        return {
            "writer_id": self.writer_id,
            "parquet_size_bytes": self.parquet_size_bytes,
            "row_count": self.row_count,
            "min_time": self.min_time,
            "max_time": self.max_time,
            "databases": [
                [db_id, {"tables": [[tid, [f.to_json() for f in files]] for tid, files in sorted(tables.items())]}]
                for db_id, tables in self.databases
            ],
        }

    def all_files(self):
        """Yields (db_id, table_id, ParquetFileInfo) — the reference's
        triple nested loop (kompactor.ts:190-192) as a generator."""
        for db_id, tables in self.databases:
            for table_id, files in tables.items():
                for f in files:
                    yield db_id, table_id, f

    def recompute_totals(self) -> None:
        """Exact int stats over the catalog (B3/B6 fixed)."""
        files = [f for _, _, f in self.all_files()]
        self.parquet_size_bytes = sum(f.size_bytes for f in files)
        self.row_count = sum(f.row_count for f in files)
        if files:
            self.min_time = min(f.min_time for f in files)
            self.max_time = max(f.max_time for f in files)


def read_snapshot(path: str) -> SnapshotMetadata:
    with open(path, encoding="utf-8") as fh:
        return SnapshotMetadata.from_json(json.load(fh))


def write_snapshot_atomic(meta: SnapshotMetadata, path: str) -> None:
    """tmp + fsync + rename — a crash never leaves a torn catalog (B7)."""
    d = os.path.dirname(os.path.abspath(path))
    fd, tmp = tempfile.mkstemp(dir=d, suffix=".tmp")
    try:
        with os.fdopen(fd, "w", encoding="utf-8") as fh:
            json.dump(meta.to_json(), fh, indent=2)
            fh.flush()
            os.fsync(fh.fileno())
        os.replace(tmp, path)
    finally:
        if os.path.exists(tmp):
            os.unlink(tmp)


def snapshot_paths(data_dir: str, host: str) -> list[str]:
    """Sorted ``*.info.json`` snapshot paths of a host; [] when the
    host has no ``snapshots/`` directory."""
    snap_dir = os.path.join(data_dir, host, "snapshots")
    if not os.path.isdir(snap_dir):
        return []
    return sorted(
        os.path.join(snap_dir, n) for n in os.listdir(snap_dir) if n.endswith(".info.json")
    )


def snapshot_id(path: str) -> int:
    """Numeric id of a snapshot file (``0007.info.json`` -> 7)."""
    return int(os.path.basename(path).split(".")[0])


# Pure adds (ingest, adopt) go into the snapshot with the largest id;
# on a host with no snapshot yet, into this one.
INGEST_SNAPSHOT = "0001.info.json"

Entry = tuple[int, int, ParquetFileInfo]  # (db_id, table_id, file)


def load_manifest(data_dir: str, host: str, as_of: int | None = None) -> list[Entry]:
    """The host's catalog: every snapshot up to ``as_of`` (inclusive;
    None = all) unioned by path, the later snapshot winning (the
    reference's loop over snapshot files, kompactor.ts:190-203)."""
    by_path: dict[str, Entry] = {}
    for sp in snapshot_paths(data_dir, host):
        if as_of is not None and snapshot_id(sp) > as_of:
            continue
        for entry in read_snapshot(sp).all_files():
            by_path[entry[2].path] = entry
    return list(by_path.values())


def snapshot_from_entries(entries: Iterable[Entry], writer_id: str) -> SnapshotMetadata:
    """One snapshot holding ``entries``, dbs and tables in id order,
    totals exact."""
    dbs: dict[int, dict[int, list[ParquetFileInfo]]] = {}
    for db_id, table_id, info in entries:
        dbs.setdefault(db_id, {}).setdefault(table_id, []).append(info)
    meta = SnapshotMetadata(
        writer_id=writer_id,
        parquet_size_bytes=0,
        row_count=0,
        min_time=0,
        max_time=0,
        databases=sorted(dbs.items()),
    )
    meta.recompute_totals()
    return meta


@contextlib.contextmanager
def catalog_lock(data_dir: str, host: str):
    """Exclusive ``flock`` on ``<host>/snapshots/.lock``. Every ``open``
    is its own lock holder, so this serializes threads of one process
    as well as separate processes."""
    snap_dir = os.path.join(data_dir, host, "snapshots")
    os.makedirs(snap_dir, exist_ok=True)
    with open(os.path.join(snap_dir, ".lock"), "a") as fh:
        fcntl.flock(fh, fcntl.LOCK_EX)
        yield  # closing the file releases the lock


@dataclass(frozen=True)
class Swap:
    """One change in a ``commit``: ``added`` files take the place of the
    ``removed`` paths; with nothing removed, they go into (``db``,
    ``table``) of the newest snapshot (``INGEST_SNAPSHOT`` on a host with
    none), so no older ``as_of`` sees them."""

    removed: Collection[str] = ()
    added: Collection[ParquetFileInfo] = ()
    db: int = 0
    table: int = 0


def commit(data_dir: str, host: str, swaps: list[Swap]) -> list[ParquetFileInfo]:
    """The one catalog writer: apply ``swaps`` in order, write each
    changed snapshot once, then delete the removed files, all under one
    ``catalog_lock`` on snapshots read once inside it. Returns every
    swap's added files with their ids, in swap order.

    - An added path already cataloged is replaced in place wherever it
      is and keeps its id. Any other gets a fresh id above the largest
      id in any snapshot, counting up in swap order (B6: the reference
      reused an input's id), and goes into every snapshot table that
      held one of its swap's removed files (B4: the rest of the table
      is kept). A swap that removes only uncataloged paths has no place
      for new files and refuses the whole commit.
    - Only changed snapshots are rewritten, atomically, with exact totals.
    - Then each removed path no longer cataloged is deleted from disk and
      empty dirs are pruned up to ``<host>/dbs``, which stays (C14).

    Callers write their new files before the commit, so a crash leaves
    orphans for ``fsck``, never a cataloged path missing on disk (B7).
    """
    if not swaps:
        return []
    with catalog_lock(data_dir, host):
        snaps = {sp: read_snapshot(sp) for sp in snapshot_paths(data_dir, host)}
        newest = max(snaps, key=snapshot_id, default=os.path.join(data_dir, host, "snapshots", INGEST_SNAPSHOT))
        tables: dict[tuple, dict[str, ParquetFileInfo]] = {}  # (snapshot, db, table) -> files by path
        held: dict[str, list[tuple]] = {}  # path -> the tables holding it, in snapshot order
        for sp, snap in snaps.items():
            for db, tbls in snap.databases:
                for tid, files in tbls.items():
                    tables[sp, db, tid] = {f.path: f for f in files}
                    for f in files:
                        held.setdefault(f.path, []).append((sp, db, tid))
        next_id = max((f.id for files in tables.values() for f in files.values()), default=0)
        out: list[ParquetFileInfo] = []
        for sw in swaps:
            new: dict[str, ParquetFileInfo] = {}
            for info in sw.added:
                if info.path not in held:
                    next_id += 1
                old = held.get(info.path)  # the later snapshot's entry wins
                new[info.path] = dataclasses.replace(info, id=tables[old[-1]][info.path].id if old else next_id)
            fresh = [p for p in new if p not in held]
            targets: dict[tuple, None] = {}  # the tables that held a removed file
            for p in sw.removed:
                for loc in held.pop(p, ()):
                    del tables[loc][p]
                    targets[loc] = None
            if fresh and not targets:
                if sw.removed:
                    raise RuntimeError(
                        f"commit: none of the removed files is cataloged for {host}; "
                        f"{fresh} would be left out of the catalog"
                    )
                targets = {(newest, sw.db, sw.table): None}
            for p, f in new.items():  # in place where held, else into the swap's targets
                for loc in held.setdefault(p, list(targets)):
                    tables.setdefault(loc, {})[p] = f
            out += new.values()

        changed: set[str] = set()
        for (sp, db, tid), files in tables.items():  # a new table comes last, in swap order
            snap = snaps.setdefault(sp, snapshot_from_entries([], writer_id=host))
            if db not in dict(snap.databases):
                snap.databases.append((db, {}))
            tbls = dict(snap.databases)[db]
            if tbls.get(tid) != list(files.values()):
                tbls[tid] = list(files.values())
                changed.add(sp)
        for sp in sorted(changed):
            snaps[sp].recompute_totals()
            write_snapshot_atomic(snaps[sp], sp)

        dbs = os.path.join(data_dir, host, "dbs")
        for rel in sorted({p for sw in swaps for p in sw.removed} - held.keys()):
            path = os.path.join(data_dir, rel)
            if os.path.exists(path):
                os.unlink(path)
                _remove_empty_dirs_upward(os.path.dirname(path), dbs)
    return out


def expire_snapshots(data_dir: str, host: str) -> dict:
    """Fold the host's snapshot history into one snapshot holding
    ``load_manifest`` (Iceberg-style expire-snapshots): the state is
    unchanged, and an ``as_of`` older than the new snapshot now raises,
    the documented time-travel horizon. Under ``catalog_lock``, the new
    snapshot is written atomically before the old ones are removed, so
    the union over the snapshot files is the same at every step."""
    with catalog_lock(data_dir, host):
        paths = snapshot_paths(data_dir, host)
        if len(paths) <= 1:
            return {"merged": 0, "kept": len(paths)}
        merged = snapshot_from_entries(load_manifest(data_dir, host), writer_id=host)
        out = os.path.join(data_dir, host, "snapshots", f"{snapshot_id(paths[-1]) + 1:04d}.info.json")
        write_snapshot_atomic(merged, out)
        for sp in paths:
            os.remove(sp)
    return {"merged": len(paths), "kept": 1, "snapshot": out}


def footer_time_stats(path: str) -> tuple[int, int | None, int | None]:
    """(row_count, min, max) of ``TIME_COL`` from the Parquet footer —
    a metadata read, int-exact (B3). Reads the one column only when a
    row group lacks statistics, so a stats-less file still gets its
    true range; min/max are None only for a file with no rows."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    pf = pq.ParquetFile(path)
    md = pf.metadata
    col_idx = next(
        (i for i in range(md.num_columns) if md.schema.column(i).path == TIME_COL), None
    )
    if col_idx is None:
        raise ValueError(f"{path}: no {TIME_COL!r} column")
    if md.num_rows == 0:
        return 0, None, None
    stats = [md.row_group(rg).column(col_idx).statistics for rg in range(md.num_row_groups)]
    if all(st is not None and st.has_min_max for st in stats):
        return md.num_rows, min(int(st.min) for st in stats), max(int(st.max) for st in stats)
    col = pf.read(columns=[TIME_COL]).column(TIME_COL)
    return md.num_rows, int(pc.min(col).as_py()), int(pc.max(col).as_py())


def _remove_empty_dirs_upward(d: str, stop: str) -> None:
    """Delete empty dirs from d upward, never past stop
    (kompactor.ts:5-17, C14 semantics)."""
    d, stop = os.path.abspath(d), os.path.abspath(stop)
    while d.startswith(stop) and d != stop:
        try:
            os.rmdir(d)  # fails (caught) if non-empty
        except OSError:
            return
        d = os.path.dirname(d)


def adopt(data_dir: str, host: str) -> list[ParquetFileInfo]:
    """Catalog the files under ``<host>/dbs`` that ``load_manifest`` does
    not hold and ``planner.parse_group_key`` reads, in one ``commit`` with
    a swap per (db, table): the entry point for taking ownership of files
    an external ingester wrote. Returns the adopted files with their ids;
    a second call adopts nothing. Rerun a failed compaction first, or its
    bare ``c_…`` outputs are adopted beside their inputs, duplicating rows."""
    held = {f.path for _, _, f in load_manifest(data_dir, host)}
    bare: dict[tuple[int, int], list[ParquetFileInfo]] = {}
    for p in sorted(glob.glob(os.path.join(data_dir, host, "dbs", "**", "*.parquet"), recursive=True)):
        rel = os.path.relpath(p, data_dir)
        key = parse_group_key(host, rel)
        if key is not None and rel not in held:
            bare.setdefault(key.table_ids(), []).append(ParquetFileInfo.from_file(p, rel))
    return commit(data_dir, host, [Swap(added=files, db=db, table=table) for (db, table), files in bare.items()])
