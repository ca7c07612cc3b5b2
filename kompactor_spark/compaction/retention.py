"""Retention enforcement (TTL pruning) over the snapshot catalog.

The reference's domain is InfluxDB 3 Core, where retention policies
expire whole data files once their newest point passes the cutoff.
The reference itself never implements this; we add it as the natural
companion to compaction — the planner side is pure metadata (like
`planner.py`: zero data scans), and the commit protocol follows the
same crash-safety ordering the compaction job uses for B7:

    1. rewrite every snapshot catalog WITHOUT the expired entries
       (atomic tmp+fsync+rename per snapshot, `write_snapshot_atomic`)
    2. only then delete the now-unreferenced data files
    3. prune empty directories upward

A crash between 1 and 2 leaves orphaned files on disk (detected by
`fsck`, harmless) — never a catalog pointing at deleted data (the
reference's failure mode, kompactor.ts:263-311 deletes first).

Expiry predicate: a file is pruned iff ``max_time < cutoff_ns`` — the
whole file is past retention. Files straddling the cutoff are kept
whole (point-level trimming is a compaction rewrite, not retention).
All epochs are Python ints (ns) end-to-end — no float (bug B3 class).
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from kompactor_spark.compaction.metadata import (
    _remove_empty_dirs_upward,
    read_snapshot,
    snapshot_paths,
    write_snapshot_atomic,
)


@dataclass
class RetentionReport:
    host: str
    cutoff_ns: int
    examined_files: int = 0
    pruned_paths: list[str] = field(default_factory=list)
    freed_bytes: int = 0
    missing: list[str] = field(default_factory=list)
    dry_run: bool = False

    def summary(self) -> str:
        mode = "dry-run" if self.dry_run else "pruned"
        return (
            f"{self.host}: {mode} {len(self.pruned_paths)}/{self.examined_files} files, "
            f"{self.freed_bytes} bytes freed (cutoff={self.cutoff_ns})"
        )


def enforce_retention(
    data_dir: str,
    hosts: list[str],
    cutoff_ns: int,
    dry_run: bool = False,
) -> list[RetentionReport]:
    """Prune fully-expired files (max_time < cutoff_ns) per host.

    Driver-only metadata operation: cost is O(#catalog entries), no
    Spark job and no data scan — at 100 TB this walks KBs of JSON and
    issues unlink()s. Idempotent: a second run with the same cutoff is
    a no-op.
    """
    reports: list[RetentionReport] = []
    for host in hosts:
        rep = RetentionReport(host=host, cutoff_ns=int(cutoff_ns), dry_run=dry_run)
        # Pass 1 — plan: collect expired entries per snapshot (metadata only).
        plans = []  # (snap_path, meta, expired_infos)
        expired_paths: dict[str, int] = {}  # rel path -> size (deduped across snapshots)
        for snap_path in snapshot_paths(data_dir, host):
            meta = read_snapshot(snap_path)
            expired = [f for _, _, f in meta.all_files() if f.max_time < cutoff_ns]
            rep.examined_files += sum(1 for _ in meta.all_files())
            for f in expired:
                expired_paths.setdefault(f.path, f.size_bytes)
            plans.append((snap_path, meta, expired))
        rep.pruned_paths = sorted(expired_paths)
        rep.freed_bytes = sum(expired_paths.values())
        if dry_run or not expired_paths:
            reports.append(rep)
            continue
        # Pass 2 — commit: catalog first (atomic per snapshot) …
        for snap_path, meta, expired in plans:
            if not expired:
                continue
            drop = {f.path for f in expired}
            meta.databases = [
                (db_id, {tid: [f for f in files if f.path not in drop] for tid, files in tables.items()})
                for db_id, tables in meta.databases
            ]
            meta.recompute_totals()
            write_snapshot_atomic(meta, snap_path)
        # … then data files, then empty dirs.
        for rel in rep.pruned_paths:
            abs_path = os.path.join(data_dir, rel)
            if os.path.exists(abs_path):
                os.unlink(abs_path)
                _remove_empty_dirs_upward(
                    os.path.dirname(abs_path), os.path.join(data_dir, host)
                )
            else:
                rep.missing.append(rel)
        reports.append(rep)
    return reports
