"""Retention enforcement (TTL pruning) over the snapshot catalog.

The reference's domain is InfluxDB 3 Core, where retention policies
expire whole data files once their newest point passes the cutoff.
The reference itself never implements this; we add it as the natural
companion to compaction — the planner side is pure metadata (like
`planner.py`: zero data scans). Retention is a filter over
``metadata.load_manifest`` and one ``metadata.commit``, which drops the
expired entries and then deletes their files (B7 order there).

Expiry predicate: a file is pruned iff ``max_time < cutoff_ns`` — the
whole file is past retention. Files straddling the cutoff are kept
whole (point-level trimming is a compaction rewrite, not retention).
All epochs are Python ints (ns) end-to-end — no float (bug B3 class).
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from kompactor_spark.compaction.metadata import Swap, commit, load_manifest


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
    Spark job and no data scan — at 100 TB this walks KBs of JSON, and
    the commit issues the unlink()s. Idempotent: a second run with the
    same cutoff is a no-op.
    """
    reports: list[RetentionReport] = []
    for host in hosts:
        rep = RetentionReport(host=host, cutoff_ns=int(cutoff_ns), dry_run=dry_run)
        manifest = load_manifest(data_dir, host)
        expired = {f.path: f.size_bytes for _, _, f in manifest if f.max_time < cutoff_ns}
        rep.examined_files = len(manifest)
        rep.pruned_paths = sorted(expired)
        rep.freed_bytes = sum(expired.values())
        if not dry_run and expired:
            rep.missing = [rel for rel in rep.pruned_paths if not os.path.exists(os.path.join(data_dir, rel))]
            commit(data_dir, host, [Swap(removed=rep.pruned_paths)])
        reports.append(rep)
    return reports
