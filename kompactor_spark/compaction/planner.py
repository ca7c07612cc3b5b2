"""Compaction planner — pure driver logic, no Spark (SURVEY §3.1 c-d,
§4.2 "compaction planner").

Grouping fixes reference bug B5: the reference keyed groups by
``date_hour`` only (kompactor.ts:197-198), co-merging files of
different dbs/tables; we key by (host, db, table, date, hour).

Policy constants implement the reference's declared-but-dead intent
(kompactor.ts:26-41,53-57 — SURVEY §2.A.3 D1-D4/D8): 100 MiB target,
30/130 MiB cutoffs, 70/30 time split, 24 h generation window.
"""

from __future__ import annotations

import os
import re
from collections import defaultdict
from dataclasses import dataclass, field

from kompactor_spark.compaction.metadata import Entry, ParquetFileInfo

# Filename grammar (kompactor.ts:86-96): raw WAL files and compacted
# files at hour (h) or generation/day (g) level; split parts p<i>.
RAW_FILE_RE = re.compile(r"(\d{10})\.parquet$")
COMPACTED_FILE_RE = re.compile(r"c_(\d{10})_(\d{10})_[gh]\d+(?:_p\d+)?\.parquet$")
DATE_HOUR_RE = re.compile(r"(\d{4}-\d{2}-\d{2})/(\d{2})")


@dataclass
class CompactionConfig:
    """Reference constants (kompactor.ts:38-41,110)."""

    max_desired_file_size_bytes: int = 100 * 1024 * 1024  # D1
    percentage_max_file_size: int = 30  # D2
    split_percentage: int = 70  # D3
    time_window_hours: int = 24  # D4
    row_group_rows: int = 100_000  # R4 ROW_GROUP_SIZE
    compression: str = "zstd"

    @property
    def small_cutoff_bytes(self) -> int:
        """Files below this are 'small' → always worth compacting."""
        return self.max_desired_file_size_bytes * self.percentage_max_file_size // 100

    @property
    def large_cutoff_bytes(self) -> int:
        """Projected outputs above this get a 70/30 time split."""
        return (
            self.max_desired_file_size_bytes
            + self.max_desired_file_size_bytes * self.percentage_max_file_size // 100
        )


def extract_wal_sequence(filename: str) -> int:
    """WAL sequence from raw or compacted names (kompactor.ts:86-96).
    Compacted files report their FIRST wal seq → re-compaction keeps
    idempotent ordering (C16). Adopted files with foreign names (e.g.
    a streaming writer's part-*.parquet, cataloged by
    bootstrap_snapshot) sort as seq 0; group ordering stays
    deterministic via the (seq, path) sort key."""
    m = RAW_FILE_RE.search(filename)
    if m:
        return int(m.group(1))
    m = COMPACTED_FILE_RE.search(filename)
    if m:
        return int(m.group(1))
    return 0


def is_compacted_file(filename: str) -> bool:
    """Level detection (reference D5 — dead and broken there, B2)."""
    return COMPACTED_FILE_RE.search(os.path.basename(filename)) is not None


@dataclass(frozen=True)
class GroupKey:
    host: str
    db_seg: str  # 'db-0' path segment
    table_seg: str  # 'table-3' path segment
    date: str  # YYYY-MM-DD
    hour: str  # HH


@dataclass
class CompactionGroup:
    key: GroupKey
    files: list[ParquetFileInfo] = field(default_factory=list)

    def sorted_files(self) -> list[ParquetFileInfo]:
        return sorted(self.files, key=lambda f: (extract_wal_sequence(os.path.basename(f.path)), f.path))

    @property
    def total_size_bytes(self) -> int:
        return sum(f.size_bytes for f in self.files)

    def output_name(self) -> str:
        s = self.sorted_files()
        first = extract_wal_sequence(os.path.basename(s[0].path))
        last = extract_wal_sequence(os.path.basename(s[-1].path))
        return f"c_{first:010d}_{last:010d}_h{int(self.key.hour)}.parquet"

    def output_relpath(self) -> str:
        """<host>/dbs/<db>/<table>/<date>/<HH-00>/<name> (kompactor.ts:224-237)."""
        k = self.key
        return os.path.join(k.host, "dbs", k.db_seg, k.table_seg, k.date, f"{k.hour}-00", self.output_name())


@dataclass
class CompactionPlan:
    groups: list[CompactionGroup]
    skipped_singletons: int = 0


def parse_group_key(host: str, file_path: str) -> GroupKey | None:
    """Path → (host, db, table, date, hour). Expects the canonical
    7-component layout (kompactor.ts:63-80); returns None for paths
    without a date/hour segment."""
    m = DATE_HOUR_RE.search(file_path)
    if not m:
        return None
    parts = file_path.split("/")
    # <host>/dbs/<db-N>/<table-N>/<date>/<HH-MM>/<file>
    if len(parts) >= 7 and parts[1] == "dbs":
        db_seg, table_seg = parts[2], parts[3]
    elif len(parts) >= 6:  # tolerate host-relative paths
        db_seg, table_seg = parts[-5], parts[-4]
    else:
        return None
    return GroupKey(host=host, db_seg=db_seg, table_seg=table_seg, date=m.group(1), hour=m.group(2))


def hour_start_ns(key: GroupKey) -> int:
    """UTC start of a group's hour as an exact ns epoch (int math)."""
    import calendar
    import datetime

    d = datetime.date.fromisoformat(key.date)
    epoch_s = calendar.timegm(d.timetuple()) + int(key.hour) * 3600
    return epoch_s * 1_000_000_000


def plan_compaction(
    host: str,
    manifest: list[Entry],
    before_hour_ns: int | None = None,
) -> CompactionPlan:
    """Regex-extract → group (B5 fixed) → drop singletons
    (kompactor.ts:213), over the path-deduplicated ``load_manifest``.

    ``before_hour_ns`` scopes the plan to CLOSED hours — groups whose
    hour ends at or before the cutoff. This is the continuous-
    compaction gate: an ingest stream compacts only hours the event
    clock has moved past, never the hour still receiving writes.
    """
    by_key: dict[GroupKey, list[ParquetFileInfo]] = defaultdict(list)
    for _db_id, _table_id, f in manifest:
        key = parse_group_key(host, f.path)
        if key is not None:
            by_key[key].append(f)

    groups, skipped = [], 0
    for key in sorted(by_key, key=lambda k: (k.db_seg, k.table_seg, k.date, k.hour)):
        if before_hour_ns is not None and hour_start_ns(key) + 3_600_000_000_000 > before_hour_ns:
            continue  # hour still open — not counted as a skipped singleton
        files = by_key[key]
        if len(files) <= 1:
            skipped += 1
            continue
        groups.append(CompactionGroup(key=key, files=files))
    return CompactionPlan(groups=groups, skipped_singletons=skipped)


def split_cut_times(min_time: int, max_time: int, split_percentage: int) -> int:
    """70/30 split point in ns (exact int math — B3 discipline)."""
    return min_time + (max_time - min_time) * split_percentage // 100


def compute_split_cuts(
    min_time: int, max_time: int, total_bytes: int, config: CompactionConfig
) -> list[int]:
    """Split points for an oversized output (reference D3 intent,
    kompactor.ts:40): while the projected output exceeds the large
    cutoff, cut the remaining time range at split_percentage — the
    leading part targets ~max_desired size, the 30% tail is re-examined.
    Byte density is assumed uniform over time (the only stat available
    without scanning). Returns [] when no split is needed.
    """
    cuts: list[int] = []
    lo, remaining = min_time, total_bytes
    while remaining > config.large_cutoff_bytes and lo < max_time:
        cut = split_cut_times(lo, max_time, config.split_percentage)
        if cut <= lo or cut >= max_time:
            break
        cuts.append(cut)
        remaining -= remaining * config.split_percentage // 100
        lo = cut
    return cuts


@dataclass
class GenerationGroup:
    """K2: a day's files (raw + hour-compacted) to merge to generation
    level (reference D4/D8 — the ``g`` filename level that was designed
    but never produced, kompactor.ts:41,92)."""

    key: GroupKey  # hour field is "" at day level
    files: list[ParquetFileInfo] = field(default_factory=list)

    def sorted_files(self) -> list[ParquetFileInfo]:
        return sorted(self.files, key=lambda f: (extract_wal_sequence(os.path.basename(f.path)), f.path))

    @property
    def total_size_bytes(self) -> int:
        return sum(f.size_bytes for f in self.files)

    def output_name(self) -> str:
        s = self.sorted_files()
        first = extract_wal_sequence(os.path.basename(s[0].path))
        last = extract_wal_sequence(os.path.basename(s[-1].path))
        # g<days-since-epoch>: the generation window index, mirroring
        # h<hour> at hour level (filename grammar kompactor.ts:92).
        import datetime as _dt

        day = (_dt.date.fromisoformat(self.key.date) - _dt.date(1970, 1, 1)).days
        return f"c_{first:010d}_{last:010d}_g{day}.parquet"

    def output_relpath(self) -> str:
        """Day-level outputs live directly under <date>/."""
        k = self.key
        return os.path.join(k.host, "dbs", k.db_seg, k.table_seg, k.date, self.output_name())


def is_generation_file(filename: str) -> bool:
    m = COMPACTED_FILE_RE.search(os.path.basename(filename))
    return bool(m) and "_g" in os.path.basename(filename)[m.start() : m.end()]


def plan_generation(
    host: str,
    manifest: list[Entry],
    config: CompactionConfig,
    now_ns: int | None = None,
) -> CompactionPlan:
    """Group ALL of a day's files (hour-compacted + stray raw) by
    (host, db, table, date). A day is eligible when its newest data is
    older than the compaction window (time_window_hours before now_ns) —
    pass now_ns=None to compact every day (manual/backfill mode).
    Files already at generation level and >= large cutoff are left
    alone (D2: no value re-writing a full-size file)."""
    by_key: dict[GroupKey, list[ParquetFileInfo]] = defaultdict(list)
    for _db_id, _table_id, f in manifest:
        hk = parse_group_key(host, f.path)
        if hk is not None:
            key = GroupKey(host=hk.host, db_seg=hk.db_seg, table_seg=hk.table_seg, date=hk.date, hour="")
        else:
            # day-level paths have no HH segment; parse date directly
            m = re.search(r"/(\d{4}-\d{2}-\d{2})/", f.path)
            if not m:
                continue
            parts = f.path.split("/")
            if len(parts) < 4:
                continue
            i = parts.index(m.group(1))
            key = GroupKey(host=host, db_seg=parts[i - 2], table_seg=parts[i - 1], date=m.group(1), hour="")
        by_key[key].append(f)

    window_ns = config.time_window_hours * 3_600_000_000_000
    groups, skipped = [], 0
    for key in sorted(by_key, key=lambda k: (k.db_seg, k.table_seg, k.date)):
        files = [
            f
            for f in by_key[key]
            if not (is_generation_file(f.path) and f.size_bytes >= config.large_cutoff_bytes)
        ]
        if now_ns is not None and files and max(f.max_time for f in files) > now_ns - window_ns:
            skipped += 1
            continue
        if len(files) <= 1:
            skipped += 1
            continue
        groups.append(GenerationGroup(key=key, files=files))
    return CompactionPlan(groups=groups, skipped_singletons=skipped)
