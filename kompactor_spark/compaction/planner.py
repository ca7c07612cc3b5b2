"""Compaction planner — pure driver logic, no Spark (SURVEY §3.1 c-d,
§4.2 "compaction planner").

This module alone knows the lake's path grammar (the reference's
``validateSourcePath``, D6, kompactor.ts:63-80, defined there but never
called):

    <host>/dbs/db-<N>/table-<N>/<YYYY-MM-DD>/<HH-MM>/<file>   hour level
    <host>/dbs/db-<N>/table-<N>/<YYYY-MM-DD>/<file>           day level

``parse_group_key`` reads these fixed positions and nothing else; a
cataloged path of any other shape stays cataloged and readable but is
never planned, and a bare one is never adopted. ``GroupKey`` builds the
same paths back, for the planner's outputs and every lake writer.

Grouping fixes reference bug B5: the reference keyed groups by
``date_hour`` only (kompactor.ts:197-198), co-merging files of
different dbs/tables; we key by (host, db, table, date, hour).

The size policy is the reference's declared-but-dead intent as two
constants (kompactor.ts:38-40, SURVEY §2.A.3 D1-D3): a projected output
above ``LARGE_CUTOFF_BYTES`` splits 70/30 by time (``SPLIT_PERCENT``).
The generation window (D4, kompactor.ts:41) is the caller's cutoff, as
the hour pass's is.
"""

from __future__ import annotations

import calendar
import dataclasses
import datetime
import os
import re
from collections import defaultdict
from dataclasses import dataclass, field
from typing import TYPE_CHECKING

from kompactor_spark.timeutil import NS_PER_DAY, NS_PER_HOUR, NS_PER_SECOND

if TYPE_CHECKING:  # metadata.adopt reads paths through this module
    from kompactor_spark.compaction.metadata import Entry, ParquetFileInfo

# Filename grammar (kompactor.ts:86-96): raw WAL files and compacted
# files at hour (h) or generation/day (g) level; split parts p<i>.
RAW_FILE_RE = re.compile(r"(\d{10})\.parquet$")
COMPACTED_FILE_RE = re.compile(r"c_(\d{10})_(\d{10})_[gh]\d+(?:_p\d+)?\.parquet$")
_KEY_DIRS_RE = re.compile(r"db-\d+/table-\d+/\d{4}-\d{2}-\d{2}")  # the layout's dirs (SURVEY.md §1.1, FIXTURES.md §2)
_HOUR_DIR_RE = re.compile(r"(\d{2})-\d{2}")

# D1 + D2 (kompactor.ts:38-39): the 100 MiB target plus 30 %; a projected
# output above this splits, and a generation file at or above it is full.
LARGE_CUTOFF_BYTES = 130 * 1024 * 1024
SPLIT_PERCENT = 70  # D3 (kompactor.ts:40): the leading part of a split, by time


def extract_wal_sequence(filename: str) -> int:
    """WAL sequence from raw or compacted names (kompactor.ts:86-96).
    Compacted files report their FIRST wal seq → re-compaction keeps
    idempotent ordering (C16). Adopted files with foreign names (e.g.
    a streaming writer's part-*.parquet, cataloged by ``metadata.adopt``)
    sort as seq 0; group ordering stays deterministic via the
    (seq, path) sort key."""
    m = RAW_FILE_RE.search(filename)
    if m:
        return int(m.group(1))
    m = COMPACTED_FILE_RE.search(filename)
    if m:
        return int(m.group(1))
    return 0


@dataclass(frozen=True, order=True)
class GroupKey:
    host: str
    db_seg: str  # 'db-0' path segment
    table_seg: str  # 'table-3' path segment
    date: str  # YYYY-MM-DD
    hour: str  # HH; "" at day level

    @classmethod
    def for_hour(cls, host: str, db: int, table: int, hour_ns: int) -> GroupKey:
        """The key of (db, table)'s UTC hour that starts at ``hour_ns``."""
        dt = datetime.datetime.fromtimestamp(hour_ns // NS_PER_SECOND, tz=datetime.timezone.utc)
        return cls(host, f"db-{db}", f"table-{table}", f"{dt:%Y-%m-%d}", f"{dt.hour:02d}")

    def table_ids(self) -> tuple[int, int]:
        return int(self.db_seg.removeprefix("db-")), int(self.table_seg.removeprefix("table-"))

    def start_ns(self) -> int:
        """UTC start of the key's hour (its day at day level) as an exact
        ns epoch (int math)."""
        d = datetime.date.fromisoformat(self.date)
        return calendar.timegm(d.timetuple()) * NS_PER_SECOND + int(self.hour or 0) * NS_PER_HOUR

    def dir(self) -> str:
        """``<host>/dbs/<db>/<table>/<date>``, then ``<HH-00>`` at hour level."""
        d = os.path.join(self.host, "dbs", self.db_seg, self.table_seg, self.date)
        return os.path.join(d, f"{self.hour}-00") if self.hour else d


def parse_group_key(host: str, file_path: str) -> GroupKey | None:
    """A cataloged path's key: 7 segments give an hour-level key, 6 a
    day-level one (``hour=""``); any other path gives None."""
    parts = file_path.split("/")
    if len(parts) not in (6, 7) or parts[:2] != [host, "dbs"] or not _KEY_DIRS_RE.fullmatch("/".join(parts[2:5])):
        return None
    hour = ""
    if len(parts) == 7:
        m = _HOUR_DIR_RE.fullmatch(parts[5])
        if m is None:
            return None
        hour = m.group(1)
    return GroupKey(host=host, db_seg=parts[2], table_seg=parts[3], date=parts[4], hour=hour)


@dataclass
class CompactionGroup:
    """The files one merge folds into one output: an hour's (K1) or, at
    generation level (K2, reference D4/D8 — the ``g`` filename level that
    was designed but never produced, kompactor.ts:41,92), a day's."""

    key: GroupKey
    files: list[ParquetFileInfo] = field(default_factory=list)

    def sorted_files(self) -> list[ParquetFileInfo]:
        return sorted(self.files, key=lambda f: (extract_wal_sequence(os.path.basename(f.path)), f.path))

    @property
    def total_size_bytes(self) -> int:
        return sum(f.size_bytes for f in self.files)

    def output_relpath(self, part: int | None = None) -> str:
        """``c_<first>_<last>_h<H>`` inside the hour's dir
        (kompactor.ts:224-237), or ``c_<first>_<last>_g<days since
        epoch>`` directly under ``<date>/``, the generation window index
        mirroring h<hour> (filename grammar kompactor.ts:92); split part
        ``part`` adds ``_p<part>``."""
        s = self.sorted_files()
        first = extract_wal_sequence(os.path.basename(s[0].path))
        last = extract_wal_sequence(os.path.basename(s[-1].path))
        k = self.key
        level = f"h{int(k.hour)}" if k.hour else f"g{k.start_ns() // NS_PER_DAY}"
        suffix = "" if part is None else f"_p{part}"
        return os.path.join(k.dir(), f"c_{first:010d}_{last:010d}_{level}{suffix}.parquet")


@dataclass
class CompactionPlan:
    groups: list[CompactionGroup]
    skipped_singletons: int = 0


def _group(host: str, manifest: list[Entry], by_day: bool) -> dict[GroupKey, list[ParquetFileInfo]]:
    """The manifest's files by key, in key order: hour-level files by
    hour, or every file by its day when ``by_day``. A path that does not
    parse, or a day-level file when grouping by hour, is left out."""
    by_key: dict[GroupKey, list[ParquetFileInfo]] = defaultdict(list)
    for _db_id, _table_id, f in manifest:
        key = parse_group_key(host, f.path)
        if key is not None and (by_day or key.hour):
            by_key[dataclasses.replace(key, hour="") if by_day else key].append(f)
    return {k: by_key[k] for k in sorted(by_key)}


def plan_compaction(
    host: str,
    manifest: list[Entry],
    before_hour_ns: int | None = None,
) -> CompactionPlan:
    """Hour keys → group (B5 fixed) → drop singletons
    (kompactor.ts:213), over the path-deduplicated ``load_manifest``.

    ``before_hour_ns`` scopes the plan to CLOSED hours — groups whose
    hour ends at or before the cutoff. This is the continuous-
    compaction gate: an ingest stream compacts only hours the event
    clock has moved past, never the hour still receiving writes.
    """
    groups, skipped = [], 0
    for key, files in _group(host, manifest, by_day=False).items():
        if before_hour_ns is not None and key.start_ns() + NS_PER_HOUR > before_hour_ns:
            continue  # hour still open — not counted as a skipped singleton
        if len(files) <= 1:
            skipped += 1
            continue
        groups.append(CompactionGroup(key=key, files=files))
    return CompactionPlan(groups=groups, skipped_singletons=skipped)


def compute_split_cuts(min_time: int, max_time: int, total_bytes: int) -> list[int]:
    """Split points for an oversized output (reference D3 intent,
    kompactor.ts:40): while the projected output exceeds
    ``LARGE_CUTOFF_BYTES``, cut the remaining time range at
    ``SPLIT_PERCENT`` — the leading part targets ~100 MiB, the 30% tail
    is re-examined.
    Byte density is assumed uniform over time (the only stat available
    without scanning). Returns [] when no split is needed. Cut points
    use exact int math (B3 discipline).
    """
    cuts: list[int] = []
    lo, remaining = min_time, total_bytes
    while remaining > LARGE_CUTOFF_BYTES and lo < max_time:
        cut = lo + (max_time - lo) * SPLIT_PERCENT // 100
        if cut <= lo or cut >= max_time:
            break
        cuts.append(cut)
        remaining -= remaining * SPLIT_PERCENT // 100
        lo = cut
    return cuts


def is_generation_file(filename: str) -> bool:
    m = COMPACTED_FILE_RE.search(os.path.basename(filename))
    return bool(m) and "_g" in os.path.basename(filename)[m.start() : m.end()]


def plan_generation(host: str, manifest: list[Entry], before_ns: int | None = None) -> CompactionPlan:
    """Group ALL of a day's files (hour-compacted + stray raw) by
    (host, db, table, date). A day whose newest row is after
    ``before_ns`` is skipped — the caller's clock minus the generation
    window (D4) — and None compacts every day (backfill). Files already
    at generation level and >= ``LARGE_CUTOFF_BYTES`` are left alone
    (D2: no value re-writing a full-size file)."""
    groups, skipped = [], 0
    for key, day_files in _group(host, manifest, by_day=True).items():
        files = [
            f
            for f in day_files
            if not (is_generation_file(f.path) and f.size_bytes >= LARGE_CUTOFF_BYTES)
        ]
        if before_ns is not None and files and max(f.max_time for f in files) > before_ns:
            skipped += 1
            continue
        if len(files) <= 1:
            skipped += 1
            continue
        groups.append(CompactionGroup(key=key, files=files))
    return CompactionPlan(groups=groups, skipped_singletons=skipped)
