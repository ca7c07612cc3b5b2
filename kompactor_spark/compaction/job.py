"""Compaction job execution (SURVEY §2.B K1/K2).

Data plane is the reference's one query re-expressed in Spark
(kompactor.ts:107-111: read_parquet([...]) ORDER BY time → single zstd
Parquet): ``spark.read.parquet(*paths)`` (B9 fixed: list API, no SQL
string splicing) → sort → sorted single-file (or 70/30 split) write.

Commit protocol (B7 fixed — reference deleted sources BEFORE rewriting
metadata and wrote JSON non-atomically):
    1. write new file(s) to a staging dir, rename into place
    2. verify (real size on disk — B6; row count via Observation)
    3. atomically rewrite every affected snapshot (tmp+fsync+rename)
    4. only then delete originals + prune empty dirs (C14)
A crash at any point leaves a catalog that references only existing
files (worst case: orphaned staged/compacted files, never dangling
catalog entries).

Dry-run is real (B1 fixed): plan + report, zero writes.
"""

from __future__ import annotations

import glob
import logging
import os
import shutil
import threading
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from pyspark.sql import Observation, SparkSession
from pyspark.sql import functions as F

from kompactor_spark.compaction.metadata import (
    ParquetFileInfo,
    SnapshotMetadata,
    _remove_empty_dirs_upward,
    footer_time_stats,
    read_snapshot,
    snapshot_paths,
    write_snapshot_atomic,
)
from kompactor_spark.compaction.planner import (
    CompactionConfig,
    CompactionGroup,
    CompactionPlan,
    GenerationGroup,
    compute_split_cuts,
    plan_compaction,
    plan_generation,
)

log = logging.getLogger("kompactor_spark.compaction")


@dataclass
class GroupResult:
    key: tuple
    output_paths: list[str]
    row_count: int
    min_time: int
    max_time: int
    input_paths: list[str]
    dropped_missing: list[str] = field(default_factory=list)


@dataclass
class CompactionReport:
    host: str
    dry_run: bool
    planned_groups: int = 0
    compacted_groups: int = 0
    skipped_singletons: int = 0
    results: list[GroupResult] = field(default_factory=list)


class CompactionJob:
    """Hour-level (K1) and generation-level (K2) compaction over an
    InfluxDB-3-style data dir (FIXTURES.md §2 layout)."""

    def __init__(
        self,
        spark: SparkSession,
        data_dir: str,
        hosts: list[str],
        config: CompactionConfig | None = None,
        dry_run: bool = False,
        time_col: str = "time",
        parallelism: int = 1,
    ):
        self.spark = spark
        self.data_dir = data_dir
        self.hosts = hosts
        self.config = config or CompactionConfig()
        self.dry_run = dry_run
        self.time_col = time_col
        # Groups are independent read→sort→write jobs; submitting them
        # from multiple driver threads lets the Spark scheduler overlap
        # their stages (a single group's coalesce(1) write uses one
        # task — serial groups would idle the rest of the cluster).
        self.parallelism = max(1, parallelism)
        # Snapshot JSONs are shared across groups — rewrite under a lock
        # (the data-plane work stays fully parallel).
        self._meta_lock = threading.Lock()

    # -- discovery ---------------------------------------------------------
    def validate_directories(self) -> None:
        """Reference preconditions (kompactor.ts:116-143)."""
        if not os.path.isdir(self.data_dir):
            raise FileNotFoundError(f"data dir missing: {self.data_dir}")
        for host in self.hosts:
            for sub in ("snapshots", "dbs"):
                p = os.path.join(self.data_dir, host, sub)
                if not os.path.isdir(p):
                    raise FileNotFoundError(f"required dir missing: {p}")

    # -- execution ---------------------------------------------------------
    def run(self, before_hour_ns: int | None = None) -> list[CompactionReport]:
        self.validate_directories()
        return [self._run_host(h, before_hour_ns=before_hour_ns) for h in self.hosts]

    def run_generation(self, now_ns: int | None = None) -> list[CompactionReport]:
        """K2: merge each eligible day's files (hour-compacted + stray
        raw) into generation-level ``c_…_g<day>`` outputs with size
        cutoffs + splits (reference D1-D4/D8). ``now_ns`` gates on the
        24 h window; None = backfill every day."""
        self.validate_directories()
        return [self._run_host(h, level="generation", now_ns=now_ns) for h in self.hosts]

    def _run_host(
        self,
        host: str,
        level: str = "hour",
        now_ns: int | None = None,
        before_hour_ns: int | None = None,
    ) -> CompactionReport:
        snap_paths = snapshot_paths(self.data_dir, host)
        snapshots = [read_snapshot(p) for p in snap_paths]
        if level == "generation":
            plan = plan_generation(host, snapshots, self.config, now_ns=now_ns)
        else:
            plan = plan_compaction(host, snapshots, before_hour_ns=before_hour_ns)
        report = CompactionReport(
            host=host,
            dry_run=self.dry_run,
            planned_groups=len(plan.groups),
            skipped_singletons=plan.skipped_singletons,
        )
        if self.parallelism > 1 and not self.dry_run and len(plan.groups) > 1:
            with ThreadPoolExecutor(max_workers=self.parallelism) as ex:
                results = list(ex.map(lambda g: self._compact_group(host, g, snap_paths), plan.groups))
        else:
            results = [self._compact_group(host, g, snap_paths) for g in plan.groups]
        for res in results:
            if res is not None:
                report.results.append(res)
                report.compacted_groups += 1
        return report

    def _abs(self, rel: str) -> str:
        return os.path.join(self.data_dir, rel)

    def _compact_group(
        self, host: str, group: CompactionGroup | GenerationGroup, snap_paths: list[str]
    ) -> GroupResult | None:
        sorted_files = group.sorted_files()
        existing = [f for f in sorted_files if os.path.exists(self._abs(f.path))]
        dropped = [f.path for f in sorted_files if not os.path.exists(self._abs(f.path))]
        for p in dropped:  # C13 semantics: warn and proceed
            log.warning("input missing on disk, skipping: %s", p)
        if len(existing) <= 1:
            return None

        out_rel = group.output_relpath()
        out_abs = self._abs(out_rel)
        input_abs = [self._abs(f.path) for f in existing]

        if self.dry_run:
            log.info("[dry-run] would merge %d files -> %s", len(existing), out_rel)
            return GroupResult(
                key=(host, group.key.db_seg, group.key.table_seg, group.key.date, group.key.hour),
                output_paths=[out_rel],
                row_count=sum(f.row_count for f in existing),
                min_time=min(f.min_time for f in existing),
                max_time=max(f.max_time for f in existing),
                input_paths=[f.path for f in existing],
                dropped_missing=dropped,
            )

        # ---- 1. merge + write (staged) -----------------------------------
        df = self.spark.read.parquet(*input_abs)  # B9: list API
        obs = Observation(f"compact-{group.output_name()}")
        df = df.observe(
            obs,
            F.count(F.lit(1)).alias("rows"),
            F.min(self.time_col).alias("tmin"),
            F.max(self.time_col).alias("tmax"),
        )
        staging = out_abs + ".staging"
        shutil.rmtree(staging, ignore_errors=True)

        tmin_in = min(f.min_time for f in existing)
        tmax_in = max(f.max_time for f in existing)
        cuts = compute_split_cuts(tmin_in, tmax_in, group.total_size_bytes, self.config)
        needs_split = bool(cuts)
        if needs_split:
            bounds = [None, *cuts, None]
            parts = []
            for lo, hi in zip(bounds[:-1], bounds[1:]):
                p = df
                if lo is not None:
                    p = p.where(F.col(self.time_col) > F.lit(lo))
                if hi is not None:
                    p = p.where(F.col(self.time_col) <= F.lit(hi))
                parts.append(p)
        else:
            parts = [df]

        os.makedirs(os.path.dirname(out_abs), exist_ok=True)
        final_rel_paths: list[str] = []
        part_stats: list[tuple[str, int]] = []  # (abs path, size)
        for i, pdf in enumerate(parts):
            pstaging = os.path.join(staging, f"part{i}")
            (
                pdf.coalesce(1)
                .sortWithinPartitions(self.time_col)
                .write.mode("overwrite")
                .option("compression", self.config.compression)
                .option("parquet.page.row.count.limit", str(self.config.row_group_rows))
                .parquet(pstaging)
            )
            written = glob.glob(os.path.join(pstaging, "part-*.parquet"))
            if len(written) != 1:
                # kernel guard (survives python -O): the atomic rename
                # below moves exactly one file; more would silently
                # drop data, zero means the write itself failed
                raise RuntimeError(f"expected exactly one part file, got {written}")
            if needs_split:
                final_abs = out_abs.replace(".parquet", f"_p{i}.parquet")
            else:
                final_abs = out_abs
            os.replace(written[0], final_abs)
            final_rel_paths.append(os.path.relpath(final_abs, self.data_dir))
            part_stats.append((final_abs, os.path.getsize(final_abs)))  # B6: real size
        shutil.rmtree(staging, ignore_errors=True)

        row = obs.get
        rows, tmin, tmax = int(row["rows"]), int(row["tmin"]), int(row["tmax"])

        # ---- 2. verify ----------------------------------------------------
        if not dropped:
            expected_rows = sum(f.row_count for f in existing)
            if expected_rows != rows:
                raise RuntimeError(
                    f"row conservation violated for {out_rel}: inputs={expected_rows} output={rows}"
                )

        # ---- 3+4 under the catalog lock: id allocation + snapshot
        # rewrite + deletion serialize across concurrent groups (the
        # merge/write above runs fully parallel) ----------------------------
        with self._meta_lock:
            # metadata rewrite (atomic, BEFORE deletion — B7)
            compacted_paths = {f.path for f in existing}
            new_infos = self._new_file_infos(snap_paths, final_rel_paths, part_stats, existing)
            for sp in snap_paths:
                snap = read_snapshot(sp)
                if self._rewrite_snapshot(snap, compacted_paths, new_infos):
                    write_snapshot_atomic(snap, sp)

            # delete originals + prune (C14)
            for p in input_abs:
                os.unlink(p)
                _remove_empty_dirs_upward(os.path.dirname(p), self.data_dir)

        return GroupResult(
            key=(host, group.key.db_seg, group.key.table_seg, group.key.date, group.key.hour),
            output_paths=final_rel_paths,
            row_count=rows,
            min_time=tmin,
            max_time=tmax,
            input_paths=[f.path for f in existing],
            dropped_missing=dropped,
        )

    def _new_file_infos(
        self,
        snap_paths: list[str],
        final_rel_paths: list[str],
        part_stats: list[tuple[str, int]],
        inputs: list[ParquetFileInfo],
    ) -> list[ParquetFileInfo]:
        """Fresh ids (B6: the reference reused sortedFiles[0].id), real
        sizes, per-part exact time stats from the parquet footers."""
        next_id = 0
        for sp in snap_paths:
            next_id = max(next_id, read_snapshot(sp).max_file_id())
        infos = []
        for i, (rel, (abs_path, size)) in enumerate(zip(final_rel_paths, part_stats)):
            p_rows, p_min, p_max = footer_time_stats(abs_path, self.time_col)
            if p_rows == 0:  # a split part no row fell into: no range of its own
                p_min = min(f.min_time for f in inputs)
                p_max = max(f.max_time for f in inputs)
            infos.append(
                ParquetFileInfo(
                    id=next_id + 1 + i,
                    path=rel,
                    size_bytes=size,
                    row_count=p_rows,
                    chunk_time=inputs[0].chunk_time,
                    min_time=p_min,
                    max_time=p_max,
                )
            )
        return infos

    @staticmethod
    def _rewrite_snapshot(
        snap: SnapshotMetadata, compacted_paths: set[str], new_infos: list[ParquetFileInfo]
    ) -> bool:
        """Remove ONLY the compacted entries; append the new file(s) to
        the table that contained them; keep everything else (B4 fixed:
        the reference replaced the whole table list)."""
        changed = False
        for _db_id, tables in snap.databases:
            for table_id in list(tables):
                files = tables[table_id]
                kept = [f for f in files if f.path not in compacted_paths]
                if len(kept) != len(files):
                    existing_paths = {f.path for f in kept}
                    kept.extend(ni for ni in new_infos if ni.path not in existing_paths)
                    tables[table_id] = kept
                    changed = True
        if changed:
            snap.recompute_totals()
        return changed
