"""Compaction job execution (SURVEY §2.B K1/K2).

Data plane is the reference's one query re-expressed in Spark
(kompactor.ts:107-111: read_parquet([...]) ORDER BY time → single zstd
Parquet): ``spark.read.parquet(*paths)`` (B9 fixed: list API, no SQL
string splicing) → sort → sorted single-file (or 70/30 split) write.

Per group (B7 fixed — the reference deleted sources BEFORE rewriting
metadata): write the new file(s) through a staging dir and verify row
conservation, then ``metadata.commit`` swaps inputs for outputs, then
the inputs are deleted and empty dirs pruned (C14).

Dry-run is real (B1 fixed): plan + report, zero writes.
"""

from __future__ import annotations

import glob
import logging
import os
import shutil
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from pyspark.sql import Observation, SparkSession
from pyspark.sql import functions as F

from kompactor_spark.compaction.metadata import (
    ParquetFileInfo,
    _remove_empty_dirs_upward,
    commit,
    footer_time_stats,
    load_manifest,
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
        manifest = load_manifest(self.data_dir, host)
        if level == "generation":
            plan = plan_generation(host, manifest, self.config, now_ns=now_ns)
        else:
            plan = plan_compaction(host, manifest, before_hour_ns=before_hour_ns)
        report = CompactionReport(
            host=host,
            dry_run=self.dry_run,
            planned_groups=len(plan.groups),
            skipped_singletons=plan.skipped_singletons,
        )
        if self.parallelism > 1 and not self.dry_run and len(plan.groups) > 1:
            with ThreadPoolExecutor(max_workers=self.parallelism) as ex:
                results = list(ex.map(lambda g: self._compact_group(host, g), plan.groups))
        else:
            results = [self._compact_group(host, g) for g in plan.groups]
        for res in results:
            if res is not None:
                report.results.append(res)
                report.compacted_groups += 1
        return report

    def _abs(self, rel: str) -> str:
        return os.path.join(self.data_dir, rel)

    def _compact_group(self, host: str, group: CompactionGroup | GenerationGroup) -> GroupResult | None:
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

        tmin_in = min(f.min_time for f in existing)
        tmax_in = max(f.max_time for f in existing)
        cuts = compute_split_cuts(tmin_in, tmax_in, group.total_size_bytes, self.config)
        if cuts:
            final_abs = [out_abs.replace(".parquet", f"_p{i}.parquet") for i in range(len(cuts) + 1)]
        else:
            final_abs = [out_abs]
        # Writing over an input and then deleting the inputs would lose
        # the output too (a replayed WAL file named after a c_ file's
        # first sequence) — refuse before anything is written.
        clash = sorted(set(final_abs) & set(input_abs))
        if clash:
            raise RuntimeError(f"compaction output {clash[0]} would overwrite one of its inputs")

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

        if cuts:
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
        for i, (pdf, part_abs) in enumerate(zip(parts, final_abs)):
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
            os.replace(written[0], part_abs)
            final_rel_paths.append(os.path.relpath(part_abs, self.data_dir))
            part_stats.append((part_abs, os.path.getsize(part_abs)))  # B6: real size
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

        # ---- 3. commit, then delete originals + prune (C14) --------------
        new_infos = self._new_file_infos(final_rel_paths, part_stats, existing)
        commit(self.data_dir, host, removed=[f.path for f in existing], added=new_infos)
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
        final_rel_paths: list[str],
        part_stats: list[tuple[str, int]],
        inputs: list[ParquetFileInfo],
    ) -> list[ParquetFileInfo]:
        """Real sizes and per-part exact time stats from the parquet
        footers; ``commit`` assigns the ids."""
        infos = []
        for rel, (abs_path, size) in zip(final_rel_paths, part_stats):
            p_rows, p_min, p_max = footer_time_stats(abs_path, self.time_col)
            if p_rows == 0:  # a split part no row fell into: no range of its own
                p_min = min(f.min_time for f in inputs)
                p_max = max(f.max_time for f in inputs)
            infos.append(
                ParquetFileInfo(
                    id=0,
                    path=rel,
                    size_bytes=size,
                    row_count=p_rows,
                    chunk_time=inputs[0].chunk_time,
                    min_time=p_min,
                    max_time=p_max,
                )
            )
        return infos
