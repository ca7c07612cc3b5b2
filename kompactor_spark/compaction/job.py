"""Compaction job execution (SURVEY §2.B K1/K2).

Data plane is the reference's one query re-expressed in Spark
(kompactor.ts:107-111: read_parquet([...]) ORDER BY time → single zstd
Parquet), made once per run. Each group's inputs are read with
``session.read_parquet(spark, *paths)`` (B9 fixed: list API, no SQL
string splicing): a cached schema per footer fingerprint, so no
inference job, and the union of the columns when the inputs' schemas
differ. Each row is tagged with its output: the group, plus the
70/30 split part its time falls in. Groups with equal read schemas are
unioned and written by one call of the lake writer
(``writer.staged_write``), so a run makes one write per distinct schema.
The writer picks its backend from the union's size estimate, which for
a Parquet read is the input files' bytes: a small merge is sorted and
written in this process, a large one by a Spark write.

B7 fixed (the reference deleted sources BEFORE rewriting metadata): row
conservation is checked for every group from the staged footers before
any file moves. Then every output moves into place, and one
``metadata.commit`` per run swaps all inputs for outputs and deletes the
inputs. A failed run commits no group (orphans for fsck); a rerun converges.

Dry-run is real (B1 fixed): the real run's plan and refusals, every
planned split part as an output (the real run writes none for a part no
row falls into), and zero writes.
"""

from __future__ import annotations

import contextlib
import dataclasses
import functools
import itertools
import logging
import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kompactor_spark.compaction.metadata import (
    TIME_COL,
    ParquetFileInfo,
    Swap,
    commit,
    load_manifest,
)
from kompactor_spark.compaction.planner import (
    CompactionGroup,
    CompactionPlan,
    compute_split_cuts,
    plan_compaction,
    plan_generation,
)
from kompactor_spark.compaction.writer import land, staged_write
from kompactor_spark.session import read_parquet

log = logging.getLogger("kompactor_spark.compaction")

_OUTPUT = "_output"  # a row's output index; a column of the staged write only


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


@dataclass
class _Merge:
    """One planned group: its inputs on disk, and its outputs (one per
    split part, cut at ``cuts``; none, and no merge, for ≤ 1 input)."""

    group: CompactionGroup
    inputs: list[ParquetFileInfo]
    dropped: list[str]
    outputs: list[str]
    cuts: list[int]

    def result(self, outputs: list[ParquetFileInfo] | None = None) -> GroupResult:
        """The group's result: from the written ``outputs``, or, for a
        dry run, from the inputs' catalog entries and every planned part
        (a part no row falls into is not written)."""
        files = self.inputs if outputs is None else outputs
        k = self.group.key
        return GroupResult(
            key=(k.host, k.db_seg, k.table_seg, k.date, k.hour),
            output_paths=self.outputs if outputs is None else [f.path for f in outputs],
            row_count=sum(f.row_count for f in files),
            min_time=min((f.min_time for f in files), default=None),
            max_time=max((f.max_time for f in files), default=None),
            input_paths=[f.path for f in self.inputs],
            dropped_missing=self.dropped,
        )


class CompactionJob:
    """Hour-level (K1) and generation-level (K2) compaction over an
    InfluxDB-3-style data dir (FIXTURES.md §2 layout)."""

    def __init__(
        self,
        spark: SparkSession,
        data_dir: str,
        hosts: list[str],
        dry_run: bool = False,
    ):
        self.spark = spark
        self.data_dir = data_dir
        self.hosts = hosts
        self.dry_run = dry_run

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
        return [
            self._run_host(h, plan_compaction(h, load_manifest(self.data_dir, h), before_hour_ns=before_hour_ns))
            for h in self.hosts
        ]

    def run_generation(self, before_ns: int | None = None) -> list[CompactionReport]:
        """K2: merge each eligible day's files (hour-compacted + stray
        raw) into generation-level ``c_…_g<day>`` outputs with size
        cutoffs + splits (reference D1-D4/D8). A day whose newest row is
        after ``before_ns`` is skipped; None = backfill every day."""
        self.validate_directories()
        return [
            self._run_host(h, plan_generation(h, load_manifest(self.data_dir, h), before_ns=before_ns))
            for h in self.hosts
        ]

    def _run_host(self, host: str, plan: CompactionPlan) -> CompactionReport:
        prepared = [self._prepare(g) for g in plan.groups]
        results = [m.result() for m in prepared if m.outputs] if self.dry_run else self._merge(host, prepared)
        return CompactionReport(
            host=host,
            dry_run=self.dry_run,
            planned_groups=len(plan.groups),
            compacted_groups=len(results),
            skipped_singletons=plan.skipped_singletons,
            results=results,
        )

    def _abs(self, rel: str) -> str:
        return os.path.join(self.data_dir, rel)

    def _prepare(self, group: CompactionGroup) -> _Merge:
        """Driver-side work for one group, before anything is written and
        the same in a dry run: skip missing inputs, then, if more than one
        is left, pick the outputs and refuse any that would overwrite an
        input."""
        files = group.sorted_files()
        inputs = [f for f in files if os.path.exists(self._abs(f.path))]
        dropped = [f.path for f in files if not os.path.exists(self._abs(f.path))]
        for p in dropped:  # C13 semantics: warn and proceed
            log.warning("input missing on disk, skipping: %s", p)
        if len(inputs) <= 1:
            return _Merge(group, inputs, dropped, [], [])

        tmin_in = min(f.min_time for f in inputs)
        tmax_in = max(f.max_time for f in inputs)
        cuts = compute_split_cuts(tmin_in, tmax_in, group.total_size_bytes)
        outputs = [group.output_relpath(i) for i in range(len(cuts) + 1)] if cuts else [group.output_relpath()]
        # Writing over an input and then deleting the inputs would lose
        # the output too (a replayed WAL file named after a c_ file's
        # first sequence) — refuse before anything is written.
        clash = sorted(set(outputs) & {f.path for f in inputs})
        if clash:
            raise RuntimeError(f"compaction output {self._abs(clash[0])} would overwrite one of its inputs")
        return _Merge(group, inputs, dropped, outputs, cuts)

    def _merge(self, host: str, prepared: list[_Merge]) -> list[GroupResult]:
        """Read every group, write all outputs in one staged write per
        distinct read schema, check row conservation, land every output,
        then commit a swap per group in one ``commit`` for the run."""
        merges = [m for m in prepared if m.outputs]
        t = F.col(TIME_COL)
        first = [0, *itertools.accumulate(len(m.outputs) for m in merges)]  # index of part 0
        by_schema: dict = {}
        for m, base in zip(merges, first):
            df = read_parquet(self.spark, *[self._abs(f.path) for f in m.inputs])  # B9: list API
            # the part is the number of cuts below the row's time: (lo, hi] bounds
            part = sum(((t > F.lit(c)).cast("int") for c in m.cuts), F.lit(base))
            by_schema.setdefault(df.schema, []).append(df.withColumn(_OUTPUT, part))

        with contextlib.ExitStack() as stack:
            staged: dict[str, str] = {}
            for dfs in by_schema.values():
                union = functools.reduce(DataFrame.union, dfs)
                staged.update(stack.enter_context(staged_write(union, _OUTPUT, self.data_dir, host)))
            # each output's entry, read once from its staged footer; a split
            # part no row falls into stages no file. C10: outputs keep the
            # first input's chunk_time.
            placed = [
                {
                    staged[str(i)]: dataclasses.replace(
                        ParquetFileInfo.from_file(staged[str(i)], rel), chunk_time=m.inputs[0].chunk_time
                    )
                    for i, rel in enumerate(m.outputs, start=base)
                    if str(i) in staged
                }
                for m, base in zip(merges, first)
            ]
            for m, files in zip(merges, placed):
                rows_in = sum(f.row_count for f in m.inputs)
                rows_out = sum(f.row_count for f in files.values())
                if rows_in != rows_out:
                    raise RuntimeError(
                        f"row conservation violated for {m.outputs[0]}: "
                        f"inputs={rows_in} output={rows_out}"
                    )
            swaps = []
            for m, files in zip(merges, placed):
                for p, f in files.items():
                    land(p, self.data_dir, f.path)
                # a missing input's entry goes too (else dangling)
                swaps.append(Swap(removed=[f.path for f in m.inputs] + m.dropped, added=list(files.values())))
        swaps += [Swap(removed=m.dropped) for m in prepared if not m.outputs and m.dropped]
        commit(self.data_dir, host, swaps)
        return [m.result(sw.added) for m, sw in zip(merges, swaps)]
