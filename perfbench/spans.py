"""In-memory spans around the calls into each layer of ``kompactor_spark``.

The wrappers live here, in the benchmark, not in the program: ``install``
patches the public functions of each layer by name in every module that
holds a reference to them (``job``, ``readers``, ``ingest``,
``retention`` and ``fsck`` bind ``read_snapshot`` /
``write_snapshot_atomic`` at import), and ``uninstall`` puts the
originals back. Spans are kept in memory and written out when the run
ends.

A span opened on a worker thread with no open span of its own (the
compaction job's group threads) takes the innermost span open on the
main thread as its parent, so a layer's self time subtracts the work
its threads did.
"""

from __future__ import annotations

import functools
import glob
import importlib
import itertools
import json
import os
import threading
import time
from collections import defaultdict
from dataclasses import asdict, dataclass

# (layer span name, module, attribute path, modules that bind the name)
_FUNCTIONS = [
    ("planner.plan", "kompactor_spark.compaction.planner", "plan_compaction", ["kompactor_spark.compaction.job"]),
    ("planner.split", "kompactor_spark.compaction.planner", "compute_split_cuts", ["kompactor_spark.compaction.job"]),
    (
        "metadata.read",
        "kompactor_spark.compaction.metadata",
        "read_snapshot",
        [
            "kompactor_spark.compaction.job",
            "kompactor_spark.compaction.readers",
            "kompactor_spark.compaction.retention",
            "kompactor_spark.compaction.fsck",
            "kompactor_spark.streaming.ingest",
        ],
    ),
    (
        "metadata.write",
        "kompactor_spark.compaction.metadata",
        "write_snapshot_atomic",
        [
            "kompactor_spark.compaction.job",
            "kompactor_spark.compaction.retention",
            "kompactor_spark.streaming.ingest",
        ],
    ),
    ("job.run", "kompactor_spark.compaction.job", "CompactionJob.run", []),
    ("ingest.write_batch", "kompactor_spark.streaming.ingest", "IngestJob.write_batch", []),
    ("readers.files_as_of", "kompactor_spark.compaction.readers", "files_as_of", ["kompactor_spark.compaction"]),
    ("readers.read_table", "kompactor_spark.compaction.readers", "read_table", ["kompactor_spark.compaction"]),
    ("spark.write", "pyspark.sql.readwriter", "DataFrameWriter.parquet", []),
]


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    run: str
    info: dict | None = None

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.run_id = "setup"
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main_stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []

    # -- recording ---------------------------------------------------------
    def _stack(self) -> list[int]:
        if threading.current_thread() is threading.main_thread():
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def span(self, name: str, info: dict | None = None) -> _SpanCtx:
        return _SpanCtx(self, name, info)

    def _open(self) -> tuple[int, int | None]:
        stack = self._stack()
        parent = stack[-1] if stack else (self._main_stack[-1] if self._main_stack else None)
        sid = next(self._ids)
        stack.append(sid)
        return sid, parent

    def _close(self, sid: int, name: str, start: float, parent: int | None, info: dict | None) -> Span:
        end = time.perf_counter()
        self._stack().pop()
        span = Span(sid, name, start, end, parent, self.run_id, info)
        with self._lock:
            self.spans.append(span)
        return span

    def wrap(self, name: str, fn, on_result=None):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name) as ctx:
                out = fn(*args, **kwargs)
            if on_result is not None:
                ctx.span.info = on_result(args, out)
            return out

        return traced

    # -- patching ----------------------------------------------------------
    def install(self) -> None:
        """Patch every layer function listed in ``_FUNCTIONS``."""
        for name, mod_name, attr, binders in _FUNCTIONS:
            mod = importlib.import_module(mod_name)
            owner, leaf = mod, attr
            if "." in attr:
                cls_name, leaf = attr.split(".")
                owner = getattr(mod, cls_name)
            orig = getattr(owner, leaf)
            traced = self.wrap(name, orig, _RESULT_INFO.get(leaf))
            self._set(owner, leaf, traced)
            for b in binders:
                bmod = importlib.import_module(b)
                if getattr(bmod, leaf, None) is orig:
                    self._set(bmod, leaf, traced)

    def _set(self, owner, attr: str, value) -> None:
        self._patched.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, value)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w", encoding="utf-8") as fh:
            for s in self.spans:
                fh.write(json.dumps(asdict(s)) + "\n")


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str, info: dict | None) -> None:
        self.tracer, self.name, self.info = tracer, name, info

    def __enter__(self) -> _SpanCtx:
        self.sid, self.parent = self.tracer._open()
        self.start = time.perf_counter()
        return self

    def __exit__(self, *exc) -> None:
        self.span = self.tracer._close(self.sid, self.name, self.start, self.parent, self.info)


def _snapshot_bytes(args, _out) -> dict:
    return {"bytes": os.path.getsize(args[1])}


def _file_count(_args, out) -> dict:
    return {"files": len(out)}


def _groups(_args, reports) -> dict:
    return {
        "planned": sum(r.planned_groups for r in reports),
        "compacted": sum(r.compacted_groups for r in reports),
    }


def _wal_files(args, _out) -> dict:
    """WAL files the batch left in the lake: one ``<batch_id + 1>.parquet``
    per event hour it touched (its hours are still open, so the batch's
    own auto-compaction has not merged them yet)."""
    job, _df, batch_id = args
    pattern = os.path.join(job.data_dir, job.host, "dbs", f"db-{job.db}", f"table-{job.table}", "*", "*", f"{batch_id + 1:010d}.parquet")
    return {"wal_files": len(glob.glob(pattern))}


_RESULT_INFO = {
    "write_batch": _wal_files,
    "run": _groups,
    "write_snapshot_atomic": _snapshot_bytes,
    "files_as_of": _file_count,
    "compute_split_cuts": lambda _a, out: {"parts": len(out) + 1 if out else 1},
}


# -- analysis ----------------------------------------------------------------
def _union_len(intervals: list[tuple[float, float]]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the part of it its children cover."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append((s.start, s.end))
    return {s.id: s.dur - _union_len(children.get(s.id, [])) for s in spans}


class SparkCounter:
    """Spark jobs, executed stages and tasks per phase, from the public
    ``setJobGroup`` and ``statusTracker()`` APIs. Jobs submitted from
    threads the program starts carry no group; they are counted as the
    ungrouped jobs that appeared during the phase."""

    def __init__(self, sc) -> None:
        self.sc = sc
        self.tracker = sc.statusTracker()
        self._n = itertools.count()
        self._group: str | None = None
        self._ungrouped: set[int] = set()

    def begin(self, label: str) -> None:
        self._group = f"{label}-{next(self._n)}"
        self._ungrouped = set(self.tracker.getJobIdsForGroup(None))
        self.sc.setJobGroup(self._group, label)

    def end(self) -> dict[str, int]:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        jobs = set(self.tracker.getJobIdsForGroup(self._group))
        jobs |= set(self.tracker.getJobIdsForGroup(None)) - self._ungrouped
        stages = tasks = 0
        for jid in jobs:
            info = self.tracker.getJobInfo(jid)
            for sid in info.stageIds if info else []:
                st = self.tracker.getStageInfo(sid)
                if st is not None and st.numCompletedTasks > 0:
                    stages += 1
                    tasks += st.numCompletedTasks
        return {"jobs": len(jobs), "stages": stages, "tasks": tasks}
