"""The benchmark workloads.

Each workload is a closed loop with one client. ``generate`` writes the
seeded inputs, ``prepare`` computes the expected results from the
generated rows, and ``iteration`` runs one unit of work against the
public API of ``kompactor_spark``, records its timings in a ``Recorder``
and checks its outputs outside the timed spans.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow.parquet as pq

import gen

NS_PER_MIN = 60 * gen.NS

# Wall seconds that one CPU-second stolen by the hypervisor adds to an
# operation. The host lends the benchmark a few vCPUs of a shared
# machine, and in stretches of CPU steal every operation of a run slows
# together, which no number of samples inside the run averages out. The
# weight is the slope of operation time over stolen time within runs, on
# a 4-vCPU guest; see README.md.
STEAL_WEIGHT = 0.6


def stolen_s() -> float:
    """CPU time the hypervisor gave to other guests while this machine's
    CPUs had work, summed over CPUs (Linux ``/proc/stat``; 0 elsewhere)."""
    try:
        with open("/proc/stat", encoding="ascii") as fh:
            fields = fh.readline().split()
    except OSError:
        return 0.0
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


def clock() -> tuple[float, float]:
    return time.perf_counter(), stolen_s()


def elapsed(start: tuple[float, float]) -> tuple[float, float]:
    """(wall seconds, CPU-seconds stolen) since ``start = clock()``."""
    t, s = clock()
    return t - start[0], s - start[1]


def adjusted(wall: float, stolen: float) -> float:
    """Wall time less what the host's CPU steal added to it."""
    return wall - STEAL_WEIGHT * stolen


def since(start: tuple[float, float]) -> float:
    return adjusted(*elapsed(start))


@dataclass
class Recorder:
    """What one run measured, and which operations failed. Every sample
    keeps its wall time and the CPU time stolen while it ran; the
    timings the metrics use are steal-adjusted."""

    samples: list[tuple[str, str, float, float]] = field(default_factory=list)  # kind, name, wall, stolen
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    cataloged: int = 0  # catalog entries when the traced range reads ran

    def add(self, kind: str, name: str, start: tuple[float, float]) -> None:
        self.samples.append((kind, name, *elapsed(start)))

    def timed(self, kind: str) -> list[tuple[str, float]]:
        return [(n, adjusted(w, s)) for k, n, w, s in self.samples if k == kind]

    @property
    def walls(self) -> list[float]:
        """One adjusted time per iteration."""
        return [s for _, s in self.timed("iteration")]

    @property
    def queries(self) -> list[tuple[str, float]]:
        return self.timed("query")

    @property
    def writes(self) -> list[float]:
        return [s for _, s in self.timed("write")]

    def steal_frac(self) -> float:
        """Share of the CPU time of the timed iterations that was stolen."""
        its = [(w, s) for k, _, w, s in self.samples if k == "iteration"]
        cpu = sum(w for w, _ in its) * len(os.sched_getaffinity(0))
        return sum(s for _, s in its) / cpu if cpu else 0.0

    def fail(self, what: str) -> None:
        self.failed += 1
        if len(self.errors) < 20:
            self.errors.append(what)


def _copy_lake(src: str, dst: str) -> None:
    shutil.rmtree(dst, ignore_errors=True)
    shutil.copytree(src, dst)


def _catalog(root: str) -> list[tuple[int, int, dict]]:
    """(db, table, entry) for every catalog entry, read with plain json so
    checks never go through the program's codec."""
    import glob
    import json

    out = []
    for sp in sorted(glob.glob(os.path.join(root, gen.HOST, "snapshots", "*.info.json"))):
        with open(sp, encoding="utf-8") as fh:
            for db, dbinfo in json.load(fh)["databases"]:
                for table, files in dbinfo["tables"]:
                    out.extend((db, table, f) for f in files)
    return out


def check_lake(root: str, rows: dict[tuple[int, int], int]) -> list[str]:
    """Rows conserved per table, every file time-sorted, fsck clean."""
    from kompactor_spark.compaction.fsck import fsck_host

    problems = []
    seen: dict[tuple[int, int], int] = {}
    by_path = {}
    for db, table, f in _catalog(root):
        by_path[f["path"]] = (db, table)
    for path, key in by_path.items():
        try:
            t = pq.read_table(os.path.join(root, path), columns=["time"]).column("time").to_numpy()
        except OSError as e:
            problems.append(f"unreadable: {path}: {e}")
            continue
        seen[key] = seen.get(key, 0) + len(t)
        if len(t) > 1 and not np.all(t[1:] >= t[:-1]):
            problems.append(f"not time-sorted: {path}")
    if seen != rows:
        problems.append(f"rows not conserved: {seen} != {rows}")
    report = fsck_host(root, gen.HOST)
    if not report.ok:
        problems.append(report.summary())
    return problems


def lake_stats(root: str) -> tuple[int, int]:
    """(catalog entries, bytes on disk under dbs/)."""
    n = len(_catalog(root))
    size = 0
    for d, _, files in os.walk(os.path.join(root, gen.HOST, "dbs")):
        size += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return n, size


# -- catalog-scoped range queries ----------------------------------------


@dataclass
class RangeQuery:
    table: int
    lo: int
    hi: int
    expected: list[tuple]

    @classmethod
    def make(cls, truth: gen.Truth, table: int, lo: int, hi: int) -> RangeQuery:
        t, tag, v = truth.frozen()
        m = (t >= lo) & (t <= hi)
        rows = []
        for k in sorted(set(tag[m])):
            mk = m & (tag == k)
            rows.append((k, int(mk.sum()), int(v[mk].sum()), int(t[mk].min()), int(t[mk].max())))
        return cls(table, lo, hi, rows)

    def run(self, spark, root: str, tracer=None) -> list[tuple]:
        from pyspark.sql import functions as F

        from kompactor_spark.compaction import read_table

        df = read_table(spark, root, gen.HOST, 0, self.table, min_time_ns=self.lo, max_time_ns=self.hi)
        q = df.groupBy("tag1").agg(
            F.count(F.lit(1)), F.sum("f_int"), F.min("time"), F.max("time")
        )
        with _span(tracer, "readers.execute"):
            rows = q.collect()
        return sorted(tuple(r) for r in rows)


def _span(tracer, name: str):
    return tracer.span(name) if tracer is not None else contextlib.nullcontext()


def _timed_query(rec: Recorder, name: str, fn, check) -> None:
    rec.attempted += 1
    t0 = clock()
    try:
        out = fn()
    except Exception as e:  # a failed query is a failed operation
        rec.fail(f"{name}: {type(e).__name__}: {e}")
        return
    rec.add("query", name, t0)
    problem = check(out)
    if problem:
        rec.fail(f"{name}: {problem}")


class Workload:
    name = ""
    rows_per_wall = 0  # input rows the work that wall_s times reads
    # untimed iterations before measuring: class loading, JIT and Spark's
    # lazy set-up; with C1 only, iteration times level off after these
    warmup_iterations = 2

    def __init__(self, spark, work: str, seed: int, parallelism: int) -> None:
        self.spark, self.work, self.seed, self.parallelism = spark, work, seed, parallelism
        self.tracer = None
        # (catalog entries after / input files, bytes after / input bytes)
        # at the end of the last iteration; 0 where nothing is compacted
        self.space = (0.0, 0.0)

    def generate(self, root: str) -> None:
        raise NotImplementedError

    def prepare(self) -> None:
        """Expected results, computed once from the generated rows."""

    def iteration(self, i: int, rec: Recorder) -> None:
        raise NotImplementedError

    def wall_s(self, rec: Recorder) -> float:
        """The median time of one iteration."""
        return statistics.median(rec.walls)

    @contextlib.contextmanager
    def untraced(self):
        """Take the tracer's wrappers out while the benchmark checks
        outputs, so the checks' own catalog reads are not counted."""
        if self.tracer is None:
            yield
            return
        self.tracer.uninstall()
        try:
            yield
        finally:
            self.tracer.install()


class IngestQuery(Workload):
    """A continuous stream of micro-batches through
    ``IngestJob(auto_compact=True).write_batch``, one catalog-scoped read
    after every batch: a groupBy over the last ten minutes of event time,
    or, after the last batch of each hour, an exact hourly rollup over the
    closed day the lake starts with. One iteration is one event-hour: four
    batches, the auto-compaction of the hour before, and four reads.
    Iteration ``i`` always writes event-hour ``i``, so runs on different
    seeds time the same hours of the stream."""

    name = "ingest_query"
    warmup_iterations = 3
    base_rows_per_hour, batch_rows, batch_minutes = 2000, 4000, 15
    batches_per_round = 60 // batch_minutes
    rounds = 24  # event-hours generated; the stream restarts after them

    def generate(self, root: str) -> None:
        base = gen.ingest_base(os.path.join(root, "lake"), self.seed, self.base_rows_per_hour)
        batches = gen.micro_batches(
            os.path.join(root, "batches"),
            self.seed,
            self.rounds * self.batches_per_round,
            self.batch_rows,
            self.batch_minutes,
        )
        if not hasattr(self, "base"):
            self.base, self.batch_set = base, batches
            self.rows_per_wall = self.batches_per_round * self.batch_rows

    def prepare(self) -> None:
        truth, base = self.batch_set.truth, self.base.truth[(0, 0)]
        self.expected_recent = []
        for k, times in enumerate(truth.time):
            hi = int(times.max())
            # the window reaches back into batch k-1, or into the base day for k = 0
            prev = slice(max(0, k - 1), k + 1)
            window = gen.Truth(truth.time[prev], truth.tag1[prev], truth.f_int[prev])
            if k == 0:
                window = gen.Truth(base.time + window.time, base.tag1 + window.tag1, base.f_int + window.f_int)
            self.expected_recent.append(RangeQuery.make(window, 0, hi - 10 * NS_PER_MIN, hi))
        t, _, v = self.base.truth[(0, 0)].frozen()
        units = v * 1_000_000
        bucket = t - t % gen.NS_PER_HOUR
        self.expected_rollup = []
        for b in np.unique(bucket):
            m = bucket == b
            u = units[m]
            self.expected_rollup.append(
                (int(b), int(m.sum()), int((u >> 20).sum()), int((u & ((1 << 20) - 1)).sum()), int(u.min()), int(u.max()))
            )
        self.day0 = (gen.day_start_ns(0), gen.day_start_ns(1) - 1)
        schema = "time long, tag1 string, tag2 string, f_int long, f_dbl double, f_str string"
        self.frames = [self.spark.read.schema(schema).parquet(p) for p in self.batch_set.paths]
        self.next_batch = len(self.frames)  # start a fresh stream on the first iteration

    def _rollup(self, root: str) -> list[tuple]:
        from kompactor_spark.compaction import read_table
        from kompactor_spark.operators.rollup import exact_hourly_rollup

        df = read_table(self.spark, root, gen.HOST, 0, 0, min_time_ns=self.day0[0], max_time_ns=self.day0[1])
        q = exact_hourly_rollup(df, time_col="time", value_col="f_int").select(
            "bucket_ns", "n", "v_hi_s", "v_lo_s", "v_min_units", "v_max_units"
        )
        with _span(self.tracer, "operators.rollup"):
            rows = q.collect()
        return sorted(tuple(r) for r in rows)

    def iteration(self, i: int, rec: Recorder) -> None:
        from kompactor_spark.streaming.ingest import IngestJob

        root = os.path.join(self.work, "iter")
        if self.next_batch + self.batches_per_round > len(self.frames):
            _copy_lake(self.base.root, root)
            self.job = IngestJob(root, gen.HOST, db=0, table=0, auto_compact=True)
            self.next_batch = 0
        t_round = clock()
        for _ in range(self.batches_per_round):
            k = self.next_batch
            rec.attempted += 1
            t0 = clock()
            try:
                self.job.write_batch(self.frames[k], k)
            except Exception as e:
                rec.fail(f"write_batch {k}: {type(e).__name__}: {e}")
                return
            rec.add("write", "write_batch", t0)
            self.next_batch += 1
            # one read in four is a rollup, so query_p50_ms falls among
            # the range reads, not on the boundary between the two kinds
            if k % self.batches_per_round == self.batches_per_round - 1:
                _timed_query(
                    rec,
                    "rollup",
                    lambda: self._rollup(root),
                    lambda out: None if out == self.expected_rollup else "rollup result differs",
                )
            else:
                exp = self.expected_recent[k]
                _timed_query(
                    rec,
                    "recent",
                    lambda exp=exp: exp.run(self.spark, root, self.tracer),
                    lambda out, exp=exp: None if out == exp.expected else "recent-window result differs",
                )
            if self.tracer is not None:
                rec.cataloged += len(_catalog(root))
        rec.add("iteration", "", t_round)
        n = self.next_batch
        rows = {(0, 0): sum(self.base.rows.values()) + n * self.batch_rows}
        with self.untraced():
            problems = check_lake(root, rows)
        if problems:  # one failed operation: the last write of the round
            rec.fail("; ".join(problems))
        files, size = lake_stats(root)
        batch_bytes = sum(os.path.getsize(p) for p in self.batch_set.paths[:n])
        self.space = files / (self.base.files + n), size / (self.base.bytes + batch_bytes)


# Registry queries in the mix and the tables each reads: agg, join,
# window, dedup, text, range-join and graph.
MIX = {
    "a1_groupby_q1": ["lineitem"],
    "q3_shipping_priority": ["customer", "orders", "lineitem"],
    "w13_wow_change": ["events"],
    "l1_exact_dedup": ["documents"],
    "l4_token_freq": ["documents"],
    "j16_band_join_lookup": ["events"],
    "g2_degree_centrality": ["events"],
}


class OperatorMix(Workload):
    """One pass over the fixed set of registry queries in ``MIX`` per
    iteration, in an order the seed shuffles; each result is compared
    with the query's DuckDB oracle. Whole passes keep every query's share
    of the latency sample the same from run to run."""

    name = "operator_mix"
    warmup_iterations = 2
    # sf0.1 row counts (600k lineitem, 150k orders, 100k events, 5k
    # documents): there the operators take most of a pass, while at a
    # fifth of them Spark's fixed cost per job is most of it
    scale = 100

    def generate(self, root: str) -> None:
        rows = gen.relational(root, self.seed, self.scale)
        if not hasattr(self, "sf_dir"):
            self.sf_dir, self.table_rows = root, rows
            self.rows_per_wall = sum(rows[t] for tables in MIX.values() for t in tables)

    def prepare(self) -> None:
        import duckdb

        from kompactor_spark.queries import all_oracles, all_queries

        self.fns = all_queries()
        oracles = all_oracles()
        con = duckdb.connect()
        try:
            con.execute(f"SET temp_directory='{os.path.join(self.work, 'duckdb')}'")
            for t in self.table_rows:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.sf_dir}/{t}.parquet')")
            self.expected = {name: con.execute(oracles[name]).df() for name in MIX}
        finally:
            con.close()
        self.rng = np.random.default_rng([self.seed, 5])

    def iteration(self, i: int, rec: Recorder) -> None:
        from kompactor_spark.oracle import compare_frames

        done = len(rec.samples)
        for name in self.rng.permutation(sorted(MIX)):
            name = str(name)

            def run(name=name):
                with _span(self.tracer, f"queries.{name}"):
                    return self.fns[name](self.spark, self.sf_dir).toPandas()

            def check(pdf, name=name):
                res = compare_frames(name, pdf, self.expected[name])
                return None if res.ok else "; ".join(res.notes[:2])

            _timed_query(rec, name, run, check)
        ran = rec.samples[done:]  # this pass's queries
        rec.samples.append(("iteration", "", sum(w for _, _, w, _ in ran), sum(s for _, _, _, s in ran)))

    def wall_s(self, rec: Recorder) -> float:
        """One pass as the sum of each query's median time: one slow call
        moves it less than it moves the median pass."""
        times: dict[str, list[float]] = {}
        for name, s in rec.queries:
            times.setdefault(name, []).append(s)
        return sum(statistics.median(t) for t in times.values())


WORKLOADS = {w.name: w for w in (IngestQuery, OperatorMix)}
