"""Benchmark runner for kompactor_spark.

    python3 perfbench/run.py --workload ingest_query --seed 1 --seconds 25 --trace 0

Run from the root of a checkout. It starts one Spark session on
``local[<cpus>]``, generates the workload's inputs from the seed under
``.perfbench_work/``, runs the workload's warm-up iterations, then runs
its iterations for ``--seconds`` seconds and checks every iteration's
outputs. Every timing is steal-adjusted: wall time less
``workloads.STEAL_WEIGHT`` times the CPU time the hypervisor stole from
this machine meanwhile. The last line of standard output is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics of BENCHMARK.json with ``--trace 0``, its per-layer metrics with
``--trace 1``.

A traced run measures twice, each time for ``--seconds``: untraced
first, which gives the latencies, then with every layer wrapper
installed, which gives the spans and the Spark job counts. The tracing
overhead is the traced minus the untraced median iteration time. Spans
are written to ``.perfbench_work/spans/``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
GEN_REPS = 3  # input generations; setup_s takes their median
MIN_ITERATIONS = 2
HARD_LIMIT_S = 60  # a measuring phase stops here whatever --seconds asks


def _environment(work: str) -> None:
    """Keep Spark, the JVM and Python temp files inside the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    # C1 only: with the optimising compiler the JVM keeps recompiling
    # Spark's hot paths for the first minute or more, so iteration times
    # still drift down through a run; C1 reaches its plateau in the warm-up.
    # C1 alone gets a 48 MB code cache, which Spark fills within a minute
    # or two; the JVM then stops compiling and runs new code interpreted
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=240m"
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable


def _digest(root: str) -> str:
    h = hashlib.sha256()
    for d, dirs, files in sorted(os.walk(root)):
        dirs.sort()
        for f in sorted(files):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def end_to_end(wl, rec, setup_s: float) -> dict[str, float]:
    wall = wl.wall_s(rec)
    lat = [s * 1000 for _, s in rec.queries]
    return {
        "setup_s": setup_s,
        "wall_s": wall,
        "rows_per_s": wl.rows_per_wall / wall,
        "query_p50_ms": statistics.median(lat),
    }


def per_layer(wl, tracer, counts, plain, traced, session_s: float, warmup_s: float) -> dict[str, float]:
    """Spans and Spark counts per traced iteration, as medians over the
    traced phase; latencies from the untraced phase."""
    from spans import self_times
    from workloads import MIX

    selfs = self_times(tracer.spans)
    by_id = {s.id: s for s in tracer.spans}
    per_run: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for s in tracer.spans:
        m = per_run[s.run]
        m[s.name + ".calls"] += 1
        m[s.name + ".s"] += s.dur
        m[s.name + ".self_s"] += selfs[s.id]
        for k, v in (s.info or {}).items():
            m[f"{s.name}.{k}"] += v
        parent = by_id.get(s.parent)
        if s.name == "job.run" and parent is not None and parent.name == "ingest.write_batch":
            m["auto.calls"] += 1
            m["auto.s"] += s.dur

    def med(key: str) -> float:
        return _median([per_run[r][key] for r in counts])

    job_s = sum(per_run[r]["job.run.s"] for r in counts)
    compacted = sum(per_run[r]["job.run.compacted"] for r in counts)
    scanned = sum(per_run[r]["readers.files_as_of.files"] for r in counts)
    writes_ms = [s * 1000 for s in plain.writes]
    by_query = defaultdict(list)
    for name, s in plain.queries:
        by_query[name].append(s)
    out = {
        "planner.plan_s": med("planner.plan.s"),
        "planner.groups": med("job.run.planned"),
        "planner.split_parts": med("planner.split.parts"),
        "metadata.read_calls": med("metadata.read.calls"),
        "metadata.read_s": med("metadata.read.s"),
        "metadata.write_calls": med("metadata.write.calls"),
        "metadata.write_s": med("metadata.write.s"),
        "metadata.bytes_written": med("metadata.write.bytes"),
        "job.run_s": med("job.run.s"),
        "job.self_s": med("job.run.self_s"),
        "job.groups_per_s": compacted / job_s if job_s else 0.0,
        "spark.write_calls": med("spark.write.calls"),
        "spark.write_s": med("spark.write.s"),
        "spark.jobs": _median([c["jobs"] for c in counts.values()]),
        "spark.stages": _median([c["stages"] for c in counts.values()]),
        "spark.tasks": _median([c["tasks"] for c in counts.values()]),
        "ingest.write_batch_s": med("ingest.write_batch.s"),
        "ingest.p50_ms": _median(writes_ms),
        "ingest.auto_compact_calls": med("auto.calls"),
        "ingest.auto_compact_s": med("auto.s"),
        "ingest.self_s": med("ingest.write_batch.self_s"),
        "ingest.wal_files": med("ingest.write_batch.wal_files"),
        "readers.files_as_of_s": med("readers.files_as_of.s"),
        "readers.files_scanned": med("readers.files_as_of.files"),
        "readers.files_pruned_frac": 1 - scanned / traced.cataloged if traced.cataloged else 0.0,
        "readers.execute_s": med("readers.execute.s"),
        "operators.rollup_s": med("operators.rollup.s"),
        "session.get_spark_s": session_s,
        "session.warmup_s": warmup_s,
        "trace.overhead_s": _median(traced.walls) - _median(plain.walls),
        "host.steal_frac": plain.steal_frac(),
        "samples.iterations": float(len(plain.walls)),
        "samples.traced_iterations": float(len(traced.walls)),
        "samples.queries": float(len(plain.queries)),
        "samples.writes": float(len(plain.writes)),
    }
    out["lake.files_out_per_file_in"], out["lake.bytes_out_per_byte_in"] = wl.space
    for name in MIX:
        out[f"queries.{name}_s"] = _median(by_query.get(name, []))
    return out


def _stop(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it to end:
    ``spark.stop()`` leaves the JVM running until this process exits."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None or gateway.proc is None:
        return
    gateway.shutdown()
    gateway.proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        gateway.proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        gateway.proc.kill()
        gateway.proc.wait()


def _loop(wl, seconds: float, rec, first: int, tracer=None, counter=None, counts=None) -> int:
    """Run iterations from number ``first`` on, and stop before one that
    would end past ``seconds``; returns how many ran. With a tracer,
    each iteration is one run id and one Spark job group."""
    start = time.perf_counter()
    i = 0
    while True:
        if tracer is not None:
            tracer.run_id = f"it{first + i}"
            counter.begin(tracer.run_id)
        t_it = time.perf_counter()
        try:
            wl.iteration(first + i, rec)
        finally:
            if tracer is not None:
                counts[tracer.run_id] = counter.end()
        i += 1
        last = time.perf_counter() - t_it
        elapsed = time.perf_counter() - start
        if elapsed >= HARD_LIMIT_S or (elapsed + last > seconds and i >= MIN_ITERATIONS):
            return i


def measure(args, work: str) -> dict:
    from kompactor_spark.session import get_spark
    from spans import SparkCounter, Tracer
    from workloads import WORKLOADS, Recorder, clock, since

    t0 = clock()
    spark = get_spark("perfbench")
    session_s = since(t0)
    try:
        spark.sparkContext.setLogLevel("ERROR")
        parallelism = spark.sparkContext.defaultParallelism
        wl = WORKLOADS[args.workload](spark, work, args.seed, parallelism)
        warm, plain, traced = Recorder(), Recorder(), Recorder()

        gen_s, digests = [], set()
        for rep in range(GEN_REPS):
            root = os.path.join(work, f"input{rep}")
            t0 = clock()
            wl.generate(root)
            gen_s.append(since(t0))
            digests.add(_digest(root))
            if rep:
                shutil.rmtree(root)
        warm.attempted += 1
        if len(digests) != 1:
            warm.fail("the same seed gave different inputs")
        wl.prepare()

        t0 = clock()
        for i in range(wl.warmup_iterations):
            wl.iteration(i, warm)
        warmup_s = since(t0)
        setup_s = session_s + statistics.median(gen_s) + warmup_s

        start = time.perf_counter()
        n = _loop(wl, args.seconds, plain, wl.warmup_iterations)
        measured_s = time.perf_counter() - start
        if args.trace:
            tracer, counts = Tracer(), {}
            tracer.install()
            wl.tracer = tracer
            try:
                _loop(wl, args.seconds, traced, wl.warmup_iterations + n, tracer, SparkCounter(spark.sparkContext), counts)
            finally:
                tracer.uninstall()
                wl.tracer = None

        recs = (warm, plain, traced)
        attempted = sum(r.attempted for r in recs)
        failed = sum(r.failed for r in recs)
        for r in recs:
            for e in r.errors:
                print(f"FAILED {e}", file=sys.stderr)
        if args.trace:
            tracer.dump(os.path.join(WORK_ROOT, "spans", f"{args.workload}-seed{args.seed}.jsonl"))
            values = per_layer(wl, tracer, counts, plain, traced, session_s, warmup_s)
        else:
            values = end_to_end(wl, plain, setup_s)
        print(
            f"{args.workload}: {len(plain.walls)} timed iterations, {len(plain.queries)} queries, "
            f"{len(plain.writes)} writes; session {session_s:.2f} s, generate {[round(g, 2) for g in gen_s]} s, "
            f"warm-up {warmup_s:.2f} s, measured {measured_s:.2f} s; walls {[round(w, 3) for w in plain.walls]}; CPU steal {plain.steal_frac():.3f}",
            file=sys.stderr,
        )
    finally:
        _stop(spark)

    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)
    wanted = spec["per_layer" if args.trace else "end_to_end"]
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted},
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "kompactor_spark")):
        print(f"no kompactor_spark package beside {HERE}: run from a checkout", file=sys.stderr)
        return 2
    sys.path.insert(1, ROOT)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; known: {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    work = os.path.join(WORK_ROOT, f"{args.workload}-{os.getpid()}")
    _environment(work)
    try:
        result = measure(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
